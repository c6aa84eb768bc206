"""Constant-work-per-process host probe: the host label of bench.py's line.

Runs the same pure-Python loop in 1..32 concurrent processes and prints the
mean per-process wall time at each width. On an unloaded, unthrottled box the
times are flat; growth at width w means the VM delivers fewer than w
effective cores at that moment. bench.py records a reading before and after
each run, so a throttled run is self-identifying.

Usage: python scripts/host_probe.py [widths ...]   (default: 1 2 4 8 16 32)
"""
import json
import multiprocessing as mp
import sys
import time


def work(_):
    t0 = time.time()
    x = 0
    for i in range(8_000_000):
        x += i * i
    return time.time() - t0


def probe(widths) -> dict:
    """Mean per-process wall time of the constant-work loop at each width —
    the single implementation both the CLI and bench.py record."""
    out = {}
    for n in widths:
        with mp.Pool(n) as p:
            ts = p.map(work, range(n))
        out[str(n)] = round(sum(ts) / len(ts), 3)
    return out


def main() -> None:
    widths = [int(a) for a in sys.argv[1:]] or [1, 2, 4, 8, 16, 32]
    print(
        json.dumps(
            {
                "per_proc_sec_by_width": probe(widths),
                "ts": time.time(),
            }
        )
    )


if __name__ == "__main__":
    main()
