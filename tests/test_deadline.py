"""The conftest guard behind ``@pytest.mark.timeout``: `deadline` interrupts
a blocked call, and the mark arms it around the test body."""

import signal
import time

import pytest
from conftest import deadline


def test_deadline_interrupts_a_sleep():
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        with deadline(0.5):
            time.sleep(5)
    assert time.monotonic() - t0 < 1.0
    assert signal.getitimer(signal.ITIMER_REAL)[0] == 0  # disarmed on exit


@pytest.mark.timeout(60)
def test_timeout_mark_arms_a_deadline():
    assert 0 < signal.getitimer(signal.ITIMER_REAL)[0] <= 60
