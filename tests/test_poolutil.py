"""poolutil.run_concurrent: interrupts are not failures to aggregate."""

import threading
import time

import pytest

from streaming_feature_store_spark.poolutil import run_concurrent


@pytest.mark.parametrize("interrupt", [KeyboardInterrupt, SystemExit])
def test_run_concurrent_reraises_interrupt_at_once(interrupt):
    """Two failing jobs, one of them interrupted: the interrupt surfaces
    unwrapped and without waiting for the other job to finish."""
    release = threading.Event()

    def slow_failure():
        release.wait(10)
        raise ValueError("root A torn")

    def interrupted():
        raise interrupt()

    t = time.perf_counter()
    try:
        with pytest.raises(interrupt):
            run_concurrent([slow_failure, interrupted])
        assert time.perf_counter() - t < 5
    finally:
        release.set()
