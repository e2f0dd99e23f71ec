"""Contract of `session.parallel_actions`, the one pool for independent
driver-blocking Spark actions."""

import threading
import time

import pytest

from myserver_datawarehouse_spark.session import parallel_actions


def test_parallel_actions_results_in_argument_order():
    def slow(v, delay):
        def run():
            time.sleep(delay)
            return v

        return run

    # The first thunk finishes last: order follows the arguments, not
    # completion.
    assert parallel_actions(slow("a", 0.2), slow("b", 0.0), slow("c", 0.1)) == [
        "a",
        "b",
        "c",
    ]
    assert parallel_actions(lambda: 7) == [7]
    assert parallel_actions() == []


def test_parallel_actions_is_a_barrier():
    done = []
    lock = threading.Lock()

    def work(i):
        def run():
            time.sleep(0.05 * i)
            with lock:
                done.append(i)

        return run

    parallel_actions(*[work(i) for i in range(6)])
    assert sorted(done) == list(range(6))


def test_parallel_actions_first_exception_propagates_after_all_finish():
    finished = threading.Event()

    def slow_ok():
        time.sleep(0.2)
        finished.set()

    def boom(msg):
        def run():
            raise ValueError(msg)

        return run

    with pytest.raises(ValueError, match="first"):
        parallel_actions(boom("first"), slow_ok, boom("second"))
    assert finished.is_set()
