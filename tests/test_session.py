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


class _RecordingBuilder:
    """Stands in for `SparkSession.builder`: records the conf that
    `get_spark` sets and returns it instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_default_driver_memory_is_a_quarter_of_the_host_capped_at_16g(
    monkeypatch,
):
    import os

    from myserver_datawarehouse_spark import session

    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])

    host(16)
    assert session._default_driver_memory() == "4096m"
    host(15)
    assert session._default_driver_memory() == "3840m"
    host(128)
    assert session._default_driver_memory() == "16384m"

    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unknown)
    assert session._default_driver_memory() == "16g"

    # get_spark uses the sized default unless SPARK_GRAFT_DRIVER_MEM is set.
    host(16)
    monkeypatch.setattr(
        session.SparkSession, "getActiveSession", staticmethod(lambda: None)
    )
    monkeypatch.delenv("SPARK_GRAFT_ON_CLUSTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    assert session.get_spark()["spark.driver.memory"] == "4096m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    assert session.get_spark()["spark.driver.memory"] == "3g"
