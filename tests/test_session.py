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


def test_local_session_serves_file_io_raw_and_cluster_keeps_defaults(
    monkeypatch,
):
    from myserver_datawarehouse_spark import session

    local_io = {
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl":
            "org.apache.hadoop.fs.local.RawLocalFs",
        "spark.sql.streaming.checkpointFileManagerClass":
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
    }
    monkeypatch.setattr(
        session.SparkSession, "getActiveSession", staticmethod(lambda: None)
    )
    monkeypatch.delenv("SPARK_GRAFT_ON_CLUSTER", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    conf = session.get_spark()
    assert {k: conf.get(k) for k in local_io} == local_io

    monkeypatch.setenv("SPARK_GRAFT_ON_CLUSTER", "1")
    monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
    conf = session.get_spark()
    assert not set(local_io) & set(conf)
    assert "master" not in conf


def test_local_and_cluster_sessions_switch_off_call_site_capture(
    monkeypatch,
):
    """Both session kinds set PySpark's DataFrame debugging switch off,
    so Column and DataFrame calls send no Python call site to the JVM."""
    from myserver_datawarehouse_spark import session

    monkeypatch.setattr(
        session.SparkSession, "getActiveSession", staticmethod(lambda: None)
    )
    for cluster in (False, True):
        if cluster:
            monkeypatch.setenv("SPARK_GRAFT_ON_CLUSTER", "1")
        else:
            monkeypatch.delenv("SPARK_GRAFT_ON_CLUSTER", raising=False)
        monkeypatch.setattr(session.SparkSession, "builder", _RecordingBuilder())
        conf = session.get_spark()
        assert conf["spark.python.sql.dataFrameDebugging.enabled"] == "false"


def test_local_commits_and_checkpoints_write_no_crc_files(spark, tmp_path):
    """A merge commit and a checkpointed, stateful availableNow drain into
    a file sink leave no Hadoop checksum twin (`.<file>.crc`) anywhere:
    the local session writes through the raw local filesystem. The
    state store's own content checksums (`<n>.delta.crc`, no leading
    dot) are Spark's, not the filesystem's, and stay."""
    import os

    from myserver_datawarehouse_spark.operators import merge as M

    M.merge_upsert(
        spark, str(tmp_path / "t"),
        spark.range(6).selectExpr("id", "CAST(id % 2 AS INT) AS d"),
        keys=["id"], partition_by=["d"],
    )
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    spark.range(6).selectExpr("id", "id % 3 AS k").write.parquet(src)
    q = (
        spark.readStream.schema("id long, k long").parquet(src)
        .dropDuplicates(["k"])
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 3
    assert os.path.isdir(tmp_path / "ckpt" / "state")
    crc = [
        os.path.join(d, f)
        for d, _, files in os.walk(tmp_path)
        for f in files
        if f.startswith(".") and f.endswith(".crc")
    ]
    assert crc == []
