"""``session.get_spark`` puts the Python workers on Unix-domain sockets
when Spark accepts the socket dir and its socket name fits in an
AF_UNIX path, and keeps TCP otherwise; RDD tasks and SQL UDF tasks
share one Python worker pool."""

import os

import pytest

from heavykeeper_rs_spark import session


def test_unix_socket_fits_a_short_dir_not_an_overlong_one():
    assert session.unix_socket_fits("/tmp")
    # Spark 4.1 accepts a socket dir of at most 61 characters
    assert session.unix_socket_fits("/" + "d" * 60)
    assert not session.unix_socket_fits("/" + "d" * 61)
    assert not session.unix_socket_fits("/" + "x" * 200)
    # 61 characters, but ".<uuid4>.sock" (42 bytes) and the separator
    # take the UTF-8 path past 107 bytes
    assert not session.unix_socket_fits("/" + "é" * 60)


def test_overlong_temp_dir_keeps_tcp_and_warns(monkeypatch):
    calls = []

    class Builder:
        def __getattr__(self, name):
            def call(*args):
                calls.append((name, args))
                return self

            return call

        def getOrCreate(self):
            return calls

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: "/" + "x" * 200)
    with pytest.warns(RuntimeWarning, match="too long"):
        confs = {args[0] for name, args in session.get_spark() if name == "config"}
    assert not any(c.startswith("spark.python.unix.domain") for c in confs)


def test_session_workers_use_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"

    def env(batches):
        import pyarrow as pa

        for b in batches:
            flag = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()
            yield pa.RecordBatch.from_pydict({"unix": [flag] * b.num_rows})

    rows = spark.range(0, 2, 1, 2).mapInArrow(env, "unix string").collect()
    assert [r.unix for r in rows] == ["true", "true"]


def test_rdd_and_sql_tasks_share_one_worker_pool(spark):
    """An RDD task and a ``mapInArrow`` task fork from the same Python
    daemon: the session gives RDD tasks the worker environment of
    Spark's SQL runners."""

    def sql_ppid(batches):
        import os

        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_pydict({"ppid": [os.getppid()] * b.num_rows})

    sql = {r.ppid for r in spark.range(0, 2, 1, 2).mapInArrow(sql_ppid, "ppid long").collect()}
    rdd = set(spark.sparkContext.parallelize(range(2), 2).map(lambda _: os.getppid()).collect())
    assert len(sql) == 1 and rdd == sql
