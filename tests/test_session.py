"""``session.get_spark`` puts the Python workers on Unix-domain sockets
when Spark's socket name fits in an AF_UNIX path, and keeps TCP
otherwise."""

import os

import pytest

from heavykeeper_rs_spark import session


def test_unix_socket_fits_a_short_dir_not_an_overlong_one():
    assert session.unix_socket_fits("/tmp")
    # ".<uuid4>.sock" is 42 bytes, plus the separator: 64 bytes of dir fit
    assert session.unix_socket_fits("/" + "d" * 63)
    assert not session.unix_socket_fits("/" + "d" * 64)
    assert not session.unix_socket_fits("/" + "x" * 200)


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
