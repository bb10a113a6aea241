"""The stat-checked zipimport invalidation of ``heavykeeper_rs_spark.worker``:
an unchanged archive is not re-read, a rewritten one is, ``install()``
is idempotent and stands aside where the interpreter's invalidation is
already lazy, and it is active in every Spark Python worker but not in
the driver process."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from heavykeeper_rs_spark import worker


def _write_zip(path, *names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def patched(monkeypatch):
    """Undo whatever ``install()`` does to the class when the test ends,
    so the process stays unpatched for the tests after it."""
    zi = zipimport.zipimporter
    monkeypatch.setattr(zi, "invalidate_caches", zi.invalidate_caches)
    monkeypatch.setattr(worker, "_reread", worker._reread)
    return zi


def _count_reads(monkeypatch, archive):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="the interpreter's zipimport invalidation is already lazy",
)
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(
    tmp_path, monkeypatch, patched
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "hk_zipmod_a")
    monkeypatch.syspath_prepend(archive)
    for name in ("hk_zipmod_a", "hk_zipmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("hk_zipmod_a").NAME == "hk_zipmod_a"

    worker.install()
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()  # the first call records the stat
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, "hk_zipmod_a", "hk_zipmod_b")
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("hk_zipmod_b").NAME == "hk_zipmod_b"


def test_install_wraps_once(patched):
    original = patched.invalidate_caches
    worker.install()
    worker.install()
    if hasattr(patched, "_get_files"):
        assert patched.invalidate_caches is original
    else:
        assert patched.invalidate_caches is worker._invalidate_caches
        assert worker._reread is original


def test_install_stands_aside_when_invalidation_is_lazy(monkeypatch, patched):
    original = patched.invalidate_caches
    monkeypatch.setattr(patched, "_get_files", lambda self: {}, raising=False)
    worker.install()
    assert patched.invalidate_caches is original


def test_hook_is_active_in_every_worker_and_not_in_the_driver(spark):
    par = spark.sparkContext.defaultParallelism

    def report(batches):
        import zipimport

        import pyarrow as pa

        import heavykeeper_rs_spark.worker as w

        hooked = zipimport.zipimporter.invalidate_caches is w._invalidate_caches
        lazy = hasattr(zipimport.zipimporter, "_get_files")
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"id": b.column(0), "ok": [hooked or lazy] * b.num_rows}
            )

    rows = spark.range(0, par, 1, par).mapInArrow(report, "id long, ok boolean").collect()
    assert sorted(r.id for r in rows) == list(range(par))
    assert all(r.ok for r in rows)
    assert zipimport.zipimporter.invalidate_caches is not worker._invalidate_caches
