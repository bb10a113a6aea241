"""Python task set-up cost of a Spark worker, as the library leaves it.

Usage: python tools/worker_setup.py [jobs]

Starts a ``local[nproc]`` session and prints one JSON line:

- ``invalidate_ms_p50``: median time, measured inside the worker over 10
  tasks, of ``importlib.invalidate_caches()``, the call PySpark makes in
  ``setup_spark_files`` at the start of every task;
- ``zipimporters``: zipimporters in a worker's ``sys.path_importer_cache``
  (median over the same tasks);
- ``invalidate_impl``: the module(s) whose ``zipimporter.invalidate_caches``
  the workers run (``heavykeeper_rs_spark.worker`` when the stat-checked
  hook is active, ``zipimport`` when not);
- ``trivial_job_s_p50``: median wall time of ``jobs`` (default 10) trivial
  4-task ``mapInArrow`` jobs, after two warm-up jobs;
- ``first_batch_wait_ms_p50``: median time, inside those jobs' tasks, from
  the UDF's entry to its first input batch (about 40 ms on loopback TCP,
  when a reused worker's previous task computed for less than Linux's
  minimum delayed-ACK time);
- ``worker_socket``: how the workers talk to the JVM, ``unix`` or ``tcp``
  (``session.get_spark`` falls back to TCP when ``TMPDIR`` is too long
  for a socket path, so a long ``TMPDIR`` measures TCP).

Every task function imports ``heavykeeper_rs_spark`` first, as every
library UDF does when it is unpickled in the worker.
"""

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from heavykeeper_rs_spark.session import get_spark  # noqa: E402


def trivial(batches):
    import os
    import time

    import pyarrow as pa

    import heavykeeper_rs_spark  # noqa: F401

    unix = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "false").lower() == "true"
    t0 = time.perf_counter()
    # each task holds one row, so one batch; the loop still drains the
    # input, which lets the worker be reused
    for _ in batches:
        yield pa.RecordBatch.from_pydict(
            {"wait_ms": [(time.perf_counter() - t0) * 1e3],
             "sock": ["unix" if unix else "tcp"]}
        )


def probe(batches):
    import importlib
    import sys
    import time
    import zipimport

    import pyarrow as pa

    import heavykeeper_rs_spark  # noqa: F401

    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    impl = zipimport.zipimporter.invalidate_caches.__module__
    for b in batches:
        yield pa.RecordBatch.from_pydict(
            {"ms": [ms] * b.num_rows, "n_zip": [n_zip] * b.num_rows, "impl": [impl] * b.num_rows}
        )


def main() -> None:
    jobs = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app="worker-setup", master=f"local[{cpus}]", shuffle_partitions=cpus)
    try:
        df = spark.range(0, 4, 1, 4).mapInArrow(trivial, "wait_ms double, sock string")
        walls, waits = [], []
        for i in range(jobs + 2):
            t0 = time.perf_counter()
            out = df.collect()
            if i >= 2:
                walls.append(time.perf_counter() - t0)
                waits += out
        rows = spark.range(0, 10, 1, 10).mapInArrow(
            probe, "ms double, n_zip long, impl string"
        ).collect()
    finally:
        spark.stop()
    print(json.dumps({
        "python": sys.version.split()[0],
        "master": f"local[{cpus}]",
        "invalidate_ms_p50": round(statistics.median(r.ms for r in rows), 3),
        "zipimporters": statistics.median(r.n_zip for r in rows),
        "invalidate_impl": sorted({r.impl for r in rows}),
        "trivial_job_s_p50": round(statistics.median(walls), 4),
        "trivial_jobs": jobs,
        "first_batch_wait_ms_p50": round(statistics.median(r.wait_ms for r in waits), 2),
        "worker_socket": sorted({r.sock for r in waits}),
    }))


if __name__ == "__main__":
    main()
