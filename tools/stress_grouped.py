"""Many-groups stress for the grouped sketch path.

The gate queries exercise topk_by_group at <=24 groups; this drives it
at URL-scale group cardinality (default 200k groups, 10M rows) where
one Arrow batch carries far more distinct groups than
``max_live_groups`` — the regime where the per-(partition, group)
builder must flush mid-batch to keep task memory bounded (the
between-batches-only check let the live dict spike to O(batch distinct
groups) sketches; fixed round 6).

Checks:
  - results are IDENTICAL across max_live_groups=512 and 4096 (early
    emission is merely more partials, never different answers)
  - a deterministic sample of groups matches exact pandas counts
  - wall + driver peak RSS are reported for BENCH.md, with a digest
    of the result for comparing two trees

Usage: python tools/stress_grouped.py [n_rows] [n_groups]
(the master is ``get_spark()``'s: ``local[$SPARK_GRAFT_CPUS]``)
"""
from __future__ import annotations

import hashlib
import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from heavykeeper_rs_spark.operators.topk import topk_by_group  # noqa: E402
from heavykeeper_rs_spark.session import get_spark  # noqa: E402


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_groups = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    spark = get_spark(app="stress-grouped")

    # deterministic synthetic: Zipf-ish group sizes, per-group item
    # domain of 8 with a Zipf-ish within-group split — all derived
    # from the row id, so Spark generates it distributed (no driver
    # materialization)
    from pyspark.sql import functions as F

    df = (
        spark.range(n_rows, numPartitions=32)
        .withColumn("h", F.xxhash64("id"))
        # skewed group id: ~half the rows land in the first ~1% of
        # groups (pmod of a squared-ish mix), the tail spreads wide
        .withColumn(
            "g",
            F.when(
                F.pmod("h", F.lit(2)) == 0,
                F.pmod(F.xxhash64("h"), F.lit(max(n_groups // 100, 1))),
            ).otherwise(F.pmod(F.xxhash64("h", "id"), F.lit(n_groups))),
        )
        .withColumn("g", F.abs("g").cast("string"))
        .withColumn("item", F.concat(F.lit("i"), F.pmod(F.abs(F.xxhash64("id", "h")), F.lit(8))))
        .select("g", "item")
    )
    df.cache()
    total = df.count()

    results = {}
    out: dict = {"n_rows": total, "n_groups_target": n_groups}
    for mlg in (512, 4096):
        t0 = time.time()
        res = topk_by_group(
            df, "g", "item", k=3, width=256, depth=4, max_live_groups=mlg
        )
        rows = res.collect()
        wall = round(time.time() - t0, 1)
        results[mlg] = {(r["group"], r["item"]): r["count"] for r in rows}
        out[f"mlg_{mlg}"] = {
            "wall_sec": wall,
            "result_rows": len(rows),
            "groups": len({r["group"] for r in rows}),
        }
    assert results[512] == results[4096], "eviction pressure changed results"
    out["identical_across_caps"] = True
    # digest of the full result, to compare two trees' runs
    out["result_sha1"] = hashlib.sha1(repr(sorted(results[4096].items())).encode()).hexdigest()

    # exact-sample verification: 25 deterministic groups vs pandas
    sample_groups = sorted({g for g, _ in results[4096]})[:25]
    pdf = (
        df.where(F.col("g").isin(sample_groups))
        .groupBy("g", "item")
        .count()
        .toPandas()
    )
    ok = 0
    for g in sample_groups:
        sub = pdf[pdf["g"] == g].sort_values(["count", "item"], ascending=[False, True])
        exact_top = [
            (g, r.item) for r in sub.head(3).itertuples()
        ]
        exact = {(g, r.item): int(r.count) for r in sub.head(3).itertuples()}
        got = {kv: c for kv, c in results[4096].items() if kv[0] == g}
        assert set(got) == set(exact_top) and all(
            got[kv] == exact[kv] for kv in got
        ), (g, got, exact)
        ok += 1
    out["sample_groups_exact"] = ok
    out["driver_peak_rss_mb"] = round(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
