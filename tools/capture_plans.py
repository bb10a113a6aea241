"""Capture the physical plans of entry queries.

    python tools/capture_plans.py SF_DIR
        Regenerates PLANS_APPENDIX.md: for each headline query in
        ``CAPTURE``, the Spark ``executedPlan`` (AQE initial plan) plus
        automated checks — pruned ReadSchema, PushedFilters,
        PartitionFilters, and where Python runs (MapInArrow /
        FlatMapGroupsInPandas only — never a row-wise UDF).

    python tools/capture_plans.py SF_DIR --tag TAG [--out DIR] QUERY ...
        Writes ``.explain("formatted")`` of each query to
        ``DIR/<query>_<TAG>.txt`` (DIR defaults to plans/r08) — the
        before/after evidence of a plan-affecting change.

The sketch top-k queries materialize internally (their returned
DataFrame is a local result), so for those the capture is the
distributed part that actually runs: the partial stage, built with the
library's own partial-stage functions (``topk_partials``,
``token_partials``) and the entry's parameters. Their files start with
the reader the stage takes (``Partials.direct``, from the library's
gate ``scan.direct_scan``). On Spark's scan the plan is MapInArrow over
a FileScan of the keyed projection. The direct parquet reader runs its
read tasks as a Python RDD, outside Spark SQL; the plan captured is
``createDataFrame`` of that RDD (``Scan ExistingRDD``), the leaf a
merge-tree level or a grouped tree reads, and a driver-final build
collects the RDD without it. Every other query is captured as the
DataFrame the entry returns.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from heavykeeper_rs_spark.kernel import HKParams  # noqa: E402
from heavykeeper_rs_spark.operators.topk import token_partials, topk_partials  # noqa: E402
from heavykeeper_rs_spark.session import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

CAPTURE = [
    ("hk_estimate_event_types", "sketch build + broadcast probe (the build itself runs eagerly; the grouped query below shows the build plan shape)"),
    ("hk_topk_type_per_user_bucket", "grouped sketches: per-group blob tree"),
    ("tpch_q6_revenue", "filter/projection pushdown"),
    ("tpch_q3_shipping", "broadcast dimension joins"),
    ("exact_topk_tokens", "exact top-K: TakeOrderedAndProject"),
    ("minhash_near_dup_pairs", "LSH banding + size-gated buckets"),
    ("embedding_topk_cosine", "JVM cosine + top-k pruning"),
    ("events_hourly_top_types", "tumbling windows"),
]


def _params(width: int, depth: int) -> HKParams:
    # k is the partial PQ size topk() tracks for these queries; it does
    # not appear in the plan
    return HKParams(k=256, width=width, depth=depth, decay=0.9, seed=12345)


def _weighted_parts(spark, sf_dir):
    # the entry's feed: one pre-aggregated (pk, SUM(q)) row per part
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
        F.col("l_partkey").cast("long").alias("pk")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    return topk_partials(li, "pk", _params(262144, 5), weight_col="q")


#: partial stages (``combine.Partials``) of the internally-materializing
#: sketch queries
SKETCH_STAGES = {
    "hk_topk_event_type": lambda spark, sf: topk_partials(
        spark.read.parquet(f"{sf}/events.parquet"), "event_type", _params(1024, 4)
    ),
    "hk_topk_user": lambda spark, sf: topk_partials(
        spark.read.parquet(f"{sf}/events.parquet"), "user_id", _params(65536, 4)
    ),
    "hk_weighted_topk_part": _weighted_parts,
    "hk_topk_tokens": lambda spark, sf: token_partials(
        spark.read.parquet(f"{sf}/documents.parquet"), "text", _params(65536, 4)
    ),
}
SKETCH_STAGES["hk_topk_tokens_inkernel"] = SKETCH_STAGES["hk_topk_tokens"]


def plan_df(name: str, spark, sf_dir: str):
    """The DataFrame whose plan is captured for ``name``, and for a
    sketch stage the reader it takes."""
    if name in SKETCH_STAGES:
        partials = SKETCH_STAGES[name](spark, sf_dir)
        reader = (
            f"direct parquet (pyarrow in the worker; a Python RDD, tasks: {partials.n_parts})"
            if partials.direct
            else "Spark scan"
        )
        return partials.frame, reader
    return entrymod.queries()[name](spark, sf_dir), None


def _formatted(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def write_appendix(spark, sf_dir: str) -> None:
    out = [
        "# PLANS_APPENDIX — captured physical plans\n",
        f"Regenerated by `python tools/capture_plans.py {sf_dir}`.",
        "See PLANS.md for the narrative review.\n",
    ]
    for name, note in CAPTURE:
        qe = plan_df(name, spark, sf_dir)[0]._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        checks = []
        m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if m:
            checks.append(f"ReadSchema columns: {[s.count(':') for s in m]} per scan")
        if "PushedFilters: [" in plan and "PushedFilters: []" not in plan:
            checks.append("PushedFilters: present")
        if re.search(r"PartitionFilters: \[[^]]", plan):
            checks.append("PartitionFilters: present")
        py_nodes = sorted(
            set(re.findall(r"(MapInArrow|FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython)", plan))
        )
        checks.append(f"Python nodes: {py_nodes or 'none'}")
        assert "BatchEvalPython" not in plan, f"row-wise Python UDF in {name}!"
        out.append(f"\n## {name} — {note}\n")
        out.append("Checks: " + "; ".join(checks) + "\n")
        out.append("```")
        # keep the appendix reviewable: cap very long plans
        lines = plan.splitlines()
        out.extend(lines[:120])
        if len(lines) > 120:
            out.append(f"... ({len(lines) - 120} more lines)")
        out.append("```")
    with open(os.path.join(ROOT, "PLANS_APPENDIX.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS_APPENDIX.md")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*", help="with --tag: the queries to capture")
    ap.add_argument("--tag", help="write formatted plans to OUT/<query>_<tag>.txt")
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "r08"))
    args = ap.parse_intermixed_args()
    if bool(args.tag) != bool(args.queries):
        ap.error("--tag and QUERY go together")
    spark = get_spark(app="capture-plans", master="local[8]", shuffle_partitions=8)
    if not args.tag:
        write_appendix(spark, args.sf_dir)
    else:
        os.makedirs(args.out, exist_ok=True)
        for name in args.queries:
            path = os.path.join(args.out, f"{name}_{args.tag}.txt")
            df, reader = plan_df(name, spark, args.sf_dir)
            with open(path, "w") as f:
                if reader:
                    f.write(f"Partial-stage reader: {reader}\n\n")
                f.write(_formatted(df))
            print("wrote", path, f"({reader})" if reader else "")
    spark.stop()


if __name__ == "__main__":
    main()
