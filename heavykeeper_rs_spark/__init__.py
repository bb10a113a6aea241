"""heavykeeper_rs_spark — a from-scratch PySpark-native top-K /
approximate-aggregation library with the query capabilities of
pmcgleenon/heavykeeper-rs (see SURVEY.md for the structural analysis).

Public surface:

- kernel.HeavyKeeper / variants.BucketedTopK / variants.CuckooTopK —
  the three mergeable sketch layouts (vectorized NumPy kernels)
- operators.topk — distributed topk / topk_tokens / topk_by_group /
  estimate / contains_top_k over DataFrames
- operators.agg — generic mergeable-sketch runner + HLL, CountMin,
  Bloom, KLL, TDigest builders
- operators.dedup / operators.similarity / operators.multimodal —
  corpus-curation operators (exact + LSH dedup, ANN search, media
  plumbing)
- functions.text — JVM-side tokenization / domain / lang-id /
  quality / fingerprint columns
- plans.checkpoint — resumable per-partition lineage + metrics
- streaming.topk_stream — Structured Streaming front-end
- sources.synth — deterministic webtext / Zipf generators
- worker — stat-checked zipimport invalidation for Spark Python workers
"""

__version__ = "0.1.0"

from .errors import (  # noqa: F401
    BuilderError,
    HeavyKeeperError,
    InvalidDecay,
    InvalidDepth,
    InvalidK,
    InvalidWidth,
    SketchCompatError,
)
from .kernel import HeavyKeeper, HKParams, TopKQueue  # noqa: F401
from .variants import BucketedTopK, CuckooTopK  # noqa: F401


def _in_spark_task() -> bool:
    import sys

    if "pyspark" not in sys.modules:
        return False
    from pyspark import TaskContext

    return TaskContext.get() is not None


# Every library UDF reaches a Spark Python worker by unpickling a function
# of this package, so this import runs once per worker process, inside the
# task that first needs it.
if _in_spark_task():
    from . import worker

    worker.install()
