"""Per-partition lineage + metrics checkpointing for resumable sketch jobs.

North-rule contract: a 10^12-row build must survive preemption. The
partial (per-partition) sketches ARE the job state, so checkpointing
them makes the whole aggregation resumable:

- during the partial stage each task atomically writes
  ``{dir}/partials/part-{pid}.bin`` (temp + rename) plus a metrics
  JSON line (rows, uniques, seconds, mem_bytes, input lineage token);
- on re-run, a task whose blob already exists short-circuits: it
  emits the saved blob without doing any Python sketch work (the scan
  cost of already-done partitions is bounded by early-exit);
- blobs are validated against the job's params fingerprint — a
  checkpoint from a different sketch shape, build mode, or input
  lineage is refused, not silently merged;
- the combine stage is the SAME bounded-fan-in merge tree as the
  non-checkpointed paths (``operators.combine.blob_tree``, which also
  sums the resumed/computed counters; no reducer ever folds more than
  ``fan_in`` blobs — at 10^5 partitions the critical path is
  O(fan_in · log_fan_in(n)) merges, not one O(n) fold);
- the final merged sketch is written to ``{dir}/final.bin``; a
  completed job resumes in O(1).

Two build modes share the machinery: plain-column top-K
(``topk_checkpointed``) and the flagship in-kernel tokenizer job
(``topk_tokens_checkpointed`` — the build most worth resuming at
100 TB).

On a real cluster ``dir`` is shared storage (S3/HDFS); locally it's a
directory. Only POSIX rename atomicity is assumed.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StructField, StructType

from ..kernel import HeavyKeeper, HKParams
from ..operators import combine
from ..operators.topk import _feed_keys, _feed_tokens, token_keyed, topk_keyed

_CKPT_SCHEMA = StructType(
    [
        *combine.BLOB_SCHEMA.fields,
        StructField("resumed", IntegerType(), False),
        StructField("computed", IntegerType(), False),
    ]
)
_CKPT_SUMS = ("resumed", "computed")


def _params_token(
    params: HKParams, lineage: str, n_parts: int, mode: str, lane: str
) -> str:
    """Job identity: sketch shape + build mode + key lane + input
    lineage + PARTITION LAYOUT.

    The partition count is part of the identity because partial blobs
    are keyed by partition id — a rerun that splits the same input
    differently (changed spark.sql.files.maxPartitionBytes, different
    parallelism, new files) would otherwise reuse blobs for partitions
    that now hold different rows, silently dropping/double-counting.
    A layout change makes the token mismatch and the job refuses the
    stale checkpoint instead. ``mode`` keeps a tokens build from
    resuming a plain-column build with the same params. ``lane`` is the
    keyed column's Spark type: the int64 lane and the string lane hash
    one value differently, so their partials never merge.
    """
    return (
        f"mode={mode};lane={lane};k={params.k};w={params.width};d={params.depth};"
        f"decay={params.decay};seed={params.seed};lineage={lineage};"
        f"n_parts={n_parts}"
    )


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


@dataclass
class CheckpointReport:
    total_partitions: int
    resumed_partitions: int
    computed_partitions: int
    final_was_cached: bool


def _saved_partials(ckpt_dir: str) -> int:
    return sum(f.endswith(".bin") for f in os.listdir(f"{ckpt_dir}/partials"))


def _checkpointed_sketch(
    keyed: DataFrame,
    params: HKParams,
    ckpt_dir: str,
    lineage: str,
    fan_in: int,
    mode: str,
    feed: Callable[[HeavyKeeper, Iterator[pa.RecordBatch]], None],
) -> tuple[HeavyKeeper, CheckpointReport]:
    """Shared resumable-build scaffold: per-partition partial blobs on
    shared storage, bounded-fan-in merge tree, O(1) completed-job
    resume. ``keyed`` and ``feed(sketch, batches)`` are those of the
    mode's ``sketch_partials`` stage; a partition's metrics count the
    non-null values of its first column as its rows."""
    os.makedirs(f"{ckpt_dir}/partials", exist_ok=True)
    n_input_parts = max(keyed.rdd.getNumPartitions(), 1)
    lane = keyed.schema.fields[0].dataType.simpleString()
    token = _params_token(params, lineage, n_input_parts, mode, lane)
    token_path = f"{ckpt_dir}/TOKEN"
    if os.path.exists(token_path):
        existing = open(token_path).read()
        if existing != token:
            raise ValueError(
                f"checkpoint dir {ckpt_dir} belongs to a different job: "
                f"{existing!r} != {token!r}"
            )
    else:
        _atomic_write(token_path, token.encode())

    final_path = f"{ckpt_dir}/final.bin"
    if os.path.exists(final_path):
        sk = HeavyKeeper.deserialize(open(final_path, "rb").read())
        n_parts = _saved_partials(ckpt_dir)
        return sk, CheckpointReport(n_parts, n_parts, 0, True)

    def partial(pid: int, blob: bytes, resumed: int) -> pa.RecordBatch:
        return pa.RecordBatch.from_pydict(
            {
                "salt": pa.array([pid], type=pa.int32()),
                "sketch": pa.array([blob], type=pa.binary()),
                "resumed": pa.array([resumed], type=pa.int32()),
                "computed": pa.array([1 - resumed], type=pa.int32()),
            }
        )

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = combine.partition_id()
        blob_path = f"{ckpt_dir}/partials/part-{pid:05d}.bin"
        if os.path.exists(blob_path):
            # resume: emit the saved partial, skip all sketch work
            yield partial(pid, open(blob_path, "rb").read(), 1)
            return
        sk = HeavyKeeper(params, rng=combine.partition_rng(params.seed, pid))
        t0 = time.time()
        rows = 0

        def counted() -> Iterator[pa.RecordBatch]:
            nonlocal rows
            for batch in batches:
                if batch.num_rows:
                    rows += batch.num_rows - batch.column(0).null_count
                    yield batch

        feed(sk, counted())
        blob = sk.serialize()
        _atomic_write(blob_path, blob)
        metrics = {
            "pid": pid,
            "rows": rows,
            "tracked": len(sk.pq),
            "mem_bytes": sk.mem_bytes(),
            "seconds": round(time.time() - t0, 3),
            "token": token,
            "ts": time.time(),
        }
        _atomic_write(
            f"{ckpt_dir}/partials/part-{pid:05d}.metrics.json",
            json.dumps(metrics).encode(),
        )
        yield partial(pid, blob, 0)

    partials = keyed.mapInArrow(build, _CKPT_SCHEMA)
    combined = combine.blob_tree(
        partials, n_input_parts, fan_in, sums=_CKPT_SUMS
    ).collect()
    resumed = sum(r["resumed"] for r in combined)
    computed = sum(r["computed"] for r in combined)
    blobs = [r["sketch"] for r in combined]
    # partials come from disk: refuse a valid blob of another family
    sk = HeavyKeeper.deserialize(combine.merge(blobs)) if blobs else HeavyKeeper(params)
    _atomic_write(final_path, sk.serialize())
    summary = {
        "token": token,
        "resumed": resumed,
        "computed": computed,
        "tracked": len(sk.pq),
        "finished_ts": time.time(),
    }
    _atomic_write(f"{ckpt_dir}/SUMMARY.json", json.dumps(summary).encode())
    return sk, CheckpointReport(_saved_partials(ckpt_dir), resumed, computed, False)


def topk_checkpointed(
    df: DataFrame,
    col: str,
    params: HKParams,
    ckpt_dir: str,
    lineage: str = "",
    merge_groups: int = 8,
) -> tuple[HeavyKeeper, CheckpointReport]:
    """Resumable distributed HeavyKeeper build over one key column.

    Returns (sketch, report). ``lineage`` should identify the input
    (table path + snapshot/version — ``sources.catalog.snapshot_lineage``
    builds one); it is baked into the checkpoint token so stale
    checkpoints never silently merge. ``merge_groups`` is the merge
    tree's fan-in.
    """
    return _checkpointed_sketch(
        topk_keyed(df, col), params, ckpt_dir, lineage, merge_groups, "topk",
        _feed_keys(False, params.seed),
    )


def topk_tokens_checkpointed(
    df: DataFrame,
    text_col: str,
    params: HKParams,
    ckpt_dir: str,
    lineage: str = "",
    merge_groups: int = 8,
    token_re: str = "[a-z]+",
    max_token_len: int = 64,
) -> tuple[HeavyKeeper, CheckpointReport]:
    """Resumable FLAGSHIP build: in-kernel tokenization (the
    ``operators.topk.topk_tokens`` job — no explode, no token shuffle)
    with per-partition checkpoint/resume. At 100 TB this is the job
    most worth resuming: each partition's tokenizer pass is minutes of
    CPU, and a preempted executor costs exactly its unfinished
    partitions, not the run."""
    return _checkpointed_sketch(
        token_keyed(df, text_col), params, ckpt_dir, lineage, merge_groups, "tokens",
        _feed_tokens(token_re, max_token_len, params.seed),
    )


def read_metrics(ckpt_dir: str) -> list[dict]:
    out = []
    pdir = f"{ckpt_dir}/partials"
    if not os.path.isdir(pdir):
        return out
    for fn in sorted(os.listdir(pdir)):
        if fn.endswith(".metrics.json"):
            out.append(json.loads(open(f"{pdir}/{fn}").read()))
    return out
