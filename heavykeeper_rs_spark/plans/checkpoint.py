"""Per-partition lineage + metrics checkpointing for resumable sketch jobs.

North-rule contract: a 10^12-row build must survive preemption. The
partial (per-partition) sketches ARE the job state, so checkpointing
them makes the whole aggregation resumable:

- the partial stage is ``operators.combine.sketch_partials`` (the direct
  reader, a Python RDD of read tasks, when ``scan.direct_scan`` admits
  the input); each task that saw rows atomically writes
  ``{dir}/partials/part-{pid}.bin`` (temp + rename), the bytes it
  emits, plus a metrics JSON line (rows, tracked, mem_bytes, seconds,
  job token). A task with no rows writes and emits nothing, as in every
  other sketch path, and re-reads its empty input on resume;
- on re-run, a task whose blob exists emits the saved bytes undecoded
  with no sketch work, after reading at most its first batch (one
  parquet batch on the direct reader);
- the token fixes sketch shape, build mode, key lane, input lineage and
  partial layout (task count and reader): another job's checkpoint is
  refused, not silently merged, and the driver's decode refuses a saved
  blob of another sketch family;
- the combine stage is the SAME bounded-fan-in merge tree as the
  non-checkpointed paths (``operators.combine.final_blobs``, salted by
  the partial stage's exact task count on either reader; no reducer
  ever folds more than ``fan_in`` blobs — at 10^5 partitions the
  critical path is O(fan_in · log_fan_in(n)) merges, not one O(n) fold;
  with no level to run, the direct reader's blobs are collected
  straight from its RDD);
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
from pyspark.sql import functions as F

from ..kernel import HeavyKeeper, HKParams
from ..operators import combine
from ..operators.topk import _feed_keys, _feed_tokens, token_keyed, topk_keyed


def _params_token(
    params: HKParams, lineage: str, tasks: int, direct: bool, mode: str, lane: str
) -> str:
    """Job identity: sketch shape + build mode + key lane + input
    lineage + PARTITION LAYOUT.

    The layout (the partial stage's task count and reader) is part of
    the identity because partial blobs are keyed by task id — a rerun
    that splits the same input differently (changed
    spark.sql.files.maxPartitionBytes, different parallelism, new
    files, the other reader) would otherwise reuse blobs for tasks that
    now hold different rows, silently dropping/double-counting. A
    layout change makes the token mismatch and the job refuses the
    stale checkpoint instead. ``mode`` keeps a tokens build from
    resuming a plain-column build with the same params. ``lane`` is the
    keyed column's Spark type: the int64 lane and the string lane hash
    one value differently, so their partials never merge.
    """
    return (
        f"mode={mode};lane={lane};k={params.k};w={params.width};d={params.depth};"
        f"decay={params.decay};seed={params.seed};lineage={lineage};"
        f"tasks={tasks};reader={'direct' if direct else 'spark'}"
    )


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


@dataclass
class CheckpointReport:
    total_partitions: int
    resumed_partitions: int
    computed_partitions: int
    final_was_cached: bool


@dataclass(frozen=True)
class _Saved:
    """A resumed task's partial: its saved blob, emitted undecoded."""

    blob: bytes

    def serialize(self) -> bytes:
        return self.blob


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
    """Shared resumable-build scaffold: the mode's ``keyed`` and
    ``feed`` run in ``combine.sketch_partials``, each task saving its
    partial blob on shared storage, then the bounded-fan-in merge tree
    and an O(1) completed-job resume. A partition's metrics count the
    non-null values of its first column as its rows."""
    pdir = f"{ckpt_dir}/partials"
    os.makedirs(pdir, exist_ok=True)

    def make(pid: int):
        path = f"{pdir}/part-{pid:05d}.bin"
        if os.path.exists(path):
            return _Saved(_read(path))
        return HeavyKeeper(params, rng=combine.partition_rng(params.seed, pid))

    def feed_and_save(sk, batches: Iterator[pa.RecordBatch]) -> None:
        if isinstance(sk, _Saved):  # resume: skip all sketch work
            return
        pid = combine.partition_id()
        t0 = time.time()
        rows = 0

        def counted() -> Iterator[pa.RecordBatch]:
            nonlocal rows
            for batch in batches:
                rows += batch.num_rows - batch.column(0).null_count
                yield batch

        feed(sk, counted())
        _atomic_write(f"{pdir}/part-{pid:05d}.bin", sk.serialize())
        metrics = {
            "pid": pid,
            "rows": rows,
            "tracked": len(sk.pq),
            "mem_bytes": sk.mem_bytes(),
            "seconds": round(time.time() - t0, 3),
            "ts": time.time(),
            "token": _read(f"{ckpt_dir}/TOKEN").decode(),
        }
        _atomic_write(f"{pdir}/part-{pid:05d}.metrics.json", json.dumps(metrics).encode())

    partials = combine.sketch_partials(keyed, make, feed_and_save)
    if not partials.direct:  # salt by task id: Spark's reader salts by an estimate
        frame = partials.frame
        partials = combine.Partials(
            frame.rdd.getNumPartitions(),
            None,
            lambda: frame.withColumn("salt", F.spark_partition_id()),
        )
    lane = keyed.schema.fields[0].dataType.simpleString()
    token = _params_token(params, lineage, partials.n_parts, partials.direct, mode, lane)
    token_path = f"{ckpt_dir}/TOKEN"
    if not os.path.exists(token_path):
        _atomic_write(token_path, token.encode())
    elif (existing := _read(token_path).decode()) != token:
        raise ValueError(
            f"checkpoint dir {ckpt_dir} belongs to a different job: "
            f"{existing!r} != {token!r}"
        )

    final_path = f"{ckpt_dir}/final.bin"
    resumed = _saved_partials(ckpt_dir)
    if os.path.exists(final_path):
        sk = HeavyKeeper.deserialize(_read(final_path))
        return sk, CheckpointReport(resumed, resumed, 0, True)

    blobs = combine.final_blobs(partials, fan_in)
    # partials come from disk: refuse a valid blob of another family
    sk = HeavyKeeper.deserialize(combine.merge(blobs)) if blobs else HeavyKeeper(params)
    _atomic_write(final_path, sk.serialize())
    total = _saved_partials(ckpt_dir)
    summary = {
        "token": token,
        "resumed": resumed,
        "computed": total - resumed,
        "tracked": len(sk.pq),
        "finished_ts": time.time(),
    }
    _atomic_write(f"{ckpt_dir}/SUMMARY.json", json.dumps(summary).encode())
    return sk, CheckpointReport(total, resumed, total - resumed, False)


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
    pdir = f"{ckpt_dir}/partials"
    names = sorted(os.listdir(pdir)) if os.path.isdir(pdir) else []
    return [json.loads(_read(f"{pdir}/{n}")) for n in names if n.endswith(".metrics.json")]
