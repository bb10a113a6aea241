"""Incremental near-duplicate detection against a PERSISTED MinHash
index — the crawl-increment workflow of a webtext pipeline: dedup each
new batch of documents against the whole corpus without ever
reshuffling (or even re-reading the text of) the corpus.

The batch-mode dedup family (operators/dedup.py) answers "which docs
in THIS DataFrame are near-dups of each other"; at corpus scale the
recurring question is "which of today's N new docs duplicate any of
the 10^10 docs we already kept". Recomputing pairwise over the union
every day is quadratic in days; the index makes each increment cost
one column-pruned corpus scan + increment-sized work.

Index layout (one parquet dataset + a `_meta` sidecar, the
`_ivf_centroids` pattern — underscore paths are invisible to Spark
scans of the parent):

    <dir>/data/inc=<increment_id>/   (id, band, band_hash, sig) one
                  row per (doc, band); the base build is increment
                  `__base__`, each update is its own `inc=` partition
                  directory (idempotent commit unit — applied iff its
                  `_SUCCESS` marker exists, see fsutil). `sig` (the
                  full n_hashes x uint64 signature, 1 KiB at 128
                  hashes) is stored ONLY on the band-0 row, so bucket
                  probes that select (id, band, band_hash) never read
                  signature bytes (parquet column pruning)
    <dir>/_meta/  one row: n_hashes, shingle, bands, seed, version —
                  the increment MUST hash with identical parameters,
                  so they live with the data, not in caller code

Scale shape of ``dedup_against_index`` (the 100 TB contract):

  - the corpus-side dataset is scanned, never shuffled: candidate
    probing joins it against ``broadcast(increment buckets)``, and
    signature verification joins it against ``broadcast(candidate
    ids)`` — two map-side passes over column-pruned parquet
  - everything shuffled is increment-proportional (new sigs,
    candidate pairs), never corpus-proportional
  - degenerate buckets (boilerplate band hashes shared by millions of
    corpus docs) are bounded by ``max_candidates_per_doc``:
    deterministic smallest-corpus-id selection per new doc, applied
    BEFORE signature verification
  - verification needs no corpus text: the estimated Jaccard is the
    fraction of agreeing signature lanes (E[match] = J, sigma =
    sqrt(J(1-J)/n_hashes) ~ 0.04 at 128 lanes), computed lane-wise in
    one vectorized pass

Reference scope note: the reference engine (heavykeeper-rs) has no
dedup surface at all — this extends the LLM-data-pipeline family the
north rule adds, composing minhash_signatures' kernel (dedup.py) with
the sidecar-metadata pattern (similarity.py `_ivf_centroids`,
sources/sketch_store.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..kernel import arrow_string_buffers
from .dedup import _minhash_params, _sig_and_bands
from .scan import fan_out

_INDEX_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("band", LongType(), False),
        StructField("band_hash", LongType(), False),
        StructField("sig", BinaryType(), True),
    ]
)

_PAIR_SCHEMA = StructType(
    [
        StructField("new_id", LongType(), False),
        StructField("corpus_id", LongType(), False),
        StructField("est_jaccard", DoubleType(), False),
    ]
)


def minhash_index_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 128,
    shingle: int = 5,
    bands: int = 16,
    seed: int = 12345,
) -> DataFrame:
    """(id, band, band_hash, sig) rows — the index representation of a
    document set. The signature/band math is ``dedup._sig_and_bands``,
    the SAME code object ``minhash_signatures`` runs — index/probe
    compatibility requires bit-identical hashing, so it is shared, not
    copied (a parity test pins the two outputs together)."""
    assert n_hashes % bands == 0
    a, b = _minhash_params(n_hashes, seed)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            n = len(ids)
            if n == 0:
                continue
            sig, out_hash = _sig_and_bands(
                batch.column(1), n_hashes, shingle, bands, seed, a, b
            )
            sig_bytes = sig.tobytes()
            row_bytes = n_hashes * 8
            sigs_col: list[bytes | None] = []
            for d in range(n):
                sigs_col.append(sig_bytes[d * row_bytes : (d + 1) * row_bytes])
                sigs_col.extend([None] * (bands - 1))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(np.asarray(ids, dtype=np.int64), bands)),
                    pa.array(np.tile(np.arange(bands, dtype=np.int64), n)),
                    pa.array(out_hash.reshape(-1)),
                    pa.array(sigs_col, type=pa.binary()),
                ],
                names=["id", "band", "band_hash", "sig"],
            )

    keyed = df.select(
        F.col(id_col).cast("long").alias("__id"), F.col(text_col).alias("__t")
    )
    keyed = fan_out(keyed, min_bytes=0)
    return keyed.mapInArrow(kernel, _INDEX_SCHEMA)


def _meta_path(index_dir: str) -> str:
    return f"{index_dir.rstrip('/')}/_meta"


def _data_path(index_dir: str) -> str:
    return f"{index_dir.rstrip('/')}/data"


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    n_hashes: int = 128,
    shingle: int = 5,
    bands: int = 16,
    seed: int = 12345,
) -> None:
    """Materialize the MinHash index for a corpus at ``index_dir``.

    Rows are sorted within partitions by (band, band_hash) so parquet
    row-group statistics thin bucket probes for free; the signature
    column rides along and is only read by the verification stage."""
    from heavykeeper_rs_spark.fsutil import fs_exists, increment_dir

    spark = df.sparkSession
    if fs_exists(spark, _data_path(index_dir)):
        raise ValueError(f"index already exists at {index_dir}")
    rows = minhash_index_rows(df, id_col, text_col, n_hashes, shingle, bands, seed)
    (
        rows.sortWithinPartitions("band", "band_hash")
        .write.mode("errorifexists")
        .parquet(increment_dir(_data_path(index_dir), "__base__"))
    )
    meta = spark.createDataFrame(
        [(int(n_hashes), int(shingle), int(bands), int(seed), 2)],
        "n_hashes long, shingle long, bands long, seed long, version long",
    )
    meta.write.mode("overwrite").parquet(_meta_path(index_dir))


def read_index_meta(spark: SparkSession, index_dir: str) -> dict:
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(_meta_path(index_dir)).collect()
    except AnalysisException as e:
        raise FileNotFoundError(
            f"no index meta at {_meta_path(index_dir)} — either the index "
            "was never built with build_minhash_index, or a build died "
            "between the data and meta writes (incomplete index: delete "
            f"{index_dir} and rebuild)"
        ) from e
    if len(row) != 1:
        raise ValueError(f"corrupt index meta at {index_dir}: {len(row)} rows")
    m = row[0].asDict()
    version = m.pop("version")
    if version == 1:
        raise ValueError(
            f"index at {index_dir} uses the pre-round-7 flat layout "
            "(version 1) — rebuild with build_minhash_index to get "
            "per-increment commit directories"
        )
    if version != 2:
        raise ValueError(f"unknown index version {version}")
    return {k: int(v) for k, v in m.items()}


def update_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    increment_id: "str | None" = None,
) -> bool:
    """Append a document increment to an existing index (same
    parameters, read from the index's own meta — callers cannot
    diverge the hash family by accident).

    Increments are IDEMPOTENT when named: each ``increment_id`` writes
    its own ``data/inc=<id>/`` directory and counts as applied exactly
    when Spark's ``_SUCCESS`` marker exists there (atomic with the
    data — see ``fsutil``; the filesystem is the applied-increment
    manifest, so it can never disagree with the rows the way a stored
    list could). Re-applying an applied id returns False and writes
    nothing; retrying a crashed write clears the partial directory
    first. An unnamed increment gets a random UUID — always applied,
    never replayable. Returns True iff data was written."""
    import uuid

    from heavykeeper_rs_spark.fsutil import prepare_increment_dir

    spark = df.sparkSession
    meta = read_index_meta(spark, index_dir)
    if increment_id is None:
        increment_id = uuid.uuid4().hex
    target = prepare_increment_dir(spark, _data_path(index_dir), increment_id)
    if target is None:
        return False  # already applied — idempotent no-op
    rows = minhash_index_rows(df, id_col, text_col, **meta)
    rows.sortWithinPartitions("band", "band_hash").write.parquet(target)
    return True


def applied_index_increments(spark: SparkSession, index_dir: str) -> "list[str]":
    """Applied increment ids (including ``__base__``), derived from
    the committed ``inc=*`` directories."""
    from heavykeeper_rs_spark.fsutil import applied_increments

    return applied_increments(spark, _data_path(index_dir))


def _sig_matrix(col: pa.Array, n: int, n_hashes: int) -> np.ndarray:
    """(n, n_hashes) uint64 view of a fixed-length binary signature
    column — zero Python-object round-trips. Arrow binary values are
    concatenated in the data buffer, so equal-length non-null rows are
    one contiguous region; ragged or null rows mean the index is
    corrupt and the call FAILS FAST with ValueError."""
    row_bytes = n_hashes * 8
    off, data = arrow_string_buffers(col)
    if col.null_count == 0 and (np.diff(off) == row_bytes).all():
        flat = data[off[0] : off[-1]]
        return np.ascontiguousarray(flat).view(np.uint64).reshape(n, n_hashes)
    raise ValueError(
        "signature column is ragged or has nulls — index data corrupt "
        f"(expected fixed {row_bytes}-byte signatures)"
    )


def _est_jaccard_pairs(joined: DataFrame, n_hashes: int) -> DataFrame:
    """(new_id, corpus_id, est_jaccard) from rows carrying both raw
    signature blobs — one vectorized lane-agreement pass."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            a_ = _sig_matrix(batch.column(2), n, n_hashes)
            b_ = _sig_matrix(batch.column(3), n, n_hashes)
            est = (a_ == b_).mean(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    pa.array(est, type=pa.float64()),
                ],
                names=["new_id", "corpus_id", "est_jaccard"],
            )

    return joined.mapInArrow(kernel, _PAIR_SCHEMA)


def dedup_against_index(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    min_est_jaccard: float = 0.7,
    max_candidates_per_doc: int = 1024,
) -> DataFrame:
    """Near-dup pairs (new_id, corpus_id, est_jaccard) between an
    increment and the indexed corpus. See the module docstring for the
    scale contract (corpus scanned map-side twice, never shuffled;
    all shuffles increment-proportional)."""
    spark = new_docs.sparkSession
    meta = read_index_meta(spark, index_dir)
    n_hashes = meta["n_hashes"]
    inc = minhash_index_rows(new_docs, id_col, text_col, **meta)
    inc = inc.persist()
    try:
        inc_buckets = inc.select(
            F.col("id").alias("new_id"), "band", "band_hash"
        )
        from heavykeeper_rs_spark.fsutil import read_applied

        index = read_applied(spark, _data_path(index_dir))
        # pass 1: bucket probe — corpus scan x broadcast(increment)
        cand = (
            index.select(F.col("id").alias("corpus_id"), "band", "band_hash")
            .join(F.broadcast(inc_buckets), ["band", "band_hash"])
            .where(F.col("corpus_id") != F.col("new_id"))
            .select("new_id", "corpus_id")
            .distinct()
        )
        # degenerate-bucket bound: deterministic smallest-corpus-id
        # candidates per new doc (increment-proportional shuffle)
        from pyspark.sql import Window

        w = Window.partitionBy("new_id").orderBy("corpus_id")
        cand = (
            cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max_candidates_per_doc)
            .drop("__rn")
        )
        # pass 2: corpus sig fetch — corpus scan x broadcast(candidates)
        corpus_sigs = (
            read_applied(spark, _data_path(index_dir))
            .where(F.col("band") == 0)
            .select(F.col("id").alias("corpus_id"), F.col("sig").alias("sig_b"))
        )
        inc_sigs = inc.where(F.col("band") == 0).select(
            F.col("id").alias("new_id"), F.col("sig").alias("sig_a")
        )
        joined = (
            corpus_sigs.join(F.broadcast(cand), "corpus_id")
            .join(F.broadcast(inc_sigs), "new_id")
            .select("new_id", "corpus_id", "sig_a", "sig_b")
        )
        out = _est_jaccard_pairs(joined, n_hashes).where(
            F.col("est_jaccard") >= min_est_jaccard
        )
        # materialize before unpersisting the increment rows
        out = out.localCheckpoint(eager=True)
    finally:
        inc.unpersist()
    return out
