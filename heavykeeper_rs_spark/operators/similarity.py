"""Similarity search over an embedding column (array<float>).

Two paths, same results contract:

- brute_force_topk: exact cosine top-k. The dot product is a JVM-side
  ``aggregate(zip_with(...))`` expression — whole-stage codegen, no
  Python — followed by TakeOrderedAndProject. This is the baseline
  and the verifier for the approximate path.
- lsh_topk: random-hyperplane (sign) LSH. Each vector gets a B-bit
  signature from a broadcast hyperplane matrix (one vectorized Arrow
  kernel); the probe only scores vectors whose signature matches the
  query's in at least one band. At 10^12 rows this turns a full scan
  into a bucket-pruned scan; recall is tunable by bands/bits.
- embedding_near_dup_pairs: all pairs with cosine >= tau via the same
  banded signatures (bucket self-join, output-proportional like
  minhash LSH in operators/dedup.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def _cosine_col(vec_col: str, qvec: list[float]) -> F.Column:
    """JVM-side cosine similarity against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    norm_q = float(np.sqrt(np.dot(qvec, qvec)))
    return dot / (norm_v * F.lit(norm_q))


def brute_force_topk(
    df: DataFrame, id_col: str, vec_col: str, qvec: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k: one scan, no shuffle of vectors (top-k is a
    TakeOrderedAndProject with per-partition pruning).

    The vector column is cast to array<double> up front: zip_with
    between an array<float> column and double literals trips Spark's
    ArrowColumnVector getFloat limitation (UNSUPPORTED_CALL), so a raw
    float[] embedding column would otherwise crash with a cryptic JVM
    error."""
    vd = df.withColumn("__vd", F.col(vec_col).cast("array<double>"))
    return (
        vd.select(
            F.col(id_col),
            F.round(_cosine_col("__vd", qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_bits)).astype(np.float32)


def signature_df(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int = 32,
    seed: int = 12345,
) -> DataFrame:
    """(id, sig long): sign-LSH signatures, vectorized per Arrow batch
    (matrix multiply against broadcast hyperplanes)."""
    planes = _hyperplanes(dim, n_bits, seed)
    out_schema = StructType(
        [StructField("id", LongType(), False), StructField("sig", LongType(), False)]
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            if len(ids) == 0:
                continue
            vecs = np.vstack(batch.column(1).to_numpy(zero_copy_only=False))
            proj = vecs.astype(np.float32) @ planes  # (n, n_bits)
            bits = (proj > 0).astype(np.uint64)
            sig = np.zeros(len(ids), dtype=np.uint64)
            for b in range(n_bits):
                sig |= bits[:, b] << np.uint64(b)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(ids, dtype=np.int64)),
                    pa.array(sig.astype(np.int64)),
                ],
                names=["id", "sig"],
            )

    from .scan import fan_out

    keyed = fan_out(
        df.select(F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__v")),
        min_bytes=0,
    )
    return keyed.mapInArrow(kernel, out_schema)


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    qvec: list[float],
    k: int = 10,
    n_bits: int = 32,
    bands: int = 4,
    seed: int = 12345,
) -> DataFrame:
    """Approximate cosine top-k: score only vectors sharing >= 1 LSH
    band with the query. Candidate set is a pushed-down semi-join on
    banded signature equality (hash join on small ints) — the IVF-ish
    scale path."""
    dim = len(qvec)
    assert n_bits % bands == 0
    bits_per_band = n_bits // bands
    mask = (1 << bits_per_band) - 1
    planes = _hyperplanes(dim, n_bits, seed)
    qproj = np.asarray(qvec, dtype=np.float32) @ planes
    qsig = 0
    for b in range(n_bits):
        if qproj[b] > 0:
            qsig |= 1 << b
    qbands = [(qsig >> (bits_per_band * i)) & mask for i in range(bands)]
    sigs = signature_df(df, id_col, vec_col, dim, n_bits, seed)
    band_match = None
    for i, qb in enumerate(qbands):
        cond = (
            F.shiftrightunsigned(F.col("sig"), bits_per_band * i).bitwiseAND(
                F.lit(mask)
            )
            == F.lit(qb)
        )
        band_match = cond if band_match is None else (band_match | cond)
    cand_ids = sigs.filter(band_match).select("id")
    # no forced broadcast: a popular signature region can exceed driver
    # memory at 10^12 rows — AQE broadcasts when the candidate set is
    # under spark.sql.autoBroadcastJoinThreshold and falls back to a
    # shuffle semi-join otherwise
    cands = df.join(cand_ids, df[id_col].cast("long") == cand_ids.id, "leftsemi")
    return brute_force_topk(cands, id_col, vec_col, qvec, k)


def brute_force_pairs(
    df: DataFrame, id_col: str, vec_col: str, tau: float, block: int = 2048
) -> DataFrame:
    """Exact cosine threshold self-join (id_a < id_b, cosine >= tau).

    O(n^2) — the *verifier* for the LSH path, and the right choice only
    for small re-rank sets; at corpus scale use
    embedding_near_dup_pairs (bucket-pruned).

    Executed as a distributed BLOCK GEMM, not a row-pair theta-join:
    vectors hash into ~``block``-row blocks (one ``applyInPandas`` row
    per block carrying ids + a packed float64 matrix), every unordered
    block pair joins (nb^2/2 rows of blobs — tiny), and each pair task
    runs one NumPy matmul to prefilter at ``tau - 5.1e-7``. Survivors'
    cosines are then RECOMPUTED with a strict left-to-right fold
    (``np.cumsum`` — sequential accumulation order), so the rounded
    values are bit-identical to a scalar loop (DuckDB's
    list_cosine_similarity / Catalyst's aggregate fold) and immune to
    GEMM's blocked-summation ulps. 4096 vectors x 64 dims: 325 s as a
    BroadcastNestedLoopJoin with per-pair lambda folds -> ~2 s."""
    src = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).filter(F.col("v").isNotNull())
    n = src.count()
    if n == 0:
        return src.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    nb = max(1, -(-n // block))
    blocked = src.withColumn("bid", F.pmod(F.xxhash64("id"), F.lit(nb)))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.asarray(list(pdf["v"]), dtype=np.float64)
        return pd.DataFrame(
            {
                "bid": [int(pdf["bid"].iloc[0])],
                "ids": [ids.tobytes()],
                "mat": [mat.tobytes()],
                "rows": [len(ids)],
            }
        )

    blocks = blocked.groupBy("bid").applyInPandas(
        pack, "bid int, ids binary, mat binary, rows int"
    )
    a = blocks.select(
        F.col("bid").alias("bid_a"), F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"), F.col("rows").alias("rows_a"),
    )
    b = blocks.select(
        F.col("bid").alias("bid_b"), F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"), F.col("rows").alias("rows_b"),
    )
    pairs = a.join(b, F.col("bid_a") <= F.col("bid_b"))

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for r in pdf.itertuples(index=False):
                ia = np.frombuffer(r.ids_a, dtype=np.int64)
                ib = np.frombuffer(r.ids_b, dtype=np.int64)
                ma = np.frombuffer(r.mat_a, dtype=np.float64).reshape(r.rows_a, -1)
                mb = np.frombuffer(r.mat_b, dtype=np.float64).reshape(r.rows_b, -1)
                na = np.linalg.norm(ma, axis=1)
                nbn = np.linalg.norm(mb, axis=1)
                g = (ma @ mb.T) / np.maximum(na[:, None] * nbn[None, :], 1e-300)
                # prefilter must admit the whole round-to-6 window:
                # survivors are kept by round(cos, 6) >= tau, which
                # accepts raw cosines down to tau - 5e-7, plus GEMM
                # blocked-summation ulps on top
                cand = g >= tau - 5.1e-7
                if r.bid_a == r.bid_b:
                    # self-pair task: A == B, every unordered pair
                    # appears twice — keep one orientation
                    cand &= ia[:, None] < ib[None, :]
                # cross-block tasks keep BOTH orientations: an
                # unordered pair appears exactly once in the cross
                # product, with either element on either side (ids
                # hash into exactly one block, so orientation is
                # arbitrary); emitting as (min, max) canonicalizes.
                # The r6 sf1 rehearsal caught the `ia < ib`-only
                # version silently dropping pairs whose smaller id
                # hashed into the b-side block.
                ri, ci = np.nonzero(cand)
                if ri.size == 0:
                    continue
                # exact sequential-fold recompute for survivors only:
                # cumsum accumulates strictly left-to-right, matching
                # the scalar-loop semantics both oracles use
                prod = ma[ri] * mb[ci]
                dot = np.cumsum(prod, axis=1)[:, -1]
                sa = np.cumsum(ma[ri] * ma[ri], axis=1)[:, -1]
                sb = np.cumsum(mb[ci] * mb[ci], axis=1)[:, -1]
                # sqrt(sa)*sqrt(sb), NOT sqrt(sa*sb): DuckDB's
                # list_cosine_similarity takes the two square roots
                # separately, and the forms differ in the last ulp —
                # enough to flip a 6-decimal rounding boundary
                cos = np.round(
                    dot / np.maximum(np.sqrt(sa) * np.sqrt(sb), 1e-300), 6
                )
                keep = cos >= tau
                if not keep.any():
                    continue
                ka, kb = ia[ri[keep]], ib[ci[keep]]
                yield pd.DataFrame(
                    {
                        "id_a": np.minimum(ka, kb),
                        "id_b": np.maximum(ka, kb),
                        "cosine": cos[keep],
                    }
                )

    return pairs.mapInPandas(kernel, "id_a long, id_b long, cosine double")


def _kmeans(sample: np.ndarray, n_centroids: int, seed: int, iters: int = 10) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample (coarse
    quantizer training). L2-normalized so assignment order matches
    cosine similarity."""
    rng = np.random.default_rng(seed)
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    idx = rng.choice(x.shape[0], size=min(n_centroids, x.shape[0]), replace=False)
    cents = x[idx].copy()
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(cents.shape[0]):
            members = x[assign == c]
            if members.shape[0]:
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    carry_vec: bool = False,
) -> DataFrame:
    """(id, centroid int[, vec]): IVF coarse assignment — one broadcast
    matmul per Arrow batch (the inverted-file 'list id' of FAISS-style
    IVF). ``carry_vec=True`` carries the vector through (as
    array<double>) so an index write needs no join back to the table."""
    fields = [
        StructField("id", LongType(), False),
        StructField("centroid", LongType(), False),
    ]
    if carry_vec:
        from pyspark.sql.types import ArrayType, DoubleType

        fields.append(StructField("vec", ArrayType(DoubleType()), True))
    out_schema = StructType(fields)
    cents = centroids.astype(np.float32)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            if len(ids) == 0:
                continue
            vecs = np.vstack(batch.column(1).to_numpy(zero_copy_only=False)).astype(
                np.float32
            )
            norm = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
            assign = (norm @ cents.T).argmax(axis=1).astype(np.int64)
            cols = [pa.array(np.asarray(ids, dtype=np.int64)), pa.array(assign)]
            names = ["id", "centroid"]
            if carry_vec:
                cols.append(batch.column(1).cast(pa.list_(pa.float64())))
                names.append("vec")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    keyed = df.select(F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__v"))
    return keyed.mapInArrow(kernel, out_schema)


def ivf_build_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    n_centroids: int = 16,
    train_sample: int = 2048,
    seed: int = 12345,
) -> np.ndarray:
    """Write a PERSISTED, centroid-partitioned IVF index: train the
    coarse quantizer on a partition-stratified reservoir, assign every
    vector, and write (id, vec) parquet partitioned by ``centroid``.
    Returns the centroids (also saved next to the index).

    This is the 10^12-row shape: the index is written once, and every
    search reads ONLY its n_probe partitions — the centroid filter is
    a partition-pruning predicate at the scan (verified in
    tests/test_dedup_similarity.py via PartitionFilters), so a search
    touches n_probe/n_centroids of the files instead of the corpus.
    ``index_path`` is shared storage on a cluster (S3/HDFS) — the
    centroids sidecar is written THROUGH Spark (a tiny parquet under
    ``<index_path>/_ivf_centroids``; the leading underscore keeps it
    out of the main index scan's file listing) so the whole index,
    sidecar included, lands on whatever filesystem the path names —
    a local ``np.save`` would fail on ``s3://...`` at build time."""
    from heavykeeper_rs_spark.fsutil import fs_delete, increment_dir

    sample = _reservoir_sample(df, vec_col, train_sample, seed)
    cents = _kmeans(sample, n_centroids, seed)
    assigned = ivf_assign(df, id_col, vec_col, cents, carry_vec=True)
    # layout since round 7: <index>/inc=<increment>/centroid=<c>/ —
    # each increment is an idempotent commit unit (fsutil), and the
    # centroid filter still partition-prunes through the outer key.
    # A rebuild replaces the WHOLE index (all increments), so clear
    # the root — overwriting only inc=__base__ would leave stale
    # increments (or a pre-r7 flat layout) mixed underneath.
    fs_delete(df.sparkSession, index_path)
    assigned.write.partitionBy("centroid").parquet(
        increment_dir(index_path, "__base__")
    )
    spark = df.sparkSession
    cent_rows = [(int(i), [float(x) for x in row]) for i, row in enumerate(cents)]
    spark.createDataFrame(cent_rows, "centroid_id int, vec array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(_centroids_path(index_path))
    return cents


def ivf_append_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    increment_id: "str | None" = None,
) -> bool:
    """Append new vectors to a persisted IVF index — the embedding
    analog of the crawl-increment workflow (dedup_index.py): assign
    each new vector with the index's OWN saved centroids (the coarse
    quantizer never drifts between increments) and write its own
    ``inc=<increment_id>/centroid=<c>/`` partition directories. Cost
    is increment-proportional; existing directories are untouched,
    searches keep pruning on ``centroid``.

    Named increments are IDEMPOTENT: applied exactly when the
    increment directory's ``_SUCCESS`` marker exists (the filesystem
    is the manifest — see ``fsutil``); re-applying returns False and
    writes nothing, retrying a crashed write clears the partial
    directory first. Unnamed increments get a random UUID. Returns
    True iff data was written. If the corpus distribution shifts
    enough that new mass lands on few centroids, rebuild — the
    quantizer is a one-pass retrain (``ivf_build_index``)."""
    import uuid

    from heavykeeper_rs_spark.fsutil import fs_list_dirs, prepare_increment_dir

    spark = df.sparkSession
    if any(d.startswith("centroid=") for d in fs_list_dirs(spark, index_path)):
        raise ValueError(
            f"IVF index at {index_path} uses the pre-round-7 flat layout — "
            "rebuild with ivf_build_index to get idempotent increments"
        )
    cents = _load_centroids(spark, index_path)
    if increment_id is None:
        increment_id = uuid.uuid4().hex
    target = prepare_increment_dir(spark, index_path, increment_id)
    if target is None:
        return False  # already applied — idempotent no-op
    assigned = ivf_assign(df, id_col, vec_col, cents, carry_vec=True)
    assigned.write.partitionBy("centroid").parquet(target)
    return True


def _centroids_path(index_path: str) -> str:
    return index_path.rstrip("/") + "/_ivf_centroids"


def _load_centroids(spark, index_path: str) -> np.ndarray:
    from pyspark.errors import AnalysisException

    path = _centroids_path(index_path)
    try:
        rows = spark.read.parquet(path).collect()
    except AnalysisException as e:
        raise FileNotFoundError(
            f"no IVF centroid sidecar at {path} — was the index built with "
            "ivf_build_index?"
        ) from e
    rows.sort(key=lambda r: r["centroid_id"])
    return np.asarray([r["vec"] for r in rows], dtype=np.float32)


def ivf_search_index(
    spark,
    index_path: str,
    qvec: list[float],
    k: int = 10,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Top-k cosine search against a persisted IVF index: pick the
    query's n_probe nearest centroids and scan ONLY those partitions
    (Spark prunes the rest at file-listing time)."""
    if centroids is None:
        centroids = _load_centroids(spark, index_path)
    q = np.asarray(qvec, dtype=np.float32)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe = [int(c) for c in np.argsort(-(centroids @ qn))[:n_probe]]
    from heavykeeper_rs_spark.fsutil import fs_list_dirs, read_applied

    if any(d.startswith("centroid=") for d in fs_list_dirs(spark, index_path)):
        raise ValueError(
            f"IVF index at {index_path} uses the pre-round-7 flat layout — "
            "rebuild with ivf_build_index (the data is intact; only the "
            "directory layout changed)"
        )
    idx = read_applied(spark, index_path).filter(F.col("centroid").isin(probe))
    return brute_force_topk(idx, "id", "vec", qvec, k)


def _reservoir_sample(df: DataFrame, vec_col: str, n: int, seed: int) -> np.ndarray:
    """Unbiased training sample: per-partition reservoir (every
    partition contributes, every row in a partition has equal
    probability) — unlike ``limit(n)``, which takes the head of the
    first partition(s) and trains the quantizer on one shard's
    distribution. One extra column-pruned pass, no count job."""
    from .combine import partition_id

    # array<double> end-to-end: collecting an array<float> back out of
    # a mapInArrow stage trips Spark's ArrowColumnVector getFloat
    # limitation (UNSUPPORTED_CALL) in the final projection
    keyed = df.select(F.col(vec_col).cast("array<double>").alias("__v"))
    from .scan import estimate_partitions

    n_parts = estimate_partitions(keyed, bias="low")
    m = max(-(-n // n_parts), 8)  # per-partition reservoir size
    out_schema = StructType(
        [StructField("v", keyed.schema["__v"].dataType, True)]
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = partition_id()
        rng = np.random.default_rng(np.random.PCG64((seed << 13) ^ (pid * 0x9E3779B9)))
        reservoir: list = []
        seen = 0
        for batch in batches:
            col = batch.column(0)
            if col.null_count:
                valid_idx = np.flatnonzero(
                    col.is_valid().to_numpy(zero_copy_only=False)
                )
            else:
                valid_idx = np.arange(len(col))
            nb = valid_idx.size
            if nb == 0:
                continue
            gidx = seen + np.arange(nb)
            fill = np.flatnonzero(gidx < m)
            if fill.size:
                reservoir.extend(col.take(pa.array(valid_idx[fill])).to_pylist())
            rest = np.flatnonzero(gidx >= m)
            if rest.size:
                # accept row with prob m/(global_index+1); accepted rows
                # overwrite uniform slots in arrival order — only the
                # (few) accepted rows ever cross into Python
                u = rng.random(rest.size)
                acc = rest[u < m / (gidx[rest] + 1.0)]
                if acc.size:
                    slots = rng.integers(0, m, acc.size)
                    vals = col.take(pa.array(valid_idx[acc])).to_pylist()
                    for s, v in zip(slots, vals):
                        reservoir[s] = v
            seen += nb
        if reservoir:
            yield pa.RecordBatch.from_pydict({"v": reservoir})

    rows = keyed.mapInArrow(kernel, out_schema).collect()
    return np.asarray([list(r[0]) for r in rows], dtype=np.float32)


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    qvec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 2048,
    seed: int = 12345,
) -> DataFrame:
    """IVF approximate cosine top-k: train a coarse quantizer on a
    partition-stratified reservoir sample, assign every vector to its
    nearest centroid, then score ONLY vectors in the query's n_probe
    nearest lists.

    At 10^12 vectors the assignment is a write-once index column
    (partition the table by centroid and probing prunes whole
    partitions); here it is computed inline. Recall is tuned by
    n_probe/n_centroids; brute_force_topk is the verifier.
    """
    sample = _reservoir_sample(df, vec_col, train_sample, seed)
    cents = _kmeans(sample, n_centroids, seed)
    q = np.asarray(qvec, dtype=np.float32)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe = np.argsort(-(cents @ qn))[:n_probe].tolist()
    assigned = ivf_assign(df, id_col, vec_col, cents)
    cand_ids = assigned.filter(F.col("centroid").isin(probe)).select("id")
    # AQE picks broadcast vs shuffle semi-join by candidate size (an
    # n_probe/n_centroids fraction of the corpus can exceed any driver)
    cands = df.join(cand_ids, df[id_col].cast("long") == cand_ids.id, "leftsemi")
    return brute_force_topk(cands, id_col, vec_col, qvec, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    tau: float = 0.95,
    n_bits: int = 32,
    bands: int = 4,
    seed: int = 12345,
    bucket_cap: int = 256,
) -> DataFrame:
    """(id_a < id_b, cosine) pairs with cosine >= tau — embedding
    near-duplicate detection. Banded signature buckets bound the
    candidate set; exact cosine verifies.

    Oversized buckets (degenerate signature regions) are size-gated
    BEFORE any member-list materialization and thinned to star edges
    against the bucket min — see ``operators.dedup._bucket_pairs`` for
    the window-based routing (no reducer ever holds a whole degenerate
    bucket's id list)."""
    assert n_bits % bands == 0
    bpb = n_bits // bands
    mask = (1 << bpb) - 1
    sigs = signature_df(df, id_col, vec_col, dim, n_bits, seed)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), bpb * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")
    from .dedup import _bucket_pairs

    src = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    from pyspark.sql import Window

    sized = banded.withColumn(
        "bsz", F.count("*").over(Window.partitionBy("band", "bh"))
    )
    # WITHIN-CAP buckets verify bucket-locally: one GEMM per (band,
    # bucket) group instead of materializing every candidate pair and
    # joining vectors onto it — the r5 pair-materialized verify
    # shuffled ~60M rows at the 4096-vector complete-regime gates
    # (75 s); bucket-local GEMM ships each band's vectors once
    # (bands x n x dim, trivially small) and emits only
    # threshold-survivors. Dense-bucket regimes (few wide bands) are
    # exactly where pair materialization explodes, so this is also the
    # right 100 TB shape; sparse-bucket regimes see no change in
    # output, just in route.
    small = sized.filter(F.col("bsz") <= bucket_cap).join(src, "id")

    def bucket_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        M = np.asarray(list(pdf["v"]), dtype=np.float64)
        norms = np.linalg.norm(M, axis=1)
        g = (M @ M.T) / np.maximum(norms[:, None] * norms[None, :], 1e-300)
        # tau - 5.1e-7 admits the full round-to-6 window (round(cos,6)
        # >= tau keeps raw cosines down to tau - 5e-7) plus GEMM ulps
        cand = (g >= tau - 5.1e-7) & (ids[:, None] < ids[None, :])
        ri, ci = np.nonzero(cand)
        if ri.size == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cosine": np.float64}
            )
        # sequential-fold recompute (see _verify_cosine_pairs); the
        # separate square roots match DuckDB bit-for-bit — sqrt(sa*sb)
        # can differ in the last ulp and flip a rounding boundary
        dot = np.cumsum(M[ri] * M[ci], axis=1)[:, -1]
        sa = np.cumsum(M[ri] * M[ri], axis=1)[:, -1]
        sb = np.cumsum(M[ci] * M[ci], axis=1)[:, -1]
        cos = np.round(dot / np.maximum(np.sqrt(sa) * np.sqrt(sb), 1e-300), 6)
        keep = cos >= tau
        return pd.DataFrame(
            {"id_a": ids[ri[keep]], "id_b": ids[ci[keep]], "cosine": cos[keep]}
        )

    small_pairs = small.groupBy("band", "bh").applyInPandas(
        bucket_kernel, "id_a long, id_b long, cosine double"
    )
    # OVERSIZED buckets keep the size-gated star-thinning route (no
    # reducer ever holds a whole degenerate bucket) + row verify
    over = sized.filter(F.col("bsz") > bucket_cap).select("id", "band", "bh")
    over_pairs = (
        _bucket_pairs(over, ["band", "bh"], "id", bucket_cap)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    va = src.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = src.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    over_verified = _verify_cosine_pairs(
        over_pairs.join(va, "id_a").join(vb, "id_b"), tau
    )
    return small_pairs.unionByName(over_verified).distinct()


def _verify_cosine_pairs(joined: DataFrame, tau: float) -> DataFrame:
    """Vectorized exact-cosine verify over (id_a, id_b, va, vb) rows.

    One Arrow-batched NumPy pass instead of a per-pair Catalyst lambda
    fold (~40x on million-pair candidate sets: the complete-regime
    gates at the 4096-vector cap materialize ~8M candidates).
    ``np.cumsum`` accumulates strictly left-to-right, so the rounded
    cosines are bit-identical to the scalar-loop fold the previous
    expression version and the DuckDB oracle compute."""

    def verify(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            A = np.asarray(list(pdf["va"]), dtype=np.float64)
            B = np.asarray(list(pdf["vb"]), dtype=np.float64)
            dot = np.cumsum(A * B, axis=1)[:, -1]
            na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
            cos = np.round(dot / np.maximum(na * nb, 1e-300), 6)
            keep = cos >= tau
            if not keep.any():
                continue
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(dtype=np.int64)[keep],
                    "id_b": pdf["id_b"].to_numpy(dtype=np.int64)[keep],
                    "cosine": cos[keep],
                }
            )

    return joined.mapInPandas(verify, "id_a long, id_b long, cosine double")
