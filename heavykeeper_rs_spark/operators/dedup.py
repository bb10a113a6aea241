"""Deduplication operators for large-scale corpus curation.

Exact and near-duplicate detection over a documents table, designed
for the 100 TB regime:

- exact_dedup: hash-groupBy on a normalized content fingerprint. One
  shuffle on a 64-bit key; map-side partial aggregation applies.
- minhash_lsh: shingle -> minhash signature -> banded LSH bucketing.
  The only shuffle is on (band, band_hash) — docs collide only when a
  band matches, so the candidate join is output-proportional, never
  O(n^2). Signatures are computed in a vectorized Arrow kernel
  (NumPy matrix ops), ~n_shingles x n_hashes per batch.
- simhash: 64-bit SimHash signatures (vectorized), near-dups = equal
  signatures or banded Hamming neighbors.
- ngram_jaccard: exact Jaccard verification on candidate pairs
  (array_intersect/array_union, JVM-side) — the re-rank step after
  LSH recall.
- embedding near-dup: see operators/similarity.py (cosine path).

Duplicate *groups* are resolved with min-id label propagation over the
candidate edge set — iterative small joins that converge in
O(log(max component diameter)) rounds; components here are tiny
(duplicate clusters), so 3 rounds is plenty and each round is a
broadcast-scale join at realistic duplicate rates.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..functions.text import doc_fingerprint
from ..kernel import _splitmix64_arr, arrow_string_buffers
from .scan import fan_out

# Mersenne prime 2^31-1: (a*h+b) with a,b,h < p fits in int64, so the
# permutation-hash matrix stays in native vectorized integer math.
_MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One representative (min id) per identical normalized text."""
    return (
        df.select(F.col(id_col), doc_fingerprint(text_col).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .select("keep_id", "dup_count")
    )


_RH_BASE = 1_000_003
_RH_MOD = (1 << 61) - 1


def rolling_fingerprints(
    df: DataFrame, id_col: str, text_col: str, normalize: bool = True
) -> DataFrame:
    """(id, rfp): Rabin–Karp polynomial rolling hash of each document.

    fp(doc) = sum(byte_i * BASE^(L-1-i)) mod (2^61-1), computed fully
    vectorized per Arrow batch: one byte buffer for the batch, a
    modpow table indexed by doc-relative position, one segment-sum.
    Identical normalized text => identical fingerprint; the rolling
    form means a streaming producer can maintain it incrementally.
    """
    out_schema = StructType(
        [StructField("id", LongType(), False), StructField("rfp", LongType(), False)]
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pow_cache = np.ones(1, dtype=np.int64)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            texts = batch.column(1).to_numpy(zero_copy_only=False)
            n = len(ids)
            if n == 0:
                continue
            bufs = []
            lens = np.empty(n, dtype=np.int64)
            for i in range(n):
                t = texts[i] if texts[i] is not None else ""
                if normalize:
                    t = " ".join(t.lower().split())
                b = t.encode("utf-8")
                bufs.append(np.frombuffer(b, dtype=np.uint8))
                lens[i] = len(b)
            maxlen = int(lens.max()) if n else 0
            if pow_cache.shape[0] <= maxlen:
                # extend modpow table: pow[j] = BASE^j mod p
                old = pow_cache
                pow_cache = np.empty(maxlen + 1, dtype=np.int64)
                pow_cache[: old.shape[0]] = old
                for j in range(old.shape[0], maxlen + 1):
                    pow_cache[j] = (int(pow_cache[j - 1]) * _RH_BASE) % _RH_MOD
            flat = np.concatenate(bufs) if bufs else np.zeros(0, dtype=np.uint8)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # doc-relative exponent: L-1-i  (highest power first)
            pos = np.arange(flat.shape[0], dtype=np.int64) - np.repeat(starts, lens)
            expo = np.repeat(lens - 1, lens) - pos
            # (byte * BASE^expo) mod p summed per doc; products fit in
            # float-free int64? byte(<256) * pow(<2^61) overflows int64
            # -> use python-object-free trick: split pow into hi/lo 31b
            pw = pow_cache[expo]
            lo = pw & ((1 << 31) - 1)
            hi = pw >> 31
            bb = flat.astype(np.int64)
            # term = byte * pow mod p, exactly, without int64 overflow:
            # byte*hi < 2^38, and x*2^31 mod (2^61-1) is computed via
            # 2^61 ≡ 1 (mod p): x = xh*2^30 + xl  =>  x*2^31 ≡ xh + xl*2^31
            x = bb * hi
            term = ((x >> 30) + ((x & ((1 << 30) - 1)) << 31)) % _RH_MOD
            term = (term + bb * lo) % _RH_MOD
            # exact segment sum mod p without int64 overflow: split each
            # term (< 2^61) into 31-bit halves, segment-sum the halves
            # (hi < 2^30 so sums stay in int64 for docs < 2^33 bytes),
            # recombine mod p per group (n groups, not n bytes)
            hi_t = term >> 31
            lo_t = term & ((1 << 31) - 1)
            if flat.shape[0] == 0:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.asarray(ids, dtype=np.int64)),
                        pa.array(np.zeros(n, dtype=np.int64)),
                    ],
                    names=["id", "rfp"],
                )
                continue
            # segment-reduce over non-empty docs only (keeps reduceat
            # boundaries strictly valid); empty docs fingerprint to 0
            nz = lens > 0
            starts_nz = starts[nz]
            sh = np.add.reduceat(hi_t, starts_nz)
            sl = np.add.reduceat(lo_t, starts_nz)
            sums = np.zeros(n, dtype=np.int64)
            sums[nz] = np.fromiter(
                (((int(h) << 31) + int(l)) % _RH_MOD for h, l in zip(sh, sl)),
                dtype=np.int64,
                count=int(nz.sum()),
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.asarray(ids, dtype=np.int64)), pa.array(sums)],
                names=["id", "rfp"],
            )

    keyed = fan_out(
        df.select(F.col(id_col).cast("long").alias("__id"), F.col(text_col).alias("__t")),
        min_bytes=0,
    )
    return keyed.mapInArrow(kernel, out_schema)


def _minhash_params(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Affine permutations over Z_2^64: x -> a*x + b with ODD a is a
    bijection of the uint64 space, so taking a min over it is a valid
    MinHash permutation sample — and it costs ONE wrapping multiply +
    add per element instead of the Mersenne-prime modular reduction's
    five passes (the 128-permutation loop dominates minhash wall time;
    this family cut it ~2.5x with identical recall semantics)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 63, n_hashes, dtype=np.uint64) * _U64(2) + _U64(1)
    b = rng.integers(0, 1 << 63, n_hashes, dtype=np.uint64)
    return a, b


_U64 = np.uint64


def _window_hashes(
    offsets: np.ndarray, data: np.ndarray, k: int, seed: int, mod: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """All k-byte sliding-window hashes for every doc, vectorized.

    Windows never cross doc boundaries; docs shorter than k get one
    (zero-padded) window. k <= 8 windows pack injectively into a
    uint64 before a splitmix64 finalizer — byte-exact shingle identity,
    no per-shingle Python objects. Returns (uint64 hashes — int64 mod
    ``mod`` when given — and windows-per-doc int64)."""
    lens = np.diff(offsets)
    n_sh = np.maximum(lens - k + 1, 1)
    total = int(n_sh.sum())
    starts_sh = np.zeros(n_sh.shape[0], dtype=np.int64)
    np.cumsum(n_sh[:-1], out=starts_sh[1:])
    pos = (
        np.arange(total, dtype=np.int64)
        - np.repeat(starts_sh, n_sh)
        + np.repeat(offsets[:-1], n_sh)
    )
    padded = np.concatenate([data, np.zeros(k + 8, dtype=np.uint8)])
    v = np.zeros(total, dtype=np.uint64)
    short = lens < k  # only these docs have windows needing zero-pad
    with np.errstate(over="ignore"):
        if short.any():
            # windows of short docs read past the doc end: mask those
            # reads (rare path — one window per short doc)
            end = np.repeat(offsets[1:], n_sh)
            for j in range(min(k, 8)):
                idx = pos + j
                byte = np.where(idx < end, padded[idx], 0).astype(np.uint64)
                v = (v << _U64(8)) | byte
            for j in range(8, k):  # long shingles: rotate-xor fold the tail
                idx = pos + j
                byte = np.where(idx < end, padded[idx], 0).astype(np.uint64)
                v = ((v << _U64(13)) | (v >> _U64(51))) ^ byte
        else:
            # full windows never cross the doc end: plain gathers
            for j in range(min(k, 8)):
                v = (v << _U64(8)) | padded[pos + j]
            for j in range(8, k):
                v = ((v << _U64(13)) | (v >> _U64(51))) ^ padded[pos + j]
        v ^= _U64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        h = _splitmix64_arr(v)
        if mod is not None:
            h = (h % _U64(mod)).astype(np.int64)
    return h, n_sh


def _sig_and_bands(
    text_col_arr: pa.Array,
    n_hashes: int,
    shingle: int,
    bands: int,
    seed: int,
    a: np.ndarray,
    b: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """(sig (n, n_hashes) uint64, band_hash (n, bands) int64) for one
    Arrow batch of documents — the SINGLE definition of the MinHash
    signature + band-fold math. Both the batch dedup path
    (``minhash_signatures``) and the persisted-index path
    (``dedup_index.minhash_index_rows``) call this; index/probe
    compatibility requires the two to stay bit-identical, so the
    arithmetic must never be forked."""
    n = len(text_col_arr)
    rows_per_band = n_hashes // bands
    offsets, data = arrow_string_buffers(pc.fill_null(text_col_arr, ""))
    h_all, n_sh = _window_hashes(offsets, data, shingle, seed, mod=_MERSENNE)
    # dedup (doc, shingle): doc index in the high bits keeps
    # first-appearance order grouped (and non-decreasing) by doc
    doc_idx = np.repeat(np.arange(n, dtype=np.uint64), n_sh)
    pair = (doc_idx << _U64(31)) | h_all.astype(np.uint64)
    _, upair = pd.factorize(pair, sort=False)
    upair = np.asarray(upair, dtype=np.uint64)
    doc_of = (upair >> _U64(31)).astype(np.int64)
    h = upair & _U64(_MERSENNE)
    starts = np.searchsorted(doc_of, np.arange(n, dtype=np.int64))
    # sig[d, k] = min over doc d's distinct shingles of the affine
    # uint64 permutation a_k*h + b_k (see _minhash_params) — one
    # wrapping multiply + add per element (3.5x over the Mersenne
    # modular loop; 2D blocked variants lose to memory traffic,
    # measured)
    sig = np.empty((n, n_hashes), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for kk in range(n_hashes):
            x = h * a[kk]
            x += b[kk]
            sig[:, kk] = np.minimum.reduceat(x, starts)
    # band hash: splitmix64 chain over the band's columns
    out_hash = np.empty((n, bands), dtype=np.int64)
    with np.errstate(over="ignore"):
        for r in range(bands):
            f = np.full(n, _U64(0x9E3779B97F4A7C15))
            for c in range(r * rows_per_band, (r + 1) * rows_per_band):
                f = _splitmix64_arr(f ^ sig[:, c])
            out_hash[:, r] = f.astype(np.int64)
    return sig, out_hash


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 128,
    shingle: int = 5,
    bands: int = 16,
    seed: int = 12345,
) -> DataFrame:
    """(id, band, band_hash) rows — one per (doc, band).

    Fully vectorized Arrow kernel: shingle hashes come from packed
    sliding byte-windows over the Arrow string buffers
    (``_window_hashes`` — no per-shingle Python), (doc, shingle) pairs
    are deduplicated with one hash-table factorize (min over the set ==
    min over the multiset, and the 128-permutation loop then runs over
    the smaller distinct set), and band hashes fold signature columns
    with a vectorized splitmix64 chain.
    """
    assert n_hashes % bands == 0
    a, b = _minhash_params(n_hashes, seed)
    out_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("band", LongType(), False),
            StructField("band_hash", LongType(), False),
        ]
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            n = len(ids)
            if n == 0:
                continue
            _, out_hash = _sig_and_bands(
                batch.column(1), n_hashes, shingle, bands, seed, a, b
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(np.asarray(ids, dtype=np.int64), bands)),
                    pa.array(np.tile(np.arange(bands, dtype=np.int64), n)),
                    pa.array(out_hash.reshape(-1)),
                ],
                names=["id", "band", "band_hash"],
            )

    keyed = df.select(
        F.col(id_col).cast("long").alias("__id"), F.col(text_col).alias("__t")
    )
    keyed = fan_out(keyed, min_bytes=0)
    return keyed.mapInArrow(kernel, out_schema)


def _bucket_pairs(
    rows: DataFrame,
    key_cols: list[str],
    member_col: str,
    bucket_cap: int,
    oversize: str = "star",
) -> DataFrame:
    """Intra-bucket (a < b) pairs with the size cap applied BEFORE any
    member-list materialization — the shared kernel behind every LSH
    banding caller (minhash, simhash, embedding signatures).

    One window pass over the bucket-key shuffle annotates each row with
    its bucket size and the bucket's min member; ``WindowExec`` buffers
    one bucket at a time in a spillable row array, so a degenerate
    bucket of 10^7 boilerplate docs never lands as a single multi-GB
    aggregation value. Routing happens on the annotated ROWS:

    - small buckets (2 <= m <= bucket_cap): collect_set + explode all
      pairs — the arrays are <= bucket_cap by construction;
    - oversized buckets, ``"star"`` (default): each row pairs with the
      bucket min straight off the window column (m-1 edges, candidate-
      graph connectivity preserved; a verify step that rejects the star
      edges can miss intra-bucket pairs — use ``"allpairs"`` when
      listing fidelity inside degenerate buckets matters more than the
      O(m²) cost);
    - ``"allpairs"``: oversized buckets self-join on the bucket key
      (sort-merge join streams/spills; the caller accepts O(m²)
      OUTPUT, but no task ever holds a whole bucket in memory);
    - ``"drop"``: oversized buckets are discarded.

    ``member_col`` must be orderable (long, or a struct whose first
    field orders the bucket — struct min/compare is lexicographic).
    Assumes one row per (bucket, member), which holds for every LSH
    caller (one signature row per (doc, band)).
    """
    from pyspark.sql import Window

    if oversize not in ("star", "allpairs", "drop"):
        raise ValueError(f"oversize must be star|allpairs|drop, got {oversize!r}")
    w = Window.partitionBy(*key_cols)
    sized = (
        rows.select(*key_cols, F.col(member_col).alias("__e"))
        .withColumn("__m", F.count("*").over(w))
        .withColumn("__min", F.min("__e").over(w))
    )
    allpairs = F.expr(
        "flatten(transform(__es, (x, i) -> "
        "transform(slice(__es, i + 2, size(__es) - i - 1), y -> struct(x as a, y as b))))"
    )
    small = (
        sized.filter((F.col("__m") >= 2) & (F.col("__m") <= bucket_cap))
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_set("__e")).alias("__es"))
        .select(F.explode(allpairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    if oversize == "drop":
        return small
    big_rows = sized.filter(F.col("__m") > bucket_cap)
    if oversize == "star":
        big = big_rows.filter(F.col("__e") != F.col("__min")).select(
            F.col("__min").alias("a"), F.col("__e").alias("b")
        )
    else:  # allpairs
        left = big_rows.select(*key_cols, F.col("__e").alias("a"))
        right = big_rows.select(*key_cols, F.col("__e").alias("b"))
        big = left.join(right, key_cols).filter(F.col("a") < F.col("b")).select("a", "b")
    return small.unionByName(big)


def lsh_candidate_pairs(
    sig_df: DataFrame, bucket_cap: int = 64, oversize: str = "star"
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any LSH bucket.

    Pair generation inside buckets only — never a raw self-join of the
    corpus. Degenerate buckets (boilerplate-heavy corpora produce band
    hashes shared by thousands of docs) must not explode O(m²) NOR
    materialize their full member list in one reducer: the size cap is
    applied before any collect (see ``_bucket_pairs`` for the window-
    based routing and the ``oversize`` policies star/allpairs/drop).

    Use ``lsh_bucket_stats`` to count/log oversized buckets — at scale,
    run it on a sample as a data-quality probe before the full job.
    """
    pairs = _bucket_pairs(sig_df, ["band", "band_hash"], "id", bucket_cap, oversize)
    return pairs.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")).distinct()


def lsh_bucket_stats(sig_df: DataFrame, bucket_cap: int = 64) -> DataFrame:
    """Bucket-size distribution probe: one row —
    (n_buckets, n_pair_buckets, n_oversized, max_bucket). Run on a
    sample at scale to detect boilerplate-degenerate bands before the
    pair-generation job; a nonzero n_oversized means ``star`` thinning
    engaged (or ``drop`` lost pairs) in those buckets."""
    sizes = sig_df.groupBy("band", "band_hash").agg(F.count("*").alias("m"))
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum((F.col("m") >= 2).cast("long")).alias("n_pair_buckets"),
        F.sum((F.col("m") > bucket_cap).cast("long")).alias("n_oversized"),
        F.max("m").alias("max_bucket"),
    )


def minhash_dedup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 128,
    shingle: int = 5,
    bands: int = 16,
    seed: int = 12345,
    rounds: int | None = None,
    min_jaccard: float | None = 0.7,
    max_rounds: int = 20,
) -> DataFrame:
    """(id, rep_id): connected near-dup groups labeled by min member id.

    LSH gives recall; when ``min_jaccard`` is set (the default — LSH
    banding alone admits boilerplate-similar false positives), each
    candidate edge is verified with exact n-gram Jaccard before
    grouping. Min-id label propagation over the verified edges.

    ``rounds=None`` (default) iterates to CONVERGENCE: star-thinned
    oversized buckets plus chained buckets can produce components of
    diameter > any fixed hop count, so each round's labels are
    locally checkpointed (truncating the join lineage) and the loop
    stops when ``sum(rep_id)`` is unchanged — labels only ever
    decrease, so the sum is strictly monotone while anything moves;
    one cheap aggregate per round, no extra join. ``max_rounds``
    bounds a pathological chain. An explicit ``rounds=k`` keeps the
    fixed-hop behavior (single lazy plan, no intermediate actions)
    for callers that know their component diameter.
    """
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle, bands, seed)
    edges = lsh_candidate_pairs(sigs)
    if min_jaccard is not None:
        edges = ngram_jaccard_pairs(
            df, id_col, text_col, edges, n=shingle, min_jaccard=min_jaccard
        ).select("id_a", "id_b")
    ids = df.select(F.col(id_col).cast("long").alias("id")).distinct()
    return label_propagate(ids, edges, rounds=rounds, max_rounds=max_rounds)


def label_propagate(
    ids: DataFrame,
    edges: DataFrame,
    rounds: int | None = None,
    max_rounds: int = 20,
    on_nonconverged: str = "raise",
    stats: dict | None = None,
) -> DataFrame:
    """Min-id connected-component labels: (id, rep_id).

    Pass ``stats={}`` to receive ``{"rounds": k, "converged": bool}``
    back (convergence-mode observability for long-running curation
    jobs).

    ``ids`` has one ``id`` column; ``edges`` has (id_a, id_b). Each
    round every node takes the min of its own label and its neighbors'
    labels. ``rounds=None`` iterates to convergence (see
    ``minhash_dedup_groups`` docstring for the monotone-sum stopping
    rule); an explicit ``rounds=k`` builds a single lazy k-hop plan.

    Convergence contract: propagation moves one hop per round, so a
    component whose min-id is more than ``max_rounds`` hops from some
    member would exit with a SPLIT component. That is never silent:
    if the monotone sum has not stabilized when ``max_rounds`` is
    exhausted, ``on_nonconverged='raise'`` (default) raises
    RuntimeError, ``'warn'`` emits a RuntimeWarning and returns the
    partial labels. Near-dup clusters are dense (diameter ~2), so 20
    rounds covers diameter-20 chains — pathological only by
    construction.

    Durability caveat: the per-round ``localCheckpoint`` truncates
    lineage into EXECUTOR-LOCAL storage — fast, but a lost executor
    kills the job (no recompute path). At 10^12-row scale with long
    convergence runs, prefer a reliable ``sparkContext.setCheckpointDir``
    + ``df.checkpoint()`` swap if executor loss is expected; the
    iteration count here is small enough that rerunning the job is the
    usual recovery.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}")
    both = edges.select("id_a", "id_b").union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    labels = ids.select("id").withColumn("rep_id", F.col("id"))
    converge = rounds is None
    if converge:
        both = both.localCheckpoint(eager=False)
        prev_sum = None
    n_rounds = max_rounds if converge else int(rounds)
    settled = not converge
    ran = 0
    for _ in range(n_rounds):
        ran += 1
        neigh_min = (
            both.join(labels, both.id_b == labels.id, "inner")
            .groupBy("id_a")
            .agg(F.min("rep_id").alias("nmin"))
        )
        labels = (
            labels.join(neigh_min, labels.id == neigh_min.id_a, "left")
            .select(
                "id",
                F.least(F.col("rep_id"), F.coalesce(F.col("nmin"), F.col("rep_id"))).alias(
                    "rep_id"
                ),
            )
        )
        if converge:
            labels = labels.localCheckpoint(eager=True)
            cur_sum = labels.agg(F.sum("rep_id")).collect()[0][0]
            if cur_sum == prev_sum:
                settled = True
                break
            prev_sum = cur_sum
    if stats is not None:
        stats["rounds"] = ran
        stats["converged"] = settled
    if not settled:
        msg = (
            f"label_propagate did not converge within max_rounds={max_rounds}: "
            "the label sum was still decreasing on the last round, so some "
            "component spans more hops than rounds run and its labels are "
            "SPLIT. Raise max_rounds (one hop of diameter per round)."
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle: int = 4, seed: int = 7
) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash over byte shingles,
    vectorized in Arrow/NumPy: sliding byte-window hashes straight off
    the Arrow string buffers, bit votes segment-summed per doc."""
    out_schema = StructType(
        [StructField("id", LongType(), False), StructField("simhash", LongType(), False)]
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            n = len(ids)
            if n == 0:
                continue
            offsets, data = arrow_string_buffers(pc.fill_null(batch.column(1), ""))
            h, counts = _window_hashes(offsets, data, shingle, seed)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            # per-bit votes, segment-summed per doc
            sigs = np.zeros(n, dtype=np.uint64)
            for bidx in range(64):
                bit = ((h >> np.uint64(bidx)) & np.uint64(1)).astype(np.int64)
                ones = np.add.reduceat(bit, starts)
                sigs |= ((2 * ones > counts).astype(np.uint64)) << np.uint64(bidx)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(ids, dtype=np.int64)),
                    pa.array(sigs.astype(np.int64)),
                ],
                names=["id", "simhash"],
            )

    keyed = df.select(
        F.col(id_col).cast("long").alias("__id"), F.col(text_col).alias("__t")
    )
    keyed = fan_out(keyed, min_bytes=0)
    return keyed.mapInArrow(kernel, out_schema)


def simhash_near_pairs(
    sig_df: DataFrame, max_hamming: int = 3, bucket_cap: int = 64, n_bands: int = 4
) -> DataFrame:
    """Candidate pairs with Hamming(simhash) <= max_hamming via band
    blocking (band width = 64 // n_bands bits; pigeonhole: fewer
    differing bits than bands forces >= 1 equal band), verified with a
    JVM-side popcount.

    Oversized buckets (> bucket_cap members — boilerplate corpora) are
    size-gated BEFORE any member-list materialization and thinned to
    star edges against the bucket min instead of silently dropped
    (``_bucket_pairs`` policy and caveats).

    Recall guarantee: COMPLETE only when ``max_hamming < n_bands``
    (pigeonhole). With ``max_hamming >= n_bands`` the banding is
    best-effort blocking: a pair whose differing bits spread across
    every band is missed. The default (3 < 4) is the guaranteed regime.

    ``n_bands`` must divide 64 so the bands tile all 64 signature bits
    with distinct shifts (a shift >= 64 would wrap mod 64 in the JVM
    and silently duplicate band 0, voiding the pigeonhole guarantee).
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if n_bands < 1 or 64 % n_bands != 0:
        raise ValueError(
            f"n_bands must divide 64 so bands tile the signature exactly; "
            f"got {n_bands}"
        )
    band_bits = 64 // n_bands
    band_mask = (1 << band_bits) - 1
    banded = sig_df.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), band_bits * i)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bh"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    member = F.struct("id", "simhash")
    pairs = (
        _bucket_pairs(
            banded.withColumn("__member", member), ["band", "bh"], "__member", bucket_cap
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    n: int = 5,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (the verify step after
    LSH recall): JVM-side array_intersect/array_union over distinct
    shingle arrays — no Python.

    Texts join to the candidate pairs FIRST and the shingle arrays are
    built only for joined rows: the candidate set is output-
    proportional, so the expensive char_ngrams/array_distinct transform
    runs O(|pairs|) times instead of once per corpus document."""
    from ..functions.text import char_ngrams

    texts = df.select(
        F.col(id_col).cast("long").alias("gid"), F.col(text_col).alias("__t")
    )
    ta = texts.select(F.col("gid").alias("id_a"), F.col("__t").alias("__ta"))
    tb = texts.select(F.col("gid").alias("id_b"), F.col("__t").alias("__tb"))
    ga = F.array_distinct(char_ngrams(F.col("__ta"), n))
    gb = F.array_distinct(char_ngrams(F.col("__tb"), n))
    return (
        candidates.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("__ga", ga)
        .withColumn("__gb", gb)
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("__ga", "__gb"))
                / F.greatest(F.size(F.array_union("__ga", "__gb")), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
