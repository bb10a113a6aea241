"""Single-core kernel throughput on the BENCH.md fixtures.

Usage: python tools/bench_kernel.py [n_keys]
Prints M keys/s per fixture so rounds are comparable to BASELINE.md's
Melem/s figures (reference Rust hot loop: ~21 M/s single-thread), the
batch collapse's ms per 1 Mi-key batch, and the driver's merge-fold
time over partial blobs of each layout.
"""

import sys
import time

import numpy as np

sys.path.insert(0, ".")
from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams  # noqa: E402
from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000


def cpu_control(tag):
    """Same control as bench.py: a fixed NumPy burn whose Mops rate
    brackets the run — single-core numbers on this box swing ~3x with
    co-tenant load, so compare A/B *within* a bracket whose pre/post
    controls agree, never across sessions. Best-of-3 with an untimed
    warm pass: a cold first allocation reads ~5x slow and would make
    every bracket look dirty."""
    x = np.arange(5_000_000, dtype=np.float64)
    y = np.sqrt(x)  # warm pages + ufunc dispatch
    best = 0.0
    for _ in range(3):
        t0 = time.time()
        for _ in range(5):
            y = np.sqrt(x) * 1.0000001
            y += 1.0
        best = max(best, 25_000_000 / (time.time() - t0) / 1e6)
    print(f"cpu_control_{tag:46s} {best:6.2f} Mops")
    return best
# Kernel feed size in the distributed path: _feed_keys coalesces
# Spark's 65536-row Arrow batches to _COALESCE_ROWS before each kernel
# pass (operators/topk.py), so the single-core bench feeds the same way.
B = 1048576


def run(name, keys, params, cls=None, reps=1):
    best = 0.0
    for _ in range(reps):
        sk = (
            HeavyKeeper(params)
            if cls is None
            else cls(params.k, params.width, params.depth, params.decay, params.seed)
        )
        t0 = time.time()
        for i in range(0, len(keys), B):
            sk.add_batch(keys[i : i + B])
        dt = time.time() - t0
        best = max(best, len(keys) / dt / 1e6)
    print(f"{name:55s} {best:6.2f} M keys/s")
    return best


rng = np.random.default_rng(42)

# THE reference bench fixture (benches/topk_vs_bucketed.rs:13-23):
# bounded Zipf(universe=1e6, s=1.2) u64 keys, K=100, width=4096,
# depth=4, decay=0.9 — reference single-thread result: ~21 M elem/s
ranks = np.arange(1, 1_000_001, dtype=np.float64)
cdf = np.cumsum(ranks ** -1.2)
cdf /= cdf[-1]
bounded = (np.searchsorted(cdf, rng.random(N), side="left") + 1).astype(np.int64)
# best-of-3 on the headline fixture: this box's single-core swings
# with co-tenant load (see BENCH.md cpu_control notes), and the
# headline is what rounds compare
ref = run(
    "REFERENCE fixture: bounded Zipf(1e6,1.2) w=4096 d=4 K=100",
    bounded,
    HKParams(k=100, width=4096, depth=4),
    reps=3,
)
print(f"{'REFERENCE fixture / reference single thread (21 M/s)':55s} {ref / 21.0:6.3f}")

# adversarial variant: unbounded Zipf tail mixed over u64 — more
# distinct keys (~10% of stream) than cells, duels never stop
zipf = rng.zipf(1.2, N)
with np.errstate(over="ignore"):
    u64 = (
        (zipf.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15))
        % np.uint64(1 << 40)
    ).astype(np.int64)
run("adversarial unbounded-Zipf u64 width=65536 K=100", u64, HKParams(k=100, width=65536, depth=4))
run("adversarial unbounded-Zipf u64 width=4096  K=100", u64, HKParams(k=100, width=4096, depth=4))

as_str = np.asarray([str(x) for x in bounded[: N // 2]], dtype=object)
run("u64-as-string Zipf(1.2)  width=4096  K=100", as_str, HKParams(k=100, width=4096, depth=4))

domains = np.asarray(
    [f"host-{x % 10_000}.example.com" for x in zipf[: N // 2]], dtype=object
)
run("domain strings (10k distinct) width=16384 K=100", domains, HKParams(k=100, width=16384, depth=4))


def key_batches(strs):
    """A string column as Spark hands it to the partial stage: 65536-row
    Arrow record batches of ``__key``."""
    import pyarrow as pa

    table = pa.table([pa.array(list(strs), type=pa.string())], names=["__key"])
    return table.to_batches(max_chunksize=65536)


def run_dict(name, strs, params):
    """What the distributed path actually does for string columns
    (operators.topk _feed_keys): batches coalesced to B rows, every row
    hashed straight off the Arrow buffers, zero-object insert."""
    from heavykeeper_rs_spark.operators.topk import _feed_keys

    batches = key_batches(strs)
    sk = HeavyKeeper(params)
    t0 = time.time()
    _feed_keys(False, params.seed)(sk, iter(batches))
    dt = time.time() - t0
    print(f"{name:55s} {len(strs)/dt/1e6:6.2f} M keys/s")


run_dict(
    "domain strings via arrow buffer-hash (distributed path)",
    domains,
    HKParams(k=100, width=16384, depth=4),
)
run_dict(
    "u64-as-string via arrow buffer-hash (distributed path)",
    as_str,
    HKParams(k=100, width=4096, depth=4),
)


def token_docs(n_docs, n_vocab):
    """``n_docs`` ASCII documents of 40 Zipf(1.1) words over an
    ``n_vocab``-word vocabulary, as an Arrow string array."""
    import pyarrow as pa

    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    vocab = [
        letters[rng.integers(0, 26, int(n))].tobytes().decode()
        for n in rng.integers(2, 11, n_vocab)
    ]
    ranks = np.minimum(rng.zipf(1.1, (n_docs, 40)), len(vocab)) - 1
    docs = [" ".join(vocab[r] for r in row).capitalize() + "." for row in ranks]
    return pa.array(docs, type=pa.string())


def feed_tokens(sk, col):
    """The token lane as topk_tokens feeds it: 65536-doc Arrow batches
    through _feed_tokens_arrow (one C pass, native.token_counts, that
    tokenizes, hashes and counts each batch's distinct tokens, then
    add_batch_hashed of the distinct hashes weighted by their counts)."""
    from heavykeeper_rs_spark.operators.topk import _feed_tokens_arrow

    for i in range(0, len(col), 65536):
        _feed_tokens_arrow(sk, col.slice(i, 65536), 64, sk.params.seed)


def run_tokens(name, col, params):
    """Token-lane throughput in MB/s of text on one core."""
    text_bytes = len(col.buffers()[2])  # ASCII: one byte per char
    feed_tokens(HeavyKeeper(params), col.slice(0, 10))  # build
    best = 0.0
    for _ in range(3):
        t0 = time.time()
        feed_tokens(HeavyKeeper(params), col)
        best = max(best, text_bytes / (time.time() - t0) / 1e6)
    print(f"{name:55s} {best:6.1f} MB/s")


tok_col = token_docs(N // 25, 20_000)
run_tokens(
    "ASCII text via _feed_tokens_arrow (token lane)",
    tok_col,
    HKParams(k=100, width=16384, depth=4),
)


def partial_blobs(make, parts, feed):
    """One serialized sketch per part, as the partial stage emits them:
    ``make(pid)`` per part, fed by ``feed(sketch, part)``."""
    blobs = []
    for pid, part in enumerate(parts):
        sk = make(pid)
        feed(sk, part)
        blobs.append(sk.serialize())
    return blobs


def feed_keys(sk, keys):
    for i in range(0, len(keys), B):
        sk.add_batch(keys[i : i + B])


def merge_fold(name, blobs):
    """Best-of-3 driver fold of ``blobs`` through ``combine.merge`` (the
    one merge of every sketch path: decode, merge, re-encode)."""
    from heavykeeper_rs_spark.operators.combine import merge

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        merge(blobs)
        best = min(best, time.perf_counter() - t0)
    layout = {1: "dense", 2: "sparse"}.get(blobs[0][4], "") if blobs[0][:4] == b"HKS1" else ""
    print(f"{name:55s} {best * 1e3:6.1f} ms {layout}")


def best_ms(name, fn, reps=5):
    """Best-of-``reps`` wall time of ``fn()`` in ms."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    print(f"{name:55s} {best * 1e3:6.1f} ms")


def collapse_lines():
    """The batch collapse (``kernel.preaggregate``) on one B-key batch
    of the reference fixture (raw int64 keys, as ``add_batch`` hands
    them) and of token occurrence hashes (a Zipf text's shape; the
    token lane itself collapses in ``native.token_counts``), and the
    whole string lane (hash, collapse, add) on B distinct strings."""
    from heavykeeper_rs_spark.kernel import arrow_string_buffers, preaggregate
    from heavykeeper_rs_spark.native import ascii_tokens
    from heavykeeper_rs_spark.operators.topk import _feed_keys

    params = HKParams(k=100, width=4096, depth=4)
    keys = bounded[:B]
    hash_fn = HeavyKeeper(params)._hash
    best_ms("collapse: 1 Mi keys, reference fixture", lambda: preaggregate(keys, None, hash_fn))
    offsets, data = arrow_string_buffers(tok_col.slice(0, B // 40 + 1))
    hashes = ascii_tokens(offsets, data, 64, params.seed)[0][:B]
    best_ms("collapse: 1 Mi token occurrence hashes", lambda: preaggregate(hashes, None))
    distinct = key_batches(f"user-{i:08d}" for i in rng.permutation(B))
    best_ms(
        "string lane: 1 Mi distinct strings via _feed_keys",
        lambda: _feed_keys(False, params.seed)(HeavyKeeper(params), iter(distinct)),
    )


def split_docs(col, n):
    step = -(-len(col) // n)
    return [col.slice(i, step) for i in range(0, len(col), step)]


hk_dense = partial_blobs(
    lambda pid: HeavyKeeper(HKParams(k=256, width=4096, depth=4), np.random.default_rng(pid)),
    np.array_split(bounded, 16), feed_keys,
)
hk_sparse = partial_blobs(
    lambda pid: HeavyKeeper(HKParams(k=256, width=16384, depth=4), np.random.default_rng(pid)),
    # webtext's 4096-word vocabulary: sparse partials (fill ~0.1)
    split_docs(token_docs(N // 25, 4096), 16), feed_tokens,
)
variant_blobs = {
    cls: partial_blobs(
        lambda pid, cls=cls: cls(100, 4096, 4, rng=np.random.default_rng(pid)),
        np.array_split(bounded[: N // 2], 8), feed_keys,
    )
    for cls in (BucketedTopK, CuckooTopK)
}

# the batch collapse, the variant layouts on the reference fixture and
# the merge folds, bracketed by CPU controls: compare runs only when
# the pre/post controls agree
cpu_control("pre")
collapse_lines()
run("bucketed variant, reference fixture w=4096 K=100", bounded[: N // 2],
    HKParams(k=100, width=4096, depth=4), cls=BucketedTopK, reps=3)
run("cuckoo variant, reference fixture w=4096 K=100", bounded[: N // 2],
    HKParams(k=100, width=4096, depth=4), cls=CuckooTopK, reps=3)
# the driver's final fold on the job's critical path: 16 partials of the
# zipf_u64 shape (dense, fill ~1.0) and of the webtext_tokens shape
# (sparse), 8 of each variant
merge_fold("merge fold: 16 HKS1, reference fixture w=4096 K=256", hk_dense)
merge_fold("merge fold: 16 HKS1, token lane w=16384 K=256", hk_sparse)
merge_fold("merge fold: 8 bucketed, reference fixture w=4096 K=100", variant_blobs[BucketedTopK])
merge_fold("merge fold: 8 cuckoo, reference fixture w=4096 K=100", variant_blobs[CuckooTopK])
cpu_control("post")
