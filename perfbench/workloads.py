"""The benchmark's workloads, and the bench-leaf set the traced run ledgers.

Each workload makes its fixture from the seed, computes the exact answer
with DuckDB (an engine independent of the library), runs one job as one
call of a library operator, and scores the job's result against the
exact answer. See README.md for why each workload was chosen.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES
from heavykeeper_rs_spark.kernel import HKParams
from heavykeeper_rs_spark.operators.topk import estimate, topk, topk_sketch, topk_tokens
from heavykeeper_rs_spark.sources.synth import webtext
from tools.verify_oracle import TABLES, normalize

# a sketch result fails its check below these; the README explains them
MIN_PRECISION = 0.95
MAX_ARE = 0.05


@dataclass
class Score:
    ok: bool
    precision: float
    are: float
    detail: str = ""


class ExactCounts:
    """Exact per-key counts, from a DuckDB query yielding (key, n) rows."""

    def __init__(self, sql: str) -> None:
        con = duckdb.connect()
        try:
            t = con.execute(f"SELECT * FROM ({sql}) ORDER BY 1").fetchnumpy()
        finally:
            con.close()
        self.keys = np.asarray(t["key"])
        self.counts = np.asarray(t["n"], dtype=np.int64)
        self.index = pd.Index(self.keys)

    def lookup(self, items) -> np.ndarray:
        pos = self.index.get_indexer(items)
        return np.where(pos >= 0, self.counts[pos], 0)

    def top(self, k: int) -> np.ndarray:
        return self.keys[np.argsort(-self.counts, kind="stable")[:k]]

    def digest(self) -> str:
        """Fingerprint of the exact counts: the same seed must give the same one."""
        h = hashlib.sha256(self.counts.tobytes())
        h.update("\0".join(map(str, self.keys.tolist())).encode())
        return h.hexdigest()

    def score(self, pairs: list[tuple], k: int) -> Score:
        """Tie-aware precision@k (an item is right when its exact count
        reaches the k-th largest) and mean relative count error."""
        items = [i for i, _ in pairs[:k]]
        est = np.array([c for _, c in pairs[:k]], dtype=np.float64)
        exact = self.lookup(items)
        kth = np.sort(self.counts)[-k]
        precision = np.count_nonzero(exact >= kth) / k
        are = float(np.mean(np.abs(est - exact) / np.maximum(exact, 1)))
        ok = precision >= MIN_PRECISION and are <= MAX_ARE
        return Score(ok, float(precision), are,
                     "" if ok else f"precision {precision:.3f}, ARE {are:.4f}")


def column_bytes(files, col: str) -> int:
    """Compressed bytes of one column's chunks: what a scan of it reads."""
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        i = md.schema.names.index(col)
        total += sum(md.row_group(r).column(i).total_compressed_size
                     for r in range(md.num_row_groups))
    return total


class SketchWorkload:
    """One top-k sketch job over a one-column parquet fixture that the
    library's own seeded source writes as ``files`` parquet files."""

    col = ""
    op = ""
    k = 100
    width = 4096
    depth = 4
    # Warm-up before timing starts. The first jobs run on one fixture
    # file, so as a single task: the JVM then compiles the scan -> Arrow
    # path from a one-thread profile. After a first job of nproc tasks,
    # about one JVM in four ran that path twice as fast as the rest for
    # the whole run, which made run-to-run spread bimodal; after
    # single-task jobs, 14 JVMs of 14 settled in the same state.
    one_file_jobs = 3
    # then full jobs: their times keep falling over the first few while
    # the JVM finishes compiling
    warmup_jobs = 3

    def __init__(self, rows: int, nproc: int) -> None:
        self.input_rows = rows
        # four tasks per core: when the host takes time from one core,
        # the others pick up its share instead of the job waiting on it
        self.files = 4 * nproc
        self.df = None
        self.one_file = None

    def generate(self, spark, work: Path, seed: int) -> None:
        raise NotImplementedError

    def truth_sql(self) -> str:
        raise NotImplementedError

    def compute_truth(self) -> ExactCounts:
        self.truth = ExactCounts(self.truth_sql())
        return self.truth

    def open(self, spark) -> None:
        self.df = spark.read.parquet(str(self.path))
        self.one_file = spark.read.parquet(str(sorted(self.path.glob("*.parquet"))[0]))

    def check(self, result: list[tuple]) -> Score:
        return self.truth.score(result, self.k)

    def scan_column(self):
        return self.df.select(self.col)

    def scan_bytes(self) -> int:
        return column_bytes(sorted(self.path.glob("*.parquet")), self.col)

    def params(self) -> HKParams:
        return HKParams(k=self.k, width=self.width, depth=self.depth)


class ZipfU64(SketchWorkload):
    """The reference's bench fixture, bounded Zipf(universe 1e6, s=1.2)
    int64 keys, through topk()."""

    col = "key"
    op = "topk"
    warmup_jobs = 5

    def generate(self, spark, work: Path, seed: int) -> None:
        # written without Spark, as bench.py writes its u64 fixture: the
        # first Arrow schema through the JVM is then the job's own, and
        # the job settles at one speed instead of drifting run to run
        ranks = np.arange(1, 1_000_001, dtype=np.float64)
        cdf = np.cumsum(ranks ** -1.2)
        cdf /= cdf[-1]
        u = np.random.default_rng(seed).random(self.input_rows)
        keys = np.searchsorted(cdf, u, side="left").astype(np.int64)
        self.path = work / "fixture"
        self.path.mkdir(parents=True, exist_ok=True)
        for i, part in enumerate(np.array_split(keys, self.files)):
            pq.write_table(pa.table({"key": part}), self.path / f"part-{i:05d}.parquet")

    def truth_sql(self) -> str:
        return (f"SELECT key, count(*) AS n FROM read_parquet('{self.path}/*.parquet') "
                "GROUP BY 1")

    def job(self, df) -> list[tuple]:
        rows = topk(df, "key", k=self.k, width=self.width, depth=self.depth).collect()
        return [(int(r["item"]), r["count"]) for r in rows]

    def replay_input(self) -> np.ndarray:
        return pq.read_table(self.path, columns=["key"]).column("key").to_numpy()

    def probe(self) -> Score:
        """Build the sketch with topk_sketch(), estimate() every row
        against it, and score the estimates of the exact top-k keys."""
        sketch = topk_sketch(self.df, "key", k=self.k, width=self.width, depth=self.depth)
        top = self.truth.top(self.k)
        floor = int(self.truth.lookup(top).min()) // 2
        rows = (estimate(self.df, "key", sketch)
                .filter(F.col("est_count") >= floor)
                .groupBy("key").agg(F.max("est_count").alias("est")).collect())
        est = {r["key"]: r["est"] for r in rows}
        return self.truth.score([(key, est.get(int(key), 0)) for key in top], self.k)


class WebtextTokens(SketchWorkload):
    """Seeded synthetic web documents through topk_tokens(), which
    tokenizes inside the sketch kernel."""

    col = "text"
    op = "topk_tokens"
    width = 16384

    def generate(self, spark, work: Path, seed: int) -> None:
        self.path = work / "fixture"
        webtext(spark, self.input_rows, seed=seed, partitions=self.files).select(
            "text").write.mode("overwrite").parquet(str(self.path))

    def truth_sql(self) -> str:
        # the tokens of the hk_topk_tokens oracle: [a-z]+ over lower(text)
        return ("SELECT t AS key, count(*) AS n FROM (SELECT unnest(regexp_extract_all("
                f"lower(text), '[a-z]+')) AS t FROM read_parquet('{self.path}/*.parquet')) "
                "WHERE length(t) <= 64 GROUP BY 1")

    def job(self, df) -> list[tuple]:
        rows = topk_tokens(df, "text", k=self.k, width=self.width,
                           depth=self.depth).collect()
        return [(r["item"], r["count"]) for r in rows]

    def replay_input(self) -> np.ndarray:
        texts = pq.read_table(self.path, columns=["text"]).column("text").to_pylist()
        tokens = (t for t in re.findall("[a-z]+", "\n".join(texts).lower()) if len(t) <= 64)
        return np.fromiter(tokens, dtype=object)


class BenchLeaves:
    """The frozen bench suite's 15 leaves on fixed tables, each checked
    against its DuckDB oracle."""

    def __init__(self, sf_dir: Path) -> None:
        self.sf_dir = str(sf_dir)
        self.queries = entrymod.queries()

    def compute_truth(self) -> None:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            oracles = entrymod.oracle_sql()
            self.truth = {}
            for leaf in BENCH_QUERIES:
                res = con.execute(oracles[leaf])
                self.truth[leaf] = normalize([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def calls(self, spark):
        def leaf_call(leaf):
            def run():
                df = self.queries[leaf](spark, self.sf_dir)
                return df.columns, [tuple(r) for r in df.collect()]
            return run
        return [(leaf, leaf_call(leaf)) for leaf in BENCH_QUERIES]

    def matches(self, leaf: str, result: tuple) -> bool:
        """Whether a leaf's normalized result equals its oracle's."""
        cols, rows = result
        return normalize(cols, rows) == self.truth[leaf]
