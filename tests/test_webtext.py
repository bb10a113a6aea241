"""Webtext corpus invariants (BASELINE.json input_hint):
- byte-identical extracted text per url (html is an invertible wrapper)
- generation is a pure function of doc_id: identical table at any
  parallelism
- schema matches the input hint exactly
"""

import pyspark.sql.functions as F
import pytest

from heavykeeper_rs_spark.functions.text import domain_of
from heavykeeper_rs_spark.operators.topk import topk
from heavykeeper_rs_spark.sources.synth import (
    text_from_html_expr,
    webtext,
    zipf_keys,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return webtext(spark, 2000, seed=42, partitions=4).cache()


def test_schema_matches_input_hint(corpus):
    assert [(f.name, f.dataType.simpleString()) for f in corpus.schema.fields] == [
        ("doc_id", "bigint"),
        ("url", "string"),
        ("warc_ts", "timestamp"),
        ("html", "binary"),
        ("text", "string"),
        ("lang", "string"),
    ]


def test_text_extraction_byte_identical(corpus):
    bad = corpus.withColumn("ext", text_from_html_expr()).filter(
        F.col("ext") != F.col("text")
    )
    assert bad.count() == 0
    # and at the byte level
    bad2 = corpus.filter(
        F.encode(F.col("text"), "UTF-8")
        != F.expr("substring(html, 13, length(html) - 26)")
    )
    assert bad2.count() == 0


def test_deterministic_across_parallelism(spark):
    a = webtext(spark, 500, seed=42, partitions=2)
    b = webtext(spark, 500, seed=42, partitions=7)
    ra = {r["doc_id"]: (r["url"], r["text"], r["lang"]) for r in a.collect()}
    rb = {r["doc_id"]: (r["url"], r["text"], r["lang"]) for r in b.collect()}
    assert ra == rb


def test_domain_topk_over_webtext(spark, corpus):
    """Flagship semantics: top domains are the Zipf head, exactly."""
    with_dom = corpus.withColumn("domain", domain_of("url"))
    truth = {
        r["domain"]: r["cnt"]
        for r in with_dom.groupBy("domain")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "domain")
        .limit(10)
        .collect()
    }
    got = topk(with_dom, "domain", k=10, width=65536, depth=4, tie_break_key=True)
    assert {r["item"]: r["count"] for r in got.collect()} == truth
    # Zipf head sanity: rank-1 domain is the most frequent
    assert "domain00000" in max(truth, key=truth.get)


def test_zipf_keys_deterministic(spark):
    a = zipf_keys(spark, 1000, s=1.2, partitions=3).collect()
    b = zipf_keys(spark, 1000, s=1.2, partitions=5).collect()
    assert sorted(r["key"] for r in a) == sorted(r["key"] for r in b)


class TestTextFileSource:
    """Raw text files -> documents -> the same sketch operators
    (the reference's word_count / ip_files input shape)."""

    def test_per_file_and_per_line(self, spark, tmp_path):
        from heavykeeper_rs_spark.operators.topk import topk_tokens
        from heavykeeper_rs_spark.sources.textfiles import read_text_corpus

        (tmp_path / "a.txt").write_text("the cat sat on the mat\nthe end")
        (tmp_path / "b.txt").write_text("a dog and the cat")
        (tmp_path / "skip.log").write_text("ignored file")

        docs = read_text_corpus(spark, str(tmp_path), glob="*.txt")
        rows = docs.collect()
        assert len(rows) == 2  # one doc per file, .log filtered out
        assert all(r["doc_id"] is not None for r in rows)
        # deterministic ids across re-reads
        again = {r["source"]: r["doc_id"] for r in read_text_corpus(
            spark, str(tmp_path), glob="*.txt").collect()}
        assert {r["source"]: r["doc_id"] for r in rows} == again
        top = topk_tokens(docs, "text", k=2, width=1024, tie_break_key=True).collect()
        assert top[0]["item"] == "the" and top[0]["count"] == 4

        lines = read_text_corpus(spark, str(tmp_path), per_file=False, glob="a.txt")
        assert lines.count() == 2


def test_vocab_cache_keys_on_the_seed():
    """A worker that generated one seed's corpus serves another seed's
    vocabulary, not the cached one."""
    from heavykeeper_rs_spark.sources.synth import _vocab

    a = _vocab(4096, 36)
    b = _vocab(4096, 295)
    assert a.tolist() != b.tolist()
    assert _vocab(4096, 36).tolist() == a.tolist()
