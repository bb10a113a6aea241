"""r8: operators/langid.py must match the JVM lang_scores/
lang_from_scores expression pair exactly — the entry swapped the JVM
fold for the vectorized classifier, so equivalence IS the contract."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from heavykeeper_rs_spark.functions import text as T
from heavykeeper_rs_spark.operators.langid import lang_id_counts


def _jvm_counts(df):
    rows = (
        df.select(T.lang_scores("text").alias("__s"))
        .select(T.lang_from_scores("__s").alias("lid"))
        .groupBy("lid")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    return {r["lid"]: r["n"] for r in rows}


def _op_counts(df):
    return {r["lid"]: r["n"] for r in lang_id_counts(df, "text").collect()}


@pytest.fixture(scope="module")
def mixed_df(spark):
    texts = [
        "the cat and the dog is you that of to",          # en
        "der hund und die katze ist nicht ich",           # de
        "le chat et la vie est que je",                   # fr
        "el gato y la vida es que no los",                # es
        "zzz qqq xxx",                                    # und (no hits)
        "",                                               # empty -> und
        None,                                             # null -> und
        "la la la",                                       # fr/es tie -> fr (earlier family)
        "the und le el " * 3,                             # 4-way tie -> en
        "café au lait le la les et est que je",      # NON-ASCII byte -> python fallback
        "gruß der die und das ist",                  # sharp-s German
        "x" * 70 + " the and of is",                      # long token filtered, en hits count
    ] * 7
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_langid_matches_jvm_expression(mixed_df):
    assert _op_counts(mixed_df) == _jvm_counts(mixed_df)


def test_langid_ascii_batch_matches_jvm(spark):
    rng = np.random.default_rng(5)
    words = ["the", "der", "le", "el", "und", "foo", "bar", "baz", "la", "que"]
    texts = [
        " ".join(rng.choice(words, size=int(rng.integers(0, 12))))
        for _ in range(500)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    assert _op_counts(df) == _jvm_counts(df)


def test_classify_ascii_reads_only_the_slice():
    """A sliced Arrow array shares its parent's data buffer; only the
    slice's bytes are tokenized and ASCII-checked."""
    import pyarrow as pa

    from heavykeeper_rs_spark.kernel import arrow_string_buffers
    from heavykeeper_rs_spark.operators.langid import _LANGS, _classify_ascii

    col = pa.array(["der die und", "the cat and the", "le la et", "café"])
    got = _classify_ascii(*arrow_string_buffers(col.slice(1, 2)))
    assert [_LANGS[i] for i in got] == ["en", "fr"]
    assert _classify_ascii(*arrow_string_buffers(col.slice(2, 2))) is None
