"""spark-submit --py-files deployment smoke test (north rule: jobs run
via spark-submit --py-files with the package shipped as a zip)."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_zip(path) -> str:
    """The package as ``--py-files`` ships it: its ``.py`` files only."""
    with zipfile.ZipFile(path, "w") as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, "heavykeeper_rs_spark")):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, REPO))
    return str(path)


def test_zip_only_package_hashes_known_answers(tmp_path):
    """The C byte kernels travel as source inside ``native.py``: with
    the package importable only from its ``.py`` zip, the string hash
    builds in the process and gives the pinned fingerprints."""
    zip_path = _package_zip(tmp_path / "hk.zip")
    code = (
        "import json, numpy as np, heavykeeper_rs_spark as hk\n"
        "from heavykeeper_rs_spark.kernel import hash_items\n"
        f"assert hk.__file__.startswith({zip_path!r}), hk.__file__\n"
        "keys = np.asarray(['', 'a', 'hello', 'x' * 300], dtype=object)\n"
        "print(json.dumps(hash_items(keys, 12345).tolist()))\n"
    )
    env = dict(os.environ, PYTHONPATH=zip_path)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout) == [
        0x31FAEB299DF56851, 0xCE634A629D895014,
        0x49C3115C8577DE33, 0xB7B95A6326A4EC37,
    ]


@pytest.mark.slow
def test_spark_submit_py_files(spark, tmp_path):
    # materialize a small webtext corpus
    from heavykeeper_rs_spark.sources.synth import webtext

    corpus = str(tmp_path / "corpus")
    webtext(spark, 3000, seed=42, partitions=4).write.parquet(corpus)

    zip_path = _package_zip(tmp_path / "hk.zip")

    spark_submit = os.path.join(
        os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit"
    )
    if not os.path.exists(spark_submit):
        import pyspark

        spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ)
    env.pop("SPARK_HOME", None)
    out = subprocess.run(
        [
            spark_submit,
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            os.path.join(REPO, "examples", "topk_domains_job.py"),
            corpus,
            "5",
        ],
        capture_output=True,
        text=True,
        timeout=240,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    assert len(res["domains"]) == 5
    assert res["domains"][0][0].startswith("domain00000")
    assert len(res["tokens"]) == 5


def test_spark_submit_curate_pipeline(spark, tmp_path):
    """The curation pipeline example end-to-end through spark-submit:
    exact dedup -> near-dup reps -> quality filter -> stats."""
    src = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet").write.parquet(src)
    dst = str(tmp_path / "curated")

    zip_path = _package_zip(tmp_path / "hk2.zip")
    spark_submit = os.path.join(
        os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit"
    )
    if not os.path.exists(spark_submit):
        import pyspark

        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
    env = dict(os.environ)
    env.pop("SPARK_HOME", None)
    out = subprocess.run(
        [
            spark_submit, "--master", "local[4]", "--py-files", zip_path,
            os.path.join(REPO, "examples", "curate_corpus_job.py"),
            src, dst, "0.0", "0.8",
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    )
    # the sf0.01 documents table plants 25 near-dup pairs: the funnel
    # must be monotone and the near-dup stage must actually remove docs
    assert stats["n_input"] >= stats["n_after_exact_dedup"]
    assert stats["n_after_exact_dedup"] > stats["n_after_near_dedup"]
    assert stats["n_after_quality"] <= stats["n_after_near_dedup"]
    assert stats["total_tokens"] > 0 and len(stats["top_tokens"]) == 10
    assert 0.0 < stats["vocab10_coverage"] <= 1.0
    assert len(stats["len_bucket_bounds"]) == 3
    assert sum(stats["split_counts"].values()) == stats["n_after_quality"]
    curated = spark.read.parquet(dst)
    assert curated.count() == stats["n_after_quality"]
    assert {"quality", "lang_pred", "n_tokens", "len_bucket", "split"} <= set(
        curated.columns
    )
