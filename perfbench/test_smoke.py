"""Smoke test of the benchmark at tiny sizes: every metric that
BENCHMARK.json names is emitted with its unit, and every check passes.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import functools
import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT))
from bench import BENCH_QUERIES as BENCH_LEAVES  # noqa: E402


WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@functools.cache
def smoke_run(workload: str, trace: int) -> tuple[dict, dict]:
    """(result, record) of one smoke-size run with seed 7."""
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_emits_every_metric(workload, trace):
    result, record = smoke_run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if trace:
        failed = {c["name"] for c in record["failed_calls"]}
        assert got["trace.failed_calls"]["value"] == len(failed)
        # describe() and estimate() fail on int-keyed sketches only; the
        # traced run records them as failed calls instead of hiding them
        int_keys = {"kernel.describe", "estimate.probe"}
        assert failed == (int_keys if workload == "zipf_u64" else set())
        assert all(f"query.{leaf}_s" in record for leaf in BENCH_LEAVES)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_fixture(workload):
    """Two runs with one seed make the same fixture: equal exact counts."""
    digests = {smoke_run(workload, trace)[1]["truth_digest"] for trace in (0, 1)}
    assert len(digests) == 1


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, a run fails without a result."""
    bare = tmp_path / "bare"
    bare.mkdir()
    (bare / "BENCHMARK.json").write_text(json.dumps(SPEC))
    for rel in SPEC["paths"]:
        for f in (ROOT / rel).rglob("*"):
            if f.is_file() and not {"_work", "_out", "__pycache__"} & set(f.parts):
                dest = bare / f.relative_to(ROOT)
                dest.parent.mkdir(parents=True, exist_ok=True)
                dest.write_bytes(f.read_bytes())
    p = subprocess.run([sys.executable, *SPEC["command"][1:], "--workload",
                        SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True, text=True,
                       timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
