"""The repository benchmark: closed-loop sketch workloads on Spark local[nproc].

    python3 perfbench/run.py --workload zipf_u64 --seed 1 --seconds 12 --trace 0

One driver process keeps one job in flight: the next job starts when the
previous one has returned and been checked. The last line of standard
output is the result, ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the run record (samples, tail, accuracy, host
controls), also written to ``perfbench/_out/``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that reports the per-layer ledger and writes its span tree to
``perfbench/_out/``. ``--smoke`` shrinks every workload to a few seconds.
README.md lists the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
OUT = HERE / "_out"

# input size per workload (rows; docs for webtext_tokens): (full, --smoke)
SIZES = {"zipf_u64": (3_000_000, 200_000), "webtext_tokens": (200_000, 10_000)}
# tables of the bench-leaf ledger in a traced run, by --smoke
SF_DIR = {False: HERE / "data" / "sf0.01", True: HERE / "data" / "sf0.001"}

END_TO_END = {
    "setup_s": "s",
    "job_s.p50": "s",
    "rows_per_s": "rows/s",
    "precision_at_k": "ratio",
    "driver_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "scan.arrow_s": "s",
    "scan.input_bytes": "bytes",
    "feed.self_s": "s",
    "stage.partial_run_s": "s",
    "stage.partial_cpu_s": "s",
    "shuffle.write_bytes": "bytes",
    "driver.result_bytes": "bytes",
    "driver.gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "kernel.add_s": "s",
    "kernel.keys_per_s": "keys/s",
    "kernel.serialize_s": "s",
    "kernel.blob_bytes": "bytes",
    "kernel.merge_s": "s",
    "kernel.deserialize_s": "s",
    "kernel.list_s": "s",
    "kernel.estimate_s": "s",
    "kernel.fill": "ratio",
    "kernel.tracked": "count",
    "trace.overhead_s": "s",
    "trace.failed_calls": "count",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let Spark's Python workers import the library from any cwd."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    sys.path.insert(0, str(ROOT))


def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    return {"value": sorted(samples)[n - 11], "percentile": 100.0 * (n - 10) / n, "n": n}


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count (VmHWM) from its current RSS."""
    Path("/proc/self/clear_refs").write_text("5")


def peak_rss_mb() -> float:
    for line in Path("/proc/self/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def cpu_ticks() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def host_share(before: list[int], after: list[int]) -> dict:
    """Shares of all CPU time between two /proc/stat readings that were
    idle and that the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {"idle": (d[3] + d[4]) / total, "steal": d[7] / total}


def host_control(cpu_control) -> dict:
    """No-Spark controls: bench.py's single-core Python burn, and the
    bandwidth of a 64 MiB numpy copy, which also slows when other
    tenants of the host saturate its memory bus."""
    import numpy as np

    a = np.ones(8 << 20)
    b = np.empty_like(a)
    rates = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.copyto(b, a)
        rates.append(2 * a.nbytes / (time.perf_counter() - t0) / 1e9)
    return {"cpu": cpu_control(reps=3, n=2_000_000),
            "mem_gbps": round(statistics.median(rates), 2)}


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it; the JVM takes its Python workers down with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    def __init__(self, args: argparse.Namespace, nproc: int, work: Path) -> None:
        from ledger import Tracer
        from workloads import WebtextTokens, ZipfU64

        self.args = args
        self.work = work
        self.tracer = Tracer()
        cls = ZipfU64 if args.workload == "zipf_u64" else WebtextTokens
        self.wl = cls(SIZES[args.workload][args.smoke], nproc)
        self.samples: list[float] = []
        # traced jobs: (wall time, operator-call span, its Spark job group)
        self.traced: list[tuple[float, object, str]] = []
        self.scores = []
        self.errors: list[str] = []
        self.attempted = 0

    def fail(self, error: str) -> None:
        """Count a failed operation; the run then reports correct: false."""
        self.errors.append(error)
        print(error, file=sys.stderr)

    def run_job(self, groups=None, df=None) -> float:
        """One job over the fixture (or over ``df``, part of it, unscored),
        timed from the call to the result on the driver, then checked
        outside the timed span. A failure of any kind (a worker that
        cannot import the library included) counts as failed."""
        self.attempted += 1
        scored = df is None
        df = self.wl.df if scored else df
        t0 = time.perf_counter()
        try:
            if groups is None:
                result = self.wl.job(df)
            else:
                with self.tracer.span("job", "job"), groups.call(self.wl.op, "operators") as s:
                    result = self.wl.job(df)
        except Exception:  # the loop goes on; the failure is counted and reported
            self.fail(traceback.format_exc())
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if groups is not None:
            self.traced.append((dt, s, s.attrs["job_group"]))
        if not scored:
            return dt
        score = self.wl.check(result)
        self.scores.append(score)
        if not score.ok:
            self.fail(f"wrong result: {score.detail}")
        return dt

    def setup(self, spark) -> dict:
        """Fixture, exact answer and warm-up, once. The exact answer is the
        benchmark's own work, so it is timed apart from set-up, and the
        driver's peak RSS restarts after it."""
        with self.tracer.span("sources.generate", "sources"):
            t0 = time.perf_counter()
            self.wl.generate(spark, self.work, self.args.seed)
            gen_s = time.perf_counter() - t0
        with self.tracer.span("truth", "truth"):
            t0 = time.perf_counter()
            self.wl.compute_truth()
            truth_s = time.perf_counter() - t0
        reset_peak_rss()
        self.wl.open(spark)
        with self.tracer.span("warmup", "job"):
            t0 = time.perf_counter()
            warm = [self.run_job(df=self.wl.one_file) for _ in range(self.wl.one_file_jobs)]
            warm += [self.run_job() for _ in range(self.wl.warmup_jobs)]
            warmup_s = time.perf_counter() - t0
        return {"gen_s": gen_s, "truth_s": truth_s, "warmup_s": warmup_s,
                "warmup_job_s": warm}

    def loop(self, sc) -> object:
        """Closed loop for --seconds. A traced run alternates untraced and
        traced jobs, so the tracer's own cost can be read off."""
        from ledger import JobGroups

        groups = JobGroups(sc, self.tracer) if self.args.trace else None
        end = time.perf_counter() + self.args.seconds
        i = 0
        while True:
            traced = groups is not None and i % 2 == 1
            dt = self.run_job(groups if traced else None)
            if not traced:
                self.samples.append(dt)
            i += 1
            if time.perf_counter() >= end and (groups is None or i >= 2):
                return groups

    def ledger(self, spark, groups, setup: dict, session_s: float) -> dict:
        from ledger import GroupStats, read_status_store, replay_kernel, scan_noop
        from workloads import ZipfU64

        t = self.tracer
        noop = []
        with t.span("scan.probe", "sources"):
            for _ in range(3):
                with groups.call("scan.noop_arrow", "sources") as s:
                    scan_noop(self.wl.scan_column()).collect()
                noop.append(s.attrs["job_group"])
        probe = None
        if isinstance(self.wl, ZipfU64):
            probe = self.diagnose(lambda: self.estimate_probe(groups), "estimate.probe")
        kernel, merged = replay_kernel(t, self.wl.replay_input(), self.wl.params(), self.wl.files)
        health = self.diagnose(merged.describe, "kernel.describe")
        leaves = self.bench_leaves(spark, groups)

        store = read_status_store(spark.sparkContext)
        groups.attach_stages(store)

        def per_job(field):
            return statistics.median(getattr(store.get(gid, GroupStats()), field)
                                     for _, _, gid in self.traced)

        scan_s = statistics.median(store[g].partial_run_s for g in noop)
        m = {
            "session.start_s": session_s,
            "sources.gen_s": setup["gen_s"],
            "scan.arrow_s": scan_s,
            "scan.input_bytes": self.wl.scan_bytes(),
            "stage.partial_run_s": per_job("partial_run_s"),
            "stage.partial_cpu_s": per_job("partial_cpu_s"),
            "shuffle.write_bytes": per_job("shuffle_write_bytes"),
            "driver.result_bytes": per_job("result_bytes"),
            "spark.jobs": per_job("jobs"),
            "spark.stages": per_job("stages"),
            "spark.tasks": per_job("tasks"),
            "driver.gap_s": statistics.median(s.attrs["driver_gap_s"]
                                              for _, s, _ in self.traced),
            "trace.overhead_s": statistics.median(dt for dt, _, _ in self.traced)
            - statistics.median(self.samples),
            "trace.failed_calls": len(t.failed_calls()),
        }
        m["feed.self_s"] = m["stage.partial_run_s"] - scan_s
        m.update(kernel)
        extra = {"stage.merge_run_s": per_job("merge_run_s"),
                 "sketch_health": health, "probe": probe,
                 "failed_calls": [{"name": s.name, "error": s.attrs.get("error"),
                                   "dur_s": s.end - s.start}
                                  for s in t.failed_calls()]}
        for s in leaves:
            extra[f"query.{s.name}_s"] = s.end - s.start
            extra[f"query.{s.name}.jobs"] = s.attrs["spark_jobs"]
            extra[f"query.{s.name}.gap_s"] = s.attrs["driver_gap_s"]
        return {"metrics": m, "extra": extra}

    def bench_leaves(self, spark, groups) -> list:
        """operators.*: the 15 bench.py leaves, one warm-up pass and then
        one pass with each leaf in its own job group, each leaf an
        operation checked against its oracle. No gated workload runs
        them, because a pass moves with host load more than any bound
        allows (see README.md)."""
        from workloads import BenchLeaves

        spans = []
        try:
            with self.tracer.span("query.ledger", "operators"):
                leaves = BenchLeaves(SF_DIR[self.args.smoke])
                leaves.compute_truth()
                for _, fn in leaves.calls(spark):
                    fn()
                for name, fn in leaves.calls(spark):
                    self.attempted += 1
                    with groups.call(name, "operators") as s:
                        result = fn()
                    spans.append(s)
                    if not leaves.matches(name, result):
                        self.fail(f"query {name} differs from its oracle")
        except Exception:  # counted as a failed operation, not swallowed
            self.fail(traceback.format_exc())
        return spans

    def estimate_probe(self, groups) -> dict:
        t0 = time.perf_counter()
        with groups.call("estimate", "operators"):
            score = self.wl.probe()
            if not score.ok:
                raise RuntimeError(f"estimate() on the int64-keyed sketch: {score.detail}")
        return {"probe_s": time.perf_counter() - t0, "precision": score.precision,
                "are": score.are}

    def diagnose(self, fn, name: str):
        """A traced diagnostic call that hits a known defect of the library.
        Its failure is kept on its span, counted in trace.failed_calls and
        reported, and does not fail the run."""
        try:
            with self.tracer.span(name, "diagnostic"):
                return fn()
        except Exception:  # recorded by the span; reported here
            print(f"traced call {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        prepare_env(work)
        try:
            from bench import _cpu_control
            from heavykeeper_rs_spark.session import get_spark
            runner = Runner(args, nproc, work)
        except ImportError as e:
            print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
            return 2
        return run(runner, args, nproc, _cpu_control, get_spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(runner: Runner, args, nproc: int, cpu_control, get_spark) -> int:
    control_pre = host_control(cpu_control)
    ticks = cpu_ticks()
    t = runner.tracer
    spark = None
    try:
        with t.span(args.workload, "workload", seed=args.seed, trace=args.trace):
            with t.span("get_spark", "session"):
                t0 = time.perf_counter()
                spark = get_spark(app=f"perfbench-{args.workload}",
                                  master=f"local[{nproc}]", shuffle_partitions=nproc)
                session_s = time.perf_counter() - t0
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            setup = runner.setup(spark)
            setup_s = session_s + setup["gen_s"] + setup["warmup_s"]
            groups = runner.loop(sc)
            rss_mb = peak_rss_mb()
            ledger = runner.ledger(spark, groups, setup, session_s) if args.trace else None
    finally:
        if spark is not None:
            stop_spark(spark)
    host = host_share(ticks, cpu_ticks())
    control_post = host_control(cpu_control)

    wl, scores = runner.wl, runner.scores
    failed = len(runner.errors)
    p50 = statistics.median(runner.samples)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "smoke": args.smoke, "nproc": nproc, "input_rows": wl.input_rows,
        "session_s": session_s, "setup": setup,
        "job_s": runner.samples, "job_s.tail": tail(runner.samples),
        "truth_digest": wl.truth.digest(),
        "count_are": statistics.median(s.are for s in scores) if scores else None,
        "error_rate": failed / runner.attempted,
        "errors": [e.splitlines()[-1] for e in runner.errors],
        "control_pre": control_pre, "control_post": control_post, "host": host,
    }
    if args.trace:
        metrics = ledger["metrics"]
        units = PER_LAYER
        record.update(ledger["extra"])
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s.p50": p50,
            "rows_per_s": wl.input_rows / p50,
            "precision_at_k": statistics.median(s.precision for s in scores) if scores else 0.0,
            "driver_rss_mb": rss_mb,
        }
        units = END_TO_END
    record["metrics"] = metrics
    OUT.mkdir(exist_ok=True)
    out = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    doc = dict(record, spans=t.export()) if args.trace else record
    out.write_text(json.dumps(doc, indent=1, default=str))
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": runner.attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
