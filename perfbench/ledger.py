"""Per-layer ledger for the traced run.

Everything here measures the library from outside: spans wrap the
benchmark's own calls into the library, Spark's work per call is read
back from the in-process status store (``sc._jsc.sc().statusStore()``,
no UI or network needed), and the kernel numbers come from replaying a
workload's own data through the public kernel API on one core.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams, merge_blobs

# the partial builder feeds the kernel in coalesced batches of this many rows
REPLAY_BATCH_ROWS = 1 << 20


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    status: str = "ok"
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span tree; written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = Span(next(self._ids), self._stack[-1] if self._stack else None,
                 name, layer, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        except Exception as e:
            s.status = "error"
            s.attrs["error"] = f"{type(e).__name__}: {e}"
            raise
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, parent: int, start: float, end: float,
            **attrs) -> None:
        self.spans.append(Span(next(self._ids), parent, name, layer, start, end,
                               attrs=attrs))

    def failed_calls(self) -> list[Span]:
        """Spans that raised, counting a failure once where it passed
        through nested spans."""
        failed = {s.id for s in self.spans if s.status == "error"}
        return [s for s in self.spans if s.id in failed and s.parent not in failed]

    def export(self) -> list[dict]:
        """Spans with their self time: duration minus the part of it
        that child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for s in self.spans:
            dur = s.end - s.start
            self_s = dur - covered(kids.get(s.id, []), s.start, s.end)
            out.append({"id": s.id, "parent": s.parent, "name": s.name,
                        "layer": s.layer, "start": s.start, "end": s.end,
                        "dur_s": dur, "self_s": self_s, "status": s.status,
                        **s.attrs})
        return out


@dataclass
class GroupStats:
    """Spark work of one job group, read from the status store."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    partial_run_s: float = 0.0
    partial_cpu_s: float = 0.0
    merge_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    result_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)
    stage_rows: list[dict] = field(default_factory=list)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(sc) -> dict[str, GroupStats]:
    """Stage metrics of every finished job, keyed by job group.

    A stage id reused by a later job (a skipped shuffle-map stage) is
    attributed to the first job that lists it. Stages that read a
    shuffle are merge-side; the rest scan input (the partial build)."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = {}
    slist = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(slist.length()):
        st = slist.apply(i)
        stages[(st.stageId(), st.attemptId())] = st
    by_stage: dict[int, list] = {}
    for (sid, _), st in stages.items():
        by_stage.setdefault(sid, []).append(st)

    jobs = store.jobsList(None)
    jlist = sorted((jobs.apply(i) for i in range(jobs.length())),
                   key=lambda j: j.jobId())
    seen: set[int] = set()
    out: dict[str, GroupStats] = {}
    for j in jlist:
        group = j.jobGroup()
        if not group.isDefined():
            continue
        g = out.setdefault(group.get(), GroupStats())
        g.jobs += 1
        ids = j.stageIds()
        for k in range(ids.length()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            for st in by_stage.get(sid, []):
                if st.status().toString() != "COMPLETE":
                    continue
                run_s = st.executorRunTime() / 1000.0
                g.stages += 1
                g.tasks += st.numCompleteTasks()
                if st.shuffleReadBytes() > 0:
                    g.merge_run_s += run_s
                else:
                    g.partial_run_s += run_s
                    g.partial_cpu_s += st.executorCpuTime() / 1e9
                g.shuffle_write_bytes += st.shuffleWriteBytes()
                g.result_bytes += st.resultSize()
                a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if a is not None and b is not None:
                    g.intervals.append((a, b))
                    g.stage_rows.append({
                        "stage": sid, "call_site": st.name(), "start": a, "end": b,
                        "run_s": run_s, "tasks": st.numCompleteTasks(),
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes()})
    return out


class JobGroups:
    """Tags each traced library call with its own Spark job group."""

    def __init__(self, sc, tracer: Tracer) -> None:
        self.sc = sc
        self.tracer = tracer
        self._ids = itertools.count()
        self.calls: list[tuple[Span, str]] = []

    @contextmanager
    def call(self, name: str, layer: str):
        gid = f"perfbench-{next(self._ids)}"
        with self.tracer.span(name, layer, job_group=gid) as s:
            self.calls.append((s, gid))
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
            try:
                yield s
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def attach_stages(self, groups: dict[str, GroupStats]) -> None:
        """Hang each call's Spark stages under its span and store the
        driver gap: call wall time no running stage of its group covers."""
        for s, gid in self.calls:
            g = groups.get(gid, GroupStats())
            for row in g.stage_rows:
                self.tracer.add(f"stage {row['stage']}", "spark", s.id,
                                row.pop("start"), row.pop("end"), **row)
            s.attrs["driver_gap_s"] = (s.end - s.start) - covered(
                g.intervals, s.start, s.end)
            s.attrs["spark_jobs"] = g.jobs


def scan_noop(df):
    """``df`` through a mapInArrow that drains its batches and emits
    nothing: the parquet scan and JVM->Arrow transfer, without a kernel."""
    def drain(batches):
        for _ in batches:
            pass
        return iter(())
    return df.mapInArrow(drain, "n long")


def replay_kernel(tracer: Tracer, keys: np.ndarray, params: HKParams,
                  parts: int) -> tuple[dict, HeavyKeeper]:
    """Single-core replay of one job's kernel work: one sketch per
    partition fed in the partial builder's batch size, then the
    serialize -> deserialize -> merge_blobs -> list path of the combine,
    and an estimate() probe of one batch of the same keys."""
    chunks = np.array_split(keys, max(parts, 1))
    m: dict = {}

    def timed(name: str, fn):
        with tracer.span(name, "kernel") as s:
            t0 = time.perf_counter()
            out = fn()
            s.attrs["secs"] = time.perf_counter() - t0
        m[name] = s.attrs["secs"]
        return out

    def add_all():
        out = []
        for pid, c in enumerate(chunks):
            sk = HeavyKeeper(params, rng=np.random.default_rng(pid))
            for lo in range(0, len(c), REPLAY_BATCH_ROWS):
                sk.add_batch(c[lo:lo + REPLAY_BATCH_ROWS])
            out.append(sk)
        return out

    with tracer.span("kernel.replay", "kernel", rows=int(keys.size), parts=len(chunks)):
        sketches = timed("kernel.add_s", add_all)
        blobs = timed("kernel.serialize_s", lambda: [sk.serialize() for sk in sketches])
        timed("kernel.deserialize_s", lambda: [HeavyKeeper.deserialize(b) for b in blobs])
        merged = HeavyKeeper.deserialize(timed("kernel.merge_s", lambda: merge_blobs(blobs)))
        timed("kernel.list_s", merged.list)
        timed("kernel.estimate_s", lambda: merged.estimate(keys[:REPLAY_BATCH_ROWS]))
    m["kernel.keys_per_s"] = keys.size / m["kernel.add_s"]
    m["kernel.blob_bytes"] = sum(len(b) for b in blobs)
    m["kernel.fill"] = np.count_nonzero(merged.counts) / merged.counts.size
    m["kernel.tracked"] = len(merged.list())
    return m, merged
