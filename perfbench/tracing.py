"""Spans around the benchmark's calls into each layer, and the Spark
cost of each call read back from Spark's own status stores.

Attribution is by job-id bracket: the benchmark is the only client of
its SparkContext and waits for every call, so the jobs submitted while
a call ran are exactly the ids between the last id seen before it and
the last id seen after it. Job groups are not used: some operators
submit from thread pools whose threads do not inherit local
properties."""

from __future__ import annotations

import re
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

MEASURES = (
    "wall_s", "driver_s", "jobs", "tasks", "shuffle_bytes", "exec_cpu_s",
    "py_worker_s", "arrow_bytes",
)
MEASURE_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_bytes": "bytes", "exec_cpu_s": "s", "py_worker_s": "s",
    "arrow_bytes": "bytes",
}

# every call the workloads make into the program, as <layer>.<call>
CALLS = (
    "session.get_spark", "session.load_inputs",
    "hnsw.build_hnsw", "hnsw.hnsw_search_df", "hnsw.hnsw_insert",
    "ivf.build_ivfpq", "ivf.ivfpq_search_df", "ivf.build_ivf",
    "knn.knn_join",
    "bm25.build_postings", "bm25.corpus_stats", "bm25.search_bm25_df",
    "bm25.search_bm25",
    "hybrid.weighted_vector_search_df",
    "dedup.minhash_lsh_pairs",
)
# phases whose calls per-layer means leave out: warm-up calls are cold
EXCLUDED_PHASES = ("warmup",)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int = 0
    phase: str = ""
    cost: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = _union_length(
            (max(a, s.start), min(b, s.end)) for a, b in kids.get(i, [])
        )
        out.append((s.end - s.start) - covered)
    return out


def _union_length(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps only each call's
    wall clock, so untraced runs pay one ``perf_counter`` pair per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark_cost = None  # a SparkCost once a context exists
        self.spans: list[Span] = []
        self.walls: list[tuple[str, str, float]] = []
        self._stack: list[int] = []
        self.phase = ""

    @contextmanager
    def span(self, name: str):
        """A span with no Spark cost of its own (a phase or a round)."""
        if not self.enabled:
            yield None
            return
        span = Span(
            name, 0.0, parent=self._stack[-1] if self._stack else None,
            op_id=len(self.spans), phase=self.phase,
        )
        self.spans.append(span)
        self._stack.append(span.op_id)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` and attach the Spark
        cost of the jobs it ran; return (result, wall seconds)."""
        if not self.enabled:
            t0 = time.perf_counter()
            res = fn(*args, **kwargs)
            wall = time.perf_counter() - t0
        else:
            mark = self.spark_cost.mark() if self.spark_cost else None
            with self.span(name) as span:
                res = fn(*args, **kwargs)
            wall = span.end - span.start
            # without a context to read (session start) it is all driver time
            span.cost = (
                self.spark_cost.since(mark, wall) if self.spark_cost
                else {"driver_s": wall}
            )
        self.walls.append((name, self.phase, wall))
        return res, wall

    def per_call(self) -> dict:
        """Mean cost per invocation of every name in :data:`CALLS`;
        calls a workload never makes read 0."""
        acc: dict[str, list[dict]] = {}
        for s in self.spans:
            if s.name in CALLS and s.phase not in EXCLUDED_PHASES:
                acc.setdefault(s.name, []).append(
                    {"wall_s": s.end - s.start, **s.cost}
                )
        out = {}
        for name in CALLS:
            rows = acc.get(name, [])
            for m in MEASURES:
                vals = [r.get(m, 0.0) for r in rows]
                out[f"{name}.{m}"] = sum(vals) / len(vals) if vals else 0.0
        return out

    def call_counts(self) -> dict:
        return dict(Counter(name for name, _, _ in self.walls))

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {"op_id": s.op_id, "name": s.name, "parent": s.parent,
             "phase": s.phase, "start": s.start, "end": s.end,
             "self_s": st[i], **s.cost}
            for i, s in enumerate(self.spans)
        ]


_NUM = re.compile(r"([\d.,]+)\s*([A-Za-z]+)")
_SCALE = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str) -> float:
    """A SQL metric as the SQL status store formats it: either a plain
    value ("18 ms") or "total (min, med, max ...)\\n<total> (...)"."""
    line = text.split("\n", 1)[-1]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


# Python worker task-seconds: start + run. "time to initialize Python
# workers" is kept apart (py_init_s): for reused workers Spark 4.1
# reports it above the wall time of the call that ran them.
_PY_TIME = ("time to start Python workers", "time to run Python workers")
_PY_INIT = "time to initialize Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


class SparkCost:
    """Reads a call's jobs, tasks, stage shuffle bytes and CPU time from
    the JVM AppStatusStore, and its Python-worker time and Arrow bytes
    from the SQL status store. Both stores fill with the UI disabled."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_hi = -1

    def _drain(self):
        self._bus.waitUntilEmpty()

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Exception:  # noqa: BLE001 - py4j NoSuchElementException
            return None

    def mark(self):
        """(last job id, SQL execution count) before a call."""
        self._drain()
        while self._job(self._job_hi + 1) is not None:
            self._job_hi += 1
        return self._job_hi, int(self._sql.executionsCount())

    def since(self, mark, wall: float) -> dict:
        self._drain()
        j0, e0 = mark
        self.mark()
        jobs = [self._job(jid) for jid in range(j0 + 1, self._job_hi + 1)]
        jobs = [j for j in jobs if j is not None]
        spans, tasks, failed, shuffle, cpu_ns = [], 0, 0, 0, 0
        for j in jobs:
            st, ct = j.submissionTime(), j.completionTime()
            if st.isDefined() and ct.isDefined():
                spans.append((st.get().getTime() / 1e3, ct.get().getTime() / 1e3))
            tasks += j.numCompletedTasks() + j.numFailedTasks()
            failed += j.numFailedTasks()
            for sid in _jiter(j.stageIds()):
                s = self._store.lastStageAttempt(sid)
                shuffle += s.shuffleWriteBytes()
                cpu_ns += s.executorCpuTime()
        py_s, py_init, arrow = 0.0, 0.0, 0.0
        for e in _jiter(self._sql.executionsList(e0, 1 << 30)):
            names = {
                pm.accumulatorId(): pm.name() for pm in _jiter(e.metrics())
            }
            vals = self._sql.executionMetrics(e.executionId())
            for kv in _jiter(vals):
                nm = names.get(kv._1())
                if nm in _PY_TIME:
                    py_s += parse_metric(kv._2())
                elif nm == _PY_INIT:
                    py_init += parse_metric(kv._2())
                elif nm in _PY_BYTES:
                    arrow += parse_metric(kv._2())
        return {
            "driver_s": max(0.0, wall - _union_length(spans)),
            "jobs": len(jobs), "tasks": tasks,
            "shuffle_bytes": float(shuffle), "exec_cpu_s": cpu_ns / 1e9,
            "py_worker_s": py_s, "arrow_bytes": arrow, "py_init_s": py_init,
            "tasks_failed": failed,
        }


def _jiter(seq):
    """Iterate a Scala collection (Seq, Map) through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()
