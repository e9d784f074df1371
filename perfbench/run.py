#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop workload, one client, on
local[nproc].

    python3 perfbench/run.py --workload ann_batch --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the same workload with every call into the program
wrapped in a span that carries the Spark cost of the call, runs its
rounds untraced, traced, traced, untraced so their difference is the
tracing overhead, and reports the per-layer metrics instead.
``--size tiny`` shrinks every input for the benchmark's own tests.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. The line before it lists every metric the workload names,
with its unit. Spans, run conditions and checks go to
``.perfbench_out/`` under the working directory. The exit code is 0
only when every call and every check succeeded."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s", "build_s": "s", "round_s": "s", "query_qps": "queries/s",
    "recall_at_10": "fraction", "peak_rss_mb": "MB",
}
SETUP_REPS = 3
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"
# metrics a repeat of the same seed and code must reproduce exactly
REPEATABLE = ("hnsw_recall_at_10", "fresh_hit_rate")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, with its unit."""
    units = {
        f"{c}.{m}": tracing.MEASURE_UNITS[m]
        for c in tracing.CALLS for m in tracing.MEASURES
    }
    units["spark.tasks_failed"] = "count"
    units["trace.overhead_s"] = "s"
    return units


class Run:
    """Times calls through the tracer and counts operations: every call
    and every check is one attempted operation."""

    def __init__(self, tracer: tracing.Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.checks: dict[str, list] = {}

    def call(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return self.tracer.call(name, fn, *args, **kwargs)
        except Exception as exc:
            self.fail(f"{name}: {traceback.format_exc(limit=3)}")
            exc.counted = True
            raise

    def fail(self, msg: str):
        self.failed += 1
        self.failures.append(msg)

    def check(self, name: str, ok: bool, detail: str = ""):
        self.attempted += 1
        self.checks.setdefault(name, [0, 0])
        self.checks[name][0] += 1
        if not ok:
            self.checks[name][1] += 1
            self.fail(f"check {name}: {detail}")

    def check_oracle(self, truth: dict, exact: list):
        """knn_join truth must equal the driver-side brute force."""
        got = {q: ids for q, ids in enumerate(exact)}
        rec = workloads.recall(truth, got, range(len(exact)))
        self.check("knn_join == numpy exact", rec >= 0.999, f"{rec:.4f}")


def start_spark(cores: int, work: str):
    from lanterndb_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark):
    """Stop the context, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - escalate, then wait again
            proc.kill()
            proc.wait(timeout=30)


@contextmanager
def phase(name: str, tracer: tracing.Tracer, walls: dict):
    """Tag the calls inside with ``name`` and record the phase's wall."""
    tracer.phase = name
    t = time.perf_counter()
    try:
        with tracer.span(f"phase.{name}"):
            yield
    finally:
        walls[name] = time.perf_counter() - t


def timed_phase(w, r: Run, tracer: tracing.Tracer, seconds: float, traced: bool):
    """Closed loop: the next round starts when the previous one ends,
    until ``seconds`` have passed; a round is never cut. In a traced run
    rounds go untraced, traced, traced, untraced (ABBA), whole blocks
    only, so a linear drift such as JIT warm-up falls equally on both
    kinds; returns (untraced round walls, traced round walls)."""
    plain, spanned = [], []
    t0 = time.perf_counter()
    i = 0
    while True:
        on = traced and i % 4 in (1, 2)
        tracer.enabled = on
        t = time.perf_counter()
        with tracer.span(f"round.{i}"):
            w.round(r, i)
        (spanned if on else plain).append(time.perf_counter() - t)
        i += 1
        if time.perf_counter() - t0 >= seconds and (not traced or i % 4 == 0):
            break
    tracer.enabled = traced
    return plain, spanned


def result_path(workload: str, size: str, seed: int, traced: bool) -> str:
    return os.path.join(
        OUT_DIR, f"{workload}-{size}-seed{seed}-trace{int(traced)}.json"
    )


def repeat_findings(path: str, named: dict, sizes: dict) -> list[str]:
    """HNSW graphs depend on insertion order; a metric that should be a
    pure function of the seed but differs from the previous run of the
    same seed and sizes is recorded, not hidden."""
    try:
        with open(path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return []
    if prev.get("sizes") != sizes:
        return []
    prev = prev["named"]
    out = []
    for k in REPEATABLE:
        if k in named and k in prev and named[k]["value"] != prev[k]["value"]:
            out.append(
                f"{k} did not repeat for this seed: {prev[k]['value']} "
                f"then {named[k]['value']}"
            )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    work = os.path.abspath(
        os.path.join(WORK_DIR, f"{args.workload}-{args.size}-seed{args.seed}")
    )
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    import lanterndb_spark  # noqa: F401 - fail before any result without it

    t_start = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    conditions = measure.run_conditions(ROOT, cores, args.seed)
    w = workloads.WORKLOADS[args.workload](args.seed, args.size, work)
    w.generate()
    phases = {"generate": time.perf_counter() - t_start}

    cpu0 = measure.cpu_times()
    sampler = measure.RssSampler().start()
    tracer = tracing.Tracer(enabled=traced)
    r = Run(tracer)
    spark = None
    e2e: dict[str, float] = {}
    named: dict[str, tuple] = {}
    overhead = None
    setups: list[float] = []
    plain_rounds: list[float] = []
    spanned_rounds: list[float] = []
    try:
        with phase("setup", tracer, phases):
            for _ in range(SETUP_REPS):
                if spark is not None:
                    spark.stop()
                tracer.spark_cost = None
                spark, t1 = r.call("session.get_spark", start_spark, cores, work)
                if traced:
                    tracer.spark_cost = tracing.SparkCost(spark)
                _, t2 = r.call("session.load_inputs", w.load, spark)
                setups.append(t1 + t2)
        e2e["setup_s"] = statistics.median(setups)
        conditions["java_runtime"] = spark._jvm.System.getProperty("java.version")
        with phase("build", tracer, phases):
            e2e["build_s"] = w.build(r)
        with phase("warmup", tracer, phases):
            w.warmup(r)
        with phase("timed", tracer, phases):
            plain_rounds, spanned_rounds = timed_phase(
                w, r, tracer, args.seconds, traced
            )
        if traced:
            overhead = statistics.mean(spanned_rounds) - statistics.mean(plain_rounds)
        e2e["round_s"] = statistics.median(plain_rounds)
        e2e["query_qps"] = w.queries / w.query_time
        with phase("check", tracer, phases):
            named = w.finish(r)
        e2e["recall_at_10"] = named.pop("recall_at_10")[0]
    except Exception as exc:  # noqa: BLE001 - reported as a failed run below
        if not getattr(exc, "counted", False):
            r.attempted += 1
            r.fail(traceback.format_exc(limit=5))
    finally:
        t = time.perf_counter()
        try:
            stop_jvm(spark)
        finally:
            e2e["peak_rss_mb"] = sampler.stop()
            phases["stop"] = time.perf_counter() - t
    conditions["cpu_steal_share"] = measure.steal_share(cpu0)

    named.update({
        "setup_s": (e2e.get("setup_s"), "s"),
        "build_s": (e2e.get("build_s"), "s"),
        "error_rate": (r.failed / max(1, r.attempted), "failed/attempted"),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
    })
    named_out = {k: {"value": v, "unit": u} for k, (v, u) in sorted(named.items())}
    if w.latencies and "search_p50_s" in named_out:
        named_out["search_p50_s"]["summary"] = measure.latency_summary(w.latencies)

    if traced:
        values = tracer.per_call()
        values["spark.tasks_failed"] = sum(
            s.cost.get("tasks_failed", 0) for s in tracer.spans
        )
        values["trace.overhead_s"] = overhead
        metrics = {
            k: {"value": values[k], "unit": u}
            for k, u in per_layer_units().items() if values.get(k) is not None
        }
    else:
        metrics = {
            k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()
            if e2e.get(k) is not None
        }

    path = result_path(args.workload, args.size, args.seed, traced)
    findings = [] if traced else repeat_findings(path, named_out, w.sz)
    os.makedirs(OUT_DIR, exist_ok=True)
    record = {
        "workload": args.workload, "size": args.size, "sizes": w.sz,
        "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "conditions": conditions, "named": named_out, "metrics": metrics,
        "setup_reps_s": setups, "phase_s": phases, "round_s": plain_rounds,
        "traced_round_s": spanned_rounds, "checks": r.checks,
        "failures": r.failures, "findings": findings,
        "calls": tracer.call_counts(), "call_walls": tracer.walls,
        "spans": tracer.dump() if traced else [],
        "rss_samples": sampler.samples, "rss_peak": sampler.peak_detail,
    }
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    for msg in r.failures:
        print(msg, file=sys.stderr)
    correct = r.failed == 0
    print(json.dumps({"workload": args.workload, "named": named_out,
                      "findings": findings, "conditions": conditions}))
    print(json.dumps({
        "correct": correct, "attempted": r.attempted, "failed": r.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
