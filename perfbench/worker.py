"""One benchmark run in one process: set up, warm up, timed passes, checks.

Started by ``run.py``, which prepares the environment; not meant to be
run by hand.  Writes the result object to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

from py4j.protocol import Py4JNetworkError  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import gen  # noqa: E402
import workloads  # noqa: E402
from shifu_spark import get_spark  # noqa: E402
from tracing import COUNTERS, Tracer, job_counters, next_job_id  # noqa: E402

#: set-ups per run; setup_s reports their median (plus the warm-up pass)
SETUP_ROUNDS = 3
#: a run that keeps failing stops after this many passes
MAX_PASSES = 40
CLK_TCK = os.sysconf("SC_CLK_TCK")

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB",
    "artifact_bytes_ratio": "ratio", "model_auc": "auc",
}
COUNTER_UNITS = {"jobs": "count", "tasks": "count", "failed_tasks": "count"}


def cpu_seconds(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK  # utime + stime


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Ops:
    """Every setup round, step, query and check is one op."""

    def __init__(self):
        self.attempted = self.failed = 0

    def record(self, name: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            print(f"FAILED {name}: {problem}", file=sys.stderr, flush=True)

    def fail_rest(self, names: list[str], why: str) -> None:
        for n in names:
            self.record(n, why)


class JvmGone(Exception):
    """The Spark JVM is gone; nothing after this can run."""


def jvm_alive(spark: SparkSession | None, error: BaseException | None = None) -> bool:
    """False once the gateway JVM has exited; a refused or dropped py4j
    connection counts as exited, since the process may not be reaped yet."""
    if isinstance(error, (ConnectionError, Py4JNetworkError)):
        return False
    gw = getattr(spark.sparkContext, "_gateway", None) if spark else None
    proc = getattr(gw, "proc", None)
    if proc is None or proc.poll() is not None:
        return False
    try:
        with open(f"/proc/{proc.pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


class Run:
    def __init__(self, a):
        self.a = a
        self.work = a.work
        self.ops = Ops()
        self.tracer = Tracer(f"{a.workload}-{a.seed}-{os.getpid()}")
        self.spark: SparkSession | None = None
        self.wl = None
        self.setup_s: list[float] = []
        self.warmup_s: float | None = None
        self.passes: list[dict] = []  # wall, cpu, traced, result
        self.results: list = []  # PassResult of warm-up + timed passes

    # -- pieces ------------------------------------------------------------

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def cpu(self) -> float:
        return cpu_seconds(self.jvm_pid()) + cpu_seconds(os.getpid())

    def setup_round(self, r: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("setup", counters=False, round=r):
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark(f"perfbench-{self.a.workload}")
            inputs = gen.GENERATORS[self.a.workload](self.a.seed, f"{self.work}/inputs")
            self.wl = workloads.make(self.a.workload, inputs, f"{self.work}/out")
            if self.wl.load_inputs(self.spark) <= 0:
                raise ValueError("generated inputs read back empty")
        self.setup_s.append(time.perf_counter() - t0)

    def one_pass(self, label: str, traced: bool):
        """Run every step of one pass; returns (wall, cpu, result or None)."""
        state = {"failed": None, "done": []}
        chained = self.wl.name != "query_mix"  # pipeline steps read what the one before wrote

        @contextmanager
        def step(name):
            if state["failed"] and chained:
                raise _Skip
            try:
                with self.tracer.span(name, counters=traced):
                    yield
            except Exception as e:  # noqa: BLE001 - a failed step is counted, the run goes on
                state["failed"] = state["failed"] or name
                state["done"].append(name)
                self.ops.record(f"{label}.{name}", f"{type(e).__name__}: {str(e)[:300]}")
                if not jvm_alive(self.spark, e):
                    raise JvmGone from e
                traceback.print_exc(file=sys.stderr)
            else:
                state["done"].append(name)
                self.ops.record(f"{label}.{name}", None)

        cpu0, t0 = self.cpu(), time.perf_counter()
        res = None
        try:
            with self.tracer.span(label, counters=False, traced=traced):
                res = self.wl.run_pass(self.spark, step)
        except (_Skip, JvmGone) as e:
            rest = [f"{label}.{s}" for s in self.wl.steps if s not in state["done"]]
            self.ops.fail_rest(rest, f"not run: {state['failed']} failed")
            if isinstance(e, JvmGone):
                raise
        wall, cpu = time.perf_counter() - t0, self.cpu() - cpu0
        return wall, cpu, None if state["failed"] else res

    def output_bytes_since(self, first_job: int, start: float) -> float:
        """Bytes the jobs from ``first_job`` on wrote through Spark's output
        metrics (query_mix: the queries delete their temporary sinks)."""
        counters, _ = job_counters(self.spark.sparkContext, first_job, start, time.time())
        return counters["output_mb"] * 1024.0 * 1024.0

    # -- the run ----------------------------------------------------------

    def execute(self) -> None:
        a = self.a
        for r in range(SETUP_ROUNDS):
            try:
                self.setup_round(r)
                self.ops.record(f"setup.{r}", None)
            except Exception as e:  # noqa: BLE001
                self.ops.record(f"setup.{r}", f"{type(e).__name__}: {str(e)[:300]}")
                traceback.print_exc(file=sys.stderr)
                if self.wl is None or not jvm_alive(self.spark, e):
                    raise JvmGone from e
        wall, _, res = self.one_pass("warmup", traced=False)
        self.warmup_s = wall
        if res is not None:
            self.results.append(res)
        t_start = time.perf_counter()
        n = 0
        # trace runs alternate untraced and traced passes, at least
        # untraced-traced-untraced, so that the tracing overhead is measured
        # in the same process and warm passes' downward drift cancels out
        while n < MAX_PASSES and (n < (3 if a.trace else 1) or time.perf_counter() - t_start < a.seconds):
            traced = bool(a.trace and n % 2 == 1)
            self.tracer.attach(self.spark, counters=traced)
            first_job = next_job_id(self.spark.sparkContext) if self.wl.name == "query_mix" else None
            started = time.time()
            wall, cpu, res = self.one_pass(f"pass{n}", traced=traced)
            rec = {"wall": wall, "cpu": cpu, "traced": traced, "ok": res is not None}
            if res is not None:
                if first_job is not None:
                    res.artifact_bytes = self.output_bytes_since(first_job, started)
                self.results.append(res)
                rec["artifact_bytes"] = res.artifact_bytes
                rec["auc"] = res.auc
            self.passes.append(rec)
            n += 1

    def run_checks(self) -> None:
        names = self.wl.check_names()
        if not self.results:
            self.ops.fail_rest(names, "no pass completed")
            return
        done = set()
        try:
            for name, problem in self.wl.checks(self.spark, self.results):
                done.add(name)
                self.ops.record(name, problem)
        except Exception as e:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            self.ops.fail_rest([n for n in names if n not in done], f"{type(e).__name__}: {str(e)[:300]}")

    # -- reporting ----------------------------------------------------------

    def e2e_metrics(self) -> dict:
        untraced = [p for p in self.passes if p["ok"] and not p["traced"]]

        def med(key):
            vals = [p[key] for p in untraced if p.get(key) is not None]
            return statistics.median(vals) if vals else None

        setup = statistics.median(self.setup_s) + self.warmup_s if self.setup_s and self.warmup_s else None
        art = med("artifact_bytes")
        rss = None
        if self.spark is not None and jvm_alive(self.spark):
            rss = peak_rss_mb(self.jvm_pid()) + peak_rss_mb(os.getpid())
        vals = {
            "setup_s": setup, "pass_s": med("wall"), "pass_cpu_s": med("cpu"), "peak_rss_mb": rss,
            "artifact_bytes_ratio": art / self.wl.input_bytes() if art and self.wl else None,
            "model_auc": med("auc"),
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}

    def layer_metrics(self) -> dict:
        """Median over traced passes of each call's counters; calls this
        workload does not make read 0."""
        traced_passes = {i for i, s in enumerate(self.tracer.spans)
                         if s.get("traced") and s["name"].startswith("pass")}
        per_call: dict[str, list[dict]] = {}
        for s in self.tracer.spans:
            if s.get("parent") in traced_passes and "jobs" in s:
                per_call.setdefault(s["name"], []).append(s)
        out = {}
        for call in workloads.PIPELINE_CALLS:
            for c in COUNTERS:
                out[f"{call}.{c}"] = _med(per_call.get(call), c)
        stats, train = per_call.get("pipeline.run_stats"), per_call.get("ml.train_models")
        n_cols = sum(1 for c in (self.results[-1].configs if self.results else []) if c.is_candidate)
        out["pipeline.run_stats.jobs_per_column"] = _med(stats, "jobs") / n_cols if n_cols else 0.0
        jobs = _med(train, "jobs")
        out["ml.train_models.tasks_per_job"] = _med(train, "tasks") / jobs if jobs else 0.0
        for q in workloads.QUERY_MIX:
            for c in ("wall_s", "jobs", "shuffle_write_mb", "gc_s"):
                out[f"queries.{q}.{c}"] = _med(per_call.get(f"queries.{q}"), c)
        walls = {t: [p["wall"] for p in self.passes if p["ok"] and p["traced"] == t] for t in (False, True)}
        if walls[False] and walls[True]:
            base = statistics.median(walls[False])
            out["trace.overhead_s"] = statistics.median(walls[True]) - base
            out["trace.overhead_share"] = out["trace.overhead_s"] / base
        else:
            out["trace.overhead_s"] = out["trace.overhead_share"] = None
        return {k: {"value": v, "unit": _layer_unit(k)} for k, v in out.items()}

    def stop(self) -> None:
        spark, self.spark = self.spark, None
        if spark is None:
            return
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            traceback.print_exc(file=sys.stderr)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


class _Skip(Exception):
    """A pipeline step was not run because an earlier one failed."""


def _med(spans: list[dict] | None, key: str) -> float:
    return statistics.median(s[key] for s in spans) if spans else 0.0


def _layer_unit(name: str) -> str:
    c = name.rsplit(".", 1)[1]
    if c in COUNTER_UNITS:
        return COUNTER_UNITS[c]
    if c.endswith("_mb"):
        return "MB"
    if c == "jobs_per_column":
        return "jobs/column"
    if c == "tasks_per_job":
        return "tasks/job"
    if c == "overhead_share":
        return "ratio"
    return "s"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()
    run = Run(a)
    try:
        try:
            run.execute()
        except JvmGone as e:
            print(f"run aborted: {e.__cause__!r}; JVM alive: {jvm_alive(run.spark)}", file=sys.stderr, flush=True)
        if run.wl is not None and jvm_alive(run.spark):
            run.run_checks()
        elif run.wl is not None:
            run.ops.fail_rest(run.wl.check_names(), "Spark JVM is gone")
        else:
            run.ops.record("checks", "set-up never completed")
        e2e = run.e2e_metrics()
        metrics = run.layer_metrics() if a.trace else e2e
    finally:
        run.tracer.write(f"{a.work}/spans.jsonl")
        run.stop()
    for k, m in e2e.items():
        print(f"{a.workload} {k} = {m['value']} {m['unit']}")
    share = run.ops.failed / max(run.ops.attempted, 1)
    print(f"{a.workload} failed_ops = {share} share ({run.ops.failed}/{run.ops.attempted})")
    result = {"correct": run.ops.failed == 0, "attempted": max(run.ops.attempted, 1),
              "failed": run.ops.failed if run.ops.attempted else 1, "metrics": metrics}
    with open(a.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
