#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds.

For each named query: run ``fn(spark, sf_dir).count()`` once under a
dedicated job group, and report wall seconds plus the number of Spark
jobs the query issued (driver-side actions are the fixed-overhead unit
that dominates small-scale wall time — guide §1).  Optionally dump
``explain('formatted')`` for the returned DataFrame to a plans dir.

Usage:
  python tools/profile_queries.py [--plans-dir plans/r12 --suffix _before]
      [--sf-dir /root/testdata/sf0.1] name [name ...]
  python tools/profile_queries.py --top N       # N most expensive by their
                                                # min over the newest
                                                # BENCH_local_last.json
                                                # records at one core count
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def top_queries(n: int, sidecar: str = os.path.join(ROOT, "BENCH_local_last.json")) -> list[str]:
    """The ``n`` slowest queries by their min wall time over bench.py's
    rolling sidecar (its last 8 records, newest last), counting only the
    records taken at the newest record's core count."""
    with open(sidecar) as fh:
        records = [d for d in map(json.loads, fh) if d.get("queries")]
    mins: dict[str, float] = {}
    for d in records:
        if d.get("cpus") == records[-1].get("cpus"):
            for k, v in d["queries"].items():
                mins[k] = min(mins.get(k, float("inf")), v)
    return sorted(mins, key=lambda k: -mins[k])[:n]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")

    from shifu_spark.queries import QUERIES
    from shifu_spark.session import get_spark

    names = list(args.names)
    if args.top:
        names += top_queries(args.top)

    spark = get_spark("shifu_profile")
    sc = spark.sparkContext
    st = sc.statusTracker()
    import gc

    out = {}
    for name in names:
        fn = QUERIES[name]
        gid = f"profile:{name}"
        # (dt, jobs, build_s) captured PER RUN and reported from the same
        # (best) run — ADVICE r12: pairing the best wall with the last
        # run's job count mismatched them (and warm-cache later runs can
        # issue fewer jobs)
        best: tuple[float, int, float] | None = None
        plan = None
        for r in range(args.runs):
            sc.setJobGroup(gid + f":{r}", name)
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            t_build = time.perf_counter() - t0
            df.count()
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            gc.collect()
            run_jobs = len(st.getJobIdsForGroup(gid + f":{r}"))
            if best is None or dt < best[0]:
                best = (dt, run_jobs, t_build)
            if plan is None and args.plans_dir:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
        sc.setJobGroup("profile:idle", "idle")
        dt, jobs, t_build = best
        out[name] = {"s": round(dt, 3), "jobs": jobs, "build_s": round(t_build, 3)}
        print(f"{dt:8.3f}s  {jobs:4d} jobs  build={t_build:6.3f}s  {name}", flush=True)
        if plan is not None:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(os.path.join(args.plans_dir, f"{name}{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
