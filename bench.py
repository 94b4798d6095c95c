#!/usr/bin/env python
"""Benchmark harness — runs every registered query, in registry order, at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] and prints two JSON lines:
the full record {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "stages": {stage: sec}, "sf": ...}, then a compact
one without the per-query maps. Each query's time goes to the stage its
``@query(stage=...)`` declares.

Per-query timing includes full plan execution (``count()``) but not
session startup. The suite first runs once at sf0.001 to warm JVM
classloading and codegen (skipped when that is the bench dir); each
query's time is then the min of $SPARK_GRAFT_BENCH_RUNS (default 3) full
executions, caches cleared between runs.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The stable r01 subset: BENCH_r01's "value" (31.3s) totals exactly these
# 23 queries, so "baseline_comparable_value" compares like with like
# across runs whatever else the registry gains.
R01_HEADLINE = (
    "tpch_q1",
    "column_stats",
    "ksiv_equal_interval",
    "zscore_normalize",
    "woe_normalize",
    "psi_events_by_day",
    "correlation_matrix",
    "confusion_matrix_points",
    "roc_auc",
    "combo_score_join",
    "nation_revenue",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "text_stats",
    "embedding_topk",
    "embedding_neardup_pairs",
    "embedding_lsh_topk",
    "simhash_neardup_pairs",
    "exact_dedup",
    "dynamic_binning",
    "pr_auc",
    "weighted_confusion",
    "freq_items",
)

WARMUP_SF_DIR = "/root/testdata/sf0.001"

# Calibration probe: three same-tree full runs varied 213->246s across one
# afternoon, so a raw total says as much about box health as about code.
# The probe is a FIXED, data-independent, CPU-bound Spark job (xxhash64
# fold over spark.range — no I/O, no shuffle beyond the 32->1 agg, no
# Python) timed min-of-3 before and after the suite; probe time scales
# with the same box slowness that inflates query time, so
# normalized = raw * (PROBE_REF_S / probe_s) is comparable across days.
# PROBE_REF_S pins the probe's cost on a healthy box; adjudicate drift
# against probe_s first and A/B trees only when normalized numbers still
# disagree.
PROBE_ROWS = 4_000_000_000
# three min-of-3 samples 0.739/0.713/0.714 on a quiet local[32]
PROBE_REF_S = 0.72


def calibration_probe(spark, n_runs: int = 3, warm: bool = True) -> float:
    """Seconds for the fixed probe job (min of ``n_runs``, after one
    discarded warm run — the first execution carries the probe plan's
    own codegen compile, ~2x the steady-state cost).  Mid-suite samples
    pass ``warm=False``: the plan is already compiled by the pre-suite
    probe, so the warm run would be pure overhead."""
    runs: list[float] = []
    total = n_runs + 1 if warm else n_runs
    for i in range(total):
        t0 = time.perf_counter()
        # bit_xor, not sum: a sum of 4e9 xxhash64 longs overflows under
        # ANSI mode; xor is overflow-free and just as unprunable
        spark.range(0, PROBE_ROWS, 1, 32).selectExpr(
            "bit_xor(xxhash64(id)) AS s"
        ).collect()
        if not warm or i > 0:  # drop the codegen-compile run
            runs.append(time.perf_counter() - t0)
    return round(min(runs), 3)


def nearest_probe_factor(probe_samples: list[dict], qpos: int) -> float:
    """Per-query normalization factor from the probe pair bracketing the
    query's 1-based suite position: samples are {"after": <queries
    completed when taken>, "s": <probe seconds>}; the query at position
    ``qpos`` ran after the sample with the largest ``after < qpos`` and
    before the one with the smallest ``after >= qpos``."""
    left = max(
        (p for p in probe_samples if p["after"] < qpos),
        key=lambda p: p["after"],
    )["s"]
    right = min(
        (p for p in probe_samples if p["after"] >= qpos),
        key=lambda p: p["after"],
    )["s"]
    return PROBE_REF_S / ((left + right) / 2.0)


#: Stall re-measure trigger: sporadic multi-second scheduler/IO stalls
#: land inside 0.1-0.5s queries (8x spreads on a probe-flat box).
STALL_RATIO = 4.0


def apply_stall_remeasure(runs: list[float], rerun) -> tuple[list[float], float | None]:
    """If the slowest of ``runs`` exceeds ``STALL_RATIO`` x the fastest,
    take ONE extra measurement via ``rerun()`` and DISCARD the single
    worst run. The reported timing stays the min over full executions
    (now min-of-n+1); the committed spread no longer carries the one-off
    stall — while a genuinely bimodal query stalls again in the extra
    run and stays visible. The discarded seconds are returned (and
    recorded in the artifact's ``stall_remeasured`` map) so nothing is
    silently dropped. Returns ``(final runs, discarded or None)``."""
    best = min(runs)
    if len(runs) < 2 or best <= 0 or max(runs) <= STALL_RATIO * best:
        return runs, None
    extended = runs + [rerun()]
    worst = max(extended)
    extended.remove(worst)
    return extended, worst


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from shifu_spark.queries import QUERIES, STAGES
    from shifu_spark.session import get_spark, local_cpus

    # loud on drift: a renamed R01 query silently dropped from the run
    # would read as a phantom improvement of baseline_comparable_value
    missing = [n for n in R01_HEADLINE if n not in QUERIES]
    if missing:
        raise ValueError(f"bench names not in registry: {missing}")
    headline = list(QUERIES)
    # optional comma-separated subset (e.g. the sf1 scale-proof families)
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        subset = {n for n in only.split(",") if n}
        unknown = sorted(subset - set(QUERIES))
        if unknown:
            # a typo'd subset would otherwise run EMPTY and print a
            # valid-looking JSON line over nothing
            raise ValueError(f"SPARK_GRAFT_BENCH_QUERIES names not in bench: {unknown}")
        headline = [n for n in headline if n in subset]

    spark = get_spark("shifu_spark_bench")
    # Warm JVM classloading / codegen / Arrow paths by running the suite
    # once at the smallest scale factor (different data than the timed
    # runs) — recorded numbers then measure the engine, not first-call
    # JIT noise. Skipped if the warmup dir is the bench dir.
    if os.path.isdir(WARMUP_SF_DIR) and os.path.realpath(WARMUP_SF_DIR) != os.path.realpath(sf_dir):
        for name in headline:
            try:
                QUERIES[name](spark, WARMUP_SF_DIR).count()
            except Exception:
                pass
        spark.catalog.clearCache()

    # pre/post probes alone can't localize box-health swings DURING the
    # run (pre 0.91 vs post 0.61 has been seen — ~50% intra-run drift),
    # so sample the probe mid-suite too (~every quarter of the query
    # list) and normalize each query by its NEAREST bracketing probe
    # pair. probe_samples records (queries completed, probe_s).
    probe_pre = calibration_probe(spark)
    probe_samples: list[dict[str, float]] = [{"after": 0, "s": probe_pre}]
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    stall_remeasured: dict[str, float] = {}  # name -> discarded worst run (s)
    positions: dict[str, int] = {}  # 1-based suite position per query
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    mid_every = max(1, -(-len(headline) // 4))  # ceil: ~3 mid-suite probes
    for qi, name in enumerate(headline, 1):
        fn = QUERIES[name]
        positions[name] = qi
        # min of n_runs (default THREE) full executions: with n=2 a
        # one-off GC/scheduler stall can hit both runs and read as a
        # phantom 2x regression. The min is the engine's actual cost
        # (cache cleared between runs, every run executes the full
        # plan); the per-query spread (max-min)/min is emitted so the
        # reader can see which numbers are jitter-dominated.
        def one_run(fn=fn) -> float:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            # operators may persist() intermediates; drop them so queries
            # don't contend for executor memory with each other's caches
            spark.catalog.clearCache()
            # ... and localCheckpoint blocks (the _materialize_release
            # finalize) are NOT covered by clearCache: they release only
            # when the Python DataFrame is GC'd and the ContextCleaner
            # drops the JVM reference. Left to chance, ~100 queries of
            # checkpoint blocks pile up in executor storage and the next
            # big shuffle pays an eviction storm (a consistent 13-42s
            # first-run spike on semantic_dedup mid-suite that vanishes in
            # isolation). Collect promptly so each query is measured
            # against a clean block manager, not its predecessors'
            # leftovers.
            gc.collect()
            return dt

        runs = [one_run() for _attempt in range(n_runs)]
        runs, discarded = apply_stall_remeasure(runs, one_run)
        if discarded is not None:
            stall_remeasured[name] = round(discarded, 3)
        best = min(runs)
        timings[name] = round(best, 3)
        spreads[name] = round((max(runs) - best) / best, 3) if best > 0 else 0.0
        if qi % mid_every == 0 and qi < len(headline):
            probe_samples.append(
                {"after": qi, "s": calibration_probe(spark, warm=False)}
            )

    probe_post = calibration_probe(spark, warm=False)
    probe_samples.append({"after": len(headline), "s": probe_post})
    # suite-level factor: mean over ALL probe samples (pre + mid + post).
    # factor < 1 = box slower than the pinned reference -> normalized
    # totals shrink accordingly; drift adjudication reads these first.
    probe_mean = sum(p["s"] for p in probe_samples) / len(probe_samples)
    probe_factor = round(PROBE_REF_S / probe_mean, 4)
    # probe_factor was once the pre/post-pair mean, so older BENCH
    # records' normalized fields are not comparable with the all-sample
    # mean. Carry the pair factor alongside so drift adjudication can
    # compare like with like, and name the method in the artifact itself.
    probe_factor_prepost = round(PROBE_REF_S / ((probe_pre + probe_post) / 2.0), 4)

    def nearest_factor(qpos: int) -> float:
        return nearest_probe_factor(probe_samples, qpos)

    probe_fields = {
        "probe_s_pre": probe_pre,
        "probe_s_post": probe_post,
        "probe_samples": probe_samples,
        "probe_ref_s": PROBE_REF_S,
        "probe_factor": probe_factor,
        "probe_factor_method": (
            "mean over pre+mid+post probe samples (since r11); "
            "probe_factor_prepost is the r<=10 pre/post-pair definition "
            "for cross-round comparison"
        ),
        "probe_factor_prepost": probe_factor_prepost,
        # stall re-measure rule: a query whose slowest run exceeded
        # STALL_RATIO x its fastest got ONE extra run; timing is min over
        # all full executions and the single worst (discarded) run is
        # recorded here, so one-off box stalls stop polluting committed
        # spreads while bimodal queries stay visible (they stall again
        # in the extra run)
        "stall_remeasured": stall_remeasured,
        "stall_ratio": STALL_RATIO,
        # box-stall tally: queries where one run took >2x the min
        # (8-16s stalls inside ~2s queries happen on a probe-fast box —
        # a high count says the box, not the code, and warns that even
        # min-of-n may have eaten a stall)
        "stalled_queries": sum(1 for v in spreads.values() if v > 1.0),
    }

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    stages: dict[str, float] = {}
    normalized_stages: dict[str, float] = {}
    for name, sec in timings.items():
        stage = STAGES[name]
        stages[stage] = round(stages.get(stage, 0.0) + sec, 3)
        # per-stage normalization by each query's NEAREST probe pair —
        # robust to intra-run box swings the suite-level factor smears
        normalized_stages[stage] = round(
            normalized_stages.get(stage, 0.0) + sec * nearest_factor(positions[name]),
            3,
        )
    full_payload = {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                # relative run-to-run spread per query ((max-min)/min over
                # the n_runs executions) — large spread = jitter, not code
                "query_spread": spreads,
                "stages": stages,
                # total over the exact query set BENCH_r01 measured —
                # compare THIS to BENCH_r01's value (31.3s); the headline
                # total above grows with the registry
                "baseline_comparable_value": round(
                    sum(sec for name, sec in timings.items() if name in R01_HEADLINE), 3
                ),
                "baseline_comparable_queries": len(
                    [n for n in timings if n in R01_HEADLINE]
                ),
                # train-family queries carry model-fit cost with high
                # run-to-run variance; splitting them keeps the eval/curve
                # signal clean
                "core_value": round(
                    sum(s for n, s in timings.items() if STAGES[n] != "train"), 3
                ),
                "train_value": round(
                    sum(s for n, s in timings.items() if STAGES[n] == "train"), 3
                ),
                # box-health calibration: raw totals above, probe-
                # normalized twins below; adjudicate drift against
                # probe_factor before suspecting the code
                **probe_fields,
                "normalized_value": round(sum(timings.values()) * probe_factor, 3),
                "normalized_stages": normalized_stages,
                "normalized_baseline_comparable_value": round(
                    sum(s for n, s in timings.items() if n in R01_HEADLINE)
                    * probe_factor, 3
                ),
                "sf": sf_val,
    }
    print(json.dumps(full_payload))
    # with ~80 per-query entries the full JSON line outgrows a 2000-char
    # stdout tail, truncating mid-dict and leaving the headline
    # unrecoverable from the artifact. Emit a compact, self-contained metric line LAST so the tail always
    # captures the gate numbers; it is valid on its own (metric/value/
    # unit/sf) if a consumer parses only the final line.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "n_queries": len(timings),
                "baseline_comparable_value": round(
                    sum(sec for name, sec in timings.items() if name in R01_HEADLINE), 3
                ),
                "core_value": round(
                    sum(s for n, s in timings.items() if STAGES[n] != "train"), 3
                ),
                "stages": stages,
                **probe_fields,
                "normalized_value": round(sum(timings.values()) * probe_factor, 3),
                "normalized_stages": normalized_stages,
                "sf": sf_val,
            }
        )
    )
    # a consumer that keeps only the last ~3k chars of stdout loses the
    # full per-query map (the compact final line drops it). Persist the
    # COMPLETE record — queries, query_spread, probe samples — plus the
    # core count to a sidecar JSONL next to this file; keep the last 8
    # records so both the main and the low-cpu scaling run survive and
    # the artifact stays bounded. Both stdout lines above are unchanged
    # (env contract + one-line JSON intact).
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local_last.json"
    )
    record = dict(
        full_payload,
        cpus=int(local_cpus()),
        n_queries=len(timings),
    )
    try:
        lines: list[str] = []
        if os.path.exists(sidecar):
            with open(sidecar) as fh:
                lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        lines = (lines + [json.dumps(record)])[-8:]
        with open(sidecar, "w") as fh:
            fh.write("\n".join(lines) + "\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench


if __name__ == "__main__":
    main()
