"""Benchmark entry point.

    python3 perfbench/run.py --workload <wide_text|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  The run environment
is derived from the machine, the same way on every commit:
``SPARK_GRAFT_CPUS`` is the number of usable cores, the driver heap is an
eighth of ``MemTotal`` (1 to 4 GB, fixed size), and Spark's local
dirs, the JVM's and Python's temp dirs and the working files all live
under ``.perfbench_work/`` in the checkout.  ``PYTHONPATH`` names the
checkout so that Spark's Python workers import the same package.

The run itself happens in a child process (``worker.py``) in its own
session; this process enforces the time limit, stops every process the
run started, and prints the result object as the last line of stdout.
Human-readable metric lines come before it.  Exits non-zero without a
result when the checkout holds no ``shifu_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wide_text", "query_mix")
#: the worker is killed after this long; the contract allows 180 s
TIME_LIMIT_S = 170


def driver_memory() -> str:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kb // 1024 // 8))}m"


def run_env(work: str) -> dict:
    tmp = f"{work}/tmp"
    for d in (tmp, f"{work}/spark-local"):
        os.makedirs(d, exist_ok=True)
    heap = driver_memory()
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_MASTER", "PYSPARK_SUBMIT_ARGS")}
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": tmp,
        # -Xms = -Xmx: with a growable heap, peak RSS depends on when G1
        # decides to grow it and moved 1.7-2.6 GB between runs of one input
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Xms{heap} -Djava.io.tmpdir={tmp}' pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
    })
    return env


def session_pids(sid: int) -> list[int]:
    """Processes still alive in session ``sid``."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":  # field 6: session id
            pids.append(int(p))
    return pids


def reap_session(sid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the run's session to end; kill stragglers."""
    deadline = time.monotonic() + grace_s
    while (pids := session_pids(sid)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in session_pids(sid):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="shifu_spark pipeline and registry benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "shifu_spark", "__init__.py")):
        print(f"no shifu_spark package under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    result_path = f"{work}/result.json"
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--result", result_path]
    env = run_env(work)
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIME_LIMIT_S} s; killed", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        code = proc.wait()
    finally:
        reap_session(proc.pid)

    result = None
    if os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    spans = f"{work}/spans.jsonl"
    if os.path.exists(spans):
        os.makedirs(f"{base}/traces", exist_ok=True)
        shutil.copy(spans, f"{base}/traces/{a.workload}-seed{a.seed}-trace{a.trace}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"worker exited with code {code} and no result", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
