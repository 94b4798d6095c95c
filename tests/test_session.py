"""Driver rows re-enter Spark only as Arrow ``LocalRelation``s
(``session.snapshot`` / ``session.local_frame``)."""

import ast
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "shifu_spark")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _jobs_while(spark, fn):
    """Spark job ids started while ``fn()`` runs."""
    sc = spark.sparkContext
    group = "test_session:count"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("test_session:idle", "idle")
    return out, sc.statusTracker().getJobIdsForGroup(group)


class _CreateDataFrameCalls(ast.NodeVisitor):
    """(innermost enclosing function, line) of every ``.createDataFrame(`` call."""

    def __init__(self):
        self.scope, self.hits = ["<module>"], []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.hits.append((self.scope[-1], node.lineno))
        self.generic_visit(node)


def test_no_create_dataframe_outside_the_helpers():
    """Every driver-rows -> DataFrame site goes through ``snapshot`` or
    ``local_frame``; a bare ``createDataFrame(rows)`` builds a Python-RDD
    ``LogicalRDD`` whose every job starts Python workers."""
    found = set()
    for root, _, files in os.walk(PKG):
        for f in (f for f in files if f.endswith(".py")):
            path = os.path.join(root, f)
            calls = _CreateDataFrameCalls()
            calls.visit(ast.parse(open(path).read(), path))
            found |= {(os.path.relpath(path, REPO), fn, line) for fn, line in calls.hits}
    stray = {h for h in found if h[:2] not in {
        ("shifu_spark/session.py", "snapshot"), ("shifu_spark/session.py", "local_frame"),
    }}
    assert not stray, sorted(stray)
    assert len(found) == 2


def test_local_frame_is_jobless_local_relation(spark):
    from shifu_spark.session import local_frame

    rows = [(1, 2.5, [1.0, None], "ü", True), (2, None, None, None, False)]
    df = local_frame(spark, rows, "a int, b double, c array<double>, d string, e boolean")
    assert _plan(df).startswith("LocalRelation")
    got, jobs = _jobs_while(spark, df.collect)
    assert jobs == []
    assert [tuple(r) for r in got] == rows


def test_local_frame_empty_keeps_schema(spark):
    from pyspark.sql.types import DataType

    from shifu_spark.session import local_frame

    ddl = "doc_id bigint, group_id bigint, tags array<string>"
    df = local_frame(spark, [], ddl)
    assert df.schema == DataType.fromDDL(ddl)
    assert df.collect() == []


def test_snapshot_is_jobless_local_relation_with_same_schema(spark):
    from pyspark.sql import functions as F

    from shifu_spark.session import snapshot

    src = spark.range(5).select(
        F.col("id"),
        (F.col("id") / 2).alias("half"),
        F.window(F.timestamp_seconds(F.col("id") * 3600), "2 hours").alias("w"),
    )
    snap = snapshot(src)
    assert _plan(snap).startswith("LocalRelation")
    assert snap.schema.jsonValue() == src.schema.jsonValue()
    got, jobs = _jobs_while(spark, snap.collect)
    assert jobs == []
    assert got == src.collect()


def test_range_count_sizes_a_local_frame_without_cache(spark):
    from shifu_spark.operators.eval_metrics import _range_count
    from shifu_spark.session import local_frame

    pts = local_frame(
        spark,
        [(i / 600, i % 2, 1, 0) for i in range(600)],
        "score double, y int, pos long, neg long",
    )
    assert _range_count(pts) == 1


_TZ_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from shifu_spark.session import get_spark, snapshot

spark = get_spark("tz_snapshot")
src = spark.sql("SELECT timestamp'2024-01-01 10:30:00' AS ts, 1 AS v").withColumn(
    "w", F.window("ts", "1 hour")
)

def utc(df):
    fmt = "yyyy-MM-dd HH:mm:ss"
    return [
        [r[0], r[1], r[2]]
        for r in df.select(
            F.date_format("ts", fmt), F.date_format("w.start", fmt), F.date_format("w.end", fmt)
        ).collect()
    ]

rows = [r.asDict(recursive=True) for r in src.collect()]
pylist = spark.createDataFrame(
    pa.Table.from_pylist(rows, schema=to_arrow_schema(src.schema)), src.schema
)
print(json.dumps({"src": utc(src), "snapshot": utc(snapshot(src)), "pylist": utc(pylist)}))
spark.stop()
"""


def test_snapshot_keeps_instants_under_a_non_utc_driver_zone(tmp_path):
    """``collect()`` hands instants back as naive local times, and Arrow
    reads a naive ``datetime`` as UTC: the collect -> ``from_pylist``
    route shifts every timestamp by the driver's offset. ``snapshot``
    moves them as UTC Arrow timestamps and must not."""
    script = tmp_path / "tz_snapshot.py"
    script.write_text(_TZ_SCRIPT)
    env = dict(os.environ, TZ="America/Los_Angeles", SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        env=env, capture_output=True, text=True, timeout=300,
    )
    if proc.returncode != 0:
        pytest.fail(proc.stderr[-2000:])
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["src"] == [["2024-01-01 10:30:00", "2024-01-01 10:00:00", "2024-01-01 11:00:00"]]
    assert out["snapshot"] == out["src"]
    # canary: the subprocess really ran off UTC, so the check above bites
    assert out["pylist"] != out["src"]
