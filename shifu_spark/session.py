"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings are what we would ship
on a 1000-executor cluster: AQE on (runtime coalesce + skew handling),
UTC session timezone (for oracle comparability), Arrow enabled for the
few pandas-UDF operators.

PySpark's DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every ``Column`` operation makes about five extra py4j round trips to
record its Python ``file:line`` — a 40-aggregate ``agg`` took two to
three times as long to build — and the driver, not the executors,
bounds a small pipeline pass. The trade: an ANSI runtime error no longer names
the Python line that built the failing expression; its error class
and message are unchanged.

Rows the driver already holds re-enter Spark through Arrow
(:func:`snapshot`, :func:`local_frame`), never ``createDataFrame(rows)``.
That call wraps a pickled Python RDD in a ``LogicalRDD``: every job that
reads it runs Python tasks, and such a job took 0.28–0.32 s over ten rows
even with reused workers (``local[4]``, 4-core box; collecting the frame
took 0.41 s median vs 0.04 s for the same rows as an Arrow table). An
Arrow table becomes a ``LocalRelation`` instead: collecting it runs no
job, a sort over it runs in the JVM only, and the optimizer sees its
real size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def local_cpus() -> str:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on — the local master width and default shuffle partitions."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """Half of physical memory, capped at 32g: the heap must fit the
    machine (a 32g heap on a 15 GB box gets the JVM OOM-killed), and
    48g heaps showed 5-15 s stop-the-world G1 full GCs."""
    mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(32 * 1024, mb // 2)}m"


def get_spark(app_name: str = "shifu_spark", shuffle_partitions: str | int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master`` comes from spark-submit; locally we run
    ``local[N]`` with N from :func:`local_cpus`.
    """
    cpus = local_cpus()
    sp = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", sp)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()))
        # shuffle/cache codec knob for scale A/Bs (guide §2.3): lz4 is
        # Spark's default; zstd trades CPU for shuffle bytes.  Kept
        # env-parameterised with the default UNCHANGED so the driver's
        # bench stays comparable; the sf1 A/B result lives in
        # OPTIMIZATION_r13.md / BENCH_sf1_scaleproof.json.
        .config("spark.io.compression.codec", os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"))
    )
    if not os.environ.get("SPARK_MASTER"):  # pragma: no branch - local default
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def snapshot(df: DataFrame) -> DataFrame:
    """Run ``df`` now and return its rows as a ``LocalRelation`` with the
    identical schema (nullability and field metadata included).

    The rows cross as one Arrow table, so instants stay UTC Arrow
    timestamps whatever the driver's local time zone. ``df`` must be
    summary-sized: a ``LocalRelation`` lives on the driver."""
    return df.sparkSession.createDataFrame(df.toArrow(), df.schema)


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A ``LocalRelation`` over ``rows`` (tuples in ``schema`` field
    order; ``schema`` a DDL string or a ``StructType``).

    Limits: the rows must be summary-sized, because a ``LocalRelation``
    lives on the driver and ships inside every plan that reads it. Naive
    ``datetime`` values are not allowed: Arrow reads one as UTC, while
    ``collect()`` returns instants as naive local times, so under
    ``TZ=America/Los_Angeles`` a collected ``10:30`` (UTC, January) came
    back as ``02:30``. Rows that come from a frame go through
    :func:`snapshot` instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    names = struct.fieldNames()
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows], schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)
