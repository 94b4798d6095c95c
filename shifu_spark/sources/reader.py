"""Sources & sinks.

Reference semantics (SURVEY §1.1, §2.1):
  * native format = row-oriented delimited text, schema from a sidecar
    header file with its own delimiter (RawSourceData.java:53-70); all
    values ingested as STRINGS and parsed lazily per-operator —
    unparseable numeric == missing, never an error
    (core/Normalizer.java:552-571).
  * parquet optionally for normalized output / training input
    (pig/NormalizeWithParquet.pig).
  * sinks: delimited text with header sidecar (pig/ShifuPigStorage.java:33)
    or parquet; gzip compression supported (Normalize.pig:29-34).

Spark-first: `spark.read.csv` with an explicit all-StringType StructType
(no sampling-based inference pass over 100 TB), parquet native. Parquet
scans get predicate pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shifu_spark.session import local_frame

# tokens treated as missing (reference ModelSourceDataConf.java:50)
DEFAULT_MISSING_TOKENS = ["", "?"]


def read_header(
    spark: SparkSession,
    header_path: str,
    header_delimiter: str = "|",
    strip_namespace: bool = True,
) -> list[str]:
    """Parse a sidecar header file into column names.

    Reference: util/CommonUtils.getFinalHeaders; Pig ``.pig_header``
    convention.  ``strip_namespace=True`` (default) collapses
    ``relation::col`` to the leaf name; pass False to keep the full
    namespaced names — purify/jexl then address them by either form via
    NSColumn suffix-matching (column/NSColumn.java, catalog/nscolumn.py).
    """
    first_line = spark.read.text(header_path).limit(1).collect()[0][0]
    cols = [c.strip() for c in first_line.split(header_delimiter)]
    return [c.split("::")[-1] for c in cols] if strip_namespace else cols


def read_dataset(
    spark: SparkSession,
    data_path: str,
    header_path: str | None = None,
    data_delimiter: str = "|",
    header_delimiter: str | None = None,
    columns: list[str] | None = None,
    strip_namespace: bool = True,
) -> DataFrame:
    """Typed ingest of the reference's native delimited-text format.

    All columns are StringType; per-operator casts implement the
    "unparseable = missing" contract. Parquet paths are detected by
    extension and read natively (already typed).

    Malformed rows (wrong field count) are dropped, mirroring
    core/DataPurifier.java:47-130's field-count check: with an explicit
    schema Spark's CSV reader nulls short rows / truncates long ones, so
    we read the raw line, split, and filter on exact field count — the
    whole pipeline stays in JVM expressions (split + size).
    """
    if data_path.endswith(".parquet") or _is_parquet_dir(data_path, spark):
        return spark.read.parquet(data_path)
    if data_path.endswith(".orc") or _is_format_dir(data_path, ".orc", spark):
        return spark.read.orc(data_path)
    if data_path.endswith((".jsonl", ".json")) or _is_format_dir(data_path, ".json", spark):
        # JSONL ingest: sampled schema inference unless the caller pins
        # columns (then everything reads as string, matching the
        # delimited-text all-string contract)
        if columns is not None:
            schema = ", ".join(f"`{c}` string" for c in columns)
            return spark.read.schema(schema).json(data_path)
        return spark.read.json(data_path)

    if columns is None:
        if header_path is None:
            raise ValueError("need header_path or explicit columns for text data")
        columns = read_header(
            spark, header_path, header_delimiter or data_delimiter, strip_namespace
        )

    n = len(columns)
    lines = spark.read.text(data_path)
    parts = F.split(F.col("value"), _regex_escape(data_delimiter), -1)
    df = (
        lines.select(parts.alias("_parts"))
        .filter(F.size("_parts") == n)  # malformed-row drop
        # empty field -> NULL: PigStorage writes both NULL and '' as an
        # empty field and reads the empty field back as null — the
        # documented lossy '' ≡ NULL equivalence of the text format
        .select(
            *[
                F.nullif(F.col("_parts").getItem(i), F.lit("")).alias(columns[i])
                for i in range(n)
            ]
        )
    )
    return df


def write_dataset(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    delimiter: str = "|",
    compression: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Sink: parquet (default, scale path) or delimited text with header.

    Reference: STORE ... PigStorage('-schema') (StatsSpdtI.pig:62) /
    gzip-compressed normalized output (Normalize.pig:29-34).
    """
    writer = df.write.mode(mode)
    if fmt == "parquet":
        if compression:
            writer = writer.option("compression", compression)
        writer.parquet(path)
    elif fmt == "orc":
        # the other columnar lake format Spark carries natively — same
        # typed round trip + predicate-pushdown contract as parquet
        if compression:
            writer = writer.option("compression", compression)
        writer.orc(path)
    elif fmt == "json":
        # JSONL interchange sink (one object per line) — the standard
        # LLM-corpus exchange format; schema round-trips via read with
        # an explicit schema (JSON itself is stringly typed)
        if compression:
            writer = writer.option("compression", compression)
        writer.json(path)
    elif fmt == "csv":
        # emptyValue "": Spark's csv default writes an EMPTY STRING as
        # the literal two characters "" (quoted empty), which round-trips
        # back as the junk token '""'. PigStorage writes both NULL and ''
        # as an empty field — the documented lossy '' ≡ NULL equivalence
        # of the reference text format (both read back as NULL).
        writer = (
            writer.option("sep", delimiter)
            .option("header", "true")
            .option("emptyValue", "")
        )
        if compression:
            writer = writer.option("codec", compression)
        writer.csv(path)
    else:
        raise ValueError(f"unsupported sink format: {fmt}")


def safe_double(col, missing_tokens: list[str] | None = None):
    """Cast a string column to double with reference missing semantics.

    Missing tokens, unparseable strings, NaN and +/-Infinity all become
    NULL (reference Normalizer.java:552-571 parses lazily; NaN/Inf ->
    missing :566-571). try_cast keeps this entirely JVM-side.
    """
    tokens = missing_tokens if missing_tokens is not None else DEFAULT_MISSING_TOKENS
    # trim BEFORE token matching: a padded sentinel like " -999" must
    # match missing_tokens=["-999"], not slip through isin and be
    # ingested as the numeric -999.0 (the old code built F.trim then
    # immediately overwrote it, so nothing was ever trimmed)
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    d = c.try_cast(T.DoubleType())
    return F.when(c.isin(tokens) | F.isnan(F.coalesce(d, F.lit(0.0))) | (F.abs(F.coalesce(d, F.lit(0.0))) == float("inf")), F.lit(None).cast("double")).otherwise(d)


def _is_parquet_dir(path: str, spark=None) -> bool:
    return _is_format_dir(path, ".parquet", spark)


_URI_SCHEME = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def _is_format_dir(path: str, ext: str, spark=None) -> bool:
    """Directory whose files carry ``ext`` — on the LOCAL filesystem via
    os.listdir, on a scheme'd URI (hdfs://, s3a://, ...) via the Hadoop
    FileSystem API. Driver-local os.path alone cannot see remote
    stores, so a remote parquet directory would silently fall through
    to the delimited-text reader and be parsed as '|'-separated rows."""
    if _URI_SCHEME.match(path) and not path.startswith("file://"):
        if spark is None:
            return False
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.isDirectory(hpath):
                return False
            return any(
                st.getPath().getName().endswith(ext) for st in fs.listStatus(hpath)
            )
        except Exception as e:
            # a FAILED probe (auth/network error) must not quietly route
            # a remote parquet directory into the delimited-text reader —
            # that parses binary as '|'-rows and the field-count filter
            # silently drops nearly everything
            raise ValueError(
                f"cannot probe remote path {path!r} for format detection: {e}"
            ) from e
    try:
        return os.path.isdir(path) and any(f.endswith(ext) for f in os.listdir(path))
    except OSError:
        return False


def _regex_escape(delim: str) -> str:
    import re

    return re.escape(delim)


def write_header_sidecar(df: DataFrame, path: str, delimiter: str = "|") -> None:
    """Write the ``.pig_header`` sidecar next to a text sink
    (pig/ShifuPigStorage.java:33 writes schema as a one-line header file)."""
    header = delimiter.join(df.columns)
    local_frame(df.sparkSession, [(header,)], "value string").coalesce(1).write.mode(
        "overwrite"
    ).text(path.rstrip("/") + ".pig_header")
