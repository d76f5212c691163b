"""Parquet table sources over the driver testdata layout.

The reference's raw zone is MongoDB streamed to chunked Parquet with a
frozen first-chunk "master schema" (``6.dps/export_to_GCS.py:107-209``).
Our canonical at-rest format is Parquet read natively by Spark — the
schema is the writer's embedded schema, applied once, so the per-chunk
unification dance disappears (SURVEY.md §2.1 S7).

Column pruning + predicate pushdown reach the scan automatically because
every operator in this package is expressed declaratively; a
``ReadSchema`` with only referenced columns and non-empty
``PushedFilters`` in ``.explain("formatted")`` is the acceptance bar.
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from glamira_end_to_end_data_pipeline_spark.session import ensure_runtime_confs

# The ten driver tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips: ``.*`` and ``_*`` (a ``_k=v``
    partition directory excepted)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _sample_file(path: str) -> str | None:
    """``path`` itself when it is a file, else the first data file under
    it in sorted order, skipping what Spark's listing skips; None when
    there is none (the read then fails with Spark's own error)."""
    if not os.path.isdir(path):
        return path if os.path.exists(path) else None
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                return os.path.join(root, f)
    return None


def parquet_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark infers for the Parquet file at ``path``, read on
    the driver: the footer through Hadoop, converted by Spark's own
    ``ParquetFileFormat.readSchemaFromFooter`` with a converter built from
    the session conf (binary-as-string, INT96, TIMESTAMP_NTZ and
    nanos-as-long settings), made nullable as every file source is.

    Inference does the same work inside a one-task Spark job; a read
    handed this schema runs no job. None when the footer cannot be read,
    so the read falls back to inference and raises Spark's own error."""
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    try:
        metadata = parquet.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jpath, spark._jsc.hadoopConfiguration()
            ),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
    except Py4JJavaError:
        return None
    converter = parquet.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(jpath, metadata), converter
    )
    return T.StructType.fromJson(json.loads(schema.asNullable().json()))


def read_parquet(
    spark: SparkSession,
    paths: list[str],
    sample: str | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema taken from
    ``sample``'s footer (default ``paths[0]``, the file inference opens
    for a list of files) by :func:`parquet_schema`, so the read runs no
    inference job. A merge of every file's schema is only Spark's to
    make: ``merge_schema=True`` or a session with
    ``spark.sql.parquet.mergeSchema=true`` keeps its inference."""
    reader = spark.read
    if merge_schema:
        return reader.option("mergeSchema", "true").parquet(*paths)
    sample = sample or (paths[0] if paths else None)
    merging = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    if sample is None or merging.lower() == "true":
        return reader.parquet(*paths)
    schema = parquet_schema(spark, sample)
    return (reader if schema is None else reader.schema(schema)).parquet(*paths)


# path -> frozenset of column names stored as Parquet TIMESTAMP(NANOS).
# Footer-sniffed once per path (driver-side, metadata only — no data read).
_NANOS_COLS_CACHE: dict[str, frozenset[str]] = {}


def _nanos_columns(path: str) -> frozenset[str]:
    """Column names whose Parquet logical type is TIMESTAMP(NANOS).

    Detected from the Parquet footer of one representative file (all
    files under a dataset path share a writer schema in our layouts), so
    the ns→ts repair keys on the file's actual physical type rather than
    a hardcoded table/column heuristic."""
    cached = _NANOS_COLS_CACHE.get(path)
    if cached is not None:
        return cached
    cols: frozenset[str] = frozenset()
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        schema = pq.read_schema(_sample_file(path))
        cols = frozenset(
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        )
    except Exception:
        pass  # unreadable footer → no repair; Spark raises its own error
    _NANOS_COLS_CACHE[path] = cols
    return cols


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Accepts both ``<dir>/<name>.parquet``
    single-file layout and ``<dir>/<name>/`` directory layout so the same
    call works against driver testdata and our own partitioned outputs.

    Works under ANY SparkSession (the driver harness builds its own):
    dynamic semantic confs — notably
    ``spark.sql.legacy.parquet.nanosAsLong``, without which Spark 4
    refuses Parquet TIMESTAMP(NANOS) columns outright — are asserted
    here, at the source boundary, not only in our session factory. The
    schema comes from one data file's footer (:func:`read_parquet`)."""
    ensure_runtime_confs(spark)
    file_path = os.path.join(sf_dir, f"{name}.parquet")
    dir_path = os.path.join(sf_dir, name)
    path = file_path if os.path.exists(file_path) else dir_path
    df = read_parquet(spark, [path], sample=_sample_file(path))
    # Parquet TIMESTAMP(NANOS) columns arrive as nanosecond longs
    # (spark.sql.legacy.parquet.nanosAsLong); convert to microsecond
    # timestamps — same truncation DuckDB/pyarrow apply on read. The
    # column set comes from the Parquet footer, so any ns column in any
    # table is repaired, not just events.ts.
    nanos_cols = _nanos_columns(path)
    for field in df.schema.fields:
        if field.name in nanos_cols and isinstance(field.dataType, T.LongType):
            # `div` is integer division — ns longs exceed double's 2^53
            # mantissa, so float division would corrupt timestamps.
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Parquet timestamp[us] with isAdjustedToUTC=false surfaces
            # as TIMESTAMP_NTZ. The engine's canonical timestamp type is
            # session-local TIMESTAMP (session tz pinned to UTC, so the
            # cast is value-identical) — keeps epoch casts/arithmetic
            # uniform no matter which physical flavor a writer produced.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (the engine's
    'warehouse'; mirrors dbt sources → BigQuery tables)."""
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
