"""Driver-built DataFrames.

Hybrid operators finish small problems on the driver (union-find labels,
Tarjan components, BFS distances) and hand the result back as a frame;
metadata paths build small lookup frames (a BPE merge table, quantile
specs, a lake's file eras). ``spark.createDataFrame(<python list>)``
makes each of those a ``LogicalRDD``: a pickled RDD that every scan runs
through PySpark workers, that carries no size statistics (so joins
against it need a broadcast hint to avoid shuffling the other side) and
that costs a Spark job to broadcast. :func:`local_frame` builds the same
rows as a ``LocalRelation`` instead.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a ``LocalRelation``.

    The rows go to the JVM as one Arrow table typed by ``schema``. Spark
    turns an Arrow table into a ``LocalRelation`` whether or not the
    session enables Arrow for pandas, and for zero rows too (a pandas
    frame falls back to a pickled ``LogicalRDD`` in both cases). The
    relation carries size statistics, scans without Python workers and
    broadcasts without a Spark job. Values and types are those of
    ``spark.createDataFrame(list(rows), schema)``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
