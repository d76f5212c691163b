"""SparkSession factory.

Semantics pinned to match the reference (SURVEY.md §1.2):

- ``spark.sql.ansi.enabled=false`` — the reference relies on BigQuery
  ``SAFE_CAST`` (NULL on failure, ``stg_summary.sql:10-12``) and
  ``SAFE.PARSE_DATE`` (``stg_summary_date_range.sql:13-14``); non-ANSI
  mode gives every cast/parse those semantics engine-wide.
- session timezone UTC — the reference mixes ``TIMESTAMP_SECONDS``
  (UTC) and ``datetime.utcnow()`` (``ip_processor.py:171``).
- AQE on: runtime shuffle-partition coalescing + skew-join splitting are
  the scale story for the 7-column session-context join (SURVEY.md §4).

At 100 TB the same settings hold; only cluster-level sizing
(``spark.sql.shuffle.partitions`` baseline, executor memory) changes, and
AQE re-plans partition counts at runtime anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Runtime-settable SQL confs the engine's semantics depend on. The driver
# harness passes its OWN SparkSession into entry()/queries() (it does not
# use get_spark()), so anything semantic must be settable after the fact:
# these are all dynamic SQL confs, applied idempotently via
# ensure_runtime_confs() at every read_table()/registry-query entry point.
# Round-1 post-mortem: nanosAsLong lived only in this factory, so every
# events read under the driver's bare session threw PARQUET_TYPE_ILLEGAL.
_RUNTIME_CONFS = {
    # events.ts is Parquet TIMESTAMP(NANOS) — unreadable by Spark 4
    # without this; the source layer converts the long back to a ts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # BigQuery SAFE_CAST / SAFE.PARSE_DATE semantics (NULL on failure).
    "spark.sql.ansi.enabled": "false",
    # Reference mixes TIMESTAMP_SECONDS (UTC) and datetime.utcnow().
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the semantic confs to ANY session (ours or the driver's).

    Idempotent and cheap; best-effort so a host session with a locked
    conf degrades to that single conf's default instead of erroring.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            pass


def get_spark(
    app_name: str = "glamira_end_to_end_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master``/``shuffle_partitions`` default from the environment so the
    same code runs on local[32] in tests and on a real cluster unchanged:
    on a cluster, leave ``master`` to spark-submit and size shuffle
    partitions ≈ 2-3× total cores (AQE coalesces down).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Wide codegen (16-way md5 aggregates, 32-bit simhash sums) can
        # fill the default 240m JIT code cache, silently de-optimizing
        # every later query to interpreted mode (observed 40x slowdowns).
        # 2g is the JVM maximum; segmenting keeps profiled/non-profiled
        # nmethods from evicting each other under flushing pressure —
        # measured on the 65-query bench session: 177 s -> 131 s total,
        # with the tail queries (the ones a saturated cache de-optimizes)
        # recovering 5-13x (p1 5.3->0.7 s, mm_extract 12.7->0.95 s).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JVM_OPTS",
                "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing "
                "-XX:+SegmentedCodeCache",
            ),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark keeps 100 generated classes by default. One curation pass
        # plus its IVF lookup (text_pretraining_pipeline + ivf_topk) uses
        # more distinct classes than that, so the LRU cache evicted each
        # class before its next use: on the curate_corpus benchmark
        # (4 vCPUs) every warm operation recompiled 55 classes with Janino
        # and the JIT compiled them again. At 1000 a warm pass compiles
        # none (the lookup's 3 come from its new isin() literals). Static
        # conf: it applies only in a fresh JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable in
        # Spark 4 — read as long and convert in the source layer.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose builder
    # configs were ignored — re-assert the dynamic semantic confs.
    ensure_runtime_confs(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
