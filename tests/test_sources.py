"""Source-layer tests: the reader must work under ANY SparkSession.

Round-1 regression: ``spark.sql.legacy.parquet.nanosAsLong`` lived only
in the repo's own session factory, so the driver harness's bare session
threw PARQUET_TYPE_ILLEGAL on every events read (18/45 oracle entries).
``read_table`` now asserts the dynamic semantic confs itself.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from glamira_end_to_end_data_pipeline_spark.sources import lake

from glamira_end_to_end_data_pipeline_spark.session import ensure_runtime_confs
from glamira_end_to_end_data_pipeline_spark.sources import read_table
from glamira_end_to_end_data_pipeline_spark.sources.tables import (
    TABLES,
    _nanos_columns,
    parquet_schema,
)

SF = "/root/testdata/sf0.001"


def test_read_events_under_hostile_conf(spark):
    """Simulate the driver's session state: conf absent/false before read."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = read_table(spark, SF, "events")
        # ts arrives as a proper timestamp despite the hostile conf state
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.limit(5).count() == 5
        # and the confs were repaired for everything downstream
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    finally:
        ensure_runtime_confs(spark)


def test_nanos_detection_is_footer_driven(tmp_path):
    """ns columns come from the Parquet footer, not a name heuristic.
    (The driver testdata switched events.ts from TIMESTAMP(NANOS) to
    timestamp[us] in round 3, so a synthetic nanos file exercises the
    detection path.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos_file = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([1, 2, 3], pa.timestamp("ns")),
                "us": pa.array([1, 2, 3], pa.timestamp("us")),
                "x": pa.array([1, 2, 3], pa.int64()),
            }
        ),
        nanos_file,
        use_deprecated_int96_timestamps=False,
        coerce_timestamps=None,
    )
    assert _nanos_columns(nanos_file) == frozenset({"ts"})
    # current driver testdata is micros — nothing flagged
    assert _nanos_columns(f"{SF}/events.parquet") == frozenset()
    assert _nanos_columns(f"{SF}/customer.parquet") == frozenset()


def test_non_nanos_tables_unaffected(spark):
    df = read_table(spark, SF, "orders")
    # o_orderdate keeps its native type; no spurious repair applied
    assert not any(
        isinstance(f.dataType, T.TimestampType) and f.name.startswith("o_order")
        for f in df.schema.fields
    ) or df.limit(1).count() == 1


def test_mongo_reader_options_shape():
    from glamira_end_to_end_data_pipeline_spark.sources.mongo import (
        mongo_reader_options,
    )

    opts = mongo_reader_options(
        "mongodb://db.example.com:27017",
        "glamira",
        "summary",
        pipeline='[{"$match": {"event_type": "view"}}]',
    )
    assert opts["connection.uri"].startswith("mongodb://")
    assert opts["database"] == "glamira"
    assert opts["collection"] == "summary"
    assert "aggregation.pipeline" in opts  # predicate pushdown hook
    assert "SamplePartitioner" in opts["partitioner"]
    # Pin the EXACT key set against the official mongo-spark-connector
    # v10.x documented option names (docs.mongodb.com/spark-connector,
    # "Read Configuration Options"): the hook must not silently drift to
    # a name the connector ignores — S1 would then "work" with default
    # options and a wrong collection the first time a real mongod shows
    # up. v10 renamed v3's `spark.mongodb.input.uri` style to bare
    # `connection.uri`/`database`/`collection` under the read prefix,
    # which is what format("mongodb").option(...) expects.
    assert set(opts) == {
        "connection.uri",
        "database",
        "collection",
        "aggregation.pipeline",
        "partitioner",
        "outputExtendedJson",
    }
    assert opts["partitioner"] == (
        "com.mongodb.spark.sql.connector.read.partitioner.SamplePartitioner"
    )


def test_mongo_live_round_trip_when_uri_configured(spark):
    """Env-gated S1 smoke (VERDICT r5 task 6): exercised only when the
    sandbox exposes a mongod via SPARK_GRAFT_MONGO_URI (never in CI
    here — the container ships no connector jar and no mongod); until
    then the option-name pin above is the guard."""
    import os

    import pytest

    uri = os.environ.get("SPARK_GRAFT_MONGO_URI")
    if not uri:
        pytest.skip("no SPARK_GRAFT_MONGO_URI configured in this sandbox")
    from glamira_end_to_end_data_pipeline_spark.sources.mongo import read_mongo

    # Contract: point the URI at a database whose `smoke` collection
    # holds ≥1 document with a `probe` field — the read must surface
    # actual rows AND the expected field, so a silently-wrong
    # database/collection option (the drift the key-set pin guards
    # against) fails here instead of passing vacuously.
    df = read_mongo(
        spark, uri, os.environ.get("SPARK_GRAFT_MONGO_DB", "test"), "smoke"
    )
    rows = df.limit(5).collect()
    assert len(rows) >= 1, "smoke collection is empty or options misrouted"
    assert "probe" in df.columns


def test_mongo_read_raises_actionable_error_without_connector(spark):
    from glamira_end_to_end_data_pipeline_spark.sources.mongo import read_mongo

    try:
        read_mongo(spark, "mongodb://localhost:27017", "db", "coll")
        raise AssertionError("expected RuntimeError")
    except RuntimeError as exc:
        assert "--packages" in str(exc) and "read_table" in str(exc)


def test_collection_or_lake_falls_back_to_parquet(spark):
    from glamira_end_to_end_data_pipeline_spark.sources.mongo import (
        read_collection_or_lake,
    )

    df = read_collection_or_lake(spark, SF, "events")
    assert df.limit(3).count() == 3


def test_csv_round_trip_survives_quoting_edge_cases(spark, tmp_path):
    """CSV escaping: delimiters, quotes, and embedded newlines must
    round-trip byte-exact — embedded newlines additionally require the
    multiLine read option (single-line mode would shred the record)."""
    rows = [
        (1, "plain"),
        (2, "comma, inside"),
        (3, 'quote "x" inside'),
        (4, "new\nline"),
        (5, "unicode ✓ déjà"),
        (6, None),
    ]
    path = str(tmp_path / "csv_edge")
    df = spark.createDataFrame(rows, "id long, s string")
    df.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.schema("id long, s string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(path)
    )
    assert sorted((r.id, r.s) for r in back.collect()) == sorted(rows)


def test_snapshot_time_travel_isolation(spark, tmp_path):
    path = str(tmp_path / "snap")
    df1 = spark.range(0, 10).withColumn("batch", F.lit(1))
    df2 = spark.range(10, 15).withColumn("batch", F.lit(2))
    assert lake.write_snapshot(spark, df1, path) == 1
    assert lake.write_snapshot(spark, df2, path) == 2
    # v1 must not see the later append.
    assert lake.read_snapshot(spark, path, 1).count() == 10
    # Latest sees both batches.
    assert lake.read_snapshot(spark, path).count() == 15
    assert lake.latest_snapshot_version(spark, path) == 2


def test_snapshot_incremental_reads_only_the_delta(spark, tmp_path):
    path = str(tmp_path / "snap")
    lake.write_snapshot(spark, spark.range(0, 10), path)
    lake.write_snapshot(spark, spark.range(100, 103), path)
    delta = lake.read_incremental(spark, path, 1, 2)
    assert sorted(r["id"] for r in delta.collect()) == [100, 101, 102]
    # from_version=0 → everything up to v2.
    assert lake.read_incremental(spark, path, 0, 2).count() == 13


def test_snapshot_missing_version_raises(spark, tmp_path):
    path = str(tmp_path / "snap")
    lake.write_snapshot(spark, spark.range(3), path)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        lake.read_snapshot(spark, path, 7)


def test_gc_removes_only_unreferenced_files(spark, tmp_path):
    path = str(tmp_path / "snap")
    lake.write_snapshot(spark, spark.range(0, 10), path)
    lake.write_snapshot(spark, spark.range(10, 15), path)
    # crashed commit: data files, no manifest
    spark.range(100, 104).repartition(2).write.parquet(path + "/data/v3")
    assert lake.gc_orphan_files(spark, path) == 2
    # every committed snapshot still fully readable
    assert lake.read_snapshot(spark, path, 1).count() == 10
    assert lake.read_snapshot(spark, path, 2).count() == 15
    # idempotent: nothing left to sweep
    assert lake.gc_orphan_files(spark, path) == 0


def test_gc_sweeps_crashed_commit_directory_whole(spark, tmp_path):
    path = str(tmp_path / "snap")
    lake.write_snapshot(spark, spark.range(5), path)
    spark.range(3).repartition(1).write.parquet(path + "/data/v9")
    assert lake.gc_orphan_files(spark, path) == 1
    fs, vdir = lake._hadoop_fs(spark, path + "/data/v9")
    # the whole crashed dir is gone — no _SUCCESS/.crc debris left
    assert not fs.exists(vdir)
    assert lake.read_snapshot(spark, path, 1).count() == 5


def test_compact_snapshot_is_a_commit(spark, tmp_path):
    path = str(tmp_path / "snap")
    lake.write_snapshot(spark, spark.range(20).repartition(8), path)
    lake.write_snapshot(spark, spark.range(20, 30).repartition(4), path)
    v, n = lake.compact_snapshot(spark, path, n_files=2)
    assert (v, n) == (3, 2)
    # same rows through the compacted manifest
    assert sorted(r["id"] for r in lake.read_snapshot(spark, path).collect()) == list(range(30))
    # prior versions untouched and still readable
    assert lake.read_snapshot(spark, path, 1).count() == 20
    assert lake.read_snapshot(spark, path, 2).count() == 30
    # the compacted manifest references only v3 files
    assert all("/v3/" in f for f in lake._read_manifest(spark, path, 3))
    # old files still referenced by v1/v2 manifests -> GC must keep them
    assert lake.gc_orphan_files(spark, path) == 0


def test_incremental_read_skips_compaction_rewrites(spark, tmp_path):
    # append v1, append v2, compact v3 (rewrite), append v4: an
    # incremental scan across the compaction must deliver ONLY the
    # appended rows (v2 + v4). A raw to-vs-from file diff would misread
    # v3's all-new files as appends and double-deliver the whole table.
    path = str(tmp_path / "snap")
    lake.write_snapshot(spark, spark.range(0, 10), path)
    lake.write_snapshot(spark, spark.range(100, 103), path)
    lake.compact_snapshot(spark, path, n_files=1)
    lake.write_snapshot(spark, spark.range(200, 202), path)
    got = sorted(r["id"] for r in lake.read_incremental(spark, path, 1, 4).collect())
    assert got == [100, 101, 102, 200, 201]
    # a range that is exactly the rewrite: zero rows, schema preserved
    rw = lake.read_incremental(spark, path, 2, 3)
    assert rw.count() == 0 and rw.columns == ["id"]
    # append after the rewrite diffs against the rewritten file set
    assert sorted(
        r["id"] for r in lake.read_incremental(spark, path, 3, 4).collect()
    ) == [200, 201]
    # manifests record the operation (Iceberg's snapshot operation field)
    assert lake._read_manifest_doc(spark, path, 3)["operation"] == "rewrite"
    assert lake._read_manifest_doc(spark, path, 4)["operation"] == "append"


def test_stats_pruned_read_skips_files_and_matches_full_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "zonemap")
    # 4 value-banded files: [0,100), [100,200), [200,300), [300,400)
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    )
    banded = df.repartition(4, F.floor(F.col("id") / 100))
    lake.write_snapshot(spark, banded, path, stats_cols=["id"])
    out, n_read, n_total = lake.read_snapshot_pruned(spark, path, "id", 120, 180)
    # 4 hash buckets can collide into fewer files; ≥3 distinct ranges
    assert n_total >= 3
    assert n_read < n_total, "stats pruning opened every file"
    got = sorted(r["id"] for r in out.collect())
    assert got == list(range(120, 181))
    # a predicate outside every file range reads zero files, zero rows
    empty, n0, _ = lake.read_snapshot_pruned(spark, path, "id", 5000, 6000)
    assert n0 == 0 and empty.count() == 0
    # appends carry old stats forward and stat the new files
    lake.write_snapshot(
        spark, spark.range(1000, 1100).select(F.col("id"), F.lit(0).alias("grp")),
        path, stats_cols=["id"],
    )
    out2, n_read2, n_total2 = lake.read_snapshot_pruned(spark, path, "id", 1000, 1050)
    assert out2.count() == 51 and n_read2 < n_total2


def test_stats_pruning_survives_compaction_and_nan(spark, tmp_path):
    import math

    from pyspark.sql import functions as F

    path = str(tmp_path / "zm2")
    df = spark.range(0, 300).select(F.col("id"), F.col("id").cast("double").alias("x"))
    lake.write_snapshot(
        spark, df.repartition(3, F.floor(F.col("id") / 100)), path,
        stats_cols=["id"],
    )
    # compaction re-stats the rewritten files over the tracked columns
    lake.compact_snapshot(spark, path, n_files=2)
    doc = lake._read_manifest_doc(spark, path, 2)
    assert doc.get("stats"), "rewrite manifest wiped the column metrics"
    assert all("id" in st for st in doc["stats"].values())
    out, n_read, n_total = lake.read_snapshot_pruned(spark, path, "id", 0, 10)
    assert out.count() == 11
    # NaN stats must never prune: a file whose double max is NaN is read
    nan_df = spark.createDataFrame(
        [(1000, float("nan")), (1001, 250.0)], "id long, x double"
    ).coalesce(1)
    lake.write_snapshot(spark, nan_df, path, stats_cols=["x"])
    pruned, n_r, n_t = lake.read_snapshot_pruned(spark, path, "x", 200.0, 300.0)
    vals = [r["x"] for r in pruned.collect()]
    assert 250.0 in vals, "NaN-stat file was wrongly pruned"
    # string probes compare lexicographically, matching the residual
    sdf = spark.createDataFrame([("30",), ("9",)], ["s"]).coalesce(1)
    spath = str(tmp_path / "zm3")
    lake.write_snapshot(spark, sdf, spath, stats_cols=["s"])
    got, _, _ = lake.read_snapshot_pruned(spark, spath, "s", "2", "5")
    assert [r["s"] for r in got.collect()] == ["30"]


def test_rollback_is_a_commit_preserving_history(spark, tmp_path):
    path = str(tmp_path / "rb")
    lake.write_snapshot(spark, spark.range(0, 10), path, stats_cols=["id"])
    lake.write_snapshot(spark, spark.range(100, 120), path, stats_cols=["id"])
    v3 = lake.rollback_snapshot(spark, path, 1)
    assert v3 == 3
    # head is back to v1's contents; the bad batch stays inspectable
    assert sorted(r["id"] for r in lake.read_snapshot(spark, path).collect()) == list(range(10))
    assert lake.read_snapshot(spark, path, 2).count() == 30
    # stats survive the rollback copy
    assert lake._read_manifest_doc(spark, path, 3).get("stats")
    # CDC across the rollback delivers nothing (no new rows exist)
    assert lake.read_incremental(spark, path, 2, 3).count() == 0
    # an append after rollback diffs against the rolled-back file set
    lake.write_snapshot(spark, spark.range(500, 505), path)
    assert sorted(
        r["id"] for r in lake.read_incremental(spark, path, 3, 4).collect()
    ) == list(range(500, 505))


def test_incremental_composes_across_rollbacks(spark, tmp_path):
    # v1 {A}, v2 {A,B}, v3 rollback->1, v4 rollback->2 (roll-forward).
    # Contract: delta(v0,v2) = delta(v0,v1) ⊎ delta(v1,v2) — an
    # incremental consumer holds B since v2 (removals are not
    # representable in an append-only stream), so NEITHER rollback may
    # re-deliver it.
    path = str(tmp_path / "rf")
    lake.write_snapshot(spark, spark.range(0, 5), path)
    lake.write_snapshot(spark, spark.range(100, 103), path)
    lake.rollback_snapshot(spark, path, 1)
    lake.rollback_snapshot(spark, path, 2)
    # consumer synced at v3 already received B at v2: roll-forward
    # reinstates only already-delivered files (delta empty)
    assert lake.read_incremental(spark, path, 3, 4).count() == 0
    # exactly-once across the whole range: B arrives once
    full = sorted(r["id"] for r in lake.read_incremental(spark, path, 1, 4).collect())
    assert full == [100, 101, 102]
    # compositionality: (1,4] == (1,2] ⊎ (2,3] ⊎ (3,4]
    chunks = [
        sorted(r["id"] for r in lake.read_incremental(spark, path, v, v + 1).collect())
        for v in (1, 2, 3)
    ]
    assert chunks == [[100, 101, 102], [], []]


def test_incremental_rollback_past_rewrite_no_redelivery(spark, tmp_path):
    # v1 append F1, v2 rewrite->F2 (compaction), v3 rollback->1
    # reinstating the PRE-rewrite files: a consumer synced anywhere in
    # 1..2 already holds those rows (delivered at v1; the rewrite moved
    # no rows) — the ADVICE r5 scenario where seeding `seen` from only
    # from_version's manifest re-delivered F1 and double-counted.
    p2 = str(tmp_path / "rw")
    lake.write_snapshot(spark, spark.range(0, 5), p2)
    lake.compact_snapshot(spark, p2, n_files=1)
    lake.rollback_snapshot(spark, p2, 1)
    assert lake.read_incremental(spark, p2, 1, 3).count() == 0
    # the masked case: sync point AT the rewrite (from_version=2) —
    # F1 is not in v2's manifest but was visible at v1
    assert lake.read_incremental(spark, p2, 2, 3).count() == 0


def test_incremental_seed_is_bounded_walk(spark, tmp_path, monkeypatch):
    # Cumulative 'ever' bookkeeping is CHECKPOINTED: v1 and every
    # EVER_CHECKPOINT_EVERY-th manifest store the full list, versions
    # between store only their delta — manifest storage is O(V) over
    # the table's life and seeding is a bounded (≤ interval) walk,
    # never a 1..from_version re-walk.
    p = str(tmp_path / "ever")
    lake.write_snapshot(spark, spark.range(0, 3), p)
    lake.compact_snapshot(spark, p, n_files=1)
    lake.rollback_snapshot(spark, p, 1)
    lake.write_snapshot(spark, spark.range(100, 102), p)
    # checkpoint at v1 carries the full list; v2..v4 carry deltas only
    assert "ever" in lake._read_manifest_doc(spark, p, 1)
    for v in (2, 3, 4):
        doc = lake._read_manifest_doc(spark, p, v)
        assert "ever" not in doc and "ever_delta" in doc
    # reconstruction still carries rewritten-away files across versions
    ever4 = set(lake._cumulative_ever(spark, p, 4))
    assert set(lake._read_manifest(spark, p, 1)) <= ever4
    assert set(lake._read_manifest(spark, p, 2)) <= ever4

    calls = []
    orig = lake._read_manifest_doc

    def counting(spark_, path_, version_):
        calls.append(version_)
        return orig(spark_, path_, version_)

    monkeypatch.setattr(lake, "_read_manifest_doc", counting)
    got = sorted(r["id"] for r in lake.read_incremental(spark, p, 3, 4).collect())
    assert got == [100, 101]
    # seed walk v3→v2→v1 (nearest checkpoint) + one walk read at v4 —
    # bounded by the checkpoint interval, not the table's age
    assert calls == [3, 2, 1, 4], calls
    assert len(calls) <= lake.EVER_CHECKPOINT_EVERY + 1


def test_commit_reads_parent_manifest_once(spark, tmp_path, monkeypatch):
    # A commit's eras, stats and ever_delta all come from the ONE parent
    # manifest it builds on; only a checkpoint version walks back for
    # its full 'ever' list, and that walk is bounded by the interval.
    p = str(tmp_path / "reads")
    for i in range(4):
        lake.write_snapshot(spark, spark.range(i * 2, i * 2 + 2), p)  # v1-v4
    calls = []
    orig = lake._read_manifest_doc

    def counting(spark_, path_, version_):
        calls.append(version_)
        return orig(spark_, path_, version_)

    monkeypatch.setattr(lake, "_read_manifest_doc", counting)
    lake.write_snapshot(spark, spark.range(8, 10), p)  # v5: not a checkpoint
    assert calls == [4], calls
    n = lake.EVER_CHECKPOINT_EVERY
    while lake.latest_snapshot_version(spark, p) < n - 1:
        lake.rollback_snapshot(spark, p, 5)  # metadata-only filler commits
    calls.clear()
    assert lake.write_snapshot(spark, spark.range(10, 12), p) == n  # checkpoint
    assert len(calls) <= n, calls
    monkeypatch.undo()
    doc = lake._read_manifest_doc(spark, p, n)
    assert set(doc["ever"]) == set(lake._cumulative_ever(spark, p, n - 1)) | set(
        doc["files"]
    )


def test_compaction_reads_head_manifest_once(spark, tmp_path, monkeypatch):
    # Every manifest of a table that never had a delete is a delete
    # checkpoint (v1, then each commit adding none on top of one), and
    # compaction hands its head doc to the merge-on-read read: compacting
    # a deletes-free 5-version table reads the head and nothing else.
    p = str(tmp_path / "compact_reads")
    for i in range(5):
        lake.write_snapshot(spark, spark.range(i * 2, i * 2 + 2), p)  # v1-v5
    calls = []
    orig = lake._read_manifest_doc

    def counting(spark_, path_, version_):
        calls.append(version_)
        return orig(spark_, path_, version_)

    monkeypatch.setattr(lake, "_read_manifest_doc", counting)
    assert lake.compact_snapshot(spark, p) == (6, 1)
    assert calls == [5], calls
    monkeypatch.undo()
    assert lake._read_manifest_doc(spark, p, 6)["delete_checkpoint"] is True
    assert sorted(r.id for r in lake.read_snapshot_mor(spark, p).collect()) == list(
        range(10)
    )


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_run_no_spark_job(spark, tmp_path):
    # The schema comes from one footer read on the driver, so building a
    # table or snapshot read runs no schema-inference job.
    p = str(tmp_path / "nojob")
    lake.write_snapshot(spark, spark.range(4), p)
    lake.write_snapshot(spark, spark.range(4, 8), p)
    assert _jobs_run_by(spark, lambda: read_table(spark, SF, "events")) == 0
    assert _jobs_run_by(spark, lambda: lake.read_snapshot(spark, p)) == 0
    assert _jobs_run_by(spark, lambda: lake.read_snapshot_mor(spark, p)) == 0
    # the job counter does see inference where it still runs
    files = lake._read_manifest(spark, p, 2)
    assert _jobs_run_by(spark, lambda: spark.read.parquet(*files)) >= 1


def test_footer_schema_matches_inference_on_tables(spark):
    import os

    ensure_runtime_confs(spark)
    sf = "/root/testdata/sf0.01"
    for name in TABLES:
        path = os.path.join(sf, f"{name}.parquet")
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, name


def test_footer_schema_matches_inference_on_nanos_and_lake(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ensure_runtime_confs(spark)
    nanos_file = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([1, 2, 3], pa.timestamp("ns")),
                "s": pa.array(["a", None, "c"], pa.string()),
            }
        ),
        nanos_file,
        coerce_timestamps=None,
    )
    schema = parquet_schema(spark, nanos_file)
    assert schema == spark.read.parquet(nanos_file).schema
    assert isinstance(schema["ts"].dataType, T.LongType)  # nanosAsLong
    # a Spark-written snapshot file carries Spark's own schema metadata
    p = str(tmp_path / "lake")
    lake.write_snapshot(
        spark,
        spark.range(3).select(
            "id", F.col("id").cast("decimal(12,2)").alias("d"), F.array("id").alias("a")
        ),
        p,
    )
    first = lake._read_manifest(spark, p, 1)[0]
    assert parquet_schema(spark, first) == spark.read.parquet(first).schema
    assert lake.read_snapshot(spark, p).schema == spark.read.parquet(first).schema
    assert parquet_schema(spark, str(tmp_path / "missing.parquet")) is None


def test_evolved_lake_default_read_keeps_first_schema(spark, tmp_path):
    # A later append adds a column: the default read keeps today's
    # single-footer schema (the first listed file's), and merge_schema
    # still unions every file's.
    p = str(tmp_path / "evolve")
    lake.write_snapshot(spark, spark.range(2).selectExpr("id"), p)
    lake.write_snapshot(spark, spark.range(2, 4).selectExpr("id", "id * 10 AS v"), p)
    files = lake._read_manifest(spark, p, 2)
    inferred = spark.read.parquet(*files)
    assert lake.read_snapshot(spark, p).schema == inferred.schema
    assert lake.read_snapshot(spark, p).columns == ["id"]
    merged = lake.read_snapshot(spark, p, merge_schema=True)
    assert merged.columns == ["id", "v"]
    assert sorted((r.id, r.v) for r in merged.collect()) == [
        (0, None), (1, None), (2, 20), (3, 30)
    ]
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert lake.read_snapshot(spark, p).columns == ["id", "v"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_ever_checkpoint_boundary(spark, tmp_path):
    # A table long enough to cross the checkpoint interval: the Nth
    # manifest stores a full 'ever' list again, and reconstruction at
    # versions past it never walks below the checkpoint.
    p = str(tmp_path / "ckpt")
    n = lake.EVER_CHECKPOINT_EVERY
    for i in range(n + 1):
        lake.write_snapshot(spark, spark.range(i * 2, i * 2 + 2), p)
    assert "ever" in lake._read_manifest_doc(spark, p, n)
    assert "ever_delta" in lake._read_manifest_doc(spark, p, n + 1)
    ever = set(lake._cumulative_ever(spark, p, n + 1))
    for v in range(1, n + 2):
        assert set(lake._read_manifest(spark, p, v)) <= ever
    # incremental read across the boundary delivers exactly the new files
    got = sorted(r["id"] for r in lake.read_incremental(spark, p, n, n + 1).collect())
    assert got == [n * 2, n * 2 + 1]


def test_apply_cdc_partitioned_deletes_upserts_inserts(spark, tmp_path):
    import glob

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b"), (4, 40.0, "c")],
        "k long, bal double, seg string",
    )
    base.write.partitionBy("seg").parquet(path)
    before_c = sorted(glob.glob(f"{path}/seg=c/*.parquet"))
    changes = spark.createDataFrame(
        [
            (1, None, "a", "D"),    # delete existing
            (2, 99.0, "a", "U"),    # update existing
            (5, 55.0, "b", "U"),    # insert new key
            (9, None, "b", "D"),    # delete absent key: no-op
        ],
        "k long, bal double, seg string, op string",
    )
    n = lake.apply_cdc_partitioned(spark, path, changes, ["k"], "seg")
    assert n == 2  # only partitions a and b touched
    got = {
        r["k"]: (r["bal"], r["seg"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {2: (99.0, "a"), 3: (30.0, "b"), 5: (55.0, "b"), 4: (40.0, "c")}
    # untouched partition c: the IDENTICAL file list survived (a
    # clobbering rewrite would produce new file names)
    assert sorted(glob.glob(f"{path}/seg=c/*.parquet")) == before_c


def test_apply_cdc_partitioned_emptied_partition_is_removed(spark, tmp_path):
    # Deleting a partition's LAST row must remove its rows from reads:
    # dynamic overwrite alone never rewrites a partition absent from
    # the written data, so the emptied directory is swept explicitly.
    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path / "cdc_empty")
    spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")], "k long, bal double, seg string"
    ).write.partitionBy("seg").parquet(path)
    changes = spark.createDataFrame(
        [(1, None, "a", "D")], "k long, bal double, seg string, op string"
    )
    lake.apply_cdc_partitioned(spark, path, changes, ["k"], "seg")
    rows = spark.read.parquet(path).collect()
    assert [(r["k"], r["seg"]) for r in rows] == [(2, "b")]


def test_apply_cdc_partitioned_sweeps_escaped_partition_dirs(spark, tmp_path):
    # Partition values with Hive-escaped characters (space, '=', '%')
    # land in %XX-encoded directory names; the emptied-partition sweep
    # must resolve the SAME name or the old rows silently survive.
    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path / "cdc_escaped")
    spark.createDataFrame(
        [(1, 10.0, "US East"), (2, 20.0, "a=b%c"), (3, 30.0, "plain")],
        "k long, bal double, seg string",
    ).write.partitionBy("seg").parquet(path)
    changes = spark.createDataFrame(
        [(1, None, "US East", "D"), (2, None, "a=b%c", "D")],
        "k long, bal double, seg string, op string",
    )
    lake.apply_cdc_partitioned(spark, path, changes, ["k"], "seg")
    rows = spark.read.parquet(path).collect()
    assert [(r["k"], r["seg"]) for r in rows] == [(3, "plain")]


def test_apply_cdc_partitioned_rejects_malformed_batches(spark, tmp_path):
    # NULL/unknown op would silently DELETE (anti-join removes the old
    # row, op != 'D' evaluates NULL and drops the replacement); NULL
    # partition would clobber the default-partition directory. Both
    # must fail fast.
    import pytest as _pytest

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path / "cdc_bad")
    spark.createDataFrame(
        [(1, 10.0, "a")], "k long, bal double, seg string"
    ).write.partitionBy("seg").parquet(path)
    null_op = spark.createDataFrame(
        [(1, 99.0, "a", None)], "k long, bal double, seg string, op string"
    )
    with _pytest.raises(ValueError, match="NULL/unknown 'op'"):
        lake.apply_cdc_partitioned(spark, path, null_op, ["k"], "seg")
    lowercase_op = spark.createDataFrame(
        [(1, 99.0, "a", "d")], "k long, bal double, seg string, op string"
    )
    with _pytest.raises(ValueError, match="NULL/unknown 'op'"):
        lake.apply_cdc_partitioned(spark, path, lowercase_op, ["k"], "seg")
    null_part = spark.createDataFrame(
        [(1, 99.0, None, "U")], "k long, bal double, seg string, op string"
    )
    with _pytest.raises(ValueError, match="NULL 'seg'"):
        lake.apply_cdc_partitioned(spark, path, null_part, ["k"], "seg")


def test_snapshot_diff_classifies_i_u_d_nullsafe(spark, tmp_path):
    # Row-level CDF: I/U/D per key, unchanged dropped, NULL-safe
    # compare (NULL→NULL is unchanged, NULL→value is an update),
    # D rows carry the pre-image, I/U rows the post-image.
    p = str(tmp_path / "diff")
    v1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "d", None)],
        "k long, seg string, bal double",
    )
    v2 = spark.createDataFrame(
        [(2, "B", 2.0), (3, None, 3.0), (4, "d", 9.0), (5, "e", 5.0)],
        "k long, seg string, bal double",
    )
    lake.write_snapshot(spark, v1, p)
    lake.write_snapshot(spark, v2, p, replace=True)
    rows = {
        r["k"]: (r["change_type"], r["seg"], r["bal"])
        for r in lake.snapshot_diff(spark, p, 1, 2, ["k"]).collect()
    }
    assert rows == {
        1: ("D", "a", 1.0),       # deleted: pre-image
        2: ("U", "B", 2.0),       # updated: post-image
        4: ("U", "d", 9.0),       # NULL -> value IS a change
        5: ("I", "e", 5.0),       # inserted
    }  # key 3 (NULL == NULL) is unchanged and absent


def test_replace_commit_is_whole_table_state(spark, tmp_path):
    p = str(tmp_path / "repl")
    lake.write_snapshot(spark, spark.range(0, 5), p)
    lake.write_snapshot(spark, spark.range(100, 103), p, replace=True)
    # v2 IS the new state, not an append; v1 stays time-travelable
    assert sorted(r["id"] for r in lake.read_snapshot(spark, p, 2).collect()) == [100, 101, 102]
    assert lake.read_snapshot(spark, p, 1).count() == 5
    # incremental delivers the replace's new rows once (removals are
    # unrepresentable in the append-only stream, as documented)
    assert lake.read_incremental(spark, p, 1, 2).count() == 3


# ---------------------------------------------------------------------------
# Write-audit-publish branches (lake.stage_branch / read_branch /
# publish_branch / drop_branch)
# ---------------------------------------------------------------------------

def test_wap_stage_is_invisible_on_main(spark, tmp_path):
    path = str(tmp_path / "wap")
    lake.write_snapshot(spark, spark.range(10), path)
    lake.stage_branch(spark, spark.range(10, 15), path, "b")
    assert lake.read_snapshot(spark, path).count() == 10  # main unchanged
    assert lake.read_branch(spark, path, "b").count() == 15  # as-if-published
    assert lake.list_branches(spark, path) == ["b"]


def test_wap_publish_is_metadata_only_fast_forward(spark, tmp_path):
    path = str(tmp_path / "wap")
    lake.write_snapshot(spark, spark.range(10), path)
    doc = lake.stage_branch(spark, spark.range(10, 15), path, "b")
    v = lake.publish_branch(spark, path, "b")
    assert v == 2
    assert lake.read_snapshot(spark, path).count() == 15
    # metadata-only: the published manifest references the STAGED files
    assert set(doc["files"]) <= set(lake._read_manifest(spark, path, 2))
    assert lake.list_branches(spark, path) == []  # pointer consumed
    # v1 still time-travels to the pre-publish state
    assert lake.read_snapshot(spark, path, 1).count() == 10


def test_wap_publish_detects_concurrent_commit(spark, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "wap")
    lake.write_snapshot(spark, spark.range(10), path)
    lake.stage_branch(spark, spark.range(10, 15), path, "b")
    lake.write_snapshot(spark, spark.range(100, 101), path)  # head moves
    with _pytest.raises(RuntimeError, match="re-stage"):
        lake.publish_branch(spark, path, "b")


def test_wap_drop_then_gc_reclaims_staged_files_only(spark, tmp_path):
    path = str(tmp_path / "wap")
    lake.write_snapshot(spark, spark.range(10), path)
    lake.stage_branch(spark, spark.range(10, 15), path, "dead")
    lake.stage_branch(spark, spark.range(20, 25), path, "live")
    # a LIVE staged branch must survive GC; a dropped one is orphaned
    lake.drop_branch(spark, path, "dead")
    removed = lake.gc_orphan_files(spark, path)
    assert removed > 0  # the dropped branch's files went away
    assert lake.read_branch(spark, path, "live").count() == 15
    assert lake.read_snapshot(spark, path).count() == 10
