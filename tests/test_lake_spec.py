"""Regression pins for the round-10 lake fixes: staged-branch data
dirs must never collide with committed files, and spec-pruned reads
must prune by probe-typed stats compares and Spark's own partition-
path dialect (Hive escaping + __HIVE_DEFAULT_PARTITION__) — pruning
here acts as a filter, so every wrong prune is a wrong RESULT."""

from __future__ import annotations

import pytest

from glamira_end_to_end_data_pipeline_spark.sources import lake


def test_restage_after_publish_does_not_corrupt_snapshots(spark, tmp_path):
    # The ADVICE repro: stage -> publish -> re-stage the SAME branch
    # name (a recurring daily 'incoming' branch). The published
    # version's files must stay readable — the second stage has to
    # land in its own data dir, not overwrite the committed one.
    path = str(tmp_path / "wap")
    lake.write_snapshot(spark, spark.range(0, 10), path)
    lake.stage_branch(spark, spark.range(10, 15), path, "incoming")
    v = lake.publish_branch(spark, path, "incoming")
    assert v == 2
    lake.stage_branch(spark, spark.range(20, 28), path, "incoming")
    # the committed snapshot still reads in full
    assert sorted(r["id"] for r in lake.read_snapshot(spark, path, 2).collect()) == list(range(15))
    # and the freshly staged batch is intact too
    assert lake.read_branch(spark, path, "incoming").count() == 15 + 8
    v2 = lake.publish_branch(spark, path, "incoming")
    assert lake.read_snapshot(spark, path, v2).count() == 23
    assert lake.read_snapshot(spark, path, 2).count() == 15


def test_restage_same_base_replaces_only_its_own_orphan(spark, tmp_path):
    # failed audit -> scrub -> re-stage at the SAME base version is
    # the intended replace semantics: second stage wins, nothing
    # committed is touched.
    path = str(tmp_path / "wap2")
    lake.write_snapshot(spark, spark.range(0, 5), path)
    lake.stage_branch(spark, spark.range(100, 110), path, "b")
    lake.stage_branch(spark, spark.range(200, 203), path, "b")
    assert sorted(r["id"] for r in lake.read_branch(spark, path, "b").collect()) == [0, 1, 2, 3, 4, 200, 201, 202]
    v = lake.publish_branch(spark, path, "b")
    assert lake.read_snapshot(spark, path, v).count() == 8


def test_spec_pruned_numeric_stats_fallback_is_probe_typed(spark, tmp_path):
    # v1 written UNpartitioned with column stats; v2 partitioned on
    # the probe column. A numeric probe must compare v1's stringified
    # stats numerically: bucket=10 against a file whose stats span
    # [2, 9] + [10, 10] rows would be wrongly pruned lexicographically
    # ('9' >= '10' is false as strings).
    path = str(tmp_path / "spec_num")
    v1 = spark.createDataFrame(
        [(2, "a"), (9, "b"), (10, "c")], "bucket int, payload string"
    )
    lake.write_snapshot(spark, v1.coalesce(1), path, stats_cols=["bucket"])
    v2 = spark.createDataFrame([(10, "d"), (11, "e")], "bucket int, payload string")
    lake.write_snapshot(spark, v2, path, partition_by=["bucket"])
    df, n_read, n_total, n_spec = lake.read_snapshot_spec_pruned(
        spark, path, "bucket", 10
    )
    got = sorted(r["payload"] for r in df.collect())
    assert got == ["c", "d"]  # lexicographic compare loses 'c'
    assert n_spec == 1  # v2's bucket=10 file kept via the spec path
    assert n_read < n_total  # v2's bucket=11 file was spec-pruned


def test_spec_pruned_handles_hive_escaped_values(spark, tmp_path):
    # ':' is Hive-escaped to %3A in partition directory names — the
    # probe must match the directory as Spark wrote it.
    path = str(tmp_path / "spec_esc")
    df = spark.createDataFrame(
        [("a:b", 1), ("plain", 2), ("a=b", 3)], "k string, x int"
    )
    lake.write_snapshot(spark, df, path, partition_by=["k"])
    for probe, want in [("a:b", [1]), ("a=b", [3]), ("plain", [2])]:
        out, n_read, n_total, n_spec = lake.read_snapshot_spec_pruned(
            spark, path, "k", probe
        )
        assert sorted(r["x"] for r in out.collect()) == want, probe
        assert n_spec == 1 and n_read == 1 and n_total == 3, probe


def test_spec_pruned_handles_null_partition_values(spark, tmp_path):
    # NULL partition values land in __HIVE_DEFAULT_PARTITION__; a
    # None probe must keep that file and filter with isNull (col ==
    # NULL would return nothing even on the right file).
    path = str(tmp_path / "spec_null")
    df = spark.createDataFrame(
        [(None, 1), ("x", 2)], "k string, x int"
    )
    lake.write_snapshot(spark, df, path, partition_by=["k"])
    out, n_read, n_total, n_spec = lake.read_snapshot_spec_pruned(
        spark, path, "k", None
    )
    assert [r["x"] for r in out.collect()] == [1]
    assert n_spec == 1 and n_read == 1 and n_total == 2
    # and a non-null probe prunes the default partition away
    out2, n_read2, _, _ = lake.read_snapshot_spec_pruned(spark, path, "k", "x")
    assert [r["x"] for r in out2.collect()] == [2]
    assert n_read2 == 1


def test_escape_partition_value_matches_spark_layout(spark, tmp_path):
    # Pin the escaper against a directory Spark ITSELF wrote: every
    # probe value round-trips to exactly one physical partition dir.
    values = ["a:b", "a=b", "a#b", "a%b", 'a"b', "with space", "a*b"]
    df = spark.createDataFrame([(v, i) for i, v in enumerate(values)], "k string, x int")
    out_dir = str(tmp_path / "hive")
    df.withColumn("p", df["k"]).write.partitionBy("p").parquet(out_dir)
    import os

    dirs = {d for d in os.listdir(out_dir) if d.startswith("p=")}
    for v in values:
        assert f"p={lake._escape_partition_value(v)}" in dirs, v


def test_mor_equality_deletes_respect_sequence(spark, tmp_path):
    # Iceberg v2 sequencing: a delete applies only to data files
    # committed strictly before it; re-inserts after the delete
    # survive, and plain read_snapshot stays the raw data view.
    path = str(tmp_path / "mor")
    lake.write_snapshot(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"),
        path,
    )
    lake.write_snapshot(
        spark, spark.createDataFrame([(4, "d"), (2, "b2")], "k int, v string"), path
    )
    v3 = lake.delete_snapshot(
        spark, spark.createDataFrame([(2,), (3,)], "k int"), path, ["k"]
    )
    assert v3 == 3
    lake.write_snapshot(
        spark, spark.createDataFrame([(2, "reborn")], "k int, v string"), path
    )
    got = sorted(
        (r.k, r.v) for r in lake.read_snapshot_mor(spark, path).collect()
    )
    # both era-1/2 rows for k=2 and the k=3 row are gone; the v4
    # re-insert of k=2 survives (era 4 > delete version 3)
    assert got == [(1, "a"), (2, "reborn"), (4, "d")]
    # time travel: MoR at v3 applies the delete with no re-insert yet
    got3 = sorted((r.k, r.v) for r in lake.read_snapshot_mor(spark, path, 3).collect())
    assert got3 == [(1, "a"), (4, "d")]
    # raw view still carries every data row (compaction/audit input)
    assert lake.read_snapshot(spark, path).count() == 6
    # GC must treat delete files as referenced
    assert lake.gc_orphan_files(spark, path) == 0
    assert sorted(
        (r.k, r.v) for r in lake.read_snapshot_mor(spark, path).collect()
    ) == got


def test_read_snapshot_by_tag_resolves_newest(spark, tmp_path):
    path = str(tmp_path / "tags")
    lake.write_snapshot(spark, spark.range(3), path, tag="baseline")
    lake.write_snapshot(spark, spark.range(3, 8), path, tag="audited")
    lake.write_snapshot(spark, spark.range(8, 9), path)
    assert lake.read_snapshot_by_tag(spark, path, "baseline").count() == 3
    assert lake.read_snapshot_by_tag(spark, path, "audited").count() == 8
    import pytest as _pytest

    with _pytest.raises(KeyError):
        lake.read_snapshot_by_tag(spark, path, "nope")


def test_compact_materializes_mor_deletes(spark, tmp_path):
    # Compaction must read THROUGH the deletes: the compacted files
    # commit at a new version, which outranks every prior delete under
    # the sequence rule — a raw-view rewrite would resurrect deleted
    # rows the moment it committed.
    path = str(tmp_path / "mor_compact")
    lake.write_snapshot(spark, spark.createDataFrame([(1,), (2,), (3,)], "k int"), path)
    lake.write_snapshot(spark, spark.createDataFrame([(4,), (5,)], "k int"), path)
    lake.delete_snapshot(spark, spark.createDataFrame([(2,), (4,)], "k int"), path, ["k"])
    v, n = lake.compact_snapshot(spark, path, n_files=1)
    assert v == 4
    # raw view of the compacted version == MoR view (deletes materialized)
    assert sorted(r.k for r in lake.read_snapshot(spark, path, v).collect()) == [1, 3, 5]
    assert sorted(r.k for r in lake.read_snapshot_mor(spark, path, v).collect()) == [1, 3, 5]
    # deletes AFTER compaction still apply via MoR
    lake.delete_snapshot(spark, spark.createDataFrame([(5,)], "k int"), path, ["k"])
    assert sorted(r.k for r in lake.read_snapshot_mor(spark, path).collect()) == [1, 3]
    # time travel to the pre-compaction MoR view still works
    assert sorted(r.k for r in lake.read_snapshot_mor(spark, path, 3).collect()) == [1, 3, 5]


def test_expire_snapshots_folds_state_forward(spark, tmp_path):
    path = str(tmp_path / "expire")
    # v1..v2 appends, v3 equality delete, v4..v5 appends
    lake.write_snapshot(spark, spark.createDataFrame([(1,), (2,)], "k int"), path, tag="genesis")
    lake.write_snapshot(spark, spark.createDataFrame([(3,), (4,)], "k int"), path)
    lake.delete_snapshot(spark, spark.createDataFrame([(2,), (3,)], "k int"), path, ["k"])
    lake.write_snapshot(spark, spark.createDataFrame([(5,)], "k int"), path, tag="recent")
    lake.write_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path)  # re-insert
    before = sorted(r.k for r in lake.read_snapshot_mor(spark, path).collect())
    assert before == [1, 2, 4, 5]

    out = lake.expire_snapshots(spark, path, keep_last=2)
    assert out["expired_versions"] == 3
    # head MoR view is unchanged — the expired delete commit was
    # carried forward with its original sequence version
    assert sorted(r.k for r in lake.read_snapshot_mor(spark, path).collect()) == before
    # retained versions still read; expired ones raise
    assert lake.read_snapshot(spark, path, 4).count() == 5
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        lake.read_snapshot(spark, path, 2)
    # tags: expired tag gone, retained tag resolvable
    assert lake.snapshot_tags(spark, path) == {"recent"}
    assert lake.read_snapshot_by_tag(spark, path, "recent").count() == 5
    # incremental read across the fold boundary still composes
    got = sorted(r.k for r in lake.read_incremental(spark, path, 4, 5).collect())
    assert got == [2]
    # GC finds nothing to sweep (carried delete files are referenced)
    assert lake.gc_orphan_files(spark, path) == 0
    # expiry is idempotent
    assert lake.expire_snapshots(spark, path, keep_last=2) == {
        "expired_versions": 0, "removed_files": 0,
    }


def test_expire_snapshots_removes_only_unreferenced_files(spark, tmp_path):
    path = str(tmp_path / "expire2")
    lake.write_snapshot(spark, spark.range(5).coalesce(1), path)
    lake.write_snapshot(spark, spark.range(5, 8).coalesce(1), path)
    # v3 = replace: only its own files referenced going forward
    lake.write_snapshot(spark, spark.range(100, 103).coalesce(1), path, replace=True)
    out = lake.expire_snapshots(spark, path, keep_last=1)
    assert out["expired_versions"] == 2
    assert out["removed_files"] == 2  # v1 + v2 data files now unreferenced
    assert sorted(r.id for r in lake.read_snapshot(spark, path).collect()) == [100, 101, 102]


def test_stage_branch_refuses_committed_dir_collision(spark, tmp_path):
    # Defensive guard: if a committed manifest somehow references files
    # under the prospective staged dir (monotone versions make this
    # unreachable in normal flows), the stage must refuse rather than
    # overwrite committed data.
    import json
    import os

    path = str(tmp_path / "wap_guard")
    lake.write_snapshot(spark, spark.range(3), path)
    doc = lake._read_manifest_doc(spark, path, 1)
    doc["files"] = doc["files"] + [
        f"file:{path}/data/vb_evil_1/part-00000.parquet"
    ]
    doc["ever"] = sorted(set(doc.get("ever", [])) | set(doc["files"]))
    lake._put_json(spark, f"{path}/_manifests/v1.json", doc)
    with pytest.raises(RuntimeError, match="would corrupt"):
        lake.stage_branch(spark, spark.range(5), path, "evil")
    assert os.path.exists(path)  # and nothing was written over


def test_expire_twice_folds_carried_deletes_again(spark, tmp_path):
    # Second expiry must fold the previous fold's carried_deletes
    # forward into the new oldest-retained manifest.
    path = str(tmp_path / "expire3")
    lake.write_snapshot(spark, spark.createDataFrame([(1,), (2,)], "k int"), path)
    lake.delete_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path, ["k"])
    lake.write_snapshot(spark, spark.createDataFrame([(3,)], "k int"), path)
    lake.write_snapshot(spark, spark.createDataFrame([(4,)], "k int"), path)
    lake.write_snapshot(spark, spark.createDataFrame([(5,)], "k int"), path)
    lake.expire_snapshots(spark, path, keep_last=3)  # drop v1, v2
    assert sorted(r.k for r in lake.read_snapshot_mor(spark, path).collect()) == [1, 3, 4, 5]
    lake.expire_snapshots(spark, path, keep_last=1)  # drop v3, v4
    assert sorted(r.k for r in lake.read_snapshot_mor(spark, path).collect()) == [1, 3, 4, 5]
    doc = lake._read_manifest_doc(spark, path, 5)
    assert doc.get("carried_deletes") == [{"version": 2, "files": doc["carried_deletes"][0]["files"]}]


def test_expire_then_gc_on_partitioned_versions(spark, tmp_path):
    # expiry removes files; a following GC clears the emptied version
    # dirs (including hive partition subdirs and _SUCCESS markers).
    path = str(tmp_path / "expire4")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "p string, x int")
    lake.write_snapshot(spark, df, path, partition_by=["p"])
    lake.write_snapshot(spark, df, path, replace=True, partition_by=["p"])
    out = lake.expire_snapshots(spark, path, keep_last=1)
    assert out["expired_versions"] == 1 and out["removed_files"] == 2
    lake.gc_orphan_files(spark, path)
    fs, d1 = lake._hadoop_fs(spark, path + "/data/v1")
    assert not fs.exists(d1)
    assert lake.read_snapshot(spark, path).count() == 2


# ---------------------------------------------------------------------------
# Round-11 ADVICE regressions
# ---------------------------------------------------------------------------


def test_mor_wap_reinsert_survives_earlier_delete(spark, tmp_path):
    # ADVICE r10 (high): WAP-published files live under
    # /data/vb_<branch>_<base>/ forever; the old vN-only path regexp
    # gave them a NULL era, so any OLDER delete on the same key dropped
    # the re-inserted row — and compaction made the loss permanent.
    path = str(tmp_path / "morwap")
    lake.write_snapshot(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    lake.delete_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path, ["k"])
    lake.stage_branch(
        spark, spark.createDataFrame([(2, "reborn")], "k int, v string"), path, "incoming"
    )
    v3 = lake.publish_branch(spark, path, "incoming")
    assert v3 == 3
    got = sorted((r.k, r.v) for r in lake.read_snapshot_mor(spark, path).collect())
    assert got == [(1, "a"), (2, "reborn")]
    # the manifest records an era for every file, branch files included
    doc = lake._read_manifest_doc(spark, path, 3)
    eras = dict(zip(doc["files"], doc["eras"]))
    assert all(
        eras[f] == 3 for f in doc["files"] if "/data/vb_incoming_2/" in f
    )
    # compaction reads through the MoR view — must not re-lose the row
    lake.compact_snapshot(spark, path)
    got2 = sorted((r.k, r.v) for r in lake.read_snapshot_mor(spark, path).collect())
    assert got2 == [(1, "a"), (2, "reborn")]


def test_mor_wap_reinsert_survives_expiry_between_deletes(spark, tmp_path):
    # Interleaved delete / WAP re-insert / second delete / expiry:
    # carried-forward deletes keep their original eras and the branch
    # file keeps its recorded one, so the fold-forward changes nothing.
    path = str(tmp_path / "morwapexp")
    lake.write_snapshot(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"),
        path,
    )
    lake.delete_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path, ["k"])
    lake.stage_branch(
        spark, spark.createDataFrame([(2, "reborn")], "k int, v string"), path, "b"
    )
    lake.publish_branch(spark, path, "b")  # v3
    lake.delete_snapshot(spark, spark.createDataFrame([(3,)], "k int"), path, ["k"])  # v4
    lake.write_snapshot(
        spark, spark.createDataFrame([(5, "e")], "k int, v string"), path
    )  # v5
    lake.expire_snapshots(spark, path, keep_last=2)  # drop v1-v3
    got = sorted((r.k, r.v) for r in lake.read_snapshot_mor(spark, path).collect())
    assert got == [(1, "a"), (2, "reborn"), (5, "e")]


def test_expire_cutoff_rewrite_recovers_from_crash(spark, tmp_path):
    # ADVICE r10 (medium): the cutoff fold-forward used _put_json, whose
    # delete->rename gap could leave NO v{cutoff}.json. The rewrite
    # protocol never has such a window; _read_manifest_doc recovers
    # from the .tmp/.old siblings it can leave mid-swap.
    path = str(tmp_path / "expirecrash")
    for i in range(4):
        lake.write_snapshot(spark, spark.createDataFrame([(i,)], "k int"), path)
    lake.expire_snapshots(spark, path, keep_last=2)  # cutoff = v3 rewritten
    doc = lake._read_manifest_doc(spark, path, 3)
    assert "ever" in doc
    fs, _ = lake._hadoop_fs(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    target = f"{path}/_manifests/v3.json"
    # simulate a crash between "old doc moved aside" and "tmp renamed
    # in": final absent, complete .tmp + .old present
    import json

    payload = json.dumps(doc).encode("utf-8")
    out = fs.create(jp(target + ".tmp"), True)
    out.write(payload)
    out.close()
    assert fs.rename(jp(target), jp(target + ".old"))
    recovered = lake._read_manifest_doc(spark, path, 3)
    assert recovered["version"] == 3 and "ever" in recovered
    # the table is still readable and committable mid-crash
    assert lake.read_snapshot(spark, path, 3).count() == 3
    lake.write_snapshot(spark, spark.createDataFrame([(9,)], "k int"), path)
    # a re-run of the rewrite completes and cleans the siblings
    lake._rewrite_json_atomic(spark, target, recovered)
    assert fs.exists(jp(target))
    assert not fs.exists(jp(target + ".tmp"))
    assert not fs.exists(jp(target + ".old"))


def test_expire_sweeps_rewrite_siblings_of_expired_versions(spark, tmp_path):
    # A stale .old left by a crashed past fold-forward must not
    # resurrect a version after its manifest is expired.
    path = str(tmp_path / "expiresweep")
    for i in range(5):
        lake.write_snapshot(spark, spark.createDataFrame([(i,)], "k int"), path)
    lake.expire_snapshots(spark, path, keep_last=3)  # cutoff v3
    fs, _ = lake._hadoop_fs(spark, path)
    jp = spark._jvm.org.apache.hadoop.fs.Path
    # plant a stale .old beside v3 (as a crashed rewrite would)
    doc = lake._read_manifest_doc(spark, path, 3)
    import json

    out = fs.create(jp(f"{path}/_manifests/v3.json.old"), True)
    out.write(json.dumps(doc).encode("utf-8"))
    out.close()
    lake.expire_snapshots(spark, path, keep_last=1)  # expires v3, v4
    assert not fs.exists(jp(f"{path}/_manifests/v3.json.old"))
    with pytest.raises(FileNotFoundError):
        lake._read_manifest_doc(spark, path, 3)


def test_spec_pruned_bool_probe_matches_spark_cast_form(spark, tmp_path):
    # ADVICE r10 (low): str(True) = 'True' but Spark writes 'true' in
    # both the __pt_ path segment and the cast-to-string stats, so a
    # bool probe wrongly pruned every matching file.
    path = str(tmp_path / "boolspec")
    df = spark.createDataFrame(
        [(True, 1), (True, 2), (False, 3)], "flag boolean, x int"
    )
    lake.write_snapshot(spark, df.repartition("flag"), path, partition_by=["flag"])
    out, n_read, n_total, n_spec = lake.read_snapshot_spec_pruned(
        spark, path, "flag", True
    )
    assert sorted(r.x for r in out.collect()) == [1, 2]
    assert n_spec >= 1 and n_read < n_total
    out_f, _, _, _ = lake.read_snapshot_spec_pruned(spark, path, "flag", False)
    assert sorted(r.x for r in out_f.collect()) == [3]


def test_stats_pruned_bool_probe(spark, tmp_path):
    path = str(tmp_path / "boolstats")
    lake.write_snapshot(
        spark,
        spark.createDataFrame([(False, 1), (False, 2)], "flag boolean, x int"),
        path,
        stats_cols=["flag"],
    )
    lake.write_snapshot(
        spark,
        spark.createDataFrame([(True, 3)], "flag boolean, x int"),
        path,
        stats_cols=["flag"],
    )
    out, n_read, n_total = lake.read_snapshot_pruned(spark, path, "flag", True, True)
    assert sorted(r.x for r in out.collect()) == [3]
    assert n_read < n_total


def test_rollback_preserves_original_eras_under_mor(spark, tmp_path):
    # Rollback reinstates the TARGET's files at a new head, but each
    # file keeps its ORIGINAL era (the one the target's manifest
    # records) — so equality deletes committed between
    # the target and the rollback still apply to the reinstated rows.
    # History is preserved, not rewritten: Iceberg-style rollback here
    # is a new commit, and the delete remains part of the lineage.
    path = str(tmp_path / "rbera")
    lake.write_snapshot(
        spark, spark.createDataFrame([(1,), (2,), (3,)], "k int"), path
    )  # v1
    lake.delete_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path, ["k"])  # v2
    lake.write_snapshot(spark, spark.createDataFrame([(9,)], "k int"), path)  # v3
    v4 = lake.rollback_snapshot(spark, path, 1)
    assert v4 == 4
    doc = lake._read_manifest_doc(spark, path, 4)
    assert doc["eras"] == [1] * len(doc["files"])
    got = sorted(r.k for r in lake.read_snapshot_mor(spark, path).collect())
    assert got == [1, 3]


def test_rollback_keeps_cas_eras_under_mor(spark, tmp_path):
    # CAS files live under /data/vcas_<N>_<token>/, which names no era.
    # Rolling back past a compaction reinstates them from the target's
    # manifest, eras included: the delete of k=2 at v2 still applies.
    path = str(tmp_path / "rbcas")
    lake.write_snapshot_cas(
        spark, spark.createDataFrame([(1,), (2,)], "k int"), path, expected_version=0
    )  # v1
    lake.delete_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path, ["k"])  # v2
    assert _mor_keys(spark, path, 2) == [1]
    lake.compact_snapshot(spark, path)  # v3
    v4 = lake.rollback_snapshot(spark, path, 2)
    assert v4 == 4
    assert _mor_keys(spark, path) == [1]
    assert lake._read_manifest_doc(spark, path, 4)["eras"] == (
        lake._read_manifest_doc(spark, path, 2)["eras"]
    )


def test_rollback_of_shallow_clone_keeps_remapped_eras(spark, tmp_path):
    # A clone's files sit in the SOURCE's version dirs, whose numbers
    # are not the clone's eras (shallow_clone remaps them to <= 1).
    # Rolling the clone back past a compaction must reinstate the
    # remapped eras, so the carried delete of k=1 still applies.
    src = str(tmp_path / "rbsrc")
    clone = str(tmp_path / "rbclone")
    lake.write_snapshot(spark, spark.createDataFrame([(1,), (2,)], "k int"), src)  # v1
    lake.write_snapshot(spark, spark.createDataFrame([(3,)], "k int"), src)  # v2
    lake.delete_snapshot(spark, spark.createDataFrame([(1,)], "k int"), src, ["k"])  # v3
    lake.shallow_clone(spark, src, clone)  # clone v1
    assert _mor_keys(spark, clone, 1) == [2, 3]
    lake.compact_snapshot(spark, clone)  # clone v2
    lake.rollback_snapshot(spark, clone, 1)  # clone v3
    assert _mor_keys(spark, clone) == [2, 3]
    assert lake._read_manifest_doc(spark, clone, 3)["eras"] == (
        lake._read_manifest_doc(spark, clone, 1)["eras"]
    )


def test_misaligned_eras_raise(spark, tmp_path):
    # A manifest whose eras list doesn't parallel files (hand-edited,
    # torn) has no trustworthy era for any file: MoR reads, clones and
    # commits that keep its files all raise, and nothing is committed.
    path = str(tmp_path / "badera")
    lake.write_snapshot(
        spark, spark.createDataFrame([(1,), (2,)], "k int"), path
    )
    lake.delete_snapshot(spark, spark.createDataFrame([(1,)], "k int"), path, ["k"])
    lake.write_snapshot(spark, spark.createDataFrame([(1,)], "k int"), path)  # re-insert
    doc = lake._read_manifest_doc(spark, path, 3)
    doc["eras"] = doc["eras"][:-1]  # misaligned on purpose
    lake._rewrite_json_atomic(spark, f"{path}/_manifests/v3.json", doc)
    with pytest.raises(ValueError, match="parallel"):
        lake.read_snapshot_mor(spark, path)
    with pytest.raises(ValueError, match="parallel"):
        lake.shallow_clone(spark, path, str(tmp_path / "badclone"))
    with pytest.raises(ValueError, match="parallel"):
        lake.rollback_snapshot(spark, path, 3)
    assert lake.latest_snapshot_version(spark, path) == 3


def _mor_keys(spark, path, version=None):
    return sorted(r.k for r in lake.read_snapshot_mor(spark, path, version).collect())


def test_rewrite_manifests_checkpoint_bounds_walk(spark, tmp_path):
    # The delete-checkpoint commit must (a) leave the MoR view
    # row-identical, (b) stop _collect_deletes' history walk at itself,
    # (c) keep the sequence rule: a later re-insert of a checkpointed
    # delete's key survives.
    path = str(tmp_path / "rwm")
    df = spark.createDataFrame([(k, k * 10) for k in range(8)], "k int, v int")
    lake.write_snapshot(spark, df, path)                                    # v1
    lake.delete_snapshot(spark, spark.createDataFrame([(1,), (2,)], "k int"), path, ["k"])  # v2
    lake.delete_snapshot(spark, spark.createDataFrame([(3,)], "k int"), path, ["k"])        # v3
    pre = _mor_keys(spark, path)
    out = lake.rewrite_manifests(spark, path)                               # v4
    assert out == {"version": 4, "consolidated_deletes": 2, "manifests_walked": 3}
    assert _mor_keys(spark, path) == pre == [0, 4, 5, 6, 7]
    doc = lake._read_manifest_doc(spark, path, 4)
    assert doc["delete_checkpoint"] is True
    assert doc["operation"] == "rewrite-manifests"
    assert [cd["version"] for cd in doc["carried_deletes"]] == [2, 3]
    # walk from the head reads ONLY the head (which is the checkpoint)
    _dels, walked = lake._collect_deletes(spark, path, 4)
    assert walked == 1
    # re-insert after the checkpoint outranks the carried deletes
    lake.write_snapshot(spark, spark.createDataFrame([(1, 999)], "k int, v int"), path)  # v5
    _dels, walked = lake._collect_deletes(spark, path, 5)
    assert walked == 2  # v5 + checkpoint v4
    assert _mor_keys(spark, path) == [0, 1, 4, 5, 6, 7]
    # time travel BELOW the checkpoint still applies the original walk
    assert _mor_keys(spark, path, 2) == [0, 3, 4, 5, 6, 7]
    # incremental across the metadata commit delivers nothing
    assert lake.read_incremental(spark, path, 3, 4).count() == 0


def test_rollback_past_compaction_keeps_materialized_deletes(spark, tmp_path):
    # A compaction is a deletes-free checkpoint (it materialized the
    # deletes below it), but a rollback reinstates files older than it:
    # the rollback commit carries the deletes that reach them itself.
    path = str(tmp_path / "rbc")
    lake.write_snapshot(spark, spark.createDataFrame([(0,), (1,), (2,)], "k int"), path)  # v1
    lake.delete_snapshot(spark, spark.createDataFrame([(1,)], "k int"), path, ["k"])  # v2
    lake.compact_snapshot(spark, path)                                      # v3
    lake.write_snapshot(spark, spark.createDataFrame([(5,)], "k int"), path)  # v4
    assert lake._collect_deletes(spark, path, 4) == ([], 1)
    assert lake.rollback_snapshot(spark, path, 1) == 5
    doc = lake._read_manifest_doc(spark, path, 5)
    assert doc["delete_checkpoint"] is True
    assert [cd["version"] for cd in doc["carried_deletes"]] == [2]
    assert _mor_keys(spark, path) == [0, 2]
    lake.write_snapshot(spark, spark.createDataFrame([(1,)], "k int"), path)  # v6
    assert _mor_keys(spark, path) == [0, 1, 2]  # the re-insert outranks v2


def test_rewrite_manifests_composes_with_expiry(spark, tmp_path):
    # Checkpoint BELOW the expiry cutoff: the fold-forward reads the
    # checkpoint's carried_deletes; an expired checkpoint's
    # consolidation must survive in the oldest retained manifest.
    path = str(tmp_path / "rwmexp")
    df = spark.createDataFrame([(k, k) for k in range(6)], "k int, v int")
    lake.write_snapshot(spark, df, path)                                    # v1
    lake.delete_snapshot(spark, spark.createDataFrame([(0,)], "k int"), path, ["k"])  # v2
    lake.rewrite_manifests(spark, path)                                     # v3 (checkpoint)
    lake.write_snapshot(spark, spark.createDataFrame([(0, 77)], "k int, v int"), path)  # v4
    lake.delete_snapshot(spark, spark.createDataFrame([(5,)], "k int"), path, ["k"])  # v5
    lake.expire_snapshots(spark, path, keep_last=2)  # expires v1-v3, checkpoint included
    # deletes from the expired checkpoint still apply with original eras
    assert _mor_keys(spark, path) == [0, 1, 2, 3, 4]  # 0@v4 survives, 5 deleted
    rows = {r.k: r.v for r in lake.read_snapshot_mor(spark, path).collect()}
    assert rows[0] == 77  # the re-insert, not the v1 original
    # GC never sweeps delete files a carried consolidation references
    assert lake.gc_orphan_files(spark, path) == 0
    assert _mor_keys(spark, path) == [0, 1, 2, 3, 4]


def test_rewrite_manifests_twice_and_compact_interplay(spark, tmp_path):
    # A second checkpoint re-consolidates (dedup keeps one pair per
    # delete), and compaction AFTER a checkpoint materializes exactly
    # the checkpointed view.
    path = str(tmp_path / "rwm2")
    df = spark.createDataFrame([(k, k) for k in range(5)], "k int, v int")
    lake.write_snapshot(spark, df, path)                                    # v1
    lake.delete_snapshot(spark, spark.createDataFrame([(1,)], "k int"), path, ["k"])  # v2
    lake.rewrite_manifests(spark, path)                                     # v3
    lake.delete_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path, ["k"])  # v4
    out = lake.rewrite_manifests(spark, path)                               # v5
    # walk: v4 (its own delete) then v3 (the prior checkpoint) — stop
    assert out["consolidated_deletes"] == 2 and out["manifests_walked"] == 2
    assert _mor_keys(spark, path) == [0, 3, 4]
    v, _n = lake.compact_snapshot(spark, path)                              # v6
    assert v == 6
    assert _mor_keys(spark, path) == [0, 3, 4]
    assert sorted(r.k for r in lake.read_snapshot(spark, path).collect()) == [0, 3, 4]


def test_rewrite_manifests_on_deleteless_table(spark, tmp_path):
    # No deletes: the checkpoint is an empty consolidation and the MoR
    # fast path (no delete join) still serves every row.
    path = str(tmp_path / "rwm0")
    lake.write_snapshot(spark, spark.range(0, 4).selectExpr("id as k"), path)  # v1
    out = lake.rewrite_manifests(spark, path)                                  # v2
    assert out["consolidated_deletes"] == 0
    assert _mor_keys(spark, path) == [0, 1, 2, 3]
    doc = lake._read_manifest_doc(spark, path, 2)
    assert doc.get("carried_deletes") is None or doc.get("carried_deletes") == []
    assert doc["delete_checkpoint"] is True


def test_expiry_cutoff_lands_on_checkpoint_manifest(spark, tmp_path):
    # keep_last such that the oldest RETAINED version IS the checkpoint:
    # fold-forward must dedup against the checkpoint's own consolidation
    # and the walk must still stop there.
    path = str(tmp_path / "rwmcut")
    df = spark.createDataFrame([(k, k) for k in range(6)], "k int, v int")
    lake.write_snapshot(spark, df, path)                                    # v1
    lake.delete_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path, ["k"])  # v2
    lake.rewrite_manifests(spark, path)                                     # v3 checkpoint
    lake.write_snapshot(spark, spark.createDataFrame([(9, 9)], "k int, v int"), path)  # v4
    lake.expire_snapshots(spark, path, keep_last=2)  # cutoff = v3 (the checkpoint)
    doc = lake._read_manifest_doc(spark, path, 3)
    assert doc["delete_checkpoint"] is True
    assert [cd["version"] for cd in doc["carried_deletes"]] == [2]  # deduped
    _dels, walked = lake._collect_deletes(spark, path, 4)
    assert walked == 2  # v4 + the checkpoint cutoff
    assert _mor_keys(spark, path) == [0, 1, 3, 4, 5, 9]
    with pytest.raises(FileNotFoundError):
        lake.read_snapshot_mor(spark, path, 2).collect()


def test_write_snapshot_cas_conflict_retry_and_isolation(spark, tmp_path):
    # The CAS loser must raise, must NOT touch the winner's files
    # (each attempt writes its own uniquely-named dir), the retry must
    # land cleanly, GC must reclaim exactly the failed attempt's
    # orphans, and MoR semantics must hold across CAS commits (manifest
    # eras cover the vcas_ dirs).
    path = str(tmp_path / "cas")
    lake.write_snapshot(spark, spark.createDataFrame([(1,), (2,)], "k int"), path)  # v1
    lake.write_snapshot(spark, spark.createDataFrame([(3,)], "k int"), path)        # v2 (interloper)
    with pytest.raises(lake.CommitConflictError):
        lake.write_snapshot_cas(
            spark, spark.createDataFrame([(4,)], "k int"), path, expected_version=1
        )
    # winner's table is intact after the failed attempt
    assert sorted(r.k for r in lake.read_snapshot(spark, path).collect()) == [1, 2, 3]
    v3 = lake.write_snapshot_cas(
        spark, spark.createDataFrame([(4,)], "k int"), path, expected_version=2
    )
    assert v3 == 3
    assert sorted(r.k for r in lake.read_snapshot(spark, path).collect()) == [1, 2, 3, 4]
    assert lake.gc_orphan_files(spark, path) >= 1  # the failed attempt's files
    assert sorted(r.k for r in lake.read_snapshot(spark, path).collect()) == [1, 2, 3, 4]
    # a CAS commit against the true head with no interloper: no conflict
    v4 = lake.write_snapshot_cas(
        spark, spark.createDataFrame([(5,)], "k int"), path, expected_version=3
    )
    assert v4 == 4
    # sequence rule across CAS dirs: delete then CAS re-insert survives
    lake.delete_snapshot(spark, spark.createDataFrame([(4,)], "k int"), path, ["k"])  # v5
    lake.write_snapshot_cas(
        spark, spark.createDataFrame([(4,)], "k int"), path, expected_version=5
    )  # v6 re-insert via the vcas_ dir — era must come from the manifest
    got = sorted(r.k for r in lake.read_snapshot_mor(spark, path).collect())
    assert got == [1, 2, 3, 4, 5]


def test_merge_multi_clause_first_true_wins_and_by_source(spark, tmp_path):
    """Multi-clause MERGE semantics on an explicit fixture: clause
    ORDER decides a row matching both the update and delete guards;
    unguarded matched rows pass through; the NOT MATCHED guard filters
    inserts; the BY SOURCE clause deletes only guarded target-only
    rows."""
    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path / "mergemc")
    base = spark.createDataFrame(
        [
            (1, 10.0, "a"),   # matched, src higher -> update (clause 1)
            (2, 10.0, "a"),   # matched, src lower, t.val < 20 -> delete
            (3, 50.0, "b"),   # matched, src lower, t.val >= 20 -> keep
            (4, 10.0, "a"),   # target-only, part 'a' -> by-source delete
            (5, 10.0, "b"),   # target-only, part 'b' -> keep
        ],
        "k long, val double, part string",
    )
    lake.write_partitioned(base, path, ["part"])
    src = spark.createDataFrame(
        [
            (1, 99.0, "a"),
            (2, 5.0, "a"),
            (3, 5.0, "b"),
            (6, 100.0, "b"),  # source-only, passes insert guard
            (7, 1.0, "b"),    # source-only, fails insert guard
        ],
        "k long, val double, part string",
    )
    lake.merge_into_multi_clause(
        spark,
        path,
        src,
        key_cols=["k"],
        partition_col="part",
        when_matched=[("s.val > t.val", "update"), ("t.val < 20", "delete")],
        when_not_matched="s.val > 50",
        when_not_matched_by_source_delete="t.part = 'a'",
    )
    got = {
        r.k: (r.val, r.part)
        for r in lake.read_partitioned(spark, path).collect()
    }
    assert got == {
        1: (99.0, "a"),
        3: (50.0, "b"),
        5: (10.0, "b"),
        6: (100.0, "b"),
    }


def test_merge_multi_clause_null_condition_falls_through(spark, tmp_path):
    """A WHEN MATCHED clause condition evaluating to NULL must be
    treated as not-true and evaluation must CONTINUE to the next
    clause (SQL MERGE three-valued logic). Regression: False|NULL =
    NULL poisoned the first-true-wins chain and suppressed every later
    clause for that row."""
    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path / "mergenull")
    base = spark.createDataFrame(
        [
            (1, None, 10.0, "a"),  # t.flag NULL -> clause 1 NULL, clause 2 fires
            (2, "x", 10.0, "a"),   # clause 1 fires -> delete
            (3, "y", 99.0, "a"),   # no clause fires (s.val < t.val) -> keep
        ],
        "k long, flag string, val double, part string",
    )
    lake.write_partitioned(base, path, ["part"])
    src = spark.createDataFrame(
        [
            (1, "s1", 50.0, "a"),
            (2, "s2", 50.0, "a"),
            (3, "s3", 50.0, "a"),
        ],
        "k long, flag string, val double, part string",
    )
    lake.merge_into_multi_clause(
        spark,
        path,
        src,
        key_cols=["k"],
        partition_col="part",
        when_matched=[("t.flag = 'x'", "delete"), ("s.val > t.val", "update")],
        when_not_matched=None,
    )
    got = {r.k: r.val for r in lake.read_partitioned(spark, path).collect()}
    assert got == {1: 50.0, 3: 99.0}


def test_merge_multi_clause_read_failure_not_bootstrap(spark, tmp_path):
    """A read failure on an EXISTING table must propagate, never be
    misclassified as the empty-table bootstrap (which would overwrite
    the whole table with only the insert rows)."""
    import pytest

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path / "mergecorrupt")
    # A non-empty directory whose content is NOT readable parquet.
    import os

    os.makedirs(path)
    with open(os.path.join(path, "part=a"), "w") as f:
        f.write("not parquet")
    src = spark.createDataFrame(
        [(1, 1.0, "a")], "k long, val double, part string"
    )
    with pytest.raises(Exception):
        lake.merge_into_multi_clause(
            spark,
            path,
            src,
            key_cols=["k"],
            partition_col="part",
            when_matched=[("s.val > t.val", "update")],
        )
    # the corrupt file must still be there — the table was not overwritten
    assert os.path.exists(os.path.join(path, "part=a"))
    with open(os.path.join(path, "part=a")) as f:
        assert f.read() == "not parquet"


def test_write_snapshot_checked_null_only_probe(spark, tmp_path):
    """A batch whose every row PASSES the constraint except for NULL
    evaluations must be refused — isolates the three-valued-logic
    loophole from plain value violations."""
    import pytest

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path / "chknull")
    ok = spark.createDataFrame([(1, 5.0), (2, 6.0)], "k long, bal double")
    v1 = lake.write_snapshot_checked(spark, ok, path, "bal >= 0")
    probe = spark.createDataFrame(
        [(3, 7.0), (4, None)], "k long, bal double"
    )
    with pytest.raises(lake.CheckConstraintViolation):
        lake.write_snapshot_checked(spark, probe, path, "bal >= 0")
    assert lake.latest_snapshot_version(spark, path) == v1


def test_shallow_clone_zero_copy_isolation_and_sequence_rule(
    spark, tmp_path
):
    """Shallow clone: (a) metadata-only — no data file appears under
    the clone root; (b) the clone reads the source's cloned-version
    state including carried equality deletes and re-insert survival;
    (c) post-clone commits on EITHER side are invisible to the other;
    (d) the era remap keeps carried deletes from outranking post-clone
    clone appends even when keys collide."""
    import os

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    src = str(tmp_path / "src")
    clone = str(tmp_path / "clone")
    rows1 = [(1, "a"), (2, "b"), (5, "e"), (10, "j")]
    lake.write_snapshot(
        spark, spark.createDataFrame(rows1, "k long, val string"), src
    )
    lake.delete_snapshot(
        spark, spark.createDataFrame([(5,), (10,)], "k long"), src, ["k"]
    )
    # v3 re-inserts key 5 — must survive the v2 delete in the clone too
    lake.write_snapshot(
        spark, spark.createDataFrame([(5, "E2")], "k long, val string"), src
    )
    assert lake.shallow_clone(spark, src, clone) == 1
    # (a) zero-copy: nothing but manifest metadata under the clone
    for root, _dirs, fnames in os.walk(clone):
        for f in fnames:
            assert not f.endswith(".parquet"), f"data file in clone: {f}"
    got = {
        (r.k, r.val) for r in lake.read_snapshot_mor(spark, clone).collect()
    }
    assert got == {(1, "a"), (2, "b"), (5, "E2")}
    # (c)+(d): divergent writes — the clone re-adds a DELETED key; the
    # carried delete (source v2) must not kill the clone-v2 append
    lake.write_snapshot(
        spark, spark.createDataFrame([(10, "J2")], "k long, val string"),
        clone,
    )
    lake.write_snapshot(
        spark, spark.createDataFrame([(99, "z")], "k long, val string"), src
    )
    got_clone = {
        (r.k, r.val) for r in lake.read_snapshot_mor(spark, clone).collect()
    }
    assert got_clone == {(1, "a"), (2, "b"), (5, "E2"), (10, "J2")}
    got_src = {
        (r.k, r.val) for r in lake.read_snapshot_mor(spark, src).collect()
    }
    assert got_src == {(1, "a"), (2, "b"), (5, "E2"), (99, "z")}
    # a delete issued ON THE CLONE stays clone-local
    lake.delete_snapshot(
        spark, spark.createDataFrame([(1,)], "k long"), clone, ["k"]
    )
    assert (1, "a") not in {
        (r.k, r.val) for r in lake.read_snapshot_mor(spark, clone).collect()
    }
    assert (1, "a") in {
        (r.k, r.val) for r in lake.read_snapshot_mor(spark, src).collect()
    }


def test_manifest_publish_refuses_published_version(spark, tmp_path):
    # Every attempt writes its own temp manifest, and a refused rename
    # onto an existing v{N}.json is a commit conflict: the published
    # document stays byte-identical and the loser leaves no temp file.
    import os

    path = str(tmp_path / "race")
    lake.write_snapshot(spark, spark.createDataFrame([(1,)], "k int"), path)  # v1
    lake.write_snapshot(spark, spark.createDataFrame([(2,)], "k int"), path)  # v2
    mdir = os.path.join(path, "_manifests")
    before = open(os.path.join(mdir, "v2.json"), "rb").read()
    parent = lake._read_manifest_doc(spark, path, 1)
    with pytest.raises(lake.CommitConflictError):
        lake._commit_manifest(spark, path, 2, [], parent, operation="rollback")
    assert open(os.path.join(mdir, "v2.json"), "rb").read() == before
    assert not [n for n in os.listdir(mdir) if ".tmp" in n]
    assert sorted(r.k for r in lake.read_snapshot(spark, path).collect()) == [1, 2]
