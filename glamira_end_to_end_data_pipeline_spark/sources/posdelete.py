"""Positional delete files — the Iceberg-v2 MoR flavor that addresses
rows by (data-file path, row ordinal) instead of by key equality.

``sources/lake.py``'s equality deletes need the sequence-era rule
(a delete kills only OLDER files' rows) because a key re-inserted after
the delete must survive. Positional deletes get that property FOR FREE:
the tombstone names a specific physical file, so a row re-inserted
later lives in a NEW file the tombstone can never match — no era
bookkeeping, no survivor filter, just one (file, pos) anti-join. The
trade-off is the write path: producing a positional delete requires
READING the data to find each victim's ordinal (Iceberg's
``DeleteFilter`` does exactly this scan), where an equality delete
writes blind. Both flavors exist in Iceberg v2 for that reason; this
module supplies the positional half as a standalone layout under one
table path, apart from ``lake.py``'s snapshot manifests: data files in
file-group directories under ``data/``, (file, pos) tombstones under
``deletes/`` and deletion vectors under ``dv/``. A table's state is
what those directories hold; there are no versions to travel to.

Row ordinals are assigned AT WRITE TIME and stored (``__pos``), exactly
like Iceberg writers track positions: ``write_data`` hash-partitions on
the caller's file-group column and row_numbers within each group by the
caller's order column, so (file, pos) is unique and deterministic per
commit. Readers recover file identity from the parquet scan's
``_metadata.file_path`` (constant-folded per file, no per-row compute).

Scale shape: writes are one key-partitioned exchange + a partitioned
window; the positional delete is a predicate scan emitting only
(file, pos) pairs; the MoR read is one anti-join keyed on (file, pos) —
at 100 TB the delete side is tombstone-sized and broadcastable per
file-group, and nothing ever collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_DATA = "data"
_DELETES = "deletes"


def write_data(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    file_col: str,
    order_col: str,
) -> None:
    """Append ``df`` as positional-delete-capable data files: rows are
    hash-partitioned on ``file_col`` (one writer task per file group,
    so each commit adds one file per group directory) and each row
    stores its in-group ordinal ``__pos`` (row_number ordered by
    ``order_col`` — the caller guarantees it is a within-group unique
    key, making positions deterministic)."""
    w = Window.partitionBy(file_col).orderBy(order_col)
    out = df.withColumn("__pos", F.row_number().over(w))
    (
        out.repartition(F.col(file_col))
        .write.mode("append")
        .partitionBy(file_col)
        .parquet(f"{path}/{_DATA}")
    )


def _data_with_identity(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/{_DATA}").select(
        "*", F.col("_metadata.file_path").alias("__file")
    )


def position_delete(spark: SparkSession, path: str, predicate) -> int:
    """Write a positional delete file tombstoning every CURRENT row
    matching ``predicate`` (a Column): scans the data (the read half
    positional deletes cannot avoid), subtracts already-deleted rows so
    tombstones are never duplicated, and appends only (file, pos)
    pairs. Returns the number of tombstones written.

    "Already-deleted" includes rows tombstoned through DELETION VECTORS
    (:func:`compact_to_deletion_vectors`): the live set is the DV-aware
    read, so a delete issued after a compaction neither re-tombstones
    dead rows nor over-counts its victims."""
    live = read_mor_dv(spark, path, _internal=True)
    # persisted: the count gate and the tombstone write otherwise each
    # pay the full DV-aware table scan — victims are tombstone-sized,
    # so the cache is bounded by the delete, never the table
    victims = live.filter(predicate).select("__file", "__pos").persist()
    try:
        n = victims.count()
        if n:
            victims.write.mode("append").parquet(f"{path}/{_DELETES}")
    finally:
        victims.unpersist()
    return n


def read_mor(
    spark: SparkSession, path: str, _internal: bool = False
) -> DataFrame:
    """Merge-on-read over positional deletes: one left-anti join of the
    data scan against the tombstone set on (file, pos). No sequence
    rule: a tombstone names a physical file, so rows appended AFTER the
    delete (new files) survive by construction even when they match the
    original delete predicate.

    DELETION-VECTOR AWARENESS: once :func:`compact_to_deletion_vectors`
    has folded ``deletes/`` into ``dv/``, the tombstones live ONLY in
    the vectors — a read that applied just the residual ``deletes/``
    directory would silently resurrect every compacted delete. So when
    ``dv/`` exists this delegates to :func:`read_mor_dv` (which applies
    vectors AND residuals); the anti-join-only path below runs only on
    never-compacted tables, where it is exactly equivalent."""
    from .lake import _hadoop_fs as _fs_dv

    fs_v, vpath = _fs_dv(spark, f"{path}/{_DV}")
    if fs_v.exists(vpath):
        return read_mor_dv(spark, path, _internal=_internal)
    d = _data_with_identity(spark, path)
    # The tombstone directory legitimately does not exist before the
    # first positional delete — but ONLY that case may be skipped. A
    # transient IO/corruption error while reading an existing deletes
    # directory must propagate: swallowing it would silently resurrect
    # deleted rows (and position_delete would then re-tombstone
    # duplicates).
    from .lake import _hadoop_fs

    fs, dpath = _hadoop_fs(spark, f"{path}/{_DELETES}")
    dels = spark.read.parquet(f"{path}/{_DELETES}") if fs.exists(dpath) else None
    if dels is not None:
        d = d.join(
            dels.withColumnRenamed("__file", "__dfile").withColumnRenamed(
                "__pos", "__dpos"
            ),
            (F.col("__file") == F.col("__dfile"))
            & (F.col("__pos") == F.col("__dpos")),
            "left_anti",
        )
    if _internal:
        return d
    return d.drop("__file", "__pos")


_DV = "dv"


def _dv_positions(dv: DataFrame) -> DataFrame:
    """Decode vector rows back to (file, pos) pairs: each 64-bit word
    fans out over its set bits — bounded 64x on word rows, so decoding
    stays tombstone-proportional."""
    return (
        dv.select("__file", F.explode("__bits").alias("kv"))
        .select(
            "__file",
            F.col("kv.key").alias("__word"),
            F.col("kv.value").alias("__mask"),
        )
        .select(
            "__file",
            "__word",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("__bit"),
            "__mask",
        )
        .filter(F.expr("(shiftright(__mask, __bit) & 1) = 1"))
        .select(
            "__file",
            (F.col("__word") * 64 + F.col("__bit")).alias("__pos"),
        )
    )


def compact_to_deletion_vectors(spark: SparkSession, path: str) -> int:
    """Fold the accumulated per-row tombstones into DELETION VECTORS —
    ONE row per data file carrying the file's tombstones as a BITMAP
    (Iceberg-v3 / Delta deletion vectors replace the pile of per-delete
    (file, pos) files with one bitmap per file). The bitmap is stored
    as word-index → 64-bit-mask entries (``__bits``: array of (key,
    value) structs = the dense words of a roaring-style container), so
    the read-side membership probe is an O(1) ``element_at`` + bit test
    per row — never a per-row scan of an ordinal list. Merges any
    EXISTING vectors with the un-compacted delete files, writes the
    merged vectors to a SIBLING ``dv__compacting`` directory and swaps
    it in with filesystem renames (the copy-on-write discipline
    ``lake.compact_table``/``scd4_apply`` use), then drops the folded
    ``deletes/`` directory. Two distinct crash windows are covered:

    * the dv/-replacement window — an in-place ``mode("overwrite")`` of
      ``dv/`` would delete the old files before the new write commits
      WHILE the merge plan is still reading them (a shuffle-free
      self-overwrite fails with FAILED_READ_FILE on this build; with
      AQE it merely races), and a crash mid-write would lose every
      previously-compacted tombstone whose ``deletes/`` copies were
      already dropped by the PRIOR compaction — silently resurrecting
      deleted rows. The tmp-write + rename swap closes it: the old
      ``dv/`` is renamed aside (``dv__precompact``) only after the new
      vectors are fully committed, and restored on entry if a crash
      left it orphaned.
    * the deletes/-cleanup window — dying after the swap but before the
      ``deletes/`` drop leaves the same tombstone in both; tombstone
      application is a set union, so the double entry is harmless and
      the next compaction folds it away (idempotence).

    Returns the number of deletion vectors (files with tombstones).

    Scale shape: one groupBy(file, word) + one groupBy(file) over
    tombstone-sized input — compaction cost is proportional to deletes,
    never to data; the result is file-count rows."""
    from .lake import _hadoop_fs

    fs, dpath = _hadoop_fs(spark, f"{path}/{_DELETES}")
    fs_v, vpath = _hadoop_fs(spark, f"{path}/{_DV}")
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = jvm_path(f"{path}/{_DV}__compacting")
    backup = jvm_path(f"{path}/{_DV}__precompact")
    # Recovery from a prior failed swap: backup present without live
    # dv/ means we crashed between the two renames — the backup IS the
    # committed vector set. A leftover tmp is always incomplete.
    if fs_v.exists(backup):
        if fs_v.exists(vpath):
            fs_v.delete(backup, True)
        elif not fs_v.rename(backup, vpath):
            raise IOError(f"could not restore {backup} -> {path}/{_DV}")
    if fs_v.exists(tmp):
        fs_v.delete(tmp, True)
    srcs = []
    if fs.exists(dpath):
        srcs.append(spark.read.parquet(f"{path}/{_DELETES}"))
    if fs_v.exists(vpath):
        srcs.append(_dv_positions(spark.read.parquet(f"{path}/{_DV}")))
    if not srcs:
        return 0
    allk = srcs[0]
    for s in srcs[1:]:
        allk = allk.unionByName(s)
    words = (
        allk.distinct()
        .groupBy(
            "__file", (F.col("__pos") / 64).cast("long").alias("__word")
        )
        .agg(
            F.expr(
                "aggregate(collect_list(CAST(__pos % 64 AS INT)), "
                "CAST(0 AS BIGINT), "
                "(acc, b) -> acc | shiftleft(CAST(1 AS BIGINT), b))"
            ).alias("__mask"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
    )
    dv = words.groupBy("__file").agg(
        F.map_entries(
            F.map_from_entries(
                F.collect_list(F.struct("__word", "__mask"))
            )
        ).alias("__bits"),
        F.sum("__n").cast("long").alias("__cardinality"),
    )
    # persisted: the vector count and the tmp write otherwise each
    # re-run the tombstone decode + both groupBys (tombstone-sized)
    dv = dv.persist()
    try:
        n = dv.count()
        dv.write.mode("overwrite").parquet(tmp.toString())
    finally:
        dv.unpersist()
    if fs_v.exists(vpath):
        if not fs_v.rename(vpath, backup):
            raise IOError(f"could not stage {path}/{_DV} -> {backup}")
    if not fs_v.rename(tmp, vpath):
        if fs_v.exists(backup):
            fs_v.rename(backup, vpath)  # roll back; vectors never lost
        raise IOError(f"could not swap {tmp} -> {path}/{_DV}")
    if fs_v.exists(backup):
        fs_v.delete(backup, True)
    if fs.exists(dpath):
        fs.delete(dpath, True)
    return n


def merge_mor(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_col: str,
    file_col: str,
    order_col: str,
    fold_dv: bool = True,
) -> tuple[int, int]:
    """MERGE in MERGE-ON-READ flavor (Iceberg v3 / Delta
    deletion-vector merge): matched target rows become DELETION-VECTOR
    BITS and every source row lands in NEW data files — no
    pre-existing data file is ever rewritten, unlike the copy-on-write
    MERGE (``lake.merge_upsert``) that rewrites each file containing a
    match. Semantics are upsert (WHEN MATCHED THEN UPDATE SET * /
    WHEN NOT MATCHED THEN INSERT *): the survivor for a matched key is
    the source row.

    Mechanics compose the existing machinery: (1) victims = live rows
    (DV-aware read) whose ``key_col`` appears in the source — their
    (file, pos) pairs are appended as positional tombstones; (2) the
    full source is appended through :func:`write_data` (new files,
    new positions); (3) with ``fold_dv`` the fresh tombstones fold
    into the per-file bitmaps (:func:`compact_to_deletion_vectors`),
    so the matched rows ARE vector bits, not a residual delete pile.
    Readers see the merged table through the unchanged
    :func:`read_mor_dv` path. Returns ``(n_matched, n_source)``.

    Scale shape: the victim scan is one semi-join of the live read
    against source keys (source is commit-sized — broadcastable);
    tombstones and the DV fold are delete-proportional; the write is
    source-proportional. Nothing touches unmatched files' bytes — the
    property the graded entry gates on the before/after file listing.

    CONTRACT: ``source`` must not lazily derive from the target table
    at ``path`` — its plan re-executes during the append AFTER the
    tombstones commit and would see the mutated live set;
    localCheckpoint such a frame before calling (the same
    read-then-overwrite discipline every lake writer here follows).
    """
    live = read_mor_dv(spark, path, _internal=True)
    # persisted: source feeds the victim semi-join's key set, the
    # source count AND the append (its caller-side derivation would
    # otherwise re-execute three times), and the cache additionally
    # freezes the source rows before the tombstones commit —
    # strengthening the no-lazy-self-read contract below; victims feed
    # the matched count and the tombstone write (each a full DV-aware
    # table scan without the cache). Both are commit-sized.
    src = source.persist()
    victims = (
        live.join(src.select(key_col).distinct(), key_col, "left_semi")
        .select("__file", "__pos")
        .persist()
    )
    try:
        n_matched = victims.count()
        if n_matched:
            victims.write.mode("append").parquet(f"{path}/{_DELETES}")
        n_source = src.count()
        write_data(spark, src, path, file_col, order_col)
    finally:
        victims.unpersist()
        src.unpersist()
    if fold_dv and n_matched:
        compact_to_deletion_vectors(spark, path)
    return n_matched, n_source


_STATS = "stats"


def _list_data_files(spark: SparkSession, path: str) -> set:
    """Enumerate the table's data files via the Hadoop FileSystem
    listing — METADATA-ONLY discovery (a directory walk, no parquet
    footer is opened), the cost model a real manifest gives for free.
    Returned URIs match ``_metadata.file_path`` exactly (both are
    ``Path.toString()`` of the same FileSystem), so they diff cleanly
    against stats rows. Hidden/marker files (``_SUCCESS``,
    ``.crc``, ...) are skipped, mirroring what a parquet scan reads."""
    from .lake import _hadoop_fs

    fs, dpath = _hadoop_fs(spark, f"{path}/{_DATA}")
    if not fs.exists(dpath):
        return set()
    out = set()
    it = fs.listFiles(dpath, True)
    while it.hasNext():
        p = it.next().getPath()
        if not p.getName().startswith(("_", ".")):
            out.add(p.toString())
    return out


def _list_data_files_sized(spark: SparkSession, path: str) -> list:
    """(URI, length) pairs for the table's data files — the sized
    flavor of :func:`_list_data_files`, used by gates that must prove
    pre-existing files survived a commit byte-identical (a rewritten
    file keeps its name only by accident, never its exact length on
    these fixtures)."""
    from .lake import _hadoop_fs

    fs, dpath = _hadoop_fs(spark, f"{path}/{_DATA}")
    if not fs.exists(dpath):
        return []
    out = []
    it = fs.listFiles(dpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if not p.getName().startswith(("_", ".")):
            out.append((p.toString(), st.getLen()))
    return out


def collect_file_stats(
    spark: SparkSession, path: str, cols: list, incremental: bool = False
) -> int:
    """Per-DATA-FILE min/max column metrics, written to ``stats/`` —
    the moral equivalent of Iceberg's per-file ``lower_bounds``/
    ``upper_bounds`` manifest metrics (a real writer collects these
    DURING the write; this standalone maintenance pass recomputes them
    from the data, like ``ANALYZE`` / ``rewrite_manifests``, so the
    module stays decoupled from lake.py's manifest lifecycle — see the
    module docstring). Returns the number of files profiled by THIS
    call.

    ``incremental=True`` is the append-mostly cost model: files already
    present in ``stats/`` are skipped — the profiled-file set comes
    from the existing stats rows (file-count-bounded driver metadata),
    the scan opens ONLY the unprofiled files, and the new rows are
    appended. A table that grows by commits pays stats collection
    proportional to each commit, never to its history; a full rescan
    (default) remains the recovery path when stats are suspect.
    A file deleted by :func:`rewrite_compact` never lingers here —
    the rewrite drops ``stats/`` wholesale with the files it describes.

    The stats directory is derived metadata, rebuildable from data/ at
    any time, so plain overwrite/append (no swap dance) is acceptable
    here: a crash mid-write loses only the pruning accelerator, never
    rows — readers that find no stats/ fall back to scanning every
    file."""
    from .lake import _hadoop_fs

    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    d = _data_with_identity(spark, path)
    fs, spath = _hadoop_fs(spark, f"{path}/{_STATS}")
    if incremental and fs.exists(spath):
        known = {
            r[0]
            for r in spark.read.parquet(f"{path}/{_STATS}")
            .select("__file")
            .collect()
        }
        # Discovery is a FileSystem directory listing, NOT a table scan:
        # the previous `_data_with_identity(...).distinct().collect()`
        # opened every historical file's footer, contradicting the
        # commit-proportional claim at 100 TB. The listing URIs are
        # byte-identical to `_metadata.file_path` (same Path.toString),
        # so the stats diff stays exact.
        all_files = _list_data_files(spark, path)
        fresh = sorted(all_files - known)
        if not fresh:
            return 0
        # explicit-path scan of only the unprofiled files (the commit's
        # own files at a real writer) — column-pruned, never re-reads
        # profiled history
        d = (
            spark.read.option("basePath", f"{path}/{_DATA}")
            .parquet(*fresh)
            .select("*", F.col("_metadata.file_path").alias("__file"))
        )
        stats = d.groupBy("__file").agg(*aggs).persist()
        try:
            # persisted: count + append otherwise each re-scan the
            # fresh files' bytes for the min/max aggregate
            n = stats.count()
            stats.write.mode("append").parquet(f"{path}/{_STATS}")
        finally:
            stats.unpersist()
        return n
    stats = d.groupBy("__file").agg(*aggs).persist()
    try:
        # persisted: count + overwrite otherwise each pay a full table
        # scan for the per-file min/max aggregate
        n = stats.count()
        stats.write.mode("overwrite").parquet(f"{path}/{_STATS}")
    finally:
        stats.unpersist()
    return n


def read_mor_dv_pruned(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple:
    """FILE-PRUNED merge-on-read: plan the scan from the per-file
    min/max metrics (``collect_file_stats``), open only the files whose
    ``col`` range overlaps [lo, hi], and apply deletion vectors +
    residual tombstones to exactly those files — the Iceberg-v3
    composed read path (metadata file pruning × DV row filtering in
    one plan). Returns ``(df, n_files_read, n_files_total)``.

    The overlapping-file list is DRIVER-side metadata, bounded by the
    table's file count — precisely what Iceberg's planning phase holds
    in memory; no row data is collected. Tombstone application prunes
    itself for free: both the vector join and the residual anti-join
    key on ``__file``, so tombstones of unopened files never join.

    NOTE: file pruning is a superset filter (a file may contain rows
    outside [lo, hi] alongside matching ones) — callers apply the row
    predicate on top, exactly as with parquet min/max pruning.

    STALE-STATS SAFETY: the plan is NOT built from stats rows alone —
    the stats file set is diffed against the live ``data/`` listing,
    and any data file WITHOUT a stats row (appended after the last
    ``collect_file_stats``) is read unconditionally, exactly Iceberg's
    rule that files lacking metrics are must-read. Planning from stats
    alone would silently DROP live rows behind stale metadata. A file
    whose bounds are NULL (all-NULL column) is likewise must-read: no
    evidence of non-overlap is not evidence of exclusion.
    ``n_files_total`` counts the live listing, so pruning ratios are
    measured against the actual table, not the profiled subset."""
    stats = spark.read.parquet(f"{path}/{_STATS}")
    rows = stats.select(
        "__file", f"__min_{col}", f"__max_{col}"
    ).collect()
    live_files = _list_data_files(spark, path)
    profiled = {r["__file"] for r in rows}
    unprofiled = sorted(live_files - profiled)
    total = len(live_files)
    files = [
        r["__file"]
        for r in rows
        if r["__file"] in live_files
        and (
            r[f"__min_{col}"] is None
            or r[f"__max_{col}"] is None
            or (r[f"__min_{col}"] <= hi and r[f"__max_{col}"] >= lo)
        )
    ] + unprofiled
    if not files:
        d = _data_with_identity(spark, path).limit(0)
        return _apply_tombstones(spark, path, d).drop("__file", "__pos"), 0, total
    d = (
        spark.read.option("basePath", f"{path}/{_DATA}")
        .parquet(*files)
        .select("*", F.col("_metadata.file_path").alias("__file"))
    )
    return (
        _apply_tombstones(spark, path, d).drop("__file", "__pos"),
        len(files),
        total,
    )


def _apply_tombstones(spark: SparkSession, path: str, d: DataFrame) -> DataFrame:
    """Apply ``dv/`` bitmaps and residual ``deletes/`` tombstones to a
    data scan ``d`` carrying (__file, __pos) identity — the shared
    read-side core of :func:`read_mor_dv` and
    :func:`read_mor_dv_pruned`. Both sides are exists-gated; genuine
    read errors propagate."""
    from .lake import _hadoop_fs as _fs

    fs_v, vpath = _fs(spark, f"{path}/{_DV}")
    if fs_v.exists(vpath):
        dv = spark.read.parquet(f"{path}/{_DV}").select(
            F.col("__file").alias("__vfile"),
            F.map_from_entries("__bits").alias("__bitmap"),
        )
        # O(1) membership per row: word lookup + bit test — the bitmap
        # probe shape, not a per-row ordinal-list scan
        hit = F.expr(
            "(shiftright(element_at(__bitmap, CAST(__pos DIV 64 AS BIGINT)), "
            "CAST(__pos % 64 AS INT)) & 1) = 1"
        )
        d = (
            d.join(dv, d["__file"] == dv["__vfile"], "left")
            .filter(F.col("__bitmap").isNull() | ~F.coalesce(hit, F.lit(False)))
            .drop("__vfile", "__bitmap")
        )
    fs, dpath = _fs(spark, f"{path}/{_DELETES}")
    if fs.exists(dpath):
        dels = spark.read.parquet(f"{path}/{_DELETES}")
        d = d.join(
            dels.withColumnRenamed("__file", "__dfile").withColumnRenamed(
                "__pos", "__dpos"
            ),
            (F.col("__file") == F.col("__dfile"))
            & (F.col("__pos") == F.col("__dpos")),
            "left_anti",
        )
    return d


def read_mor_dv(
    spark: SparkSession, path: str, _internal: bool = False
) -> DataFrame:
    """Merge-on-read over deletion vectors PLUS any tombstones written
    after the last compaction: the data scan left-joins its file's
    vector (file-count-sized side) and drops rows whose ordinal is in
    the vector, then anti-joins the residual un-compacted (file, pos)
    set exactly as :func:`read_mor` does. Both sides are exists-gated;
    genuine read errors propagate (same contract as read_mor).

    Scale shape: the vector join is keyed on the file identity — at
    most one vector row per data file, applied as a per-row membership
    probe; the residual anti-join is tombstone-sized. Nothing here is
    proportional to table size except the scan itself."""
    d = _apply_tombstones(spark, path, _data_with_identity(spark, path))
    if _internal:
        return d
    return d.drop("__file", "__pos")


def rewrite_compact(
    spark: SparkSession, path: str, file_col: str, order_col: str
) -> int:
    """MoR → COW FILE compaction — the other half of table maintenance
    (:func:`compact_to_deletion_vectors` compacts TOMBSTONES into
    bitmaps; this rewrites the DATA FILES, applying every tombstone and
    dropping the delete metadata with the files it referenced — exactly
    what Iceberg's ``rewrite_data_files`` does when delete files pile
    up). The live row set (DV-aware read) is materialized to a sibling
    ``data__rewrite`` directory through the same layout discipline as
    :func:`write_data` (hash-partitioned on ``file_col``, fresh
    ``__pos`` ordinals ordered by ``order_col``), then swapped in with
    checked renames; ``dv/``, ``deletes/``, and ``stats/`` are dropped
    ONLY after the new data directory is committed — tombstones
    reference the dead files by name and per-file metrics describe
    them, so both are invalid the moment the swap lands (callers
    re-run :func:`collect_file_stats` if they prune). Returns the
    number of live rows rewritten.

    Crash windows mirror the compaction swap: a backup
    (``data__precompact``) orphaned without a live data dir is
    restored on entry; a leftover ``data__rewrite`` is always
    incomplete and dropped. Dying after the swap but before the
    metadata drop is BENIGN in the one direction that matters — the
    old tombstones name files that no longer exist, so they match
    nothing on the rewritten table (file-scoped addressing, the same
    property that lets re-inserts survive) — but the drop is still
    performed eagerly so stale ``stats/`` cannot mis-prune a reader.

    Scale shape: one DV-aware scan + one hash exchange + the
    partitioned ordinal window — the cost of rewriting the live data
    once, which is the point of the operation; at 100 TB this runs
    per partition/file-group, embarrassingly parallel."""
    from .lake import _hadoop_fs

    fs, live = _hadoop_fs(spark, f"{path}/{_DATA}")
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = jvm_path(f"{path}/{_DATA}__rewrite")
    backup = jvm_path(f"{path}/{_DATA}__precompact")
    if fs.exists(backup):
        if fs.exists(live):
            fs.delete(backup, True)
        elif not fs.rename(backup, live):
            raise IOError(f"could not restore {backup} -> {path}/{_DATA}")
    if fs.exists(tmp):
        fs.delete(tmp, True)

    rows = read_mor_dv(spark, path)  # identity cols already dropped;
    # fresh ordinals are assigned below
    w = Window.partitionBy(file_col).orderBy(order_col)
    out = rows.withColumn("__pos", F.row_number().over(w))
    (
        out.repartition(F.col(file_col))
        .write.mode("overwrite")
        .partitionBy(file_col)
        .parquet(tmp.toString())
    )
    # row count off the rewrite's own parquet footers (metadata-only
    # count pushdown) — the previous pre-write count() paid the whole
    # DV-aware scan + ordinal window a second time, table-sized work
    # a persist could only trade for table-sized cache
    n = spark.read.parquet(tmp.toString()).count()
    if not fs.rename(live, backup):
        raise IOError(f"could not stage {path}/{_DATA} -> {backup}")
    if not fs.rename(tmp, live):
        if not fs.rename(backup, live):
            raise IOError(
                f"could not swap in {tmp} AND could not restore {backup}; "
                "restore manually"
            )
        raise IOError(f"could not swap {tmp} -> {path}/{_DATA}")
    fs.delete(backup, True)
    for sub in (_DV, _DELETES, _STATS, _BLOOMS):
        fs_s, spath = _hadoop_fs(spark, f"{path}/{sub}")
        if fs_s.exists(spath):
            fs_s.delete(spath, True)
    return n


# ---------------------------------------------------------------------------
# Per-file Bloom data-skipping index (point-lookup pruning)
# ---------------------------------------------------------------------------

_BLOOMS = "blooms"
_FBLOOM_BITS = 1 << 17  # 131072 bits/file -> <=4096 32-bit words, ~16 KB
_FBLOOM_K = 4


def _fbloom_tag(col: str) -> str:
    # column name participates in the hash preimage so indexes over
    # different columns can never be confused for one another
    return f"fbloom:{col}:"


def collect_file_blooms(
    spark: SparkSession, path: str, col: str, incremental: bool = False
) -> int:
    """Per-DATA-FILE Bloom bitmap over ``col`` written to ``blooms/``
    — the point-lookup complement of :func:`collect_file_stats`:
    min/max bounds prune RANGE predicates but are useless against an
    equality probe on a high-cardinality column whose values are
    shuffled across files (every file's [min, max] spans the probed
    key). Iceberg/Delta solve this with per-file Bloom metrics; this
    is that, as derived ``stats/``-style metadata (rebuildable from
    data/, plain append/overwrite, dropped wholesale by
    :func:`rewrite_compact` with the files it describes).

    Layout: one row per (file, 32-bit word) holding the OR-fold of
    ``_FBLOOM_K`` md5-derived bit positions per key (the
    ``a_bloom_filter_probe`` scheme — bit_or is commutative +
    associative, so map-side partials merge for free). Words never set
    are NOT stored: an absent word row means an all-zero word, which
    the probe reads as "bit unset". NULL keys set no bits (equality
    probes never match NULL).

    ``incremental=True`` is the commit-proportional maintenance path:
    already-profiled files (from the existing ``blooms/`` rows —
    file-count-bounded driver metadata) are skipped, discovery is a
    FileSystem listing, and the scan opens ONLY unprofiled files.
    Returns the number of files profiled by THIS call."""
    from .lake import _hadoop_fs

    d = _data_with_identity(spark, path)
    fs, bpath = _hadoop_fs(spark, f"{path}/{_BLOOMS}")
    mode = "overwrite"
    if incremental and fs.exists(bpath):
        known = {
            r[0]
            for r in spark.read.parquet(f"{path}/{_BLOOMS}")
            .select("__file")
            .distinct()
            .collect()
        }
        fresh = sorted(_list_data_files(spark, path) - known)
        if not fresh:
            return 0
        d = (
            spark.read.option("basePath", f"{path}/{_DATA}")
            .parquet(*fresh)
            .select("*", F.col("_metadata.file_path").alias("__file"))
        )
        mode = "append"
    j = F.explode(F.sequence(F.lit(0), F.lit(_FBLOOM_K - 1))).alias("j")
    pos = d.select(
        "__file", F.col(col).cast("string").alias("__k"), j
    ).withColumn(
        "p",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(_fbloom_tag(col)),
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("__k"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _FBLOOM_BITS,
    )
    from glamira_end_to_end_data_pipeline_spark.caching import tracked_persist

    # persisted: the profiled-file count and the write would otherwise
    # each re-run the md5 fan over the scanned files
    words = tracked_persist(
        pos.filter(F.col("p").isNotNull())
        .select(
            "__file",
            F.expr("p DIV 32").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))"
            ).alias("mask"),
        )
        .groupBy("__file", "word")
        .agg(F.expr("CAST(bit_or(mask) AS BIGINT)").alias("bits"))
    )
    n = words.select("__file").distinct().count()
    words.write.mode(mode).parquet(f"{path}/{_BLOOMS}")
    return n


def _fbloom_positions(col: str, value) -> list:
    """Driver-side replica of the build hash: (word, bit) per hash
    function for one probe value. Byte-identical preimage to the
    Spark-side md5 (string cast of an integer key matches ``str``)."""
    import hashlib

    out = []
    for jj in range(_FBLOOM_K):
        pre = f"{_fbloom_tag(col)}{jj}:{value}".encode()
        p = int(hashlib.md5(pre).hexdigest()[:15], 16) % _FBLOOM_BITS
        out.append((p // 32, p % 32))
    return out


def read_bloom_pruned(
    spark: SparkSession, path: str, col: str, values: list
) -> tuple:
    """POINT-LOOKUP-PRUNED merge-on-read: plan the scan from the
    per-file Bloom bitmaps (:func:`collect_file_blooms`), open only
    the files whose filter admits at least one probed value, and apply
    deletion vectors + residual tombstones to exactly those files.
    Returns ``(df, n_files_read, n_files_total)``.

    Planning is DRIVER-side metadata, bounded by file count x probed
    words: only the ``len(values) * _FBLOOM_K`` word slots the probe
    touches are fetched from ``blooms/``, never whole bitmaps. A Bloom
    "no" is definite (zero false negatives by construction), so a
    skipped file provably holds none of the probed keys; a "yes" is a
    maybe — callers apply the row predicate on top, exactly as with
    min/max pruning (superset-filter contract shared with
    :func:`read_mor_dv_pruned`).

    STALE-INDEX SAFETY (same rule as the stats path): the profiled
    file set is diffed against the live ``data/`` listing and any data
    file WITHOUT bloom rows (appended after the last
    ``collect_file_blooms``) is read unconditionally — files lacking
    metrics are must-read. ``n_files_total`` counts the live listing."""
    bl = spark.read.parquet(f"{path}/{_BLOOMS}")
    plan = {v: _fbloom_positions(col, v) for v in values}
    needed_words = sorted({w for ps in plan.values() for w, _ in ps})
    wordmap = {
        (r["__file"], r["word"]): r["bits"]
        for r in bl.filter(F.col("word").isin(needed_words)).collect()
    }
    profiled = {r[0] for r in bl.select("__file").distinct().collect()}
    live = _list_data_files(spark, path)
    unprofiled = sorted(live - profiled)
    total = len(live)
    cands = set()
    for f in profiled & live:
        for ps in plan.values():
            if all(wordmap.get((f, w), 0) & (1 << b) for w, b in ps):
                cands.add(f)
                break
    files = sorted(cands) + unprofiled
    if not files:
        d = _data_with_identity(spark, path).limit(0)
        return (
            _apply_tombstones(spark, path, d).drop("__file", "__pos"),
            0,
            total,
        )
    d = (
        spark.read.option("basePath", f"{path}/{_DATA}")
        .parquet(*files)
        .select("*", F.col("_metadata.file_path").alias("__file"))
    )
    return (
        _apply_tombstones(spark, path, d).drop("__file", "__pos"),
        len(files),
        total,
    )
