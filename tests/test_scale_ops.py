"""Scale techniques (SURVEY §4): salted hot-key join equivalence +
replication accounting, and the exchange-free bucketed join plan shape.
Value parity with SQL is covered by the oracle gate (test_entry)."""

from __future__ import annotations

from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.operators.skew import (
    detect_hot_keys,
    salted_join,
)
from glamira_end_to_end_data_pipeline_spark.sources.bucketing import (
    bucketed_table,
    write_bucketed,
)


def _frames(spark):
    big = spark.createDataFrame(
        # key 1 is hot (6 of 9 rows); keys 2, 3 are cold; 99 matches nothing
        [(1, i) for i in range(6)] + [(2, 10), (3, 11), (99, 12)],
        "k long, payload long",
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "cold_a"), (3, "cold_b"), (4, "unmatched")],
        "sk long, name string",
    )
    return big, small


def test_salted_join_equals_plain_join(spark):
    big, small = _frames(spark)
    plain = big.join(small, big.k == small.sk).select("k", "payload", "name")
    salted = salted_join(
        big, small, "k", "sk", hot_keys=[1], n_salts=4, salt_from=["payload"]
    ).select("k", "payload", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_left_preserves_misses(spark):
    big, small = _frames(spark)
    out = salted_join(
        big, small, "k", "sk", hot_keys=[1], n_salts=4, salt_from=["payload"], how="left"
    )
    miss = out.filter(F.col("k") == 99).collect()
    assert len(miss) == 1 and miss[0]["name"] is None


def test_salted_small_side_replicates_only_hot_keys(spark):
    """The dim side must grow by exactly (n_salts-1) rows per hot key —
    the accounting that keeps salting free for cold keys."""
    big, small = _frames(spark)
    out = salted_join(
        big, small, "k", "sk", hot_keys=[1], n_salts=4, salt_from=["payload"]
    )
    # every big-side row joins exactly once: 6 hot + 2 cold matches
    assert out.count() == 8
    per_key = {r["k"]: r["n"] for r in out.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert per_key == {1: 6, 2: 1, 3: 1}


def test_detect_hot_keys(spark):
    big, _ = _frames(spark)
    assert detect_hot_keys(big, "k", min_frac=0.5) == [1]
    assert sorted(detect_hot_keys(big, "k", min_frac=0.1)) == [1, 2, 3, 99]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed 4-ways on the join key -> the sort-merge join
    plan contains NO Exchange: the write-time shuffle is the only one."""
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("vb")
    )
    write_bucketed(a, "bt_test_a", str(tmp_path / "a"), ["k"], n_buckets=4)
    write_bucketed(b, "bt_test_b", str(tmp_path / "b"), ["k"], n_buckets=4)
    ta = bucketed_table(spark, "bt_test_a")
    tb = bucketed_table(spark, "bt_test_b")
    joined = ta.hint("merge").join(tb, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert joined.count() == 1000


def test_partitioned_lake_prunes_directories(spark, tmp_path):
    """A partition-column filter must cut the scanned file set to the
    matching directory (PartitionFilters), and the repartition-first
    write must produce one file per partition value."""
    from glamira_end_to_end_data_pipeline_spark.sources.lake import (
        read_partitioned,
        write_partitioned,
    )

    df = spark.range(0, 300).select(
        (F.col("id") % 3).cast("string").alias("day"), F.col("id").alias("v")
    )
    path = str(tmp_path / "lake")
    write_partitioned(df, path, ["day"], sort_cols=["v"])

    full = read_partitioned(spark, path)
    one = full.filter(F.col("day") == "1")
    # repartition-first write: exactly one file per partition value
    assert len(full.inputFiles()) == 3
    # the day filter reaches the scan as a PartitionFilter (directory
    # pruning), not a post-scan Filter
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan or "PartitionFilters: [(day" in plan, plan
    assert one.count() == 100


# ---------------------------------------------------------------------------
# train/val/test split + sequence packing (operators/text.py)
# ---------------------------------------------------------------------------


def test_split_assign_stable_under_corpus_growth(spark):
    """A doc's split must be a pure function of its id: assigning over a
    subset and over the full corpus must agree on the shared ids."""
    from glamira_end_to_end_data_pipeline_spark.operators.text import split_assign

    full = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    subset = full.filter(F.col("doc_id") % 3 == 0)
    a = {r.doc_id: r.split for r in split_assign(full).collect()}
    b = {r.doc_id: r.split for r in split_assign(subset).collect()}
    assert all(a[k] == v for k, v in b.items())
    # rough proportions hold (hash uniformity at n=500)
    n = len(a)
    train = sum(1 for v in a.values() if v == "train") / n
    assert 0.7 < train < 0.9


def test_pack_sequences_chunks_are_contiguous_and_budgeted(spark):
    from glamira_end_to_end_data_pipeline_spark.operators.text import pack_sequences

    rows = [(i, "en", "tok " * (i % 50 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = pack_sequences(df, budget=100).orderBy("start_offset").collect()
    # offsets are an exact running sum in pack order
    run = 0
    for r in out:
        assert r.start_offset == run
        assert r.chunk_id == run // 100
        run += r.n_tokens
    # every chunk except possibly the last starts within budget of its id
    assert {r.chunk_id for r in out} == set(range(out[-1].chunk_id + 1))


def test_salted_agg_spreads_hot_key(spark):
    """Stage-1 of the salted agg must place the hot key's rows in
    several salt partials (the whole point); the merged result must
    equal the plain aggregation."""
    from glamira_end_to_end_data_pipeline_spark.operators.skew import salted_agg

    rows = [(1 if i % 3 else i, float(i % 7), i) for i in range(600)]
    df = spark.createDataFrame(rows, "k long, v double, uid long")
    out = salted_agg(
        df, "k", {"n": "count", "s": "sum:v"}, n_salts=8, salt_from=["uid"]
    )
    plain = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    assert sorted((r.k, r.n, round(r.s, 9)) for r in out.collect()) == sorted(
        (r.k, r.n, round(r.s, 9)) for r in plain.collect()
    )
    # the hot key (k=1, ~400 rows) really fans out over salts
    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64("uid"), F.lit(8)).cast("int")
    ).filter(F.col("k") == 1)
    assert salted.select("salt").distinct().count() == 8


def test_interval_join_plan_is_hash_or_merge_join(spark):
    """The stream-stream attribution join must plan as an equi-join on
    the user key (band predicate as post-condition), never a nested
    loop."""
    from __spark_entry__ import queries
    from tests.test_plans import plan_of
    from tests.conftest import SF_SMALL

    plan = plan_of(queries()["stream_interval_join_attribution"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_shuffle_shards_is_single_exchange_permutation(spark):
    """Shard+rank must be one shuffle (no global sort) and a bijection
    onto 1..n within each shard."""
    from glamira_end_to_end_data_pipeline_spark.operators.text import shuffle_shards
    from tests.test_plans import plan_of

    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    out = shuffle_shards(docs, n_shards=4)
    assert plan_of(out).count("+- Exchange") == 1
    rows = out.collect()
    assert len({(r.shard, r.pos) for r in rows}) == 300
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_shard.values())


def _streamed_side(plan: str, node: str) -> str:
    """Tree lines of the streamed (left) child of the first ``node``
    line in a formatted plan whose build side is on the right."""
    lines = plan.split("\n\n")[0].splitlines()
    i = next(k for k, line in enumerate(lines) if node in line)
    col = lines[i].index(node)
    out = []
    for line in lines[i + 1 :]:
        if line[col : col + 2] == "+-":
            break
        out.append(line)
    return "\n".join(out)


def test_decontaminate_benchmark_side_broadcasts(spark):
    """The benchmark gram set must broadcast, and the corpus gram stream
    must reach the probe without an Exchange (probe first, distinct
    after): clean corpus docs never shuffle."""
    from __spark_entry__ import queries
    from tests.test_plans import plan_of
    from tests.conftest import SF_SMALL

    plan = plan_of(queries()["text_decontaminate"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    probe = _streamed_side(plan, "BroadcastHashJoin Inner BuildRight")
    assert "Generate" in probe, plan  # the corpus gram explode
    assert "Exchange" not in probe, plan


def test_decontaminate_counts_distinct_shared_grams(spark):
    """A benchmark 8-gram repeated inside one corpus doc counts once;
    a doc sharing no 8-gram is 0 / not contaminated."""
    from glamira_end_to_end_data_pipeline_spark.operators.text import decontaminate

    gram = "alpha beta gamma delta epsilon zeta eta theta"
    benchmark = spark.createDataFrame(
        [(1, f"{gram} and then some benchmark tail words")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (10, f"{gram} x {gram} y {gram}"),  # one gram, three times
            (11, "completely unrelated corpus text with no overlap at all"),
            (12, "alpha beta"),  # fewer than 8 tokens
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
        for r in decontaminate(corpus, benchmark, n=8).collect()
    }
    assert got == {10: (1, True), 11: (0, False), 12: (0, False)}


def test_pretraining_pipeline_corpus_never_shuffles_on_doc_id(spark):
    """The local connected-components labels broadcast, so the retain
    anti-join (and every later reference to the kept corpus) streams
    the corpus without an Exchange on doc_id."""
    from __spark_entry__ import queries
    from tests.test_plans import plan_of
    from tests.conftest import SF_SMALL

    plan = plan_of(queries()["text_pretraining_pipeline"](spark, SF_SMALL))
    assert "hashpartitioning(doc_id" not in plan, plan


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """A Z-ordered write must let min/max stats prune range filters on
    BOTH dimensions; a single-column sort prunes only its own column
    (every file spans the other dimension's full range)."""
    from glamira_end_to_end_data_pipeline_spark.sources.lake import (
        morton_code,
        write_zordered,
    )

    grid = 64
    df = spark.range(grid * grid).select(
        (F.col("id") % grid).alias("x"), (F.col("id") / grid).cast("long").alias("y")
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(df, zpath, "x", "y", bits=6, n_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(spath)

    def files_touched(path, col, lo, hi):
        """Files whose [min,max] stats for `col` intersect [lo, hi] —
        what Parquet row-group pruning skips by."""
        stats = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
            .collect()
        )
        return len(stats), sum(1 for r in stats if r.mx >= lo and r.mn <= hi)

    # single-column sort prunes x-ranges but is useless for y-ranges:
    # every file spans the full y domain
    n_s, s_y = files_touched(spath, "y", 0, 7)
    assert s_y == n_s, "x-sorted layout unexpectedly pruned y"
    # Z-order prunes BOTH dimensions (files are compact rectangles)
    n_z, z_y = files_touched(zpath, "y", 0, 7)
    n_z2, z_x = files_touched(zpath, "x", 0, 7)
    assert z_y <= n_z // 2, (z_y, n_z)
    assert z_x <= n_z2 // 2, (z_x, n_z2)
    # interleave correctness: known values (x=0b11, y=0b01 -> 0b0111)
    row = (
        spark.range(1)
        .select(morton_code(F.lit(3), F.lit(1), bits=4).alias("z"))
        .collect()[0]
    )
    assert row["z"] == 0b0111


def test_compaction_merges_small_files_preserving_content(spark, tmp_path):
    """64 tiny appended files must compact to a handful, with byte-
    identical content (count + checksum) and surviving sort order —
    through an explicit file://-scheme Hadoop FileSystem path (the
    same code path an hdfs://-or-object-store URI takes), never raw
    os.rename on the data dir."""
    from glamira_end_to_end_data_pipeline_spark.sources.lake import (
        compact_small_files,
    )

    path = "file://" + str(tmp_path / "lake")
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    df.repartition(64).write.parquet(path)
    before = spark.read.parquet(path)
    n_before = before.select(F.input_file_name()).distinct().count()
    checksum = before.agg(F.sum(F.col("id") * F.col("k"))).collect()[0][0]
    assert n_before >= 32

    compact_small_files(spark, path, target_file_mb=128, sort_cols=["k"])
    after = spark.read.parquet(path)
    n_after = after.select(F.input_file_name()).distinct().count()
    assert n_after <= 4, n_after
    assert after.count() == 10_000
    assert after.agg(F.sum(F.col("id") * F.col("k"))).collect()[0][0] == checksum


def test_compaction_recovers_from_mid_swap_crash(spark, tmp_path):
    """A prior run that died between the two swap renames leaves
    __precompact holding the ONLY copy of the data; the next run must
    restore it (not delete it) and then compact normally. A stale
    __compacting temp dir from a failed write must be cleared, not
    collide."""
    import os

    from glamira_end_to_end_data_pipeline_spark.sources.lake import (
        compact_small_files,
    )

    local = tmp_path / "lake"
    path = "file://" + str(local)
    spark.range(1_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(16).write.parquet(path)

    # Simulate the crash window: live dir renamed away, tmp half-written.
    os.rename(local, tmp_path / "lake__precompact")
    (tmp_path / "lake__compacting").mkdir()
    (tmp_path / "lake__compacting" / "_started").write_text("stale")

    compact_small_files(spark, path, target_file_mb=128)
    after = spark.read.parquet(path)
    assert after.count() == 1_000
    assert not (tmp_path / "lake__precompact").exists()
    assert not (tmp_path / "lake__compacting").exists()


def test_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """COW MERGE: matched keys updated, new keys inserted (new
    partition), untouched partitions' FILES survive byte-identical
    (dynamic partition overwrite never lists them for deletion)."""
    import os

    from glamira_end_to_end_data_pipeline_spark.sources.lake import (
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
        "k long, p string, v double",
    )
    base.write.partitionBy("p").parquet(path)

    def files_of(part: str) -> dict[str, float]:
        d = os.path.join(path, f"p={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    b_before = files_of("b")
    updates = spark.createDataFrame(
        [(1, "a", 11.0), (9, "c", 90.0)], "k long, p string, v double"
    )
    n = merge_upsert_partitioned(spark, path, updates, ["k"], "p")
    assert n == 2  # partitions a (update) and c (insert)

    got = {
        (r.k, r.p): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "a"): 11.0,  # updated
        (2, "a"): 20.0,  # untouched row in touched partition
        (3, "b"): 30.0,
        (4, "b"): 40.0,  # untouched partition intact
        (9, "c"): 90.0,  # inserted into new partition
    }
    assert files_of("b") == b_before, "untouched partition was rewritten"


def test_minhash_cross_batch_flags_dups_not_fresh(spark):
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        minhash_cross_batch,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest before the sun finally sets"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about spark "
                        "partitions shuffles and broadcast joins at scale")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (100, base + " appended"),               # near-dup of 1
            (101, base),                             # exact dup of 1
            (102, "totally novel payload qqx wwy zzv alpha beta gamma "
                  "delta epsilon zeta eta theta iota kappa"),  # fresh
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in minhash_cross_batch(corpus, new, threshold=0.5).collect()
    }
    assert (101, 1) in got and got[(101, 1)] == 1.0
    assert (100, 1) in got and got[(100, 1)] >= 0.5
    assert not any(n == 102 for n, _c in got)   # fresh doc stays silent
    assert not any(c == 2 for _n, c in got)     # unrelated corpus doc too


def test_containment_catches_snippets_jaccard_misses(spark):
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        containment_pairs,
        minhash_cross_batch,
    )

    long_doc = " ".join(f"tok{i} word{i*7%13}" for i in range(120))
    snippet = " ".join(long_doc.split()[:20])
    corpus = spark.createDataFrame([(1, long_doc)], ["doc_id", "text"])
    new = spark.createDataFrame([(100, snippet)], ["doc_id", "text"])
    got = {
        (r["new_id"], r["corpus_id"]): r["containment"]
        for r in containment_pairs(corpus, new, threshold=0.8).collect()
    }
    # every snippet shingle is in the source doc -> containment 1.0
    assert got == {(100, 1): 1.0}
    # symmetric MinHash-banded Jaccard misses it entirely: jaccard
    # ≈ 18/238, and band collisions at that similarity are ~never
    assert minhash_cross_batch(corpus, new, threshold=0.1).count() == 0


def test_containment_hub_shingle_guard(spark):
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    # every corpus doc shares one boilerplate sentence; with the df cap
    # below the corpus size, a probe matching ONLY the boilerplate is
    # never surfaced (hub shingles generate no candidates)
    boiler = "all rights reserved contact us for details"
    corpus = spark.createDataFrame(
        [(i, f"unique body {i} alpha{i} beta{i} gamma{i} " + boiler)
         for i in range(1, 8)],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame([(100, boiler)], ["doc_id", "text"])
    assert (
        containment_pairs(corpus, probe, threshold=0.1, max_shingle_df=5).count()
        == 0
    )


def test_countmin_never_underestimates(spark):
    from pyspark.sql import functions as F

    from glamira_end_to_end_data_pipeline_spark.operators.sketch import (
        countmin_build,
        countmin_query,
    )

    # small grid (w=8) to force collisions: estimates must be >= truth
    # everywhere, and == truth when the token collides with nothing
    rows = [("alpha",)] * 7 + [("beta",)] * 3 + [(f"t{i}",) for i in range(30)]
    toks = spark.createDataFrame(rows, ["token"])
    sk = countmin_build(toks, d=4, w=8)
    truth = {r["token"]: r["cnt"] for r in
             toks.groupBy("token").agg(F.count("*").alias("cnt")).collect()}
    est = {
        r["token"]: r["cm_estimate"]
        for r in countmin_query(sk, toks.select("token").distinct(), d=4, w=8).collect()
    }
    assert set(est) == set(truth)
    assert all(est[t] >= c for t, c in truth.items())
    # absent probe: estimate is collision mass only (>= 0, never error)
    ghost = spark.createDataFrame([("never-seen-token",)], ["token"])
    g = countmin_query(sk, ghost, d=4, w=8).collect()[0]
    assert g["cm_estimate"] >= 0


def test_hamming_bands_top_bit_set_fingerprints(spark):
    """bits=64 contract: a fingerprint with the sign bit set must band
    into the same slice buckets as a positive hash sharing those bits.
    The arithmetic-shift + signed-% formulation banded the negative
    hash to negative slice values that never collided (silent recall
    loss); unsigned-shift + mask fixes it."""
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        hamming_near_dups_int,
    )

    x = 0x0123456789ABCDEF
    # hA = x with the top bit set (negative two's-complement long),
    # hB = x with the top bit clear: hamming distance exactly 1, and
    # slices 0..2 (the low 48 bits) are bit-identical.
    h_a = (x | (1 << 63)) - (1 << 64)
    h_b = x
    df = spark.createDataFrame([(1, h_a), (2, h_b)], "id long, fp long")
    out = hamming_near_dups_int(
        df, id_col="id", hash_col="fp", max_hamming=1, chunks=4, bits=64
    ).collect()
    assert len(out) == 1
    assert out[0]["hamming"] == 1
    # two DIFFERENT negative fingerprints sharing a slice also collide
    h_c = h_a ^ (1 << 5)
    df2 = spark.createDataFrame([(1, h_a), (2, h_c)], "id long, fp long")
    out2 = hamming_near_dups_int(
        df2, id_col="id", hash_col="fp", max_hamming=1, chunks=4, bits=64
    ).collect()
    assert len(out2) == 1 and out2[0]["hamming"] == 1


def test_hamming_bucket_cap_drops_hot_slice(spark):
    """A boilerplate cluster of D identical fingerprints fans D^2
    candidates onto one slice key; with max_bucket_size < D every hub
    slice is dropped before the self-join, while a genuinely-near pair
    outside the hub still surfaces through its own (small) buckets."""
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        hamming_near_dups_int,
    )

    hub = [(i, 0x0F0F0F0F0F0F0F) for i in range(30)]
    near = [(100, 0x12345678ABCDE0), (101, 0x12345678ABCDE1)]
    df = spark.createDataFrame(hub + near, "id long, fp long")
    capped = hamming_near_dups_int(
        df, id_col="id", hash_col="fp", max_hamming=3, chunks=4,
        max_bucket_size=24,
    ).collect()
    assert {(r["a"], r["b"]) for r in capped} == {(100, 101)}
    uncapped = hamming_near_dups_int(
        df, id_col="id", hash_col="fp", max_hamming=3, chunks=4
    )
    assert uncapped.count() == 30 * 29 // 2 + 1


def _near_dup_corpus(seed: int = 11) -> list[tuple[int, str]]:
    """Seeded corpus covering every MinHash edge case: docs that repeat
    shingles, docs under 3 tokens, exact and near duplicates, and a
    boilerplate hub shared by many docs."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    rows: list[tuple[int, str]] = []
    for i in range(40):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 30)))))
    for i in range(40, 50):  # exact duplicates
        rows.append((i, rows[i - 40][1]))
    for i in range(50, 70):  # near duplicates: one or two tokens changed
        toks = rows[i - 50][1].split()
        for _ in range(rng.randint(1, 2)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        rows.append((i, " ".join(toks)))
    for i in range(70, 80):  # repeated shingles; the partner repeats
        # the phrase more often: same shingle set, larger multiset
        phrase = " ".join(rng.choice(vocab) for _ in range(3))
        k = rng.randint(2, 4)
        rows.append((i, " ".join([phrase] * k)))
        rows.append((i + 15, " ".join([phrase] * (k + 2))))
    rows += [(80, ""), (81, "w1"), (82, "w1 w2"), (83, "w1 w2"), (84, "W1  w2 ")]
    hub = "terms of service apply to all users of this site always"
    rows += [(i, hub) for i in range(100, 120)]
    rows += [(120 + i, f"{hub} w{i}") for i in range(5)]
    return rows


def test_minhash_near_dups_matches_exploded_join_definition(spark):
    """Two-path equality: the one-aggregation operator (signatures and
    collect_set shingle sets together, verified by array_intersect)
    equals the exploded-join definition — signatures over the raw
    stream, banded candidates, jaccard_for_pairs over the DISTINCT
    (doc, shingle) stream — with and without the hot-bucket cap."""
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        exploded_shingles,
        jaccard_for_pairs,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_near_dups,
        minhash_signatures,
    )

    df = spark.createDataFrame(_near_dup_corpus(), "doc_id long, text string")
    for threshold, cap in ((0.5, None), (0.3, 8), (0.0, None)):
        cand = lsh_candidate_pairs(
            lsh_bands(minhash_signatures(exploded_shingles(df, distinct=False))),
            max_bucket_size=cap,
        )
        ref = jaccard_for_pairs(cand, exploded_shingles(df, distinct=True)).filter(
            F.col("jaccard") >= threshold
        )
        got = minhash_near_dups(df, threshold=threshold, max_bucket_size=cap)
        assert got.columns == ref.columns == ["a", "b", "jaccard"]
        want = sorted(tuple(r) for r in ref.collect())
        assert sorted(tuple(r) for r in got.collect()) == want, (threshold, cap)
        assert any(j == 1.0 for _a, _b, j in want)  # exact dups surface
        assert any(j < 1.0 for _a, _b, j in want)  # and near dups
        hub_pairs = [p for p in want if 100 <= p[0] < 120 and 100 <= p[1] < 120]
        assert (len(hub_pairs) == 0) == (cap is not None)


def test_lsh_bucket_cap_bounds_candidates(spark):
    """Same guard on the MinHash band join: D docs sharing identical
    text collapse into one band bucket per band; cap < D kills the D^2
    candidate blowup while distinct near-dup pairs still pair up."""
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_near_dups,
        minhash_signatures,
        exploded_shingles,
    )

    boiler = "terms of service apply to all users of this site always"
    rows = [(i, boiler) for i in range(30)] + [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "the quick brown fox jumps over the lazy dog today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures(exploded_shingles(df, distinct=False))
    bands = lsh_bands(sig)
    capped = lsh_candidate_pairs(bands, max_bucket_size=24)
    assert {(r["a"], r["b"]) for r in capped.collect()} == {(100, 101)}
    assert lsh_candidate_pairs(bands).count() == 30 * 29 // 2 + 1
    # end-to-end: capped pipeline surfaces only the non-hub pair
    pairs = minhash_near_dups(df, threshold=0.3, max_bucket_size=24)
    assert {(r["a"], r["b"]) for r in pairs.collect()} == {(100, 101)}
