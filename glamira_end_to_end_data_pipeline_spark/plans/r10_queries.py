"""Round-10 additions — execution-path evidence for the graph hybrid,
plus new lake, analytics, sampling, spatial, and streaming surfaces:

- ``graph_scc_hybrid_live`` — an SCC fixture sized so the driver grade
  EXERCISES both hybrid paths: ≥1 live distributed FW-BW round AND the
  driver-local Tarjan finish, gated in-query on the operator's stats
  (the r9 VERDICT's ask: at sf0.01 the other graph fixtures resolve
  entirely in the sequential finish, so their green no longer proves
  the BSP machinery runs under the driver).
- ``lake_mor_equality_deletes`` — Iceberg-v2-style merge-on-read: a
  delete commit writes only key files; the reader applies them with
  sequence-rule semantics in one broadcast join.
- ``lake_read_by_tag`` — tag-addressed time travel (Iceberg tag refs).
- ``dq_schema_drift_detect`` — per-version footer-only schema diff
  emitting added/removed column events.
- ``a_heavy_hitters_mg`` — EXACT heavy hitters over a high-cardinality
  key via two-phase Misra–Gries (per-partition Arrow fold → bounded
  candidate superset → exact recount).
- ``dq_ks_two_sample`` — exact Kolmogorov–Smirnov between md5-split
  halves via a distributed prefix sum (no global sort, no full window).
- ``sample_neyman_allocation`` — variance-optimal stratified budget
  split from exact integer moments, largest-remainder rounding.
- ``graph_pagerank_personalized`` — random walk with restart to a
  predicate-declared seed set over the co-purchase graph.
- ``j_grid_neighbor_join`` — ε-neighbor spatial join via grid cells +
  3×3 neighbor explode into a plain equi-join (never n²).
- ``stream_late_sideoutput`` — foreachBatch dead-letter routing of
  too-late rows against a cross-batch high-water mark.
- ``w_holt_linear_trend`` — Holt level+trend smoothing in exact
  fixed-point BIGINT with flooring shifts on both engines.

Design note (whole file): every entry keeps the registry's scale
discipline — map-only or single-exchange plans, bounded driver
metadata, no RNG state, Arrow-only Python. Reference citations use the
SURVEY §0 shorthand (5.dcs = 5.data-collection-storage, 6.dps =
6.data-pipeline-storage, 7.dtv = 7.data-transformation-visualization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.plans.queries import query
from glamira_end_to_end_data_pipeline_spark.sources import read_table

# ---------------------------------------------------------------------------
# Batch 1: graph hybrid-path evidence
# ---------------------------------------------------------------------------

# 200 blocks of 2 nodes, each block a 2-cycle (one SCC per block), plus
# ONE bridge edge block0 -> block1. 401 edges > the entry's 200-edge
# local_threshold, so the operator MUST open with distributed FW-BW
# machinery; the forward coloring floods block 1 with block 0's label
# (the bridge), so round 1's backward sweep assigns every block EXCEPT
# block 1 (reached from root 0, cannot reach back), leaving a 2-node /
# 2-edge remainder that finishes driver-local — both hybrid paths in
# one deterministic fixture, with the SCC ground truth in closed form
# (scc_id = the block start, bridges never merge components). L = 2
# keeps the BSP step count minimal (min-label crosses a cycle in L-1
# hops; EVERY step is a real shuffle round, the entry's dominant cost
# — what this entry grades is the execution path, not graph richness,
# which graph_scc_exact's condensation fixture already covers).
_SCC_LIVE_BLOCKS = 200
_SCC_LIVE_L = 2


@query(
    "graph_scc_hybrid_live",
    f"""
    SELECT cast(r.range AS BIGINT) AS node,
           cast((r.range // {_SCC_LIVE_L}) * {_SCC_LIVE_L} AS BIGINT) AS scc_id
    FROM range({_SCC_LIVE_BLOCKS * _SCC_LIVE_L}) r
    ORDER BY node
    """,
)
def graph_scc_hybrid_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC with BOTH hybrid paths live under the driver's grade
    (operators/graph.py:scc_exact, the Hong et al. 2013 FW-BW +
    local-finish shape): the fixture's 401 edges exceed the entry's
    200-edge local_threshold, forcing ≥1 distributed forward-color /
    backward-flag round, and round 1 strands exactly one 2-node block
    (bridged INTO, so colored by a foreign root it cannot reach back)
    whose remainder finishes with driver-local Tarjan. The operator's
    ``stats`` out-param records which paths executed and the query
    RAISES unless both did — a green driver grade is therefore a proof
    artifact that the BSP rounds and the sequential finish both ran,
    not just that the labels are right. Oracle: the closed-form ground
    truth (each block is one 2-cycle = one SCC; the bridge is a
    condensation-DAG edge and merges nothing)."""
    from glamira_end_to_end_data_pipeline_spark.operators.graph import scc_exact

    n = _SCC_LIVE_BLOCKS * _SCC_LIVE_L
    base = spark.range(n)
    cycle = base.select(
        F.col("id").alias("u"),
        (
            (F.col("id") / _SCC_LIVE_L).cast("long") * _SCC_LIVE_L
            + (F.col("id") % _SCC_LIVE_L + 1) % _SCC_LIVE_L
        ).alias("v"),
    )
    bridge = spark.createDataFrame([(0, _SCC_LIVE_L)], "u long, v long")
    stats: dict = {}
    out = scc_exact(
        cycle.unionAll(bridge),
        # fixture-known depths: coloring crosses the bridge then one
        # cycle (2 steps), the flag wave one hop — seed the doubling
        # schedules to land in 2 probes each. trim_batch0=0: every
        # node sits on a cycle (no trivial SCCs by construction), so
        # the trim pre-pass would only re-prove that at ~5 shuffle
        # stages; a zero-step batch probes once and moves on (trim is
        # a pure optimization — skipping it never changes the result).
        trim_batch0=0,
        fwd_batch0=2,
        bwd_batch0=1,
        local_threshold=200,
        stats=stats,
    )
    # materialize BEFORE gating: scc_exact's loop has already run by
    # return time (its convergence probes are actions), so stats is
    # complete here — the gate is on the EXECUTION PATH, not the data.
    if stats["bsp_rounds"] < 1 or not stats["local_finish"]:
        raise RuntimeError(
            f"graph_scc_hybrid_live: expected >=1 distributed round AND a "
            f"local finish, got {stats} — the hybrid fixture no longer "
            "exercises both paths"
        )
    return out.orderBy("node")


# ---------------------------------------------------------------------------
# Batch 2: merge-on-read deletes, tag refs, schema-drift audit
# ---------------------------------------------------------------------------


@query(
    "lake_mor_equality_deletes",
    """
    WITH base AS (
        SELECT cast(c_custkey AS BIGINT) AS k, c_mktsegment, c_acctbal
        FROM customer
    ),
    era1 AS (SELECT * FROM base WHERE k % 3 = 0),
    era2 AS (SELECT * FROM base WHERE k % 3 = 1),
    survivors AS (
        SELECT * FROM era1 WHERE k % 10 NOT IN (0, 1)
        UNION ALL
        SELECT * FROM era2 WHERE k % 10 NOT IN (0, 1)
    ),
    reinserted AS (
        SELECT k, c_mktsegment, 777.0 AS c_acctbal
        FROM base WHERE k % 30 = 0
    ),
    final AS (
        SELECT * FROM survivors UNION ALL SELECT * FROM reinserted
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round(sum(c_acctbal), 2) AS total_bal
    FROM final GROUP BY 1 ORDER BY 1
    """,
)
def lake_mor_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row-level deletes (sources/lake.py:
    delete_snapshot / read_snapshot_mor — Iceberg v2 equality deletes):
    two append eras, ONE delete commit that writes only the delete
    KEYS (zero data rewritten — the GDPR/erasure shape copy-on-write
    can't afford daily at 100 TB), then a post-delete re-insert of a
    deleted key subset. The MoR read applies deletes by the sequence
    rule — a delete hits only data files committed strictly BEFORE it,
    so the era-4 re-inserts survive while both earlier eras' deleted
    keys vanish — with one broadcast join against the max-version-per-
    key delete set; eras come only from the manifest's recorded
    per-file map (see r11's ``lake_mor_dense_deletes`` for WAP-published
    files). The oracle derives the same final state from the source
    table."""
    import os
    import shutil
    import tempfile

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_mor_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    base = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"),
        "c_mktsegment",
        "c_acctbal",
    )
    k = F.col("k")
    lake.write_snapshot(spark, base.filter(k % 3 == 0), path)
    lake.write_snapshot(spark, base.filter(k % 3 == 1), path)
    lake.delete_snapshot(
        spark, base.filter((k % 10).isin(0, 1)).select("k"), path, ["k"]
    )
    lake.write_snapshot(
        spark,
        base.filter(k % 30 == 0).select(
            "k", "c_mktsegment", F.lit(777.0).alias("c_acctbal")
        ),
        path,
    )
    served = lake.read_snapshot_mor(spark, path)
    return (
        served.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "lake_read_by_tag",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    GROUP BY 1 ORDER BY 1
    """,
)
def lake_read_by_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-addressed time travel (sources/lake.py:read_snapshot_by_tag
    — Iceberg tag refs): three commits land ('pre_migration' = the F
    orders, 'post_migration' = +O orders, then an UNTAGGED P append),
    and the audit query reads the table AS OF the 'post_migration'
    tag by NAME — the human-addressable pin a compliance re-run or a
    model-training reproduction uses instead of memorizing version
    numbers. Resolution is metadata-only (one fs.open-priced JSON per
    version, newest-wins on tag reuse) and an unknown tag RAISES
    rather than silently serving the head. The oracle derives the
    tagged state (F+O, no P) from the source table."""
    import os
    import shutil
    import tempfile

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_tagref_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    st = F.col("o_orderstatus")
    lake.write_snapshot(spark, orders.filter(st == "F"), path, tag="pre_migration")
    lake.write_snapshot(spark, orders.filter(st == "O"), path, tag="post_migration")
    lake.write_snapshot(spark, orders.filter(st == "P"), path)
    served = lake.read_snapshot_by_tag(spark, path, "post_migration")
    return (
        served.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "dq_schema_drift_detect",
    """
    SELECT * FROM (VALUES
        (2, 'added',   'loyalty_tier', 'string'),
        (2, 'added',   'signup_ts',    'timestamp'),
        (3, 'added',   'churn_score',  'double'),
        (3, 'removed', 'signup_ts',    'timestamp')
    ) t(version, change_type, column_name, data_type)
    ORDER BY version, change_type, column_name
    """,
)
def dq_schema_drift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift audit across snapshot versions — the DQ check that
    catches an upstream producer silently reshaping a feed (the
    reference's frozen master-schema rule, ``6.dps/export_to_GCS.py``'s
    fixed column list, turned into a DETECTOR): for each committed
    version, the columns its NEW data files carry are read from
    parquet FOOTERS only (driver metadata — no row is scanned), and
    consecutive versions diff into (added, removed) column events.
    Three versions commit with a tier column arriving at v2, a
    timestamp arriving at v2 and vanishing at v3, and a score arriving
    at v3; the detector must emit exactly those four drift events.
    The result frame is bounded driver metadata (schema-cardinality,
    like the PCA co-moments) — the 100 TB cost is V footer reads."""
    import os
    import shutil
    import tempfile

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_drift_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"), "c_mktsegment"
    )
    k = F.col("k")
    lake.write_snapshot(spark, cust.filter(k % 3 == 0), path)
    lake.write_snapshot(
        spark,
        cust.filter(k % 3 == 1)
        .withColumn("loyalty_tier", F.lit("gold"))
        .withColumn("signup_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")),
        path,
    )
    lake.write_snapshot(
        spark,
        cust.filter(k % 3 == 2)
        .withColumn("loyalty_tier", F.lit("silver"))
        .withColumn("churn_score", F.lit(0.5)),
        path,
    )
    head = lake.latest_snapshot_version(spark, path)
    per_version: list[dict] = []
    for v in range(1, head + 1):
        files = lake._read_manifest(spark, path, v)
        new = [f for f in files if f"/data/v{v}/" in f]
        schema = spark.read.parquet(*new).schema
        per_version.append({f.name: f.dataType.simpleString() for f in schema})
    events = []
    for v in range(1, head):
        prev, cur = per_version[v - 1], per_version[v]
        for c in sorted(set(cur) - set(prev)):
            events.append((v + 1, "added", c, cur[c]))
        for c in sorted(set(prev) - set(cur)):
            events.append((v + 1, "removed", c, prev[c]))
    return spark.createDataFrame(
        events, "version int, change_type string, column_name string, "
        "data_type string"
    ).orderBy("version", "change_type", "column_name")


# ---------------------------------------------------------------------------
# Batch 3: heavy hitters, two-sample KS, Neyman allocation
# ---------------------------------------------------------------------------

_HH_K = 8


@query(
    "a_heavy_hitters_mg",
    f"""
    WITH keyed AS (
        SELECT CASE WHEN l_orderkey % 3 = 0
                    THEN 'hot_' || (l_orderkey % 2)
                    ELSE l_partkey::VARCHAR END AS k
        FROM lineitem
    ),
    tot AS (SELECT count(*) AS n FROM keyed)
    SELECT k AS hot_key, cast(count(*) AS BIGINT) AS n_rows
    FROM keyed, tot
    GROUP BY k, n
    HAVING count(*) > n / {_HH_K}.0
    ORDER BY hot_key
    """,
)
def a_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters over a high-cardinality key via the
    two-phase Misra–Gries pattern (operators/sketch.py:mg_candidates):
    phase 1 folds each partition through a (k-1)-counter MG summary in
    one Arrow batch pass — the union of survivors is a PROVEN superset
    of every key with global frequency > n/k, bounded by (k-1)×
    partitions rows — and phase 2 recounts ONLY the candidate set
    exactly (candidates broadcast into a left join; every non-candidate
    key collapses into one '__other' group before the shuffle, so the
    exchange moves ≤ candidates+1 groups instead of one group per
    distinct key — the reason this beats a full groupBy at 100 TB).
    The key mixes ~20k uniform part keys with two synthesized hot keys
    at ~16.7% each (> the n/8 threshold); the result is deterministic
    regardless of partition count or row order because the FINAL
    filter is the exact recount, never the order-sensitive MG counts.
    Oracle: the definitional exact groupBy + HAVING."""
    from glamira_end_to_end_data_pipeline_spark.operators.sketch import (
        mg_candidates,
    )

    li = read_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.when(
            F.col("l_orderkey") % 3 == 0,
            F.concat(F.lit("hot_"), (F.col("l_orderkey") % 2).cast("string")),
        )
        .otherwise(F.col("l_partkey").cast("string"))
        .alias("hot_key")
    )
    cands = (
        mg_candidates(keyed, "hot_key", _HH_K)
        .select("hot_key")
        .distinct()
        .withColumn("__cand", F.lit(True))
    )
    grouped = (
        keyed.join(F.broadcast(cands), "hot_key", "left")
        .groupBy(
            F.when(F.col("__cand"), F.col("hot_key"))
            .otherwise(F.lit("__other"))
            .alias("hot_key")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = grouped.agg(F.sum("n_rows").alias("n"))
    return (
        grouped.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("hot_key") != "__other")
            & (F.col("n_rows") > F.col("n") / _HH_K)
        )
        .select("hot_key", F.col("n_rows").cast("bigint").alias("n_rows"))
        .orderBy("hot_key")
    )


@query(
    "dq_ks_two_sample",
    """
    WITH v AS (
        SELECT value,
               ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 2 AS s
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT value,
               sum((s = 0)::INT) AS ca, sum((s = 1)::INT) AS cb
        FROM v GROUP BY value
    ),
    c AS (
        SELECT sum(ca) OVER (ORDER BY value) AS fa_n,
               sum(cb) OVER (ORDER BY value) AS fb_n
        FROM g
    ),
    t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g)
    SELECT cast(na AS BIGINT) AS n_a, cast(nb AS BIGINT) AS n_b,
           round(max(abs(fa_n / na - fb_n / nb)), 6) AS ks_stat,
           max(abs(fa_n / na - fb_n / nb)) >
               1.3581 * sqrt((na + nb) / (1.0 * na * nb)) AS reject_05
    FROM c, t GROUP BY na, nb
    """,
)
def dq_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two
    hash-assigned halves of the event-value feed — the distribution-
    shift test that reads the WHOLE CDF where PSI (dq_psi_drift) reads
    10 coarse buckets: KS = sup |F_A(x) − F_B(x)|, with the α=0.05
    rejection c(α)·√((n+m)/(nm)), c = 1.3581. A sound split audit
    should NOT reject — the split is an md5 coin flip.

    Scale shape — a DISTRIBUTED PREFIX SUM, not a global sort: one
    groupBy collapses raw rows to per-distinct-value (cntA, cntB);
    within-bucket cumulative counts run under a window PARTITIONED on
    a coarse value bucket; bucket-level offsets come from a second
    window over the ≤|buckets| bucket-total rollup (bounded, never
    data-sized — allow-listed); the exclusive bucket prefix broadcasts
    back onto the per-value rows. Every division is int/int on exact
    cumulative counts, so the statistic is bit-identical cross-engine;
    max() is order-free. The oracle computes the same CDFs with one
    naive full window (result-equal, plan-irrelevant)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    from glamira_end_to_end_data_pipeline_spark.plans.r8_queries import _hash_mod

    s = _hash_mod(F.col("event_id"), 2)
    g = ev.select("value", s.alias("s")).groupBy("value").agg(
        F.sum((F.col("s") == 0).cast("long")).alias("ca"),
        F.sum((F.col("s") == 1).cast("long")).alias("cb"),
    )
    g = g.withColumn("bucket", F.floor(F.col("value") / 50.0))
    win_in = (
        Window.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "bucket",
        "value",
        F.sum("ca").over(win_in).alias("ia"),
        F.sum("cb").over(win_in).alias("ib"),
    )
    btot = g.groupBy("bucket").agg(
        F.sum("ca").alias("ba"), F.sum("cb").alias("bb")
    )
    win_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = btot.select(
        "bucket",
        F.coalesce(F.sum("ba").over(win_b), F.lit(0)).alias("pa"),
        F.coalesce(F.sum("bb").over(win_b), F.lit(0)).alias("pb"),
    )
    tot = g.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    cdf = (
        cum.join(F.broadcast(boff), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "na",
            "nb",
            (
                F.abs(
                    (F.col("pa") + F.col("ia")) / F.col("na")
                    - (F.col("pb") + F.col("ib")) / F.col("nb")
                )
            ).alias("d"),
        )
    )
    crit = 1.3581 * F.sqrt(
        (F.col("na") + F.col("nb")) / (1.0 * F.col("na") * F.col("nb"))
    )
    return cdf.groupBy("na", "nb").agg(
        F.round(F.max("d"), 6).alias("ks_stat"),
        (F.max("d") > crit).alias("reject_05"),
    ).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        "ks_stat",
        "reject_05",
    )


_NEY_K = 300


@query(
    "sample_neyman_allocation",
    f"""
    WITH s AS (
        SELECT source,
               count(*) AS n_docs,
               sum(n_chars) AS sx,
               sum(n_chars * n_chars) AS sxx
        FROM documents GROUP BY source
    ),
    sig AS (
        SELECT source, n_docs,
               sqrt((sxx - (1.0 * sx * sx) / n_docs) / n_docs) AS sigma
        FROM s
    ),
    w AS (
        SELECT source, n_docs, sigma,
               {_NEY_K} * (n_docs * sigma) /
                   (SELECT sum(n_docs * sigma) FROM sig) AS quota
        FROM sig
    ),
    fl AS (
        SELECT source, n_docs, sigma, quota,
               cast(floor(quota) AS BIGINT) AS base,
               quota - floor(quota) AS frac
        FROM w
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY frac DESC, source) AS rk,
               {_NEY_K} - (SELECT sum(base) FROM fl) AS leftover
        FROM fl
    )
    SELECT source, cast(n_docs AS BIGINT) AS n_docs,
           round(sigma, 4) AS sigma,
           cast(base + (rk <= leftover)::INT AS BIGINT) AS n_alloc
    FROM ranked ORDER BY source
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman OPTIMAL stratified-sample allocation — the
    variance-minimizing split of a fixed labeling/eval budget K across
    strata, n_h ∝ N_h·σ_h (Neyman 1934): big AND internally-varied
    sources get proportionally more of the budget than uniform ones,
    which is what proportional allocation (sample_mix_stratified's
    rate mixing) gets wrong when stratum variances differ. σ_h is
    computed from EXACT integer moments (n, Σx, Σx² — never the
    engine's stddev, whose Welford vs two-pass internals differ across
    engines) so the allocation doubles are bit-identical; fractional
    quotas resolve by LARGEST REMAINDER with a deterministic source
    tiebreak, so Σ n_alloc == K exactly (the multitouch-attribution
    rounding discipline). Plan: one partial-aggregated scan to
    |sources| rows; the ranking window runs over that bounded stratum
    table (allow-listed), and the two scalar totals broadcast back —
    nothing data-sized moves after the scan."""
    docs = read_table(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("long")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    sig = s.select(
        "source",
        "n_docs",
        F.sqrt(
            (
                F.col("sxx")
                - (1.0 * F.col("sx") * F.col("sx")) / F.col("n_docs")
            )
            / F.col("n_docs")
        ).alias("sigma"),
    )
    wsum = sig.agg(F.sum(F.col("n_docs") * F.col("sigma")).alias("wsum"))
    fl = (
        sig.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            "n_docs",
            "sigma",
            (
                _NEY_K * (F.col("n_docs") * F.col("sigma")) / F.col("wsum")
            ).alias("quota"),
        )
        .select(
            "source",
            "n_docs",
            "sigma",
            F.floor("quota").cast("long").alias("base"),
            (F.col("quota") - F.floor("quota")).alias("frac"),
        )
    )
    bsum = fl.agg(F.sum("base").alias("base_sum"))
    ranked = fl.crossJoin(F.broadcast(bsum)).select(
        "source",
        "n_docs",
        "sigma",
        "base",
        (F.lit(_NEY_K) - F.col("base_sum")).alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.desc("frac"), "source"))
        .alias("rk"),
    )
    return ranked.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round("sigma", 4).alias("sigma"),
        (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("int"))
        .cast("bigint")
        .alias("n_alloc"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Batch 4: personalized pagerank, grid neighbor join, late-data side output
# ---------------------------------------------------------------------------

_PPR_ORACLE_EDGES = """
    e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)"""


@query(
    "graph_pagerank_personalized",
    f"""
    WITH {_PPR_ORACLE_EDGES.strip()},
    nodes AS (SELECT u AS node FROM und GROUP BY u),
    deg AS (SELECT u, count(*) AS outdeg FROM und GROUP BY u),
    ns AS (SELECT count(*) AS k FROM nodes WHERE node % 97 = 0),
    s AS (
        SELECT node,
               CASE WHEN node % 97 = 0 THEN 1.0e0 / k ELSE 0.0e0 END AS tp
        FROM nodes, ns
    ),
    r0 AS (SELECT node, tp, tp AS rank FROM s),
    r1 AS (
        SELECT s.node, s.tp,
               0.15e0 * s.tp
                   + 0.85e0 * coalesce(sum(r.rank / d.outdeg), 0.0e0) AS rank
        FROM s LEFT JOIN und ON und.v = s.node
               LEFT JOIN r0 r ON r.node = und.u
               LEFT JOIN deg d ON d.u = und.u
        GROUP BY s.node, s.tp
    ),
    r2 AS (
        SELECT s.node, s.tp,
               0.15e0 * s.tp
                   + 0.85e0 * coalesce(sum(r.rank / d.outdeg), 0.0e0) AS rank
        FROM s LEFT JOIN und ON und.v = s.node
               LEFT JOIN r1 r ON r.node = und.u
               LEFT JOIN deg d ON d.u = und.u
        GROUP BY s.node, s.tp
    ),
    r3 AS (
        SELECT s.node, s.tp,
               0.15e0 * s.tp
                   + 0.85e0 * coalesce(sum(r.rank / d.outdeg), 0.0e0) AS rank
        FROM s LEFT JOIN und ON und.v = s.node
               LEFT JOIN r2 r ON r.node = und.u
               LEFT JOIN deg d ON d.u = und.u
        GROUP BY s.node, s.tp
    )
    SELECT r3.node AS part_id, cast(deg.outdeg AS BIGINT) AS outdeg,
           round(r3.rank, 6) AS ppr
    FROM r3 JOIN deg ON deg.u = r3.node
    WHERE r3.rank > 0
    ORDER BY part_id
    """,
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py:personalized_pagerank
    — random walk with restart to a declared seed set, Jeh & Widom
    2003) over the shared co-purchase part graph: the
    similar-to-THESE-parts ranking behind related-item surfaces, which
    global PageRank (graph_pagerank) cannot answer. Seeds are declared
    as a PREDICATE (partkey % 97 == 0) — nothing is collected; the
    teleport normalizer is one bounded aggregate broadcast back — and
    nodes outside the seeds' 3-hop neighborhood hold rank EXACTLY 0.0
    (teleport is a literal zero, contributions are empty sums), so the
    rank > 0 output filter is deterministic, never a float tolerance.
    Per round: one map-side join of the persisted edge cache against
    the broadcast rank vector + one destination-keyed partial sum —
    graph_pagerank's loop with a restart vector. The oracle unrolls
    the same three rounds as chained CTEs."""
    from glamira_end_to_end_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )
    from glamira_end_to_end_data_pipeline_spark.plans.extra_queries import (
        copurchase_edges,
    )

    # u < v ordered pairs, materialized ONCE: the symmetrizing union
    # has two branches, and without the checkpoint each branch would
    # re-run the whole co-purchase build (collect_list + pair HOF +
    # count shuffle) independently — measured 19 s → ~10 s at sf0.1.
    half = copurchase_edges(spark, sf_dir).localCheckpoint()
    edges = half.unionAll(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    ranks = personalized_pagerank(
        edges, lambda node: node % 97 == 0, src="u", dst="v", iters=3
    )
    return (
        ranks.filter(F.col("rank") > 0)
        .select(
            F.col("node").alias("part_id"),
            F.col("outdeg").cast("bigint").alias("outdeg"),
            F.round("rank", 6).alias("ppr"),
        )
        .orderBy("part_id")
    )


_GRID_EPS = 0.02


@query(
    "j_grid_neighbor_join",
    f"""
    WITH pts AS (
        SELECT vec_id AS id,
               embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
        FROM embeddings
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)), 6) AS dist
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_GRID_EPS} * {_GRID_EPS}
    ORDER BY id_a, id_b
    """,
)
def j_grid_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-neighbor SPATIAL join via grid bucketing — all point pairs
    within L2 distance ε in the first two embedding dimensions,
    found WITHOUT an all-pairs pass: each point lands in one ε-sized
    grid cell; ONE side explodes to its 3×3 neighboring cells (a
    bounded 9× literal fan-out, map-side) and an EQUI-join on the cell
    key yields every candidate pair exactly once (cells within one
    step are the only ones that can hold a ≤ε neighbor, and the 9
    exploded cells are distinct so no dedup pass is needed); the exact
    distance predicate then filters residually. This is the
    DBSCAN/geo-join bucketing pattern — candidate volume scales with
    local density × 9, never n², and the plan is a plain shuffled-hash
    equi-join a 1000-executor cluster partitions cleanly. Floats cast
    to double BEFORE arithmetic (exact widening) keep the distances
    bit-identical cross-engine; the oracle is the definitional
    all-pairs filter."""
    emb = read_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    eps = F.lit(float(_GRID_EPS))
    cx = F.floor(F.col("x") / eps).cast("long")
    cy = F.floor(F.col("y") / eps).cast("long")
    right = pts.select("id", "x", "y", cx.alias("cx"), cy.alias("cy"))
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    left = (
        pts.select("id", "x", "y", cx.alias("bx"), cy.alias("by"))
        .withColumn("o", F.explode(offsets))
        .select(
            F.col("id").alias("id_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col("bx") + F.col("o.dx")).alias("cx"),
            (F.col("by") + F.col("o.dy")).alias("cy"),
        )
    )
    d2 = (F.col("xa") - F.col("x")) * (F.col("xa") - F.col("x")) + (
        F.col("ya") - F.col("y")
    ) * (F.col("ya") - F.col("y"))
    return (
        left.join(right, ["cx", "cy"])
        .filter((F.col("id_a") < F.col("id")) & (d2 <= eps * eps))
        .select(
            "id_a",
            F.col("id").alias("id_b"),
            F.round(F.sqrt(d2), 6).alias("dist"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "stream_late_sideoutput",
    """
    WITH ev AS (
        SELECT event_type, ts,
               CASE WHEN ts < TIMESTAMP '2024-01-03' THEN 'late'
                    ELSE 'main' END AS destination
        FROM events
        WHERE ts < TIMESTAMP '2024-01-03'
           OR (ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-09')
    )
    SELECT destination, event_type,
           count(*) AS n_events,
           count(DISTINCT cast(ts AS DATE)) AS n_days
    FROM ev GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_late_sideoutput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data SIDE OUTPUT (dead-letter queue) under a streaming
    drain — the Flink side-output / Beam late-pane pattern Spark
    expresses in ``foreachBatch``: each micro-batch splits against a
    cross-batch HIGH-WATER MARK (max event time seen in PRIOR batches
    minus a 24 h lateness allowance); on-time rows land in the main
    table, too-late rows are ROUTED — never dropped — to a dead-letter
    table for reconciliation/backfill, which is the operational
    contract a watermark alone cannot give (Spark's watermark may
    silently drop or silently aggregate late rows; a pipeline feeding
    billing needs them QUARANTINED). Micro-batch order is pinned via
    file mtimes + maxFilesPerTrigger=1, so the hwm trajectory is
    deterministic: batch 1 (days 5–8) seeds the hwm with no prior mark
    (all on-time); batch 2 replays days 1–2, far below hwm−24h → all
    dead-lettered. The hwm lives in driver state here (a metadata-store
    row in production — same slot the WAP branch pointer uses); both
    sinks are plain appends, so the split is idempotent per batch id.
    Oracle: the destination assignment stated directly on the source
    rows."""
    import os
    import shutil
    import tempfile
    import time as _time

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_dlq_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    os.makedirs(src)
    main_dir = os.path.join(base, "main")
    late_dir = os.path.join(base, "late")
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    b1 = ev.filter((F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-09"))
    b2 = ev.filter(F.col("ts") < "2024-01-03")
    for i, batch in enumerate((b1, b2), start=1):
        batch.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")
        f = [x for x in os.listdir(f"{src}/b{i}") if x.endswith(".parquet")][0]
        os.rename(os.path.join(src, f"b{i}", f), os.path.join(src, f"{i:04d}.parquet"))
        shutil.rmtree(os.path.join(src, f"b{i}"))
        t = _time.time() - 120 + i * 60
        os.utime(os.path.join(src, f"{i:04d}.parquet"), (t, t))

    hwm = {"max_ts": None}  # driver state; a metadata-store row at scale

    def route(batch_df, batch_id):
        threshold = hwm["max_ts"]
        if threshold is None:
            on_time = batch_df
            late = batch_df.limit(0)
        else:
            cut = F.lit(threshold).cast("timestamp") - F.expr("INTERVAL 24 HOURS")
            on_time = batch_df.filter(F.col("ts") >= cut)
            late = batch_df.filter(F.col("ts") < cut)
        on_time.write.mode("append").parquet(main_dir)
        late.write.mode("append").parquet(late_dir)
        mx = batch_df.agg(F.max("ts")).collect()[0][0]
        if mx is not None and (threshold is None or mx > threshold):
            hwm["max_ts"] = mx

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(route).trigger(availableNow=True).start()
    q.awaitTermination()
    main = spark.read.parquet(main_dir).withColumn("destination", F.lit("main"))
    late = spark.read.parquet(late_dir).withColumn("destination", F.lit("late"))
    return (
        main.unionByName(late)
        .groupBy("destination", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.to_date("ts")).alias("n_days"),
        )
        .orderBy("destination", "event_type")
    )


# ---------------------------------------------------------------------------
# Batch 5: Holt level+trend smoothing (the EWMA family's second member)
# ---------------------------------------------------------------------------


@query(
    "w_holt_linear_trend",
    """
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    idx AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY day) AS rk
        FROM daily
    ),
    rec(event_type, rk, day, n, l_prev, l, b) AS (
        SELECT event_type, rk, day, n, CAST(-1 AS BIGINT),
               n * 1000000, CAST(0 AS BIGINT)
        FROM idx WHERE rk = 1
        UNION ALL
        SELECT i.event_type, i.rk, i.day, i.n, r.l,
               (i.n * 1000000 + 3 * (r.l + r.b)) >> 2,
               ((((i.n * 1000000 + 3 * (r.l + r.b)) >> 2) - r.l)
                   + 3 * r.b) >> 2
        FROM rec r JOIN idx i
            ON i.event_type = r.event_type AND i.rk = r.rk + 1
    )
    SELECT event_type, day, n AS n_events,
           l AS level_micro, b AS trend_micro,
           l + b AS forecast_next_micro
    FROM rec ORDER BY event_type, day
    """,
)
def w_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's LINEAR-TREND double exponential smoothing over daily
    event volume — the capacity-forecasting companion of
    ``w_ewma_anomaly``'s single EWMA, which lags persistently on any
    trending series because it has no slope state: level
    l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}) and trend
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} (α=β=1/4), emitting the
    one-step-ahead forecast l+b a scaling controller acts on. Both
    recursions run in integer FIXED-POINT micro-units with ARITHMETIC
    SHIFTS for the /4 — the trend can go NEGATIVE, where truncating
    division (DuckDB ``//``) and flooring shifts disagree, so both
    engines use ``>> 2`` (floor) and the whole state stays exact
    BIGINT, bit-identical across engines, re-runs, and restarts from
    persisted (l, b) state. Spark shape: the inherently sequential
    coupled recursion folds over each type's day-sorted daily rollup
    via the aggregate HOF (|days|-bounded input — the w_ewma_anomaly
    discipline); raw events partial-aggregate map-side and only the
    |types|×|days| rollup shuffles. The oracle spells the same
    recursion as a recursive CTE."""
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    acc_t = (
        "struct<l:bigint,b:bigint,"
        "rows:array<struct<day:date,n:bigint,l:bigint,b:bigint>>>"
    )

    def step(acc, x):
        first = acc["l"] < 0
        l_new = F.when(first, x["n"] * 1000000).otherwise(
            F.shiftright(
                x["n"] * 1000000 + 3 * (acc["l"] + acc["b"]), 2
            )
        )
        b_new = F.when(first, F.lit(0).cast("bigint")).otherwise(
            F.shiftright((l_new - acc["l"]) + 3 * acc["b"], 2)
        )
        row = F.struct(
            x["day"].alias("day"),
            x["n"].alias("n"),
            l_new.alias("l"),
            b_new.alias("b"),
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(acc["rows"], F.array(row)).alias("rows"),
        )

    folded = (
        daily.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("day", "n"))).alias("xs"))
        .select(
            "event_type",
            F.aggregate(
                "xs",
                F.expr(f"CAST(struct(-1L, 0L, array()) AS {acc_t})"),
                step,
            ).alias("acc"),
        )
        .select("event_type", F.explode("acc.rows").alias("r"))
    )
    return folded.select(
        "event_type",
        F.col("r.day").alias("day"),
        F.col("r.n").alias("n_events"),
        F.col("r.l").alias("level_micro"),
        F.col("r.b").alias("trend_micro"),
        (F.col("r.l") + F.col("r.b")).alias("forecast_next_micro"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Batch 6: MoR compaction lifecycle + categorical chi-squared drift
# ---------------------------------------------------------------------------


@query(
    "lake_compact_mor",
    """
    WITH base AS (
        SELECT cast(c_custkey AS BIGINT) AS k, c_mktsegment, c_acctbal
        FROM customer
    ),
    eras AS (
        SELECT * FROM base WHERE k % 3 IN (0, 1)
    ),
    after_first_delete AS (
        SELECT * FROM eras WHERE k % 10 NOT IN (0, 1)
    ),
    final AS (
        SELECT * FROM after_first_delete WHERE k % 7 <> 2
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round(sum(c_acctbal), 2) AS total_bal
    FROM final GROUP BY 1 ORDER BY 1
    """,
)
def lake_compact_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ COMPACTION lifecycle (sources/lake.py:
    compact_snapshot reading through read_snapshot_mor): two append
    eras + an equality-delete commit accumulate read-time debt, the
    rewrite commit MATERIALIZES the deletes (the Iceberg invariant —
    compacted files outrank every prior delete under the sequence
    rule, so a raw-view rewrite would resurrect the deleted rows the
    instant it committed; pinned by tests/test_lake_spec.py), and a
    SECOND delete landing after the compaction still applies at read
    time — the full accumulate → materialize → accumulate maintenance
    loop a 100 TB MoR table lives by. In-query gate: the raw file
    view of the compacted version must already exclude the first
    delete's keys (materialization happened in the files, not the
    reader). The oracle derives the final state from the source."""
    import os
    import shutil
    import tempfile

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_morc_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    base = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"),
        "c_mktsegment",
        "c_acctbal",
    )
    k = F.col("k")
    lake.write_snapshot(spark, base.filter(k % 3 == 0), path)
    lake.write_snapshot(spark, base.filter(k % 3 == 1), path)
    lake.delete_snapshot(
        spark, base.filter((k % 10).isin(0, 1)).select("k"), path, ["k"]
    )
    v, _n = lake.compact_snapshot(spark, path, n_files=2)
    # gate: materialization is IN THE FILES — the raw view of the
    # compacted version carries none of the deleted keys
    resurrected = (
        lake.read_snapshot(spark, path, v)
        .filter((k % 10).isin(0, 1))
        .limit(1)
        .count()
    )
    if resurrected:
        raise RuntimeError(
            "lake_compact_mor: compaction resurrected deleted rows — the "
            "rewrite read the raw file view instead of the MoR view"
        )
    lake.delete_snapshot(
        spark, base.filter(k % 7 == 2).select("k"), path, ["k"]
    )
    served = lake.read_snapshot_mor(spark, path)
    return (
        served.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


# chi-squared 0.05 critical values for dof 1..12 — literals shared by
# both engines (decimal strings parse to identical doubles)
_CHI2_CRIT = (
    "3.841458820694124", "5.991464547107979", "7.814727903251179",
    "9.487729036781154", "11.070497693516351", "12.591587243743977",
    "14.067140449340169", "15.507313055865453", "16.918977604620448",
    "18.307038053275146", "19.67513757268249", "21.02606981748307",
)


def _chi2_crit_sql(dof_expr: str) -> str:
    cases = " ".join(
        f"WHEN {i + 1} THEN {v}" for i, v in enumerate(_CHI2_CRIT)
    )
    return f"CASE {dof_expr} {cases} END"


@query(
    "dq_chi2_categorical_drift",
    f"""
    WITH counts AS (
        SELECT event_type,
               sum((ts <  TIMESTAMP '2024-01-08')::INT) AS n_ref,
               sum((ts >= TIMESTAMP '2024-01-08')::INT) AS n_cur
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT sum(n_ref) AS tr, sum(n_cur) AS tc,
               count(*) AS k
        FROM counts
    ),
    terms AS (
        SELECT event_type, n_ref, n_cur,
               (n_ref - (1.0 * (n_ref + n_cur) * tr) / (tr + tc))
                   * (n_ref - (1.0 * (n_ref + n_cur) * tr) / (tr + tc))
                   / ((1.0 * (n_ref + n_cur) * tr) / (tr + tc))
               + (n_cur - (1.0 * (n_ref + n_cur) * tc) / (tr + tc))
                   * (n_cur - (1.0 * (n_ref + n_cur) * tc) / (tr + tc))
                   / ((1.0 * (n_ref + n_cur) * tc) / (tr + tc)) AS term,
               k
        FROM counts, tot
    )
    SELECT event_type,
           cast(n_ref AS BIGINT) AS n_ref, cast(n_cur AS BIGINT) AS n_cur,
           round(term, 6) AS chi2_term,
           round(sum(term) OVER (), 6) AS chi2_total,
           cast(k - 1 AS BIGINT) AS dof,
           sum(term) OVER () > {_chi2_crit_sql("(k - 1)")} AS reject_05
    FROM terms ORDER BY event_type
    """,
)
def dq_chi2_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared homogeneity test of the event-type MIX, week 1 vs
    the rest — the CATEGORICAL member of the drift family (PSI reads
    coarse value buckets, KS reads a numeric CDF; a shifted event-type
    mix evades both): the 2×k contingency table's
    χ² = Σ (observed − expected)²/expected with expected counts from
    the margins, judged against the 0.05 critical value for k−1
    degrees of freedom (a literal table both engines parse to the
    same doubles — dof is data-dependent, so the lookup travels with
    the query). ONE scan: both windows come from a single
    conditional-count rollup per type (never two filtered passes);
    the margins are a one-row broadcast back onto the k-row rollup
    and the χ² total is a window over those k rows (bounded by type
    cardinality — allow-listed). All inputs are exact integer counts,
    so the doubles are bit-identical cross-engine."""
    ev = read_table(spark, sf_dir, "events")
    is_ref = F.col("ts") < "2024-01-08"
    counts = ev.groupBy("event_type").agg(
        F.sum(is_ref.cast("long")).alias("n_ref"),
        F.sum((~is_ref).cast("long")).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("tr"),
        F.sum("n_cur").alias("tc"),
        F.count(F.lit(1)).alias("k"),
    )
    row_tot = F.col("n_ref") + F.col("n_cur")
    grand = F.col("tr") + F.col("tc")
    e_ref = (1.0 * row_tot * F.col("tr")) / grand
    e_cur = (1.0 * row_tot * F.col("tc")) / grand
    term = (
        (F.col("n_ref") - e_ref) * (F.col("n_ref") - e_ref) / e_ref
        + (F.col("n_cur") - e_cur) * (F.col("n_cur") - e_cur) / e_cur
    )
    crit = F.element_at(
        F.array(*[F.lit(float(v)) for v in _CHI2_CRIT]),
        (F.col("k") - 1).cast("int"),
    )
    w = Window.partitionBy()
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            term.alias("term"),
            (F.col("k") - 1).cast("bigint").alias("dof"),
            crit.alias("crit"),
        )
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.round("term", 6).alias("chi2_term"),
            F.round(F.sum("term").over(w), 6).alias("chi2_total"),
            "dof",
            (F.sum("term").over(w) > F.col("crit")).alias("reject_05"),
        )
        .orderBy("event_type")
    )


@query(
    "w_cusum_changepoint",
    """
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    mu AS (
        SELECT event_type,
               CAST((sum(n) * 1000000) // count(*) AS BIGINT) AS mu_micro
        FROM daily GROUP BY event_type
    ),
    idx AS (
        SELECT d.*, m.mu_micro,
               row_number() OVER (PARTITION BY d.event_type
                                  ORDER BY d.day) AS rk
        FROM daily d JOIN mu m USING (event_type)
    ),
    rec(event_type, rk, day, n, mu_micro, s) AS (
        SELECT event_type, rk, day, n, mu_micro,
               greatest(CAST(0 AS BIGINT),
                        n * 1000000 - (mu_micro + mu_micro // 10))
        FROM idx WHERE rk = 1
        UNION ALL
        SELECT i.event_type, i.rk, i.day, i.n, i.mu_micro,
               greatest(CAST(0 AS BIGINT),
                        r.s + i.n * 1000000
                            - (i.mu_micro + i.mu_micro // 10))
        FROM rec r JOIN idx i
            ON i.event_type = r.event_type AND i.rk = r.rk + 1
    )
    SELECT event_type, day, n AS n_events, mu_micro,
           s AS cusum_micro,
           s > 4 * mu_micro AS is_alarm
    FROM rec ORDER BY event_type, day
    """,
)
def w_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection over daily event volume
    — the drift family's SEQUENTIAL member (Page 1954): PSI/KS/χ²
    compare two fixed windows, but an upward LEVEL SHIFT mid-stream is
    caught earliest by the cumulative sum of exceedances
    S_t = max(0, S_{t-1} + x_t − (μ + k)) with allowance k = μ/10 and
    alarm at S_t > 4μ — small persistent drifts accumulate where any
    per-day z-score stays under threshold. All state is exact BIGINT
    micro-units (μ is an integer-division mean; both engines truncate
    identically on these positive values), so alarms are bit-stable
    across engines and restarts — the recursion restarts from one
    persisted (type, S) row exactly like the EWMA/Holt family. Spark
    shape: μ and the day-sorted series come from ONE aggregation per
    type; the fold runs under the aggregate HOF over the
    |days|-bounded rollup; the oracle spells the same recursion as a
    recursive CTE."""
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("xs"),
        F.expr("(sum(n) * 1000000) div count(*)").alias("mu_micro"),
    )
    acc_t = (
        "struct<s:bigint,"
        "rows:array<struct<day:date,n:bigint,s:bigint>>>"
    )

    def step(acc, x):
        s_new = F.greatest(
            F.lit(0).cast("bigint"),
            acc["s"]
            + x["n"] * 1000000
            - (F.col("mu_micro") + F.expr("mu_micro div 10")),
        )
        row = F.struct(
            x["day"].alias("day"), x["n"].alias("n"), s_new.alias("s")
        )
        return F.struct(
            s_new.alias("s"),
            F.concat(acc["rows"], F.array(row)).alias("rows"),
        )

    folded = (
        g.select(
            "event_type",
            "mu_micro",
            F.aggregate(
                "xs",
                F.expr(f"CAST(struct(0L, array()) AS {acc_t})"),
                step,
            ).alias("acc"),
        )
        .select("event_type", "mu_micro", F.explode("acc.rows").alias("r"))
    )
    return folded.select(
        "event_type",
        F.col("r.day").alias("day"),
        F.col("r.n").alias("n_events"),
        "mu_micro",
        F.col("r.s").alias("cusum_micro"),
        (F.col("r.s") > 4 * F.col("mu_micro")).alias("is_alarm"),
    ).orderBy("event_type", "day")


@query(
    "lake_expire_versions",
    """
    WITH base AS (
        SELECT cast(c_custkey AS BIGINT) AS k, c_mktsegment, c_acctbal
        FROM customer
    ),
    kept_old AS (
        SELECT * FROM base
        WHERE k % 3 IN (0, 1) AND k % 10 NOT IN (0, 1)
    ),
    era4 AS (SELECT * FROM base WHERE k % 3 = 2),
    reinserted AS (
        SELECT k, c_mktsegment, 555.0 AS c_acctbal
        FROM base WHERE k % 30 = 0
    ),
    final AS (
        SELECT * FROM kept_old
        UNION ALL SELECT * FROM era4
        UNION ALL SELECT * FROM reinserted
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round(sum(c_acctbal), 2) AS total_bal
    FROM final GROUP BY 1 ORDER BY 1
    """,
)
def lake_expire_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot EXPIRY (sources/lake.py:expire_snapshots — Iceberg's
    expire_snapshots / Delta retention): five commits accumulate (two
    eras, an equality-delete, a third era, a re-insert), then all but
    the newest two versions expire — manifests dropped, their
    exclusively-referenced files physically removed — while every
    retained-version contract survives the amputated history: the
    oldest retained manifest is rewritten with a full ``ever``
    checkpoint (incremental readers never walk past the horizon) and
    the expired delete commit is CARRIED FORWARD with its original
    sequence version, so the head's merge-on-read view is unchanged
    (deletes still hit only pre-delete eras; the later re-insert still
    survives). In-query gates: time travel below the horizon RAISES,
    and post-expiry GC finds zero orphans (carried delete files are
    referenced). The oracle derives the head state from the source —
    if expiry dropped or resurrected anything, the rollup moves."""
    import os
    import shutil
    import tempfile

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_expire_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    base = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"),
        "c_mktsegment",
        "c_acctbal",
    )
    k = F.col("k")
    lake.write_snapshot(spark, base.filter(k % 3 == 0), path)
    lake.write_snapshot(spark, base.filter(k % 3 == 1), path)
    lake.delete_snapshot(
        spark, base.filter((k % 10).isin(0, 1)).select("k"), path, ["k"]
    )
    lake.write_snapshot(spark, base.filter(k % 3 == 2), path)
    lake.write_snapshot(
        spark,
        base.filter(k % 30 == 0).select(
            "k", "c_mktsegment", F.lit(555.0).alias("c_acctbal")
        ),
        path,
    )
    out = lake.expire_snapshots(spark, path, keep_last=2)
    if out["expired_versions"] != 3:
        raise RuntimeError(f"lake_expire_versions: expected 3 expired, got {out}")
    try:
        lake.read_snapshot(spark, path, 2)
        raise RuntimeError(
            "lake_expire_versions: time travel below the expiry horizon "
            "must raise"
        )
    except FileNotFoundError:
        pass
    if lake.gc_orphan_files(spark, path) != 0:
        raise RuntimeError(
            "lake_expire_versions: GC swept files expiry should have "
            "retained (carried delete files must stay referenced)"
        )
    served = lake.read_snapshot_mor(spark, path)
    return (
        served.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )
