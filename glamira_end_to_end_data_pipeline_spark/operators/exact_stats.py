"""Exact order statistics at scale — the two-phase bucket-locate /
rank-reconstruction family.

Spark's ``percentile`` sorts each group inside the aggregate and the
naive Gini needs a global rank — both are data-sized sorts a 100 TB
table cannot afford per group. Both quantities decompose exactly over a
coarse VALUE BUCKETING: cumulative windows run over the BOUNDED bucket
rollup (one row per (group, bucket)), and only per-bucket work touches
rows, partitioned by (group, bucket). Every comparison and running sum
is INTEGER (thresholds cross-multiplied, values pre-cast), so results
are exact and engine-order-independent — the property tests pin both
operators against flat single-window references on arbitrary inputs.

No reference parity: the reference (SURVEY §0) aggregates in BigQuery
SQL and never computes weighted quantiles or concentration indices;
these are engine-side extensions for data-mixing pipelines (token-
budget cutoffs over weighted quality scores; Gini of tokens per domain
slice).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.frames import local_frame


def weighted_quantiles_two_phase(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    specs: Sequence[tuple[str, int, int]],
    bucket_width: float = 1000.0,
) -> DataFrame:
    """Exact LOWER weighted quantiles per group without a global sort.

    For each ``(label, num, den)`` in ``specs`` returns the smallest
    value x whose cumulative weight satisfies ``den·cw(x) ≥ num·W``
    (the lower weighted quantile — num/den = 1/2 is the weighted
    median). Output: one row per (group, label) with columns
    ``(g, q, xq, w)`` where ``w`` is the group's total weight.

    Phases: (1) collapse ties to (group, value) weight sums — the one
    data-sized exchange; (2) roll up to ``bucket_width``-wide value
    buckets and locate, via a cumulative window over the BOUNDED
    bucket table, the single bucket where each threshold lands
    (strict left edge: a threshold exactly on a bucket boundary is
    answered inside an earlier bucket, whose own rows satisfy the
    window test); (3) recount only inside located buckets, seeding
    each in-bucket cumulative window with the bucket's carried-in
    prior weight. All windows partitioned; thresholds compare as
    integers."""
    vx = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).alias("x"),
            F.col(weight_col).cast("long").alias("wt"),
        )
        .groupBy("g", "x")
        .agg(F.sum("wt").alias("wt"))
        .withColumn("bkt", F.floor(F.col("x") / bucket_width).cast("long"))
    )
    bw = vx.groupBy("g", "bkt").agg(F.sum("wt").alias("bw"))
    wb = Window.partitionBy("g").orderBy("bkt")
    cum = bw.select(
        "g", "bkt", "bw", (F.sum("bw").over(wb) - F.col("bw")).alias("prior")
    )
    tot = bw.groupBy("g").agg(F.sum("bw").alias("w"))
    spark = df.sparkSession
    qdf = local_frame(spark, list(specs), "q string, qn long, qd long")
    targets = (
        cum.join(tot, "g")
        .crossJoin(F.broadcast(qdf))
        .filter(
            (F.col("qd") * F.col("prior") < F.col("qn") * F.col("w"))
            & (
                F.col("qd") * (F.col("prior") + F.col("bw"))
                >= F.col("qn") * F.col("w")
            )
        )
        .select("g", "q", "qn", "qd", "bkt", "prior", "w")
    )
    inb = vx.join(F.broadcast(targets), ["g", "bkt"])
    wq = Window.partitionBy("g", "q").orderBy("x")
    return (
        inb.withColumn("cw", F.col("prior") + F.sum("wt").over(wq))
        .filter(F.col("qd") * F.col("cw") >= F.col("qn") * F.col("w"))
        .groupBy("g", "q")
        .agg(F.min("x").alias("xq"), F.max("w").alias("w"))
    )


def gini_index_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: float = 1000.0,
) -> DataFrame:
    """Exact per-group Gini index G = 2·Σ rᵢxᵢ/(n·Σx) − (n+1)/n over
    non-negative INTEGER values, without a global sort: each value's
    exact ascending rank is reconstructed as (carried-in bucket count
    offset) + (in-bucket row_number), and Σ rᵢxᵢ decomposes exactly
    into Σ_b offset_b·Σx_b (a sum over the bounded bucket rollup)
    plus Σ rn·x (in-bucket, partitioned). Tied values are safe: a tie
    group occupies a fixed set of consecutive ranks, so its rank-sum
    is order-independent. Every accumulated term is a BIGINT; the one
    float expression is evaluated identically from identical integers.
    Output: (g, n, sx, gini)."""
    obs = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("xi")
    ).withColumn("bkt", F.floor(F.col("xi") / bucket_width).cast("long"))
    bc = obs.groupBy("g", "bkt").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("xi").alias("sx_b")
    )
    wb = Window.partitionBy("g").orderBy("bkt")
    off = bc.select(
        "g",
        "bkt",
        "sx_b",
        "n_b",
        (F.sum("n_b").over(wb) - F.col("n_b")).alias("offset"),
    )
    part1 = off.groupBy("g").agg(
        F.sum(F.col("offset") * F.col("sx_b")).alias("p1"),
        F.sum("n_b").alias("n"),
        F.sum("sx_b").alias("sx"),
    )
    wi = Window.partitionBy("g", "bkt").orderBy("xi")
    part2 = (
        obs.withColumn("rn", F.row_number().over(wi))
        .groupBy("g")
        .agg(F.sum(F.col("rn").cast("long") * F.col("xi")).alias("p2"))
    )
    s = part1.join(part2, "g").select(
        "g", "n", "sx", (F.col("p1") + F.col("p2")).alias("srx")
    )
    nd = F.col("n").cast("double")
    return s.select(
        "g",
        F.col("n").cast("long").alias("n"),
        F.col("sx").cast("long").alias("sx"),
        (
            (F.lit(2.0) * F.col("srx")) / (nd * F.col("sx"))
            - (F.col("n") + 1) / nd
        ).alias("gini"),
    )


def values_at_ranks(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ranks: DataFrame,
    bucket_width: float = 1000.0,
) -> DataFrame:
    """Exact value at the k-th ascending position per group (1-indexed
    order statistic), plus the strictly-below prefix aggregates, for an
    ARBITRARY per-group rank table — the generalization the fixed-
    rational ``weighted_quantiles_two_phase`` specs can't express
    (trimmed means need k = floor(p·n), a rank that varies with each
    group's own n).

    ``ranks`` is a bounded DataFrame ``(g, label, rk)`` with rk ≥ 1;
    values must be pre-cast integers (the caller owns units, e.g.
    cents). Returns one row per (g, label): ``(g, label, rk, x_at,
    cnt_lt, sum_lt)`` where ``x_at`` is the rk-th smallest value in g
    and cnt_lt / sum_lt count and sum the rows STRICTLY below it —
    exactly the boundary-tie bookkeeping an exact trimmed sum needs.

    Scale shape, same as the rest of this module: one data-sized
    exchange collapses rows to (g, value) tie groups with counts and
    value sums; bucket rollups and the rank-locate run on the BOUNDED
    (g, bucket) table under g-partitioned windows; the in-bucket
    recount touches only located buckets under (g, bucket)-partitioned
    windows. The located row is unique because the in-bucket exclusive
    prefix brackets each rank once: prior < rk ≤ prior + cnt."""
    pv = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("long").alias("x"),
        )
        .groupBy("g", "x")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bkt", F.floor(F.col("x") / bucket_width).cast("long"))
        .withColumn("sx", F.col("x") * F.col("cnt"))
    )
    bc = pv.groupBy("g", "bkt").agg(
        F.sum("cnt").alias("bn"), F.sum("sx").alias("bs")
    )
    wb = Window.partitionBy("g").orderBy("bkt")
    off = bc.select(
        "g",
        "bkt",
        "bn",
        (F.sum("bn").over(wb) - F.col("bn")).alias("bprior_c"),
        (F.sum("bs").over(wb) - F.col("bs")).alias("bprior_s"),
    )
    r = ranks.select(
        F.col("g"), F.col("label"), F.col("rk").cast("long").alias("rk")
    )
    located = off.join(r, "g").filter(
        (F.col("bprior_c") < F.col("rk"))
        & (F.col("rk") <= F.col("bprior_c") + F.col("bn"))
    )
    wi = Window.partitionBy("g", "bkt").orderBy("x")
    inb = pv.select(
        "g",
        "bkt",
        "x",
        "cnt",
        (F.sum("cnt").over(wi) - F.col("cnt")).alias("iprior_c"),
        (F.sum("sx").over(wi) - F.col("sx")).alias("iprior_s"),
    )
    hit = located.join(inb, ["g", "bkt"]).filter(
        (F.col("bprior_c") + F.col("iprior_c") < F.col("rk"))
        & (
            F.col("rk")
            <= F.col("bprior_c") + F.col("iprior_c") + F.col("cnt")
        )
    )
    return hit.select(
        "g",
        "label",
        "rk",
        F.col("x").alias("x_at"),
        (F.col("bprior_c") + F.col("iprior_c")).alias("cnt_lt"),
        (F.col("bprior_s") + F.col("iprior_s")).alias("sum_lt"),
    )


def exclusive_prefix_over_values(
    g: DataFrame,
    value_col: str,
    cnt_col: str,
    bucket_width: float,
    out: str = "prior",
) -> DataFrame:
    """EXCLUSIVE running count over a value-ordered tie-collapsed
    rollup — the shared primitive under every exact rank statistic in
    the registry (Mann–Whitney midranks, Spearman midranks, KS CDFs):
    ``out`` = Σ of ``cnt_col`` over all rows with a strictly smaller
    ``value_col``. From it, 2×midrank = 2·prior + cnt + 1 and the
    k-th-rank bracket prior < k ≤ prior + cnt both follow.

    No global sort: the in-bucket prefix runs under a window
    PARTITIONED on a ``bucket_width``-wide value bucket; bucket offsets
    come from a second window over the BOUNDED ≤|buckets| rollup
    (callers allow-list that bounded unpartitioned window) and
    broadcast back. Other columns of ``g`` ride along untouched."""
    b = g.withColumn("__epb", F.floor(F.col(value_col) / bucket_width))
    win_in = (
        Window.partitionBy("__epb")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = b.withColumn(
        "__iprior", F.coalesce(F.sum(cnt_col).over(win_in), F.lit(0))
    )
    btot = b.groupBy("__epb").agg(F.sum(cnt_col).alias("__bc"))
    win_b = Window.orderBy("__epb").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__epb",
        F.coalesce(F.sum("__bc").over(win_b), F.lit(0)).alias("__bprior"),
    )
    return (
        cum.join(F.broadcast(boff), "__epb")
        .withColumn(out, F.col("__bprior") + F.col("__iprior"))
        .drop("__epb", "__iprior", "__bprior")
    )
