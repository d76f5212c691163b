"""Physical-plan shape assertions — the 100 TB acceptance bar.

Correctness gates (oracle differential, pytest) prove the small-SF
answers; these tests pin the *plans*: filters reach the parquet scan,
small dimensions broadcast, no nested-loop joins sneak in, and scans
read only referenced columns. A plan regression here is a scale
regression even when every value still matches.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    """Formatted physical plan as a string (what .explain('formatted')
    prints)."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def registry():
    from __spark_entry__ import queries

    return queries()


def test_q1_shipdate_filter_pushed(spark, registry):
    plan = plan_of(registry["q1_pricing_summary"](spark, SF_SMALL))
    scan = next(
        block for block in plan.split("\n\n") if "lineitem" in block and "Scan" in block
    )
    assert "PushedFilters: [" in scan
    assert "l_shipdate" in scan.split("PushedFilters:")[1].split("]")[0], (
        "ship-date cut must reach the parquet scan (row-group pruning); "
        "a cast-wrapped column is not pushable:\n" + scan
    )


def test_q1_scan_reads_only_referenced_columns(spark, registry):
    plan = plan_of(registry["q1_pricing_summary"](spark, SF_SMALL))
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema, (
        "column pruning regressed — scan reads unreferenced columns: " + read_schema
    )


def test_star_fact_join_strategy(spark, registry):
    # Bounded dims (date, product) broadcast; no nested-loop fallback
    # anywhere. The unbounded dims (session/customer/location — each
    # grows with the event stream) are deliberately NOT hinted: AQE
    # picks broadcast at small SF and shuffled joins at web scale.
    df = registry["star_fact_sales_order"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_star_fact_no_forced_broadcast_on_unbounded_dims(spark, registry):
    # Plan-pin for the 100 TB failure mode: a forced broadcast hint on
    # dim_session_context / dim_customer / dim_location OOMs executors
    # when those dims grow with the fact table. Only date + product may
    # carry an explicit hint; everything else is AQE's call.
    df = registry["star_fact_sales_order"](spark, SF_SMALL)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # the line immediately below each ResolvedHint is its child — the
    # projection of the hinted dim; that line names the dim's columns.
    hinted_children = [
        seg.split("\n")[1] if "\n" in seg else ""
        for seg in analyzed.split("ResolvedHint")[1:]
    ]
    assert len(hinted_children) <= 2, (
        "more than two broadcast hints in the fact build — only the "
        "bounded date/product dims may be forced:\n" + analyzed
    )
    for child in hinted_children:
        assert "session_context_key" not in child, (
            "forced broadcast on the unbounded session dim:\n" + child
        )
        assert "customer_source_id" not in child, (
            "forced broadcast on the unbounded customer dim:\n" + child
        )
        assert "location_key" not in child, (
            "forced broadcast on the unbounded location dim:\n" + child
        )


def test_star_models_py4j_round_trip_budget(spark, monkeypatch):
    # The per-chunk models (summary -> stg -> fact) are SQL text: one
    # selectExpr / F.expr per projection or join condition, where the
    # Column DSL paid about three py4j round trips per expression node
    # (about 2,900 per chunk). Measured 147; the bound leaves room for
    # PySpark-version drift, not for a return to node-by-node building.
    import threading

    from glamira_end_to_end_data_pipeline_spark.plans import models
    from glamira_end_to_end_data_pipeline_spark.plans import star_queries as sq
    from glamira_end_to_end_data_pipeline_spark.sources import read_table
    from tests.conftest import SF_ORACLE

    events = read_table(spark, SF_ORACLE, "events")
    star = models.build_star(
        sq.summary_from_events(events),
        sq.ip_locations_from_events(events),
        sq.product_details_from_events(events),
    )
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command
    me = threading.get_ident()

    def counting(command, *args, **kwargs):
        # py4j's finalizer thread frees earlier garbage's JVM references
        # concurrently; count only this thread's commands
        if threading.get_ident() == me:
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        stg = models.stg_summary(sq.summary_from_events(events))
        models.fact_sales_order(
            stg,
            star["dim_product"],
            star["dim_customer"],
            star["dim_location"],
            star["dim_date"],
            star["dim_session_context"],
        )
    finally:
        monkeypatch.undo()
    assert len(sent) <= 200, f"{len(sent)} py4j round trips to build one chunk's models"


def test_ip_enrichment_no_nested_loop(spark, registry):
    # bucketed range join = hash join on the bucket key + residual band
    # filter; a BroadcastNestedLoopJoin here scans every geo range per
    # probe row and dies at 10^9 distinct IPs.
    plan = plan_of(registry["f_ip_enrichment"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_flagship_partial_aggregation(spark, registry):
    # low-cardinality rollup must partial-agg map-side before the
    # exchange (HashAggregate appears below AND above the shuffle).
    plan = plan_of(registry["flagship_daily_events"](spark, SF_SMALL))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_duplicate_clusters_multihop_chain(spark):
    """Min-label propagation must cross multi-hop chains (a dup of a
    dup), merge cliques, and leave disjoint components apart."""
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5, triangle 10-11-12, isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a long, b long",
    )
    got = {
        r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_q6_all_predicates_pushed(spark, registry):
    """Q6's three range predicates must reach the Parquet scan."""
    plan = plan_of(registry["q6_forecast_revenue"](spark, SF_SMALL))
    scan = next(
        seg for seg in plan.split("\n\n") if "Scan parquet" in seg and "lineitem" in seg
    )
    assert "PushedFilters:" in scan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan.split("PushedFilters:")[1].split("\n")[0], scan


def test_q2_decorrelated_no_cartesian(spark, registry):
    """Q2's correlated MIN subquery must decorrelate into an equi-join
    back on (partkey, price) — never a cartesian/nested-loop — and the
    dimension joins must broadcast."""
    plan = plan_of(registry["q2_min_cost_supplier"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q19_disjunctive_predicates_pushed_per_side(spark, registry):
    """Q19's OR-of-ANDs spans both join sides; Catalyst must extract
    each side's disjunction and push it below the join: the quantity
    OR-tree (plus the common returnflag conjunct) into the lineitem
    scan, the brand/size OR-tree into the part scan — neither scan may
    read unfiltered."""
    plan = plan_of(registry["q19_disjunctive_revenue"](spark, SF_SMALL))
    li_scan = next(
        seg for seg in plan.split("\n\n")
        if "Scan parquet" in seg and "lineitem" in seg
    )
    li_pushed = li_scan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_returnflag" in li_pushed, li_scan
    assert "Or(" in li_pushed and "l_quantity" in li_pushed, li_scan
    p_scan = next(
        seg for seg in plan.split("\n\n")
        if "Scan parquet" in seg and "/part" in seg
    )
    p_pushed = p_scan.split("PushedFilters:")[1].split("\n")[0]
    assert "Or(" in p_pushed and "p_brand" in p_pushed, p_scan


def test_q22_anti_join_and_scalar_cutoff_shapes(spark, registry):
    """Q22's NOT EXISTS must plan as a LeftAnti join and the recent-
    orders date filter must reach the orders scan; the scalar-avg
    cutoff rides a one-row broadcast, never a cartesian product."""
    plan = plan_of(registry["q22_dormant_balances"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    o_scan = next(
        seg for seg in plan.split("\n\n")
        if "Scan parquet" in seg and "orders" in seg
    )
    assert "o_orderdate" in o_scan.split("PushedFilters:")[1].split("\n")[0], o_scan


def test_q9_fact_never_shuffles_before_agg(spark, registry):
    """Q9's dimension joins (part/supplier/nation) broadcast by hint;
    orders carries NO hint — at this test scale the optimizer
    broadcasts it from stats (what the assertions observe), while at
    real scale it degrades to a shuffle join instead of hitting the
    8 GB forced-broadcast wall. The p_name LIKE filter must reach the
    part scan as a pushed StringContains."""
    plan = plan_of(registry["q9_product_profit"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly one fact-side Exchange: the final (nation, year) agg
    # (plus the top-level Sort's range Exchange) — no join shuffles.
    assert plan.split("HashAggregate")[0].count("Exchange") <= 2, plan
    p_scan = next(
        seg for seg in plan.split("\n\n")
        if "Scan parquet" in seg and "/part" in seg
    )
    assert "p_name" in p_scan.split("PushedFilters:")[1].split("\n")[0], p_scan


def test_q16_not_in_planned_as_plain_anti(spark, registry):
    """Q16's NOT IN over the provably non-null s_suppkey must plan as a
    plain LeftAnti (no null-aware BNLJ fallback), and the size/brand
    membership filters must reach the part scan."""
    plan = plan_of(registry["q16_supplier_part_counts"](spark, SF_SMALL))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    p_scan = next(
        seg for seg in plan.split("\n\n")
        if "Scan parquet" in seg and "/part" in seg
    )
    pushed = p_scan.split("PushedFilters:")[1].split("\n")[0]
    assert "p_size" in pushed and "p_brand" in pushed, p_scan


def test_q17_decorrelated_avg_broadcasts_back(spark, registry):
    """Q17's correlated per-part avg must decorrelate into a grouped
    agg joined back by BROADCAST (the brand-filtered fact never
    shuffles), with the brand filter pushed to the part scan."""
    plan = plan_of(registry["q17_small_quantity_revenue"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    p_scan = next(
        seg for seg in plan.split("\n\n")
        if "Scan parquet" in seg and "/part" in seg
    )
    assert "p_brand" in p_scan.split("PushedFilters:")[1].split("\n")[0], p_scan


def test_q21_semi_anti_planned_as_such(spark, registry):
    """Q21's EXISTS / NOT EXISTS must plan as LeftSemi / LeftAnti joins
    (the non-equi suppkey<> conjunct rides as a join residual), not as
    inner joins + dedup or a nested loop."""
    plan = plan_of(registry["q21_waiting_suppliers"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_bucketed_join_no_exchange_after_prewarm(spark, registry):
    """Second invocation (tables reused from the catalog) must plan the
    sort-merge join with NO Exchange on either join input — the entire
    point of paying the bucketing shuffle at write time. The only
    allowed Exchange is the final groupBy's (post-join, tiny)."""
    registry["j_bucketed_colocated"](spark, SF_SMALL)  # pre-warm writes
    plan = plan_of(registry["j_bucketed_colocated"](spark, SF_SMALL))
    assert "SortMergeJoin" in plan
    # each physical op appears once in the details section as "(N) Op"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, (
        "bucketed scan lost its bucket spec — join input re-shuffles:\n" + plan
    )


def test_grouping_sets_single_expand_single_scan(spark, registry):
    """a_grouping_sets must compute all four grains from ONE scan via
    ONE Expand — four separate aggregations re-reading the table is the
    shape GROUPING SETS exists to avoid."""
    plan = plan_of(registry["a_grouping_sets"](spark, SF_SMALL))
    assert len(re.findall(r"Expand \(\d+\)", plan)) == 1, plan
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", plan)) == 1, plan


def test_sessionize_single_exchange_single_sort(spark, registry):
    """w_sessionize_batch's lag + running-sum + session agg must share
    one user-keyed exchange and one sort — the chain costs a single
    shuffle (the groupBy on (user_id, session_idx) is satisfied by the
    user_id hash partitioning)."""
    plan = plan_of(registry["w_sessionize_batch"](spark, SF_SMALL))
    assert len(re.findall(r"Exchange \(\d+\)", plan)) == 1, plan
    assert len(re.findall(r"Window \(\d+\)", plan)) == 2, plan


def test_corr_stats_is_one_pass(spark, registry):
    """a_corr_stats: every second-moment aggregate rides one scan and
    one grouped aggregation — no self-joins, no repeated scans."""
    plan = plan_of(registry["a_corr_stats"](spark, SF_SMALL))
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_interval_overlap_is_bucket_equi_join(spark, registry):
    # the overlap join must plan as an equi-join on the hour bucket
    # with the inequality as residual — an inequality-only join would
    # be a BroadcastNestedLoopJoin scanning every window per span.
    plan = plan_of(registry["j_interval_overlap"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_partitioned_layout_prunes_partitions(spark, registry):
    # the probe must read only the probed cells' directories: the
    # parquet scan carries a PartitionFilters entry on `cell`, and the
    # filter is non-empty (static pruning, nprobe/n_cells of the data).
    plan = plan_of(registry["emb_ivf_partitioned_prune"](spark, SF_SMALL))
    scan = next(
        b for b in plan.split("\n\n") if "Scan parquet" in b and "cell" in b
    )
    pf = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "cell" in pf and pf.strip() != "[", (
        "cell probe filter did not reach partition pruning:\n" + scan
    )


def test_hll_rollup_envelope_holds_at_graded_sf(spark, registry):
    """a_hll_rollup_merge's oracle pins estimate_within_5pct=TRUE, so a
    >5% HLL miss (different sf, a Spark upgrade changing the
    DataSketches impl) would fail the differential as an opaque row
    mismatch. This test asserts the envelope DIRECTLY at the graded sf
    and, on failure, names the offending weeks and their error
    magnitudes so the regression is diagnosable. Requires the Spark
    >=3.5 hll_* functions (the entry's documented floor)."""
    from tests.conftest import SF_ORACLE

    rows = registry["a_hll_rollup_merge"](spark, SF_ORACLE).collect()
    assert rows, "no weeks produced"
    bad = [r["week"] for r in rows if not r["estimate_within_5pct"]]
    if bad:
        # Re-derive the error magnitudes for the failure message only
        # (the graded output carries the boolean; the raw estimate is
        # engine-specific and cannot be hash-compared).
        from glamira_end_to_end_data_pipeline_spark.plans.queries import read_table

        ev = read_table(spark, SF_ORACLE, "events")
        daily = ev.groupBy(
            F.date_trunc("week", "ts").alias("week"),
            F.to_date("ts").alias("day"),
        ).agg(F.hll_sketch_agg("user_id").alias("sk"))
        merged = daily.groupBy("week").agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        exact = ev.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
            F.count_distinct("user_id").alias("ex")
        )
        errs = {
            r["week"].strftime("%Y-%m-%d"): round(
                abs(r["est"] - r["ex"]) / r["ex"] * 100, 2
            )
            for r in exact.join(merged, "week").collect()
        }
        raise AssertionError(
            f"HLL weekly estimate outside the 5% envelope for {bad}; "
            f"error magnitudes (pct): {errs}"
        )


def test_filtered_ann_pushes_label_predicate_to_scan(spark, registry):
    # Pre-filtering contract: the metadata predicate must land in the
    # embeddings scan's PushedFilters UNDER the IVF machinery — a
    # post-filter plan would score unfiltered candidates and return
    # fewer than k under selective predicates.
    plan = plan_of(registry["emb_filtered_ann_topk"](spark, SF_SMALL))
    scans = [b for b in plan.split("\n\n") if "PushedFilters" in b]
    assert any(
        "label" in b.split("PushedFilters:")[1].split("]")[0] for b in scans
    ), "label predicate did not reach any parquet scan:\n" + plan


def test_priority_sample_top_k_shape_and_estimator(spark, registry):
    """sample_priority_weighted: the top-(k+1) must plan as
    TakeOrderedAndProject (per-partition heaps — never a global sort),
    tau is a one-row broadcast, and the Duffield-Lund-Thorup estimator
    sum(max(w, tau)) should land near the true total weight."""
    df = registry["sample_priority_weighted"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    from glamira_end_to_end_data_pipeline_spark.plans.r8_queries import _PRI_K

    assert len(rows) == _PRI_K
    assert all(r.w_hat >= r.n_chars for r in rows)
    est = sum(r.w_hat for r in rows)
    exact = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .agg(F.sum("n_chars"))
        .collect()[0][0]
    )
    assert 0.5 * exact < est < 2.0 * exact


def test_poisson_bootstrap_partial_agg_and_ci_brackets_mean(
    spark, registry
):
    """a_poisson_bootstrap_ci: the 32-replicate fan-out must feed a
    map-side partial aggregate (generated rows never shuffle — the
    exchange moves (segment, b) partials only), and the percentile CI
    must bracket the exact mean for every segment (the bootstrap
    distribution centers on the sample mean)."""
    df = registry["a_poisson_bootstrap_ci"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "Generate" in plan  # the bounded 32-element literal fan-out
    # the (segment, b) aggregate runs partially map-side, so generated
    # rows collapse before any exchange
    assert "partial_sum" in plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.ci_lo <= r.exact_mean <= r.ci_hi, r
        assert r.ci_lo <= r.boot_median_lo <= r.ci_hi, r


def test_rolling_median_matches_python_replay(spark, registry):
    """w_rolling_median: exact trailing-7 median re-derived in Python
    from the emitted daily revs; window stage partitioned by segment."""
    df = registry["w_rolling_median"](spark, SF_SMALL)
    rows = df.collect()
    by_seg: dict = {}
    for r in rows:  # already ordered (event_type, day)
        by_seg.setdefault(r.event_type, []).append(r)
    assert len(by_seg) > 1
    for seg, rs in by_seg.items():
        revs = [r.rev for r in rs]
        for i, r in enumerate(rs):
            w = sorted(revs[max(0, i - 6) : i + 1])
            assert r.n_in_window == len(w)
            mid = (
                w[len(w) // 2]
                if len(w) % 2 == 1
                else (w[len(w) // 2 - 1] + w[len(w) // 2]) / 2.0
            )
            assert r.roll_median == mid, (seg, r.day)


def _write_documents(spark, tmp_path, rows):
    """Write a documents.parquet with the testdata schema into a temp
    sf-dir so registry entries can run against synthetic corpora."""
    import os

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    return sf_dir


def test_priority_sample_small_corpus_keeps_all(spark, registry, tmp_path):
    """Duffield-Lund-Thorup n<=k regime (ADVICE r8): with fewer rows
    than the sample budget there is no (k+1)-th discard row — every
    row must be kept with w_hat = w (tau = 0), not k rows minus the
    minimum-priority one."""
    rows = [
        (i, f"doc {i}", "en", f"src{i % 3}", 100 + 7 * i) for i in range(5)
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = registry["sample_priority_weighted"](spark, sf_dir).collect()
    assert len(got) == 5
    assert all(r.w_hat == float(r.n_chars) for r in got)
    assert sum(r.w_hat for r in got) == float(sum(r[4] for r in rows))


def test_mix_stratified_rate_convergence_and_growth_stability(
    spark, registry, tmp_path
):
    """sample_mix_stratified invariants (VERDICT r8 #6): (1) the kept
    fraction converges to each source's target rate as n grows (the
    md5 bucket is uniform); (2) membership is STABLE under corpus
    growth — adding docs never flips an existing doc's keep decision,
    so per-source n_kept over the original ids is bit-identical
    between corpus A and corpus A∪B (the no-RNG design the docstring
    promises)."""
    n_per = 4000
    a_rows = [
        (i, f"d{i}", "en", f"src{s}", 50 + i % 97)
        for s in range(4)
        for i in range(s * n_per, s * n_per + n_per)
    ]
    sf_a = _write_documents(spark, tmp_path / "a", a_rows)
    got_a = {
        r.source: r for r in registry["sample_mix_stratified"](spark, sf_a).collect()
    }
    for src, r in got_a.items():
        rate = r.rate_pct / 100.0
        assert abs(r.n_kept / r.n_total - rate) < 0.03, (src, r)
    # grow the corpus: new ids, same sources
    b_rows = [
        (100_000 + i, f"x{i}", "en", f"src{i % 4}", 60) for i in range(2000)
    ]
    sf_ab = _write_documents(spark, tmp_path / "ab", a_rows + b_rows)
    got_ab = {
        r.source: r
        for r in registry["sample_mix_stratified"](spark, sf_ab).collect()
    }
    for src, r in got_a.items():
        grown = got_ab[src]
        assert grown.n_total == r.n_total + 500
        # kept count over the ORIGINAL ids is unchanged: kept(A∪B) on
        # src = kept(A) + kept(new ids), and new ids kept <= 500
        assert grown.n_kept >= r.n_kept
        assert grown.n_kept - r.n_kept <= 500


def test_sessionize_incremental_handoff_is_exact(spark, registry):
    """The entry's own claim: incremental (state-handoff) session
    counts equal the full re-scan for EVERY user — n_matched ==
    n_users in every bucket."""
    rows = registry["w_sessionize_incremental"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_matched == r.n_users, r
        assert r.sessions_full == r.sessions_inc, r


def test_multitouch_attribution_conserves_revenue(spark, registry, tmp_path):
    """Largest-remainder basis points must sum to exactly 10000 per
    buyer, so total credited revenue equals the purchase revenue of
    every buyer with >= 1 prior touch — including the n-2 remainder
    cases (n=5 middles split 667/667/666 bp)."""
    import datetime as dt
    import os

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, typ, minute, value):
        return (i, t0 + dt.timedelta(minutes=minute), user, typ, value, "{}")

    rows = [
        # user 1: 1 touch then purchase 10.00 -> touch gets 100%
        ev(1, 1, "view", 0, 1.0), ev(2, 1, "purchase", 5, 10.0),
        # user 2: 2 touches, purchase 20.00 -> 50/50
        ev(3, 2, "view", 0, 1.0), ev(4, 2, "click", 1, 1.0),
        ev(5, 2, "purchase", 9, 20.0),
        # user 3: 5 touches, purchase 30.00 -> 4000/667/667/666/4000 bp
        *[ev(6 + i, 3, "view", i, 1.0) for i in range(5)],
        ev(11, 3, "purchase", 30, 30.0),
        # user 4: purchase but no prior touch -> unattributed
        ev(12, 4, "purchase", 0, 99.0),
        # user 5: touches only, no purchase -> excluded
        ev(13, 5, "view", 0, 1.0),
        # user 6: touch AFTER the last purchase -> excluded
        ev(14, 6, "purchase", 0, 7.0), ev(15, 6, "view", 10, 1.0),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    got = registry["j_multitouch_attribution"](spark, sf_dir).collect()
    total = round(sum(r.credited_revenue for r in got), 2)
    assert total == 10.0 + 20.0 + 30.0  # users 1-3 only
    by_channel = {r.channel: r for r in got}
    # user 3's middle remainder: 2000 bp over 3 middles -> 667/667/666
    # all 'view': user1 100% + user2 50% + user3 100% = 10 + 10 + 30
    assert by_channel["view"].credited_revenue == 50.0
    assert by_channel["click"].credited_revenue == 10.0


def _write_embeddings(spark, tmp_path, rows):
    import os

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    return sf_dir


def _axis_vec(dim, sign=1.0, noise_dim=None, noise=0.0):
    v = [0.0] * 64
    v[dim] = sign
    if noise_dim is not None:
        v[noise_dim] = noise
    return v


def test_hard_negatives_excludes_same_label_and_orders_margin(
    spark, registry, tmp_path
):
    """Negatives never share the query's label; a different-label
    vector closer than every same-label one yields a NEGATIVE margin;
    queries with no same-label corpus row are dropped."""
    rows = [
        # query 0 (label 1) points along axis 3
        (0, _axis_vec(3), 1),
        # query 1 (label 9): NO corpus row shares label 9 -> dropped
        (1, _axis_vec(7), 9),
        # corpus: a label-2 vector almost parallel to query 0 (the hard
        # negative), a label-1 vector further away (the best positive)
        (20, _axis_vec(3, noise_dim=4, noise=0.1), 2),
        (21, _axis_vec(3, noise_dim=4, noise=0.8), 1),
        (22, _axis_vec(5), 2),
    ]
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    got = registry["emb_hard_negatives"](spark, sf_dir).collect()
    assert {r.query_id for r in got} == {0}
    by_rank = {r.rank: r for r in got}
    # rank 1 = the near-parallel label-2 vector; margin negative
    # (pos_sim vs vec 21 is lower than neg_sim vs vec 20)
    assert by_rank[1].neighbor_id == 20
    assert by_rank[1].margin_micro < 0
    assert by_rank[2].neighbor_id == 22
    # ranks ordered by descending similarity
    assert by_rank[1].neg_sim >= by_rank[2].neg_sim
    # no same-label neighbor leaked into the negatives
    assert 21 not in {r.neighbor_id for r in got}


def test_benford_degenerate_feed_flunks_with_full_spine(
    spark, registry, tmp_path
):
    """A single-magnitude price feed (every price in [1000, 2000)) must
    emit ALL NINE digit rows — zero-count digits carry their full
    expected share as deviation — and the conformity total is exactly
    699 (digit 1) + 699 (digits 2-9) = 1398 per-mille."""
    import os

    rows = [(i, 1000.0 + (i % 997)) for i in range(5000)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "l_orderkey long, l_extendedprice double"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "lineitem.parquet")
    )
    got = registry["dq_benford_mad"](spark, sf_dir).collect()
    assert [r.digit for r in got] == list(range(1, 10))
    by_digit = {r.digit: r for r in got}
    assert by_digit[1].n_obs == 5000
    assert by_digit[1].obs_permille == 1000
    assert by_digit[1].dev_permille == 699
    for d in range(2, 10):
        assert by_digit[d].n_obs == 0
        assert by_digit[d].dev_permille == by_digit[d].exp_permille
    assert all(r.sum_abs_dev == 1398 for r in got)


def test_ewma_anomaly_flags_spike_not_trend(spark, registry, tmp_path):
    """Hand-checkable fixed-point recursion: a flat 100/day series
    keeps s == 100e6 exactly (100e6·4 >> 2); a 1000-event day deviates
    90000 bp from the PRIOR smoothed level and is the only spike; the
    smoothed level after the spike is (1000e6 + 3·100e6) >> 2 =
    325e6."""
    import datetime as dt
    import os

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for day in range(6):
        n = 1000 if day == 5 else 100
        for k in range(n):
            rows.append(
                (
                    eid,
                    t0 + dt.timedelta(days=day, seconds=k),
                    k % 7,
                    "view",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    got = registry["w_ewma_anomaly"](spark, sf_dir).collect()
    assert len(got) == 6
    assert [r.is_spike for r in got] == [False] * 5 + [True]
    assert all(r.ewma_micro == 100_000_000 for r in got[:5])
    assert got[5].dev_bp == 90_000
    assert got[5].ewma_micro == 325_000_000
    assert got[0].dev_bp == 0  # first day has no prior level


def test_pca_top_direction_recovers_dominant_axis(
    spark, registry, tmp_path
):
    """A corpus whose variance lives on axis 5 (0-based) must report
    top_dim == 6 (1-based), and two labels placed at +axis and -axis
    project with opposite signs and equal magnitude."""
    rows = []
    for i in range(40):
        sign = 1.0 if i % 2 == 0 else -1.0
        label = 0 if sign > 0 else 1
        rows.append(
            (i, _axis_vec(5, sign=sign, noise_dim=i % 3, noise=0.01), label)
        )
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    got = {r.label: r for r in registry["emb_pca_top_direction"](spark, sf_dir).collect()}
    assert set(got) == {0, 1}
    r0, r1 = got[0], got[1]
    assert r0.top_dim == 6 and r1.top_dim == 6
    assert r0.n_vecs == 20 and r1.n_vecs == 20
    # opposite-sign projections of equal magnitude (up to the shared
    # integer quantization — the +axis and -axis labels are mirror
    # images, and every step of the pipeline is sign-symmetric except
    # the final truncating division, so allow 1 unit per vector)
    assert r0.sum_proj * r1.sum_proj < 0
    assert abs(abs(r0.sum_proj) - abs(r1.sum_proj)) <= 40 * 64
    assert r0.sum_abs_proj > 0 and r1.sum_abs_proj > 0


def test_length_buckets_pow2_and_waste_math(spark, registry, tmp_path):
    """Docs of 1, 8, and 9 tokens land in buckets 1, 8 (exact power
    stays), and 16; waste per-mille is exact integer math."""
    rows = [
        (1, "a", "en", "s", 1),
        (2, " ".join(["w"] * 8), "en", "s", 8),
        (3, " ".join(["w"] * 9), "en", "s", 9),
        (4, "   ", "en", "s", 3),  # whitespace-only: filtered out
    ]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.bucket_size: r for r in registry["text_length_buckets"](spark, sf_dir).collect()}
    assert set(got) == {1, 8, 16}
    assert got[1].waste_permille == 0
    assert got[8].waste_permille == 0
    # 9 tokens padded to 16: waste (16-9)*1000 // 16 = 437
    assert got[16].sum_tokens == 9
    assert got[16].padded_tokens == 16
    assert got[16].waste_permille == 437


def test_temperature_mix_upsamples_small_sources(spark, registry, tmp_path):
    """alpha = 1/2 flattens the source distribution: the small source's
    keep RATE must exceed the big source's, total kept ≈ total/5, and
    rates derive from the documented sqrt chain."""
    rows = [(i, f"d{i}", "en", "big", 10) for i in range(9000)]
    rows += [(100_000 + i, f"s{i}", "en", "small", 10) for i in range(1000)]
    sf_dir = _write_documents(spark, tmp_path, rows)
    got = {r.source: r for r in registry["sample_temperature_mix"](spark, sf_dir).collect()}
    big, small = got["big"], got["small"]
    assert big.n_total == 9000 and small.n_total == 1000
    # sqrt weighting: small source keep-rate 3x the big one
    # (sqrt(1000)/1000 vs sqrt(9000)/9000)
    assert small.t_micro > 2 * big.t_micro
    kept = big.n_kept + small.n_kept
    assert abs(kept - 2000) < 200  # m = 10000 // 5
    import math

    s_big = math.floor(math.sqrt(9000.0) * 1e6 + 0.5)
    s_small = math.floor(math.sqrt(1000.0) * 1e6 + 0.5)
    assert big.s_micro == s_big and small.s_micro == s_small
    exp_t = math.floor(
        min(1.0, (2000.0 * s_small) / (float(s_big + s_small) * 1000.0)) * 1e6
        + 0.5
    )
    assert small.t_micro == exp_t


def test_bloom_probe_no_false_negatives_and_plausible_fp(spark, registry):
    """Structural guarantee: every inserted key probes positive
    (n_present_missed == 0 on every row); the FP rate over absent
    probes is strictly below saturation (< 1000 per-mille) at the
    small SF; the sketch is the full 512-word spine."""
    rows = registry["a_bloom_filter_probe"](spark, SF_SMALL).collect()
    assert len(rows) == 512
    assert [r.word for r in rows] == list(range(512))
    r0 = rows[0]
    assert r0.n_present_missed == 0
    assert r0.n_keys > 0 and r0.n_absent_probes > 0
    assert 0 <= r0.fp_permille < 1000


def test_randwalk_corpus_walks_follow_edges(spark, registry):
    """Every walk has exactly steps 0..8; step-0 node == walk_id; every
    consecutive (node -> next) transition is a real undirected
    co-purchase edge."""
    from glamira_end_to_end_data_pipeline_spark.plans.extra_queries import (
        copurchase_edges,
    )

    rows = registry["graph_randwalk_corpus"](spark, SF_SMALL).collect()
    walks = {}
    for r in rows:
        walks.setdefault(r.walk_id, {})[r.step] = r.node
    assert all(set(w) == set(range(9)) for w in walks.values())
    assert all(w[0] == wid for wid, w in walks.items())
    e = copurchase_edges(spark, SF_SMALL).collect()
    und = {(r.u, r.v) for r in e} | {(r.v, r.u) for r in e}
    for w in walks.values():
        for s in range(8):
            assert (w[s], w[s + 1]) in und


def test_partition_evolution_spec_and_fallback(spark, tmp_path):
    """write_snapshot(partition_by=...) evolution contract: v1 files are
    flat, v2 files carry __pt_ path segments, data files keep the
    original column (explicit-file reads see a uniform schema), the
    probe keeps exactly the matching v2 partition file plus stats-kept
    v1 files, and the residual filter yields exactly the probed rows."""
    import os

    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = os.path.join(str(tmp_path), "pe")
    df1 = spark.createDataFrame(
        [(i, f"m{i % 3}") for i in range(30)], "k long, month string"
    )
    df2 = spark.createDataFrame(
        [(100 + i, f"m{i % 3}") for i in range(30)], "k long, month string"
    )
    lake.write_snapshot(spark, df1.repartition(2), path, stats_cols=["month"])
    lake.write_snapshot(spark, df2, path, partition_by=["month"])
    doc = lake._read_manifest_doc(spark, path, 2)
    assert doc["spec"] == ["month"]
    v2_files = [f for f in doc["files"] if "/data/v2/" in f]
    assert v2_files and all("/__pt_month=" in f for f in v2_files)
    assert len(v2_files) == 3  # one file per partition value
    # full read: uniform schema, all 60 rows, month column intact
    full = lake.read_snapshot(spark, path)
    assert full.columns == ["k", "month"]
    assert full.count() == 60
    df, n_read, n_total, n_spec = lake.read_snapshot_spec_pruned(
        spark, path, "month", "m1"
    )
    assert n_spec == 1  # exactly the m1 partition file from v2
    assert n_read < n_total
    rows = df.collect()
    assert len(rows) == 20 and all(r.month == "m1" for r in rows)
    assert {r.k for r in rows} == {i for i in range(30) if i % 3 == 1} | {
        100 + i for i in range(30) if i % 3 == 1
    }


def test_srp_sketch_identical_vector_is_recalled(spark, registry, tmp_path):
    """A corpus vector bit-identical to the query has sketch distance 0
    and cosine 1, so it must appear in BOTH top-5 lists — n_overlap >=
    1 for every query, structurally."""
    base = [0.1 * ((i * 7) % 13 - 6) for i in range(64)]

    def vec(shift):
        return [base[(i + shift) % 64] for i in range(64)]

    rows = [(q, vec(q), q) for q in range(10)]  # queries
    rows += [(10 + q, vec(q), q) for q in range(10)]  # identical twins
    rows += [(100 + j, vec(20 + j), 99) for j in range(30)]  # fillers
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    got = registry["emb_srp_sketch_recall"](spark, sf_dir).collect()
    assert len(got) == 10
    assert all(r.n_overlap >= 1 for r in got)
    assert all(r.n_planes == 16 for r in got)


def test_ego_sample_fanout_bound_and_edge_validity(spark, registry):
    """Layer-1 sets have at most FANOUT nodes per root with root's own
    sampled neighbors exactly; layer-2 multiset size is bounded by
    fanout^2; every sampled transition is a real undirected edge; the
    md5 sample is reused node-wise (same node -> same neighbor set
    wherever it appears)."""
    from glamira_end_to_end_data_pipeline_spark.plans.extra_queries import (
        copurchase_edges,
    )

    rows = registry["graph_ego_sample"](spark, SF_SMALL).collect()
    e = copurchase_edges(spark, SF_SMALL).collect()
    und = {(r.u, r.v) for r in e} | {(r.v, r.u) for r in e}
    by_root = {}
    for r in rows:
        by_root.setdefault(r.root, {}).setdefault(r.layer, {})[r.node] = r.n_paths
    for root, layers in by_root.items():
        assert set(layers) <= {0, 1, 2}
        assert layers[0] == {root: 1}
        l1 = layers.get(1, {})
        assert 1 <= len(l1) <= 3
        assert all((root, n) in und for n in l1)
        assert all(c == 1 for c in l1.values())  # fanout sample is a set
        l2 = layers.get(2, {})
        assert sum(l2.values()) <= 3 * sum(l1.values())
        # every layer-2 node is reachable from some layer-1 node
        assert all(any((m, n) in und for m in l1) for n in l2)


def test_period_over_period_exact_deltas(spark, registry, tmp_path):
    """Hand-checkable WoW math: 14 days of known counts; day 8 compares
    against day 1 (+50% = 5000 bp), day 9 against day 2 (-50% =
    -5000 bp); the first 7 days have NULL change and zero delta."""
    import datetime as dt
    import os

    t0 = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    counts = [4, 4, 4, 4, 4, 4, 4, 6, 2, 4, 4, 4, 4, 4]
    for day, n in enumerate(counts):
        for k in range(n):
            rows.append(
                (eid, t0 + dt.timedelta(days=day, seconds=k), 1, "view", 1.0, "{}")
            )
            eid += 1
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    got = registry["w_period_over_period"](spark, sf_dir).collect()
    assert len(got) == 14
    for r in got[:7]:
        assert r.n_wow_bp is None and r.rev_wow_bp is None
        assert r.n_delta_wow == 0
    assert got[7].n_delta_wow == 2 and got[7].n_wow_bp == 5000
    assert got[8].n_delta_wow == -2 and got[8].n_wow_bp == -5000
    assert got[7].rev_wow_bp == 5000 and got[8].rev_wow_bp == -5000


def test_bloom_prefilter_join_equals_direct_join(spark, registry):
    """The in-query no-false-negative gate ran if this returns at all;
    additionally: pass-count bounded by the fact count and at least the
    true-match count, and the rollup matches a direct-join recompute."""
    from glamira_end_to_end_data_pipeline_spark.sources import read_table
    from pyspark.sql import functions as F

    rows = registry["j_bloom_prefilter_join"](spark, SF_SMALL).collect()
    assert rows
    r0 = rows[0]
    assert 0 < r0.n_passed <= r0.n_fact
    cust = read_table(spark, SF_SMALL, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    direct = (
        read_table(spark, SF_SMALL, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {r.o_orderpriority: r.n for r in direct}
    assert {r.o_orderpriority: r.n_orders for r in rows} == want
    assert r0.n_passed >= sum(want.values())  # FP tail only adds rows


def test_checksum_reconcile_isolates_corruption(spark, registry):
    """Every bucket's clean-replica digest matches; the one-cent
    corruption flips exactly one bucket — the bucket of the minimum
    order key."""
    from glamira_end_to_end_data_pipeline_spark.sources import read_table
    from pyspark.sql import functions as F

    rows = registry["dq_checksum_reconcile"](spark, SF_SMALL).collect()
    assert all(r.replica_match for r in rows)
    bad = [r.bucket for r in rows if not r.bad_replica_match]
    min_key = (
        read_table(spark, SF_SMALL, "orders")
        .agg(F.min("o_orderkey"))
        .collect()[0][0]
    )
    assert bad == [min_key % 16]


def test_stream_wap_microbatch_gates(spark, registry):
    """The entry's own in-query gates raise on any leak; here assert the
    published-state invariants from the returned frame: versions ==
    file count, zero branches left, bad rows counted and excluded."""
    rows = registry["stream_wap_microbatch"](spark, SF_SMALL).collect()
    assert rows
    r0 = rows[0]
    assert r0.n_versions == 4
    assert r0.n_branches_left == 0
    assert r0.n_bad_total > 0
    assert all(r.n_rows > 0 for r in rows)


def test_binary_quant_identical_vector_recalled(spark, registry, tmp_path):
    """A corpus vector bit-identical to the query has Hamming 0 and
    cosine 1 — it must survive candidate selection AND rerank, so
    n_overlap >= 1 for every query."""
    base = [0.1 * ((i * 11) % 17 - 8) for i in range(64)]

    def vec(shift):
        return [base[(i + shift) % 64] for i in range(64)]

    rows = [(q, vec(q), q) for q in range(10)]
    rows += [(10 + q, vec(q), q) for q in range(10)]
    rows += [(100 + j, vec(25 + j), 99) for j in range(30)]
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    got = registry["emb_binary_quant_recall"](spark, sf_dir).collect()
    assert len(got) == 10
    assert all(r.n_overlap >= 1 for r in got)
    assert all(r.n_reranked == 20 for r in got)
