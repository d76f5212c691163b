"""The frequent co-purchase part graph (``copurchase_edges``, shared by
the graph entries of other modules), its triangle-count and
link-prediction entries, and the end-to-end CDC apply entry.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.operators.graph import triangle_count
from glamira_end_to_end_data_pipeline_spark.plans.queries import query
from glamira_end_to_end_data_pipeline_spark.sources import lake, read_table


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchase part graph — part pairs whose
    MULTIPLICITY-WEIGHTED co-order count is ≥ 2 (per order the pair
    (u, v) contributes n_u·n_v line pairs, so two co-orders qualify,
    and so does ONE order holding a duplicated part — the exact
    lineitem-self-join semantics the oracles state). The threshold
    keeps the co-occurrence graph sparse at every scale; the
    unthresholded one densifies toward complete. Shared by all four
    graph entries.

    Built as ONE orderkey-shuffle: collect each order's parts
    (partial-aggregated ObjectHashAggregate), generate its ordered
    pairs MAP-SIDE with an O(k²)-per-order HOF (orders are
    few-line — k² is trivial; pair multiplicity n_P·n_Q matches the
    self-join semantics the oracles state), then one (u, v) count
    shuffle. The lineitem⋈lineitem formulation shuffles the fact table
    TWICE on orderkey before the pair count — measured 2.06 s vs
    1.44 s warm at sf0.1, and the gap is a full extra fact shuffle at
    any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("ps")
    )
    from glamira_end_to_end_data_pipeline_spark.operators.graph import ordered_pairs

    pairs = parts.select(F.explode(ordered_pairs(F.col("ps"))).alias("p"))
    return (
        pairs.select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )


@query(
    "graph_triangles",
    """
    WITH e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY u),
    o AS (
        SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS u,
               CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS v
        FROM e
        JOIN deg da ON da.node = e.u
        JOIN deg db ON db.node = e.v
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM o e1 JOIN o e2 ON e2.u = e1.v
        JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pernode AS (
        SELECT node, count(*) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT cast(node AS bigint) AS node,
           cast(n_triangles AS bigint) AS n_triangles
    FROM pernode
    ORDER BY n_triangles DESC, node
    LIMIT 10
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the FREQUENT co-purchase graph — parts
    co-ordered in at least two distinct orders — via the DEGREE-ORDERED
    orientation (operators/graph.py:triangle_count): every edge points
    from its (degree, id)-smaller endpoint to the larger, so each
    triangle is enumerated exactly once and the wedge join's fan-out is
    bounded by out-degrees ≤ O(√m) — the formulation that survives
    power-law hubs where the naive 3-way self-join's wedge count
    explodes. The multiplicity-≥2 threshold is itself the scale lesson:
    the UNthresholded co-occurrence graph densifies toward complete as
    data grows (any two popular items eventually co-occur once — the
    first cut of this entry used such a graph and took 80 s at sf0.1
    on ~10⁸ wedges), while repeated co-occurrence stays sparse and
    meaningful at every scale (3.6k edges at sf0.01, 3.9k at sf0.1).
    Returns the top-10 nodes by triangle participation (total-order
    tiebreak)."""
    edges = copurchase_edges(spark, sf_dir)
    per_node = triangle_count(edges)
    return per_node.orderBy(F.desc("n_triangles"), F.asc("node")).limit(10)


@query(
    "stream_cdc_apply",
    """
    WITH dim AS (SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS bal
                 FROM customer),
    updates AS (
        SELECT c_custkey, c_mktsegment, round(round(c_acctbal, 2) + 500.0, 2) AS bal
        FROM customer WHERE c_custkey % 7 = 0
    ),
    merged AS (
        SELECT * FROM dim WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        UNION ALL SELECT * FROM updates
    )
    SELECT c_mktsegment,
           count(*) AS n_rows,
           round(sum(bal), 2) AS total_bal
    FROM merged
    GROUP BY c_mktsegment
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC: the upstream dim lands as snapshot commits
    (v1 = base, v2 = changed rows), the downstream consumer reads ONLY
    the delta via the manifest file-diff (sources/lake.py:
    read_incremental — no rescan of the base), and applies it to its
    own partitioned serving copy with the COW merge
    (merge_upsert_partitioned: touched partitions only). The result
    re-reads the SERVING copy; a delta that leaks base rows, a merge
    that duplicates keys, or a missed update all mismatch the
    source-derived oracle."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    src_path = os.path.join(tempfile.gettempdir(), f"spark_graft_cdc_src_{tag}")
    dim_path = os.path.join(tempfile.gettempdir(), f"spark_graft_cdc_dim_{tag}")
    shutil.rmtree(src_path, ignore_errors=True)
    shutil.rmtree(dim_path, ignore_errors=True)

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("bal")
    )
    # upstream: base snapshot, then a change batch (balance bump)
    lake.write_snapshot(spark, cust, src_path)
    changes = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "bal", F.round(F.col("bal") + 500.0, 2)
    )
    lake.write_snapshot(spark, changes, src_path)

    # downstream serving copy, partitioned by segment
    cust.repartition("c_mktsegment").write.partitionBy("c_mktsegment").parquet(
        dim_path
    )
    delta = lake.read_incremental(spark, src_path, 1, 2)
    lake.merge_upsert_partitioned(
        spark, dim_path, delta.select("c_custkey", "c_mktsegment", "bal"),
        ["c_custkey"], "c_mktsegment",
    )
    served = spark.read.parquet(dim_path)
    return served.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("bal"), 2).alias("total_bal"),
    )


@query(
    "graph_link_prediction",
    """
    WITH e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY u),
    sub_hub AS (
        SELECT und.u, und.v FROM und
        JOIN deg dm ON dm.node = und.v AND dm.d <= 1000
    ),
    inter AS (
        SELECT w1.u AS a, w2.u AS b, count(*) AS n_common
        FROM sub_hub w1 JOIN sub_hub w2 ON w1.v = w2.v AND w1.u < w2.u
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT i.* FROM inter i
        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = i.a AND e.v = i.b)
    )
    SELECT cast(a AS bigint) AS a, cast(b AS bigint) AS b,
           cast(n_common AS bigint) AS n_common,
           round(n_common / (da.d + db.d - n_common), 6) AS jaccard
    FROM cand
    JOIN deg da ON da.node = cand.a
    JOIN deg db ON db.node = cand.b
    ORDER BY jaccard DESC, a, b
    LIMIT 20
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard link prediction on the frequent
    co-purchase graph (operators/graph.py:jaccard_link_prediction):
    top-20 not-yet-linked part pairs by neighborhood overlap — the
    co-purchase recommender as a graph problem. Candidates come only
    from the wedge join (2-hop pairs), never the n² space, and hub
    midpoints (degree > 1000) are excluded before the wedge self-join
    so one viral product cannot detonate a single shuffle key group
    (per-key fan-out ≤ cap² regardless of graph shape; the oracle
    applies the identical cutoff)."""
    from glamira_end_to_end_data_pipeline_spark.operators.graph import (
        jaccard_link_prediction,
    )

    edges = copurchase_edges(spark, sf_dir)
    # cap passed EXPLICITLY (the operator's default is None = exact
    # scores); the oracle applies the identical cutoff.
    return jaccard_link_prediction(edges, k_top=20, max_mid_degree=1000)
