"""IVF index semantics: partitioning invariants + recall vs the exact
baseline (value parity is covered by the oracle gate in test_entry)."""

from __future__ import annotations

from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.operators import similarity
from glamira_end_to_end_data_pipeline_spark.sources import read_table
from tests.conftest import SF_SMALL


def _emb(spark):
    return read_table(spark, SF_SMALL, "embeddings")


def test_ivf_cells_partition_the_corpus(spark):
    """Every corpus vector lands in exactly one cell, and every cell id
    is a centroid seed id — the invariant that makes `cell` a valid
    write-time partition column."""
    emb = _emb(spark)
    corpus = emb.filter(F.col("vec_id") >= 10)
    cents = similarity.ivf_centroids(corpus, n_cells=8)
    assert [c[0] for c in cents] == list(range(10, 18))
    assigned = corpus.select(
        "vec_id",
        similarity.ivf_cell(
            F.col("embedding"), similarity.norm(F.col("embedding")), cents
        ).alias("cell"),
    )
    rows = assigned.collect()
    assert len(rows) == corpus.count()  # one row -> one cell
    assert {r.cell for r in rows} <= set(range(10, 18))
    # seeds are their own nearest centroid (cosine 1.0)
    seed_cells = {r.vec_id: r.cell for r in rows if r.vec_id < 18}
    assert seed_cells == {i: i for i in range(10, 18)}


def test_ivf_recall_dial(spark):
    """The (n_cells, nprobe) dial invariants, independent of data
    distribution: probing ALL cells degenerates to the exact baseline
    (recall == 1.0 by construction), and partial probes stay above the
    nprobe/n_cells information floor. (The fixture embeddings are
    isotropic — avg pairwise cosine ~0, no cluster structure — so no
    quantizer can do much better than that floor here; on clustered
    real data the Lloyd-refined quantizer closes the gap.)"""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(q, c, k=5).collect()
    }

    def recall(nprobe):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(
                q, c, k=5, n_cells=8, nprobe=nprobe
            ).collect()
        }
        return len(exact & approx) / len(exact)

    assert recall(8) == 1.0  # full probe == brute force, exactly
    assert recall(2) >= 2 / 8  # partial probe beats the random floor


def _clustered(spark, n_per=40, dim=8):
    """Three tight clusters around orthogonal axes, deterministic."""
    import math

    rows = []
    vid = 0
    for c, axis in enumerate((0, 1, 2)):
        for i in range(n_per):
            v = [0.0] * dim
            v[axis] = 1.0
            # small deterministic jitter off-axis
            v[(axis + 3) % dim] = 0.1 * math.sin(i * 2.3 + c)
            v[(axis + 5) % dim] = 0.1 * math.cos(i * 1.7 + c)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lloyd_refine_improves_recall_on_clustered_data(spark):
    """On a clustered corpus, one Lloyd iteration aligns cells with the
    clusters: nprobe=1 recall with refined centroids must dominate the
    seeded quantizer and be near-perfect."""
    from glamira_end_to_end_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    data = _clustered(spark)
    q = data.filter(F.col("vec_id") % 40 < 3)  # 9 queries, 3 per cluster
    c = data.filter(F.col("vec_id") % 40 >= 3)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(q, c, k=5).collect()
    }

    def recall(refine_iters):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                q, c, k=5, n_cells=3, nprobe=1, refine_iters=refine_iters
            ).collect()
        }
        return len(exact & got) / len(exact)

    seeded, refined = recall(0), recall(2)
    assert refined >= seeded
    assert refined >= 0.9, f"refined recall {refined:.2f}"


def test_pq_code_packing_roundtrip(spark):
    """Packed base-16 code must decompose back into the per-subspace
    argmin codes, and every code digit must be < k."""
    from glamira_end_to_end_data_pipeline_spark.operators.similarity import (
        pq_centroids,
        pq_codes,
    )

    data = _clustered(spark)
    cents = pq_centroids(data, m=8, k=16)
    assert len(cents) == 8 and all(len(cb) == 16 for cb in cents)
    rows = pq_codes(data, cents).collect()
    assert len(rows) == data.count()
    for r in rows:
        code = r.pq_code
        assert 0 <= code < 16**8
        assert r.recon_sq_err >= 0
    # seed vectors must reconstruct themselves exactly (they ARE
    # centroids in every subspace): zero reconstruction error
    seed_ids = [x.vec_id for x in data.orderBy("vec_id").limit(16).collect()]
    by_id = {r.vec_id: r for r in rows}
    assert all(by_id[i].recon_sq_err == 0.0 for i in seed_ids)


def _interleaved_clusters(spark, n=120, dim=16):
    """Three tight clusters, cluster = vec_id % 3 (INTERLEAVED ids, so
    the lowest-id codebook seeds span all clusters)."""
    import math

    rows = []
    for vid in range(n):
        c = vid % 3
        v = [0.0] * dim
        v[c] = 1.0
        v[(c + 5) % dim] = 0.1 * math.sin(vid * 2.3 + c)
        v[(c + 9) % dim] = 0.1 * math.cos(vid * 1.7 + c)
        rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_adc_ranks_near_neighbors_first(spark):
    """ADC distance over codes must put the query's own cluster ahead
    of other clusters (coarse recall — PQ loses precision, not
    cluster-level structure)."""
    from glamira_end_to_end_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_centroids,
        pq_codes,
    )

    data = _interleaved_clusters(spark)
    q = data.filter(F.col("vec_id") < 3)  # one query per cluster
    c = data.filter(F.col("vec_id") >= 3)
    cents = pq_centroids(c, m=8, k=16)
    top = pq_adc_topk(q, pq_codes(c, cents), cents, k_top=5).collect()
    assert {r.query_id for r in top} == {0, 1, 2}
    hits = sum(r.query_id % 3 == r.neighbor_id % 3 for r in top)
    assert hits / len(top) >= 0.8, f"cluster recall {hits}/{len(top)}"


def test_ivfpq_finds_own_cluster(spark):
    """IVF-PQ composition: probing nprobe cells then ranking by ADC
    must surface same-cluster neighbors for every query."""
    from glamira_end_to_end_data_pipeline_spark.operators.similarity import (
        ivfpq_topk,
    )

    data = _interleaved_clusters(spark)
    q = data.filter(F.col("vec_id") < 3)
    c = data.filter(F.col("vec_id") >= 3)
    top = ivfpq_topk(q, c, k_top=5, n_cells=3, nprobe=1, m=8, k=16).collect()
    assert {r.query_id for r in top} == {0, 1, 2}
    hits = sum(r.query_id % 3 == r.neighbor_id % 3 for r in top)
    assert hits / len(top) >= 0.8, f"cluster recall {hits}/{len(top)}"


def test_mmr_rank1_is_pure_relevance_and_diversity_kicks_in(spark):
    # 4 corpus vectors: two near-copies of the query direction, one
    # moderately similar, one orthogonal. Raw top-2 would be the two
    # near-copies; MMR must pick the moderate vector at rank 2.
    rows = [
        (0, [1.0, 0.0, 0.0]),          # query
        (10, [1.0, 0.001, 0.0]),       # near-copy A (best relevance)
        (11, [1.0, 0.0011, 0.0]),      # near-copy B (≈ A)
        (12, [0.7, 0.7, 0.0]),         # moderate
        (13, [0.0, 0.0, 1.0]),         # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["mmr_rank"]: r
        for r in similarity.mmr_rerank(
            df.filter(F.col("vec_id") < 5),
            df.filter(F.col("vec_id") >= 10),
            k=3,
            pool=4,
            lam=0.5,
        ).collect()
    }
    assert got[1]["neighbor_id"] == 10  # highest cosine, id tiebreak
    assert got[1]["max_sim_selected"] == 0.0
    # rank 2 skips the near-copy (sim≈1 to rank 1) for the diverse one
    assert got[2]["neighbor_id"] in (12, 13)
    assert got[2]["max_sim_selected"] < 0.99
    assert len(got) == 3


def test_kcenter_seeds_spread_across_clusters(spark):
    """Farthest-first (deterministic k-means++-style) seeding: on the
    3-cluster fixture the three seeds must land one per cluster — the
    lowest-id seeds provably cannot (ids 3,4,5 are all cluster 0)."""
    from glamira_end_to_end_data_pipeline_spark.operators.similarity import (
        ivf_centroids,
        kcenter_centroids,
    )

    data = _clustered(spark)
    c = data.filter(F.col("vec_id") % 40 >= 3)
    kc = kcenter_centroids(c, n_cells=3)
    assert sorted(cid // 40 for cid, _v, _n in kc) == [0, 1, 2]
    low = ivf_centroids(c, n_cells=3)
    assert sorted(cid // 40 for cid, _v, _n in low) == [0, 0, 0]
    # sorted-by-cid contract (assignment tie rule depends on it)
    assert [cid for cid, _v, _n in kc] == sorted(cid for cid, _v, _n in kc)


def test_kcenter_seeding_recall_and_cell_purity(spark):
    """The verdict-#7 acceptance: with k-center seeds, nprobe=1 recall
    is ≥ the lowest-id seeds' and near-perfect, and — the structural
    win — every cell is cluster-PURE (each corpus vector's nearest
    seed is its own cluster's on-axis seed), while the lowest-id
    quantizer, whose three near-identical seeds differ only in jitter,
    scatters clusters 1 and 2 across cells."""
    from glamira_end_to_end_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_centroids,
        ivf_cell_bulk,
        ivf_topk,
        kcenter_centroids,
        norm,
    )

    data = _clustered(spark)
    q = data.filter(F.col("vec_id") % 40 < 3)
    c = data.filter(F.col("vec_id") % 40 >= 3)

    def cells(cents):
        rows = c.select(
            "vec_id",
            ivf_cell_bulk(
                F.col("embedding").cast("array<double>"),
                norm(F.col("embedding")),
                cents,
            ).alias("cell"),
        ).collect()
        purity = {}
        for r in rows:
            purity.setdefault(r["cell"], set()).add(r["vec_id"] // 40)
        return purity

    kc = kcenter_centroids(c, n_cells=3)
    assert all(len(cl) == 1 for cl in cells(kc).values()), "impure k-center cell"
    low = cells(ivf_centroids(c, n_cells=3))
    assert any(len(cl) > 1 for cl in low.values()), (
        "fixture too easy — lowest-id seeds also produced pure cells"
    )

    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(q, c, k=5).collect()
    }

    def recall(cents):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(q, c, k=5, n_cells=3, nprobe=1, cents=cents).collect()
        }
        return len(exact & got) / len(exact)

    low_id = recall(None)
    kcenter = recall(kc)
    assert kcenter >= low_id, f"kcenter {kcenter:.2f} vs lowest-id {low_id:.2f}"
    assert kcenter >= 0.95, f"kcenter recall {kcenter:.2f}"


def test_ivf_drift_monitor_gates_lloyd_refresh(spark):
    """The incremental-IVF maintenance contract (emb_ivf_incremental):
    an append drawn from the indexed distribution keeps the per-cell
    drift cosine high (assign-only is safe), while a representation
    shift — vectors pointing AWAY from the stored centroids — drives
    it below the refresh threshold, and the triggered Lloyd refresh
    moves the centroids toward the shifted mass."""
    from glamira_end_to_end_data_pipeline_spark.operators.similarity import (
        _side,
        ivf_cell_bulk,
        ivf_centroids,
        ivf_drift_min_cos,
        lloyd_refine,
    )
    from glamira_end_to_end_data_pipeline_spark.plans.r13_queries import (
        _DRIFT_REFRESH_COS,
    )

    dim = 8

    def vec(direction, i):
        # tight cluster around +-e_direction with a small deterministic
        # off-axis wobble so cells are nondegenerate
        v = [0.01 * ((i + j) % 3) for j in range(dim)]
        v[abs(direction) - 1] += 1.0 if direction > 0 else -1.0
        return v

    init = spark.createDataFrame(
        [(i, vec(+1, i)) for i in range(10, 20)]
        + [(i, vec(+2, i)) for i in range(20, 30)],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_centroids(init, n_cells=2)

    same_dist = spark.createDataFrame(
        [(i, vec(+1, i)) for i in range(100, 110)],
        "vec_id long, embedding array<double>",
    )
    a_same = _side(
        same_dist, "vec_id", "embedding", "nid", "c_vec", "c_norm"
    ).withColumn("cell", ivf_cell_bulk(F.col("c_vec"), F.col("c_norm"), cents))
    assert ivf_drift_min_cos(a_same, cents) > _DRIFT_REFRESH_COS

    shifted = spark.createDataFrame(
        [(i, vec(-1, i)) for i in range(200, 210)],
        "vec_id long, embedding array<double>",
    )
    a_shift = _side(
        shifted, "vec_id", "embedding", "nid", "c_vec", "c_norm"
    ).withColumn("cell", ivf_cell_bulk(F.col("c_vec"), F.col("c_norm"), cents))
    drift = ivf_drift_min_cos(a_shift, cents)
    assert drift < _DRIFT_REFRESH_COS, f"shifted append drift {drift:.3f}"

    # the triggered refresh pulls a centroid toward the shifted mass:
    # after one Lloyd pass over init+shifted, the worst-case drift of
    # the SAME shifted batch against the refreshed quantizer improves
    refreshed = lloyd_refine(init.unionByName(shifted), cents, n_iters=1)
    a_re = _side(
        shifted, "vec_id", "embedding", "nid", "c_vec", "c_norm"
    ).withColumn(
        "cell", ivf_cell_bulk(F.col("c_vec"), F.col("c_norm"), refreshed)
    )
    assert ivf_drift_min_cos(a_re, refreshed) > drift


def _outside_cached_plans(plan: str) -> list[str]:
    """Plan lines that are not part of a persisted frame's own plan
    (the subtree printed under each ``InMemoryRelation``)."""
    kept, skip_below = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = depth if "InMemoryRelation" in line else None
        kept.append(line)
    return kept


def test_ivf_topk_reuses_inverted_lists_of_its_own_corpus(spark):
    """Cells from ivf_centroids own the corpus's inverted lists: repeated
    lookups give the plain-list answer, scan the persisted assignment
    instead of re-running the assignment kernel, reuse only for the
    corpus frame the cells were built from (and not when Lloyd
    refinement changes the centroids), and leave no persisted RDD
    behind once the cells are released."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    jsc = spark.sparkContext._jsc

    # ids, not a count: the ContextCleaner may unpersist earlier tests'
    # RDDs while this test runs
    def persisted():
        return set(jsc.getPersistentRDDs().keys())

    persisted_before = persisted()
    cells = similarity.ivf_centroids(c)
    assert isinstance(cells, list) and list(cells) == cells

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def executed(df):  # before execution: the plan without AQE's stages
        return _outside_cached_plans(
            df._jdf.queryExecution().executedPlan().toString()
        )

    def assign_kernels(plan):  # Python evaluations besides the pair cosine
        return sum(
            "ArrowEvalPython" in ln and "_pair_cosine_fn" not in ln for ln in plan
        )

    # a plain list assigns the corpus in the lookup's own plan
    fresh = executed(similarity.ivf_topk(q, c, k=5, cents=list(cells)))
    assert not any("InMemoryTableScan" in ln for ln in fresh)
    assert assign_kernels(fresh) >= 1, fresh
    want = rows(similarity.ivf_topk(q, c, k=5, cents=list(cells)))

    assert rows(similarity.ivf_topk(q, c, k=5, cents=cells)) == want
    assert rows(similarity.ivf_topk(q, c, k=5, cents=cells)) == want
    # the corpus side of a later lookup is the persisted assignment
    # (c itself is not persisted); only the pair cosine runs in Python
    reused = executed(similarity.ivf_topk(q, c, k=5, cents=cells))
    assert any("InMemoryTableScan" in ln and "cell#" in ln for ln in reused)
    assert assign_kernels(reused) == 0, reused

    # another corpus frame, or refined centroids: the lookup assigns
    # its corpus itself
    other = emb.filter(F.col("vec_id") >= 12)
    assert cells.inverted_lists(other, "vec_id", "embedding") is None
    assert cells.inverted_lists(c, "vec_id", "other") is None
    for df in (
        similarity.ivf_topk(q, other, k=5, cents=cells),
        similarity.ivf_topk(q, c, k=5, cents=cells, refine_iters=1),
    ):
        plan = executed(df)
        assert not any("InMemoryTableScan" in ln for ln in plan), plan
        assert assign_kernels(plan) >= 1, plan
    assert rows(similarity.ivf_topk(q, other, k=5, cents=cells)) == rows(
        similarity.ivf_topk(q, other, k=5, cents=list(cells))
    )

    added = persisted() - persisted_before
    assert added
    cells.release()
    assert not added & persisted()
    cells.release()  # idempotent
    # released cells rebuild their lists on the next lookup
    assert rows(similarity.ivf_topk(q, c, k=5, cents=cells)) == want
    rebuilt = persisted() - persisted_before
    assert rebuilt
    cells.release()
    assert not (added | rebuilt) & persisted()
