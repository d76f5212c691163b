"""Similarity search over embedding columns (north-star, BASELINE.json).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (random-hyperplane sign bits) is the scale path: candidates are
restricted to same-bucket vectors, turning the O(N·Q) cross join into a
bucket-local join whose shuffle keys are small ints.

All math is pure column expressions over ``array<float>`` upcast to
double (``zip_with`` + ``aggregate`` fold) — JVM-side, bit-deterministic
(sequential fold order), no UDF. Two measured design rules:

- **Fold, don't unroll.** An explicit 64-term ``element_at`` expansion
  of the dot product benches ~5× slower than the higher-order-function
  fold here — the giant expression tree falls out of whole-stage
  codegen limits — so the fold is the fast path, not the fallback.
- **Hoist norms out of the pair loop.** ``‖v‖`` is computed once per
  *row* in the side projections, never per pair: cosine per pair is one
  fold (the dot) plus a scalar divide, cutting per-pair work ~3×. Same
  arithmetic order as before (dot / (norm_a·norm_b)), so results are
  bit-stable.

At 100 TB: store embeddings bucket-partitioned (the bucket expression
below is a deterministic function of the vector, so it's a free
partition column at write time); a top-k probe then touches one
partition per query bucket — classic IVF with Parquet partition pruning
standing in for the inverted index. Within a session the IVF cells own
their inverted lists (:class:`IvfCells`): the corpus-to-cell assignment
is persisted on the first lookup and released with the cells, so a
lookup costs a scan of the probed lists, never a re-assignment of the
corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dbl(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot-product fold (index order ⇒
    engine-portable bits)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm via the same fold shape (acc + x·x, left-to-right)."""
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """One-shot cosine (norms not hoisted) — for ad-hoc use; the
    operators below hoist norms into their side projections instead."""
    return dot(a, b) / (norm(a) * norm(b))


def _side(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str, out_norm: str
) -> DataFrame:
    """Side projection with the norm materialized once per row."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(out_vec),
        norm(F.col(vec_col)).alias(out_norm),
    )


def _pair_cosine_fn(
    qv: pd.Series, cv: pd.Series, qn: pd.Series, cn: pd.Series
) -> pd.Series:
    """Arrow-vectorized pair cosine: sequential dot fold (index order,
    never np pairwise — the :func:`_quantize_sums_fn` discipline) over
    the joined pair stream, divided by the JVM-computed norms (whose
    bits pass through Arrow untouched), rounded 6dp half-away-from-zero
    with the sign split out (cosines go negative, and the
    ``floor(y)+(frac>=0.5)`` form is only round-half-away for y ≥ 0)."""
    qa = [np.asarray(v, dtype=np.float64) for v in qv]
    ca = [np.asarray(v, dtype=np.float64) for v in cv]
    lens_q = np.array([a.size for a in qa])
    lens_c = np.array([a.size for a in ca])
    # Fast path only when BOTH sides are uniform and equal-width — a
    # single corrupt/odd-width row (schema drift) must degrade that row
    # to NaN like the old JVM zip_with expression's null, not crash the
    # task via a shape-mismatched np.stack.
    if (
        len(lens_q)
        and (lens_q == lens_q[0]).all()
        and (lens_c == lens_q[0]).all()
        and lens_q[0] > 0
    ):
        x = np.stack(qa)
        y = np.stack(ca)
        acc = np.zeros(x.shape[0], dtype=np.float64)
        for i in range(x.shape[1]):  # sequential fold, never pairwise
            acc += x[:, i] * y[:, i]
    else:  # ragged — per-row sequential fold; width mismatch → NaN
        acc = np.array(
            [
                np.cumsum(a * b)[-1]
                if a.size and a.size == b.size
                else (0.0 if a.size == b.size else np.nan)
                for a, b in zip(qa, ca)
            ],
            dtype=np.float64,
        )
    s = acc / (qn.to_numpy(dtype=np.float64) * cn.to_numpy(dtype=np.float64))
    sign = np.sign(s)
    ay = np.abs(s) * 1e6
    fl = np.floor(ay)
    out = sign * (fl + (ay - fl >= 0.5)) / 1e6
    if np.isnan(out).any():
        # Degraded rows (width mismatch, zero norm) surface as NULL, the
        # old JVM zip_with expression's behavior — NOT NaN: Spark's
        # descending sort ranks NaN ABOVE every real cosine, so a NaN
        # here would put a corrupt vector at rank 1 of every top-k,
        # while NULL sorts last and is harmlessly excluded.
        return pd.Series(out, dtype=object).where(~np.isnan(out), None)
    return pd.Series(out)


def _pair_cosine() -> Column:
    """Rounded cosine over a joined (q_vec, c_vec, q_norm, c_norm) pair
    stream — ONE Arrow-batched kernel instead of an interpreted
    zip_with/aggregate fold per pair (the fold is per-element
    interpreted; on the candidate streams of the ANN/near-dup operators
    that was the dominant cost). Norms stay JVM-side in the per-vector
    side projections (computed once per vector, not per pair)."""
    return F.pandas_udf(_pair_cosine_fn, "double")(
        F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine: cross join + per-query
    window. Deterministic: similarity rounded to 6dp, id tiebreak.
    Plans as BroadcastNestedLoopJoin with the (small) query side
    broadcast — the corpus streams once, no shuffle of vectors."""
    q = _side(queries, id_col, vec_col, "query_id", "q_vec", "q_norm")
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c_vec", "c_norm")
    scored = c.join(F.broadcast(q)).select(
        "query_id", "neighbor_id", _pair_cosine().alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


EMBEDDING_DIM = 64
PLANE_SEED = "lsh-v1"


def rademacher_planes(
    n_bits: int, dim: int = EMBEDDING_DIM, seed: str = PLANE_SEED
) -> list[list[int]]:
    """Deterministic pseudo-random ±1 hyperplanes: weight (p, d) is the
    top bit of md5(seed:p:d). Rademacher projections satisfy the same
    Johnson-Lindenstrauss/SimHash guarantees as Gaussian planes, and
    md5-derivation makes them a pure function of (seed, shape) — no RNG
    state, no side files, identical on every engine/version, so the
    bucket remains usable as a write-time partition column AND exactly
    reproducible in the DuckDB oracle."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[0] < 128 else -1
            for d in range(dim)
        ]
        for p in range(n_bits)
    ]


def hyperplane_bucket(
    vec_col: Column, n_bits: int = 3, dim: int = EMBEDDING_DIM
) -> Column:
    """Random-hyperplane LSH bucket: bit p is the sign of the vector's
    projection onto Rademacher plane p (full-dimension — every component
    contributes, unlike an axis-aligned truncation that keys on
    fixture-specific leading dims). Deterministic pure expression →
    usable as a partition column; projection is the proven fold shape
    (see module docstring), left-to-right so bits match the oracle."""
    out = F.lit(0)
    for plane in rademacher_planes(n_bits, dim):
        w = F.array(*[F.lit(float(x)) for x in plane])
        proj = F.aggregate(
            F.zip_with(_dbl(vec_col), w, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out * 2 + F.when(proj >= 0, 1).otherwise(0)
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within bucket. Recall < 1 by design;
    the bucket count (2^n_bits) is the recall/throughput dial."""
    q = _side(queries, id_col, vec_col, "query_id", "q_vec", "q_norm").withColumn(
        "bucket", hyperplane_bucket(F.col("q_vec"), n_bits)
    )
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c_vec", "c_norm").withColumn(
        "bucket", hyperplane_bucket(F.col("c_vec"), n_bits)
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id", "neighbor_id", _pair_cosine().alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _quantize_sums_fn(emb: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized core of :func:`quantize_int8`: per-vector code
    checksum + raw mean dequantization error, all in numpy.

    Rounding is explicit half-away-from-zero — ``floor(y) + (frac(y) >=
    0.5)`` — computed WITHOUT the classic ``floor(y + 0.5)`` addition
    (whose float rounding can bump a just-below-half value across the
    boundary), so codes match both Spark's ``F.round`` and DuckDB's
    ``round`` bit-for-bit. NaN codes (constant vector ⇒ 0/0 scale)
    collapse to 0, mirroring Spark's non-ANSI NaN→long cast in the
    previous expression-based implementation."""
    def one(vec: np.ndarray) -> tuple[int, float]:
        x = np.asarray(vec, dtype=np.float64)
        mn, mx = x.min(), x.max()
        sc = (mx - mn) / 255.0
        with np.errstate(divide="ignore", invalid="ignore"):
            y = (x - mn) / sc
            fl = np.floor(y)
            codes = fl + (y - fl >= 0.5)
            codes = np.where(np.isnan(codes), 0.0, codes)
            err = np.abs(x - (mn + codes * sc))
        # cumsum is a strict left-to-right fold — the same addition
        # order as the DuckDB oracle's list fold — where np.sum's
        # pairwise summation can differ by an ulp and flip the 6dp
        # round at a boundary. codes.sum() is integer-valued, so
        # pairwise is exact there.
        return int(codes.sum()), float(np.cumsum(err)[-1] / x.size)

    lens = emb.map(len).to_numpy()
    if len(lens) and (lens == lens[0]).all():
        # uniform-dimension fast path: one (batch × dim) matrix op
        x = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        mn = x.min(axis=1, keepdims=True)
        mx = x.max(axis=1, keepdims=True)
        sc = (mx - mn) / 255.0
        with np.errstate(divide="ignore", invalid="ignore"):
            y = (x - mn) / sc
            fl = np.floor(y)
            codes = fl + (y - fl >= 0.5)
            codes = np.where(np.isnan(codes), 0.0, codes)
            err = np.abs(x - (mn + codes * sc))
        code_sum = codes.sum(axis=1).astype(np.int64)
        # Sequential (cumsum) fold per row, not pairwise — see `one`.
        mean_err = np.cumsum(err, axis=1)[:, -1] / x.shape[1]
    else:  # ragged batch — per-row fallback, same arithmetic
        sums = [one(v) for v in emb]
        code_sum = np.array([s[0] for s in sums], dtype=np.int64)
        mean_err = np.array([s[1] for s in sums], dtype=np.float64)
    return pd.DataFrame({"code_sum": code_sum, "mean_abs_err": mean_err})


def _quantize_sums() -> "F.UserDefinedFunction":
    """Build the pandas UDF lazily — the DDL return type needs an active
    SparkSession to parse, so decorating at import time would couple
    module import to session lifetime."""
    return F.pandas_udf(
        _quantize_sums_fn, "struct<code_sum: bigint, mean_abs_err: double>"
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector scalar quantization to int8 codes — the 4× storage
    compression every large vector store applies before indexing
    (FAISS SQ8 shape): code = round((x − min)·255/(max − min)),
    dequant = min + code·(max − min)/255.

    Map-only (no shuffle): min/max/6-decimal rounding stay JVM-side
    (codegen built-ins), while the two array folds — code checksum and
    dequant error — run in ONE Arrow-batched pandas UDF instead of
    three interpreted higher-order functions (`transform` + two
    `aggregate`s), which were the measured constant-factor bottleneck
    (~2.4 s → sub-second at sf0.1). The entry's oracle checks an
    INTEGER checksum of the codes, so any cross-engine divergence in
    the scale arithmetic flips an exact value rather than hiding in
    rounded decimals.

    Returns: id, v_min/v_max (the dequant metadata), code_sum (integer
    checksum of all codes), mean_abs_err (mean |x − dequant(code)|,
    bounded by half a step)."""
    v = _dbl(F.col(vec_col))
    sums = _quantize_sums()(F.col(vec_col))
    return df.select(
        F.col(id_col),
        F.round(F.array_min(v), 6).alias("v_min"),
        F.round(F.array_max(v), 6).alias("v_max"),
        sums["code_sum"].alias("code_sum"),
        F.round(sums["mean_abs_err"], 6).alias("mean_abs_err"),
    )


class IvfCells(list):
    """A frozen IVF quantizer that owns its inverted lists.

    As a list it is exactly what :func:`ivf_centroids` always returned —
    ``(cell_id, vector, norm)`` triples — so every function that takes a
    centroid list takes it unchanged. It also remembers the corpus frame
    and columns it was built from. For that corpus,
    :meth:`inverted_lists` is the corpus projected to ``(neighbor_id,
    c_vec, c_norm, cell)``, persisted on first use, so repeated
    :func:`ivf_topk` lookups against one index assign the corpus to
    cells once instead of once per lookup. :meth:`release` unpersists
    the lists; the registry's ``release_tracked`` does not, because an
    index outlives the registry entries that query it."""

    def __init__(
        self,
        triples: list[tuple[int, list[float], float]],
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
    ):
        super().__init__(triples)
        self._source = (corpus, id_col, vec_col)
        self._lists: DataFrame | None = None

    def inverted_lists(
        self, corpus: DataFrame, id_col: str, vec_col: str
    ) -> DataFrame | None:
        """The persisted assignment of ``corpus``, or None unless
        ``corpus`` is the very frame (and columns) the cells were built
        from — another frame may hold other rows."""
        src, src_id, src_vec = self._source
        if corpus is not src or (id_col, vec_col) != (src_id, src_vec):
            return None
        if self._lists is None:
            self._lists = _assign_cells(corpus, self, id_col, vec_col).persist()
        return self._lists

    def release(self) -> None:
        """Unpersist the inverted lists (idempotent); a later lookup
        builds them again."""
        if self._lists is not None:
            self._lists.unpersist()
            self._lists = None


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfCells:
    """Coarse quantizer for IVF: a small, frozen centroid set collected
    to the driver — (cell_id, vector, norm) triples, as an
    :class:`IvfCells` that also owns the corpus's inverted lists:
    persisted by the first :func:`ivf_topk` lookup against this
    ``corpus`` and released with the cells (:meth:`IvfCells.release`).

    Seeding is deterministic (the ``n_cells`` lowest-id corpus vectors)
    so the cross-engine oracle can reproduce the cell structure exactly;
    a production build would Lloyd-iterate these seeds (k-means), which
    changes only this function — the assignment/probe machinery below is
    quantizer-agnostic. Collecting K rows is the point, not a smell: the
    coarse quantizer IS driver-side metadata (FAISS keeps it in RAM the
    same way), and baking it into literal expressions is what makes cell
    assignment a pure map-side projection with no join and no shuffle."""
    rows = (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).cast("long").alias("cid"),
            _dbl(F.col(vec_col)).alias("cvec"),
            # norm computed by the SAME fold as the row-side projections
            # → bit-identical arithmetic on both sides of the divide
            norm(F.col(vec_col)).alias("cnorm"),
        )
        .collect()
    )
    return IvfCells(
        [(r["cid"], list(r["cvec"]), r["cnorm"]) for r in rows],
        corpus,
        id_col,
        vec_col,
    )


def lloyd_refine(
    corpus: DataFrame,
    cents: list[tuple[int, list[float], float]],
    n_iters: int = 1,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Lloyd (k-means) iterations over a seed quantizer, as DataFrame
    ops: every corpus vector is assigned to its cell via the literal
    expression (map-only, no join), each cell's members are averaged
    per dimension (64 partial-agg sums, ONE shuffle of K×dim doubles),
    and the K new centroids are collected. Empty cells keep their
    previous centroid. Use on clustered corpora, where refined cells
    align with the clusters and recall at fixed nprobe jumps; on
    isotropic data it converges to a Voronoi tessellation no better
    than the seeds (see tests)."""
    dim = len(cents[0][1])
    for _ in range(n_iters):
        v = _dbl(F.col(vec_col))
        assigned = corpus.select(
            v.alias("v"), ivf_cell_bulk(v, norm(F.col(vec_col)), cents).alias("cell")
        )
        means = assigned.groupBy("cell").agg(
            *[F.avg(F.element_at("v", i + 1)).alias(f"d{i}") for i in range(dim)]
        )
        new = {
            r["cell"]: [r[f"d{i}"] for i in range(dim)] for r in means.collect()
        }

        def _norm(xs: list[float]) -> float:
            acc = 0.0
            for x in xs:  # same left-to-right fold order as norm()
                acc += x * x
            return acc**0.5

        cents = [
            (cid, new[cid], _norm(new[cid])) if cid in new else (cid, vec, nrm)
            for cid, vec, nrm in cents
        ]
    return cents


def ivf_drift_min_cos(
    assigned: DataFrame,
    cents: list[tuple[int, list[float], float]],
    vec_col: str = "c_vec",
    cell_col: str = "cell",
) -> float:
    """Per-cell DRIFT monitor for incremental IVF maintenance: the
    minimum, over cells that received new vectors, of the cosine
    between the cell's STORED centroid and the new batch's per-cell
    mean — the ``emb_centroid_drift`` statistic applied to index
    upkeep. Near 1.0 = the append looks like the data the quantizer
    was built on (assign-only is safe); a drop means the
    representation shifted and the caller should Lloyd-refresh.

    Scale shape: one partial-aggregated groupBy collapsing the batch
    to K×dim means (K ≤ cells, bounded), then driver-side arithmetic
    over ≤ K rows — cost is batch-scan plus nothing."""
    dim = len(cents[0][1])
    means = assigned.groupBy(cell_col).agg(
        *[
            F.avg(F.element_at(vec_col, i + 1)).alias(f"__d{i}")
            for i in range(dim)
        ]
    )
    cmap = {cid: vec for cid, vec, _ in cents}
    min_cos = 1.0
    for r in means.collect():  # <= K rows
        m = [r[f"__d{i}"] for i in range(dim)]
        c = cmap[r[cell_col]]
        d = sum(x * y for x, y in zip(m, c))
        nm = sum(x * x for x in m) ** 0.5
        nc = sum(x * x for x in c) ** 0.5
        if nm > 0 and nc > 0:
            min_cos = min(min_cos, d / (nm * nc))
    return min_cos


def kcenter_centroids(
    corpus: DataFrame,
    n_cells: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """k-means++-style seeding, deterministic: farthest-first traversal
    (Gonzalez' k-center greedy — k-means++ with the D² *sampling*
    replaced by the D² *argmax*, so the cross-engine oracle can replay
    it exactly). Seed 1 is the lowest-id corpus vector; each next seed
    is the vector LEAST similar to its nearest already-chosen seed
    (min over rows of max-cosine-to-seeds, ties → lowest id, cosines
    rounded 6dp like every quantizer comparison in this module).

    Fixes the known weakness of :func:`ivf_centroids`' lowest-id seeds
    on clustered corpora: ids carry no geometry, so all K seeds can
    land in one cluster and nprobe-bounded probes miss every other
    cluster; farthest-first provably 2-approximates the k-center
    optimum, spreading one seed per cluster before refinement.

    Cost shape: K-1 corpus scans, each a map-only literal-centroid
    score + a TakeOrdered(1) — the per-round collect is ONE row (the
    BPE top-1 discipline). K is the coarse-quantizer size (double
    digits), so this is a bounded setup cost amortized over every
    probe; sampling the corpus first drops it further at 100 TB.
    Returns (cell_id, vector, norm) sorted by cell id — the same
    smallest-cid tie rule every assignment path assumes."""
    first = (
        corpus.orderBy(id_col)
        .limit(1)
        .select(
            F.col(id_col).cast("long").alias("cid"),
            _dbl(F.col(vec_col)).alias("cvec"),
            norm(F.col(vec_col)).alias("cnorm"),
        )
        .collect()[0]
    )
    cents = [(first["cid"], list(first["cvec"]), first["cnorm"])]
    side = corpus.select(
        F.col(id_col).cast("long").alias("cid"),
        _dbl(F.col(vec_col)).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
    )
    for _ in range(n_cells - 1):
        best = F.array_max(
            _cell_scores(F.col("cvec"), F.col("cnorm"), cents)
        )["sim"]
        pick = (
            side.select("cid", "cvec", "cnorm", best.alias("best"))
            .orderBy(F.asc("best"), F.asc("cid"))
            .limit(1)
            .collect()[0]
        )
        cents.append((pick["cid"], list(pick["cvec"]), pick["cnorm"]))
    return sorted(cents)


def _cell_scores(
    vec: Column, vnorm: Column, cents: list[tuple[int, list[float], float]]
) -> Column:
    """array<struct<sim,ncid,cid>> of rounded cosine to every centroid.

    Struct field order makes array_max/array_sort rank by (similarity,
    then smallest cell id) — the same deterministic tiebreak the SQL
    oracle's ``ORDER BY sim DESC, cid`` uses."""
    entries = []
    for cid, cvec, cnorm in cents:
        cvec_lit = F.array(*[F.lit(float(x)) for x in cvec])
        sim = F.round(dot(vec, cvec_lit) / (vnorm * F.lit(cnorm)), 6)
        entries.append(
            F.struct(
                sim.alias("sim"),
                F.lit(-cid).cast("long").alias("ncid"),
                F.lit(cid).cast("long").alias("cid"),
            )
        )
    return F.array(*entries)


def ivf_cell(
    vec: Column, vnorm: Column, cents: list[tuple[int, list[float], float]]
) -> Column:
    """Cell assignment = argmax-cosine centroid, as a pure expression.
    Deterministic function of the vector given the frozen quantizer, so
    it is usable as a *write-time partition column*: store the corpus
    partitioned by cell and a probe touches nprobe/n_cells of the data
    through ordinary Parquet partition pruning — the inverted index
    without any index structure. Expression form — right for the few-row
    query side and for embedding in writers; bulk corpus assignment
    uses :func:`ivf_cell_bulk` (same bits, Arrow-batched)."""
    return F.array_max(_cell_scores(vec, vnorm, cents))["cid"]


def ivf_cell_bulk(
    vec: Column, vnorm: Column, cents: list[tuple[int, list[float], float]]
) -> Column:
    """Corpus-side cell assignment as ONE Arrow kernel — bit-identical
    to :func:`ivf_cell`: sequential dot fold per centroid (index order,
    never np pairwise), division by the JVM-computed vector norm (bits
    through Arrow untouched) and the centroid norms captured from
    :func:`ivf_centroids` (themselves JVM-fold outputs), 6dp
    half-away-from-zero rounding BEFORE the argmax (sign split out —
    cosines go negative), and np.argmax's first-occurrence tie giving
    the smallest cell id, exactly the (sim, −cid) struct-max rule.
    The expression fold evaluated interpreted per element; on the full
    corpus this kernel is the cheap path."""
    cids = np.asarray([cid for cid, _v, _n in cents], dtype=np.int64)
    cb = np.asarray([cv for _c, cv, _n in cents], dtype=np.float64)  # (k, dim)
    cn = np.asarray([n for _c, _v, n in cents], dtype=np.float64)

    def batch(v: pd.Series, vn: pd.Series) -> pd.Series:
        arrs = [np.asarray(x, dtype=np.float64) for x in v]
        lens = np.array([a.size for a in arrs])
        dim = cb.shape[1]
        if len(lens) and (lens == dim).all():
            x = np.stack(arrs)  # (n, dim)
            acc = np.zeros((x.shape[0], cb.shape[0]), dtype=np.float64)
            for i in range(dim):  # sequential fold, never pairwise
                acc += x[:, i, None] * cb[None, :, i]
        else:
            # Ragged batch: right-width rows fold normally; an off-width
            # row mirrors the expression twin exactly — there zip_with
            # null-pads the shorter side, every centroid sim goes NULL,
            # and the (sim, −cid) struct-max resolves to the SMALLEST
            # cell id. Diverging here (e.g. a truncated dot) would index
            # the vector in a cell the query-side probe never visits.
            acc = np.stack(
                [
                    np.array(
                        [np.cumsum(a * c)[-1] if dim else 0.0 for c in cb]
                    )
                    if a.size == dim
                    else np.full(cb.shape[0], np.nan)
                    for a in arrs
                ]
            )
        s = acc / (vn.to_numpy(dtype=np.float64)[:, None] * cn[None, :])
        sign = np.sign(s)
        ay = np.abs(s) * 1e6
        fl = np.floor(ay)
        s6 = sign * (fl + (ay - fl >= 0.5))
        best = np.where(
            np.isnan(s6).all(axis=1), int(cids.min()), cids[np.argmax(s6, axis=1)]
        )
        return pd.Series(best)

    return F.pandas_udf(batch, "long")(vec, vnorm)


def ivf_probe_cells(
    vec: Column,
    vnorm: Column,
    cents: list[tuple[int, list[float], float]],
    nprobe: int,
) -> Column:
    """The query side probes its ``nprobe`` nearest cells (array of cell
    ids, best first)."""
    ranked = F.reverse(F.array_sort(_cell_scores(vec, vnorm, cents)))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])


def _assign_cells(
    corpus: DataFrame,
    cents: list[tuple[int, list[float], float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The corpus side of an IVF probe: (neighbor_id, c_vec, c_norm,
    cell), cell assigned map-side by :func:`ivf_cell_bulk`."""
    return _side(corpus, id_col, vec_col, "neighbor_id", "c_vec", "c_norm").withColumn(
        "cell", ivf_cell_bulk(F.col("c_vec"), F.col("c_norm"), cents)
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    cents: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in exactly one cell
    (argmax-cosine centroid), each query probes its ``nprobe`` nearest
    cells, exact cosine ranks the candidates. Recall/throughput dial is
    (n_cells, nprobe) — candidates shrink ~nprobe/n_cells vs brute force.

    Plan shape at scale: assignment is map-only (literal centroid set,
    no join); the candidate join keys on the small int cell with the
    query side broadcast; only the window top-k shuffles, on rows
    already cut by the cell filter. Since a corpus vector has one cell
    and probed cells are distinct, no candidate dedup is needed.

    ``cents`` swaps in a different quantizer (e.g.
    :func:`kcenter_centroids`) — assignment/probe are quantizer-
    agnostic; default is the lowest-id seeds of :func:`ivf_centroids`.

    Passing the :class:`IvfCells` that :func:`ivf_centroids` built from
    this same ``corpus`` frame (and columns) reuses their inverted
    lists: the first such call persists the assigned corpus, every
    later one scans it, and no lookup re-runs the assignment kernel.
    Any other ``cents`` (a plain list, cells of another corpus frame,
    or ``refine_iters`` > 0, whose refined centroids differ) and
    ``cents=None`` put the assignment into the lookup's own plan.
    """
    c = None
    if isinstance(cents, IvfCells) and not refine_iters:
        c = cents.inverted_lists(corpus, id_col, vec_col)
    if cents is None:
        cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    if refine_iters:
        cents = lloyd_refine(corpus, cents, refine_iters, vec_col)
    if c is None:
        c = _assign_cells(corpus, cents, id_col, vec_col)
    q = _side(queries, id_col, vec_col, "query_id", "q_vec", "q_norm").withColumn(
        "cell",
        F.explode(ivf_probe_cells(F.col("q_vec"), F.col("q_norm"), cents, nprobe)),
    )
    scored = c.join(F.broadcast(q), "cell").select(
        "query_id", "neighbor_id", _pair_cosine().alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: bucket join (same-hyperplane-sign
    candidates) then cosine ≥ threshold verify. High-cosine pairs agree
    on most sign bits, so bucket-equality keeps recall high for
    threshold ≈ 1 while cutting candidates ~2^n_bits-fold."""
    v = df.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("__norm"),
        hyperplane_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    a = v.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("q_vec"),
        F.col("__norm").alias("q_norm"),
        "bucket",
    )
    b = v.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("c_vec"),
        F.col("__norm").alias("c_norm"),
        "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", _pair_cosine().alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — FAISS-parity compression + ADC search
# ---------------------------------------------------------------------------


def pq_centroids(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks for product quantization: the vector is
    split into ``m`` contiguous subvectors; subspace ``s``'s codebook is
    the ``k`` lowest-id corpus vectors' ``s``-th subvectors.

    Deterministic seeding (same rationale as :func:`ivf_centroids`) so
    the cross-engine oracle reproduces the codebooks exactly; a
    production build k-means-refines each subspace independently — only
    this function changes. Codebooks are driver-side metadata by design
    (FAISS keeps them in RAM): m·k·(dim/m) floats ≈ the size of ``k``
    vectors, regardless of corpus size."""
    rows = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(_dbl(F.col(vec_col)).alias("v"))
        .collect()
    )
    dim = len(rows[0]["v"])
    sub = dim // m
    return [
        [(j, list(rows[j]["v"][s * sub : (s + 1) * sub])) for j in range(k)]
        for s in range(m)
    ]


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance as the proven fold shape (left-to-right,
    engine-portable bits), rounded to 6dp for cross-engine argmin."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
        6,
    )


def _codebook_lit(cents: list[list[tuple[int, list[float]]]]) -> Column:
    """The full codebook as ONE nested array literal
    (m × k × sub doubles). Keeping the codebook as a single constant
    column and writing the argmin as ONE compact higher-order-function
    chain (instead of m·k separate fold expressions) cuts plan
    analysis + compile time ~20× — the m·k expansion was pure
    plan-size overhead, not compute."""
    return F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in cvec])
                    for _cid, cvec in cb
                ]
            )
            for cb in cents
        ]
    )


def _pq_assign_fn(cents: list[list[tuple[int, list[float]]]]):
    """Arrow-vectorized PQ assignment core: per vector, the argmin-
    distance centroid of every subspace, packed base-k (subspace 0
    least significant) plus the summed per-subspace reconstruction
    error.

    Cross-engine parity (the same discipline as
    :func:`_quantize_sums_fn`): squared-distance accumulation is an
    explicit SEQUENTIAL loop over the sub-dimension (bit-matching the
    oracle's left-to-right list fold, where np.sum's pairwise order can
    differ by an ulp), each distance is rounded to 6dp half-away-from-
    zero via ``floor(y) + (frac(y) >= 0.5)`` BEFORE the argmin (the
    oracle's ORDER BY round(d, 6), code), and ``np.argmin``'s
    first-occurrence tie rule reproduces the strict-``<``/+inf-seed
    fold's smallest-code-on-ties. Codes and the packed value are exact
    integers; the error sum is a sequential fold over subspaces, left
    raw here and rounded JVM-side."""
    cb = np.asarray(
        [[cvec for _cid, cvec in book] for book in cents], dtype=np.float64
    )  # (m, k, sub)
    m, k, sub = cb.shape
    mults = (k ** np.arange(m)).astype(np.int64)

    def assign(x: np.ndarray):  # x: (n, m*sub) float64
        n = x.shape[0]
        sq = x.reshape(n, m, 1, sub) - cb[None, :, :, :]
        sq *= sq
        acc = np.zeros((n, m, k), dtype=np.float64)
        for i in range(sub):  # sequential fold, never pairwise
            acc += sq[:, :, :, i]
        y = acc * 1e6
        fl = np.floor(y)
        d6 = (fl + (y - fl >= 0.5)) / 1e6
        codes = np.argmin(d6, axis=2)  # first min ⇒ smallest code id
        best = np.take_along_axis(d6, codes[:, :, None], axis=2)[:, :, 0]
        packed = (codes.astype(np.int64) * mults[None, :]).sum(axis=1)
        err = np.zeros(n, dtype=np.float64)
        for s in range(m):  # sequential over subspaces, matches fold
            err += best[:, s]
        return packed, err

    def batch(emb: pd.Series) -> pd.DataFrame:
        arrs = [np.asarray(v, dtype=np.float64)[: m * sub] for v in emb]
        lens = np.array([a.size for a in arrs])
        if len(lens) and (lens == m * sub).all():
            packed, err = assign(np.stack(arrs))
        else:
            # Short rows (fewer than m·sub dims) cannot be sliced into
            # subvectors: zero-pad to the codebook width — the distance
            # contribution of the padded dims is just the centroid's own
            # energy, a graceful nearest-fit instead of a reshape crash.
            outs = [
                assign(np.pad(a, (0, m * sub - a.size))[None, :])
                if a.size < m * sub
                else assign(a[None, :])
                for a in arrs
            ]
            packed = np.array([o[0][0] for o in outs], dtype=np.int64)
            err = np.array([o[1][0] for o in outs], dtype=np.float64)
        return pd.DataFrame({"pq_code": packed, "recon_raw": err})

    return batch


def _pq_assign(cents: list[list[tuple[int, list[float]]]]) -> Column:
    """Lazily-built pandas UDF (DDL return type needs a session) —
    struct<pq_code, recon_raw> per vector. Replaces the former
    interpreted HOF chain (one running-min fold per subspace): same
    bits, but the m·k·sub multiply-adds run in numpy over Arrow
    batches — measured 4.5–11 s (JIT-erratic) → stable ~1 s at
    sf0.1."""
    return F.pandas_udf(
        _pq_assign_fn(cents), "struct<pq_code: bigint, recon_raw: double>"
    )


def _adc_lut(
    queries: DataFrame,
    cents: list[list[tuple[int, list[float]]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, s, code, d) distance lookup table — m*k rows per
    query, the broadcast side of every ADC join."""
    n_sub = len(cents)
    n_cent = len(cents[0])
    dim_sub = len(cents[0][0][1])
    qv = _dbl(F.col(vec_col))
    cb = _codebook_lit(cents)
    entries = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda sp: F.transform(
                F.sequence(F.lit(0), F.lit(n_cent - 1)),
                lambda j: F.struct(
                    sp.alias("s"),
                    j.alias("code"),
                    _sq_l2(
                        F.slice(qv, sp * dim_sub + 1, dim_sub),
                        F.element_at(F.element_at(cb, sp + 1), j + 1),
                    ).alias("d"),
                ),
            ),
        )
    )
    return queries.select(
        F.col(id_col).alias("query_id"), F.explode(entries).alias("e")
    ).select("query_id", "e.s", "e.code", "e.d")


def _unpack_digits(code_col: Column, m: int, k: int):
    """(pos, digit) pairs of a packed base-k code for posexplode; k is a
    power of two, so the double division is exact."""
    return F.posexplode(
        F.array(
            *[
                (code_col / F.lit(k**s)).cast("long") % F.lit(k)
                for s in range(m)
            ]
        )
    )


def pq_codes(
    df: DataFrame,
    cents: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress each vector to an ``m``-subspace PQ code — dim·4 bytes
    → m·log2(k) bits (64-dim float → 32 bits at m=8, k=16), the
    compression that lets a 100 TB corpus's index live in cluster RAM.

    Map-only: every subspace code is a pure codebook argmin over the
    vector slice, computed in ONE Arrow-batched pandas UDF (codebook a
    numpy closure constant — see :func:`_pq_assign_fn` for the
    engine-parity discipline); no join, no shuffle. Returns the packed
    code (base-k digits, subspace 0 least significant) plus the total
    squared reconstruction error — the quantization-quality metric."""
    assigned = _pq_assign(cents)(_dbl(F.col(vec_col)))
    return df.select(
        F.col(id_col),
        assigned["pq_code"].alias("pq_code"),
        F.round(assigned["recon_raw"], 6).alias("recon_sq_err"),
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    cents: list[list[tuple[int, list[float]]]],
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus is
    touched ONLY as (id, 32-bit code); per query, the distance to every
    centroid of every subspace (m·k scalars) forms a lookup table, and
    approx distance = Σ_s table[s][code_s].

    Shape at 100 TB: the query×subspace×centroid table is tiny
    (|Q|·m·k rows) and broadcast; corpus codes are unpacked map-side
    into (s, code) pairs and the per-(query, vec) sum is one shuffle of
    longs — no vector ever moves after encoding."""
    m = len(cents)
    k = len(cents[0])
    lut = _adc_lut(queries, cents, id_col, vec_col)
    # corpus side: unpack base-k digits map-side
    digits = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"),
        _unpack_digits(F.col("pq_code"), m, k).alias("s", "code"),
    )
    scored = (
        digits.join(F.broadcast(lut), ["s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d"), 6).alias("adc_sq_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_sq_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id", "adc_sq_dist", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k_top: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (the FAISS IVFPQ composition): the corpus is stored as
    (cell, 32-bit PQ code) — the coarse quantizer prunes the search to
    ``nprobe``/``n_cells`` of the data, PQ codes make what remains a
    few bytes per vector, and ranking is pure ADC table lookups.

    Plan at 100 TB: the index projection is map-only (both quantizers
    are literal/constant columns); store it partitioned by ``cell`` and
    a probe reads nprobe partitions of 4-byte codes. The candidate join
    keys on the small int cell with the (tiny) probe list broadcast,
    digits unpack map-side, the ADC join broadcasts |Q|·m·k lookup
    rows, and the per-pair sum is one shuffle of longs — no raw vector
    is ever read at query time."""
    ivf_cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    pq_cents = pq_centroids(corpus, m, k, id_col, vec_col)

    v = _dbl(F.col(vec_col))
    index = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        ivf_cell_bulk(v, norm(F.col(vec_col)), ivf_cents).alias("cell"),
        _pq_assign(pq_cents)(v)["pq_code"].alias("pq_code"),
    )
    qv = _dbl(F.col(vec_col))
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            ivf_probe_cells(qv, norm(F.col(vec_col)), ivf_cents, nprobe)
        ).alias("cell"),
    )
    cand = index.join(F.broadcast(probed), "cell")
    digits = cand.select(
        "query_id",
        "neighbor_id",
        _unpack_digits(F.col("pq_code"), m, k).alias("s", "code"),
    )
    lut = _adc_lut(queries, pq_cents, id_col, vec_col)
    scored = (
        digits.join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d"), 6).alias("adc_sq_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_sq_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id", "adc_sq_dist", "rank")
    )


def ann_recall(
    ground_truth: DataFrame,
    ann: DataFrame,
) -> DataFrame:
    """Recall@k evaluation of an ANN index against exact ground truth —
    the measurement loop every approximate index ships with (FAISS's
    ``knn_recall`` harness shape). Inputs are two (query_id,
    neighbor_id, ...) rankings; output is per-query
    ``(query_id, n_hit, recall)`` where recall = |ANN ∩ GT| / |GT|.

    Shape at scale: both sides are already top-k-bounded (k rows per
    query), so the probe join touches k·n_queries rows no matter how
    large the indexed corpus is; one shuffle on (query_id, neighbor_id)
    and one re-agg on query_id."""
    # distinct: a duplicate (query, neighbor) row in the ANN ranking
    # (ties merged from shards, a buggy index) would otherwise fan out
    # ground-truth rows — inflating n_hit AND the count(*) denominator,
    # letting "recall" drift off |ANN ∩ GT| / |GT| (even past 1.0).
    hits = ann.select("query_id", "neighbor_id", F.lit(1).alias("__hit")).distinct()
    return (
        ground_truth.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").alias("n_hit"),
            F.round(F.count("__hit") / F.count(F.lit(1)), 6).alias("recall"),
        )
    )


def _round_half_away(x: float, dp: int = 6) -> float:
    """Scalar twin of the vectorized 6dp half-away rounding used by
    :func:`_pair_cosine_fn` — greedy selection must compare exactly the
    values the oracle's ``round(x, dp)`` produces."""
    import math

    s = -1.0 if x < 0 else 1.0
    scale = 10.0 ** dp
    y = abs(x) * scale
    fl = math.floor(y)
    return s * (fl + (1 if y - fl >= 0.5 else 0)) / scale


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    from each query's top-``pool`` cosine candidates, greedily select
    ``k`` results maximizing ``λ·relevance − (1−λ)·max-sim-to-already-
    selected`` — the diversified retrieval every RAG/context-selection
    pipeline wants when the raw top-k is five near-copies of one
    document (and near-copies is exactly what a pretraining corpus has).

    Two stages, both scale-shaped: (1) the brute-force pool pass keeps
    each candidate's vector AND its JVM-computed norm on the row, so no
    corpus re-join and no Python-side norm recompute happen downstream;
    (2) the greedy loop — inherently sequential in k — runs per query
    inside ``applyInPandas`` over that BOUNDED pool (≤ pool vectors:
    the pair-sim matrix is ≤ pool², memoized so each pair folds once,
    driver never involved, queries parallelize freely). Pair cosines
    use the sequential-fold + 6dp half-away discipline of
    :func:`_pair_cosine_fn`; zero-norm vectors define sim = 0 (a NaN
    here would poison Python's tuple-max and lock selection onto the
    bad candidate). Every comparison is on rounded values with an id
    tiebreak, and (1−λ) is computed as ``1.0 - lam`` — the oracle twin
    writes ``(1.0e0 - 0.7e0)``, NOT the decimal literal 0.3e0, because
    the two differ in the last ulp and real score ties (0.7·Δrel =
    0.3·Δms over 6dp-rounded inputs) are reachable; with both engines
    folding the identical doubles, the unrolled SQL twin makes the
    identical picks. Rank-1 is pure relevance (max-sim term = 0).
    """
    q = _side(queries, id_col, vec_col, "query_id", "q_vec", "q_norm")
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c_vec", "c_norm")
    scored = c.join(F.broadcast(q)).select(
        "query_id", "neighbor_id", "c_vec", "c_norm",
        _pair_cosine().alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= pool)
        .select("query_id", "neighbor_id", "cosine_sim", "c_vec", "c_norm")
    )

    one_minus = 1.0 - lam

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        # Degraded rows (_pair_cosine yields NULL on bad/zero vectors)
        # arrive as NaN in pandas; NaN relevance would otherwise win
        # selection once valid candidates run out (any comparison seeds
        # `best`) and poison every downstream score. Drop them: an
        # unscorable candidate is never pickable.
        pdf = pdf[pdf["cosine_sim"].notna()]
        pdf = pdf.sort_values(
            ["cosine_sim", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = [np.asarray(v, dtype=np.float64) for v in pdf["c_vec"]]
        norms = pdf["c_norm"].to_list()
        memo: dict[tuple[int, int], float] = {}

        def pair(i: int, j: int) -> float:
            key = (i, j) if i < j else (j, i)
            hit = memo.get(key)
            if hit is not None:
                return hit
            a, b = vecs[i], vecs[j]
            acc = 0.0
            for t in range(a.size):  # sequential fold, never np.dot
                acc += a[t] * b[t]
            den = norms[i] * norms[j]
            out = _round_half_away(acc / den) if den > 0.0 else 0.0
            memo[key] = out
            return out

        rels = pdf["cosine_sim"].to_list()
        ids = pdf["neighbor_id"].to_list()
        remaining = list(range(len(pdf)))
        out = []
        selected: list[int] = []
        while remaining and len(out) < k:
            best = None
            for i in remaining:
                ms = max((pair(i, j) for j in selected), default=0.0)
                score = lam * rels[i] - one_minus * ms
                # max by (score, -id): strictly-greater wins; ties go to
                # the smaller neighbor id (same ORDER BY in the oracle).
                key = (score, -ids[i])
                if best is None or key > best[0]:
                    best = (key, i, ms, score)
            _, i, ms, score = best
            selected.append(i)
            remaining.remove(i)
            out.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    int(ids[i]),
                    len(out) + 1,
                    float(rels[i]),
                    float(ms),
                    _round_half_away(score, 7),
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "query_id",
                "neighbor_id",
                "mmr_rank",
                "relevance",
                "max_sim_selected",
                "mmr_score",
            ],
        )

    return cand.groupBy("query_id").applyInPandas(
        greedy,
        "query_id long, neighbor_id long, mmr_rank int, relevance double, "
        "max_sim_selected double, mmr_score double",
    )


def hard_negatives_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining (the DPR / SimCSE training-data
    prep step): for each labeled query, the k corpus vectors MOST
    similar by cosine whose label DIFFERS — exactly the negatives a
    contrastive loss learns the most from — plus the query's best
    SAME-label similarity, so margin_micro = (best positive − negative)
    in 1e-6 units exposes the mining difficulty (small or negative
    margin = the negative outranks every positive, the pairs a curri-
    culum schedules last). One broadcast-queries × corpus pass scores
    all pairs (the exact-recall baseline shape of brute_force_topk —
    the IVF/LSH candidate generators compose in front of this verbatim
    at scale); positives reduce by max() and negatives by a per-query
    top-k window, both over the SAME scored stream, so the corpus is
    read once. margin_micro is floor(Δ·1e6 + 0.5) of two identically
    rounded cosines — every op IEEE-exact, hence hashable cross-engine.
    Queries with no same-label corpus row drop (inner join): no
    positive ⇒ nothing to contrast against."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        F.col(label_col).alias("q_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        F.col(label_col).alias("c_label"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "q_label",
        "neighbor_id",
        (F.col("c_label") == F.col("q_label")).alias("same_label"),
        _pair_cosine().alias("sim"),
    )
    pos = (
        scored.filter(F.col("same_label"))
        .groupBy("query_id")
        .agg(F.max("sim").alias("pos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    negs = (
        scored.filter(~F.col("same_label"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return (
        negs.join(pos, "query_id")
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.col("sim").alias("neg_sim"),
            "pos_sim",
            F.floor((F.col("pos_sim") - F.col("sim")) * 1000000.0 + 0.5)
            .cast("long")
            .alias("margin_micro"),
        )
        .orderBy("query_id", "rank")
    )
