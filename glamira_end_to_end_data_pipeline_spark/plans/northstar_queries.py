"""Driver-registry entries for the north-star operators (BASELINE.json):
dedup family, embedding similarity search, text analysis.

The synthetic documents are near-dup-free word soup, so dedup queries
run over a ``corpus`` CTE that deterministically injects exact copies
(doc_id+200000) and near-dup mutants (doc_id+100000, one token appended)
— identically on both engines — so the interesting paths (collisions,
candidate pairs, threshold verdicts) are actually exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.operators import dedup, similarity, text
from glamira_end_to_end_data_pipeline_spark.plans.queries import query
from glamira_end_to_end_data_pipeline_spark.sources import read_table

# ---------------------------------------------------------------------------
# shared corpus (documents + injected dups) — Spark + SQL twins
# ---------------------------------------------------------------------------


def corpus_with_dups(docs: DataFrame) -> DataFrame:
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" nearduptoken")).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), F.col("text")
    )
    return docs.select("doc_id", "text").unionByName(near).unionByName(exact)


CORPUS_CTE = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text || ' nearduptoken' AS text
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)
"""

# shared SQL fragments -------------------------------------------------------

TOKENS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _grams_sql(n: int) -> str:
    """DuckDB word n-gram list over a ``toks`` column (twin of
    dedup.shingles_from_tokens: empty list below n tokens)."""
    concat = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"list_transform(generate_series(1, greatest(len(toks) - {n - 1}, 0)), "
        f"i -> {concat})"
    )



# Twin of dedup.exploded_shingles: grams hashed to 31-bit ints BEFORE
# the distinct, so both engines dedup/join the identical long keys.
SHINGLES_CTE = f"""
shingled AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM corpus
),
shingles AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(shingle), 1, 15))::BIGINT
               % {dedup.MINHASH_P} AS shingle_x
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 0)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               )) AS shingle
        FROM shingled
    )
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


@query(
    "emb_quantize_int8",
    """
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS x,
               list_min(embedding::DOUBLE[]) AS mn,
               list_max(embedding::DOUBLE[]) AS mx
        FROM embeddings
    ),
    s AS (SELECT vec_id, x, mn, mx, (mx - mn) / 255.0 AS sc FROM v)
    SELECT vec_id,
           round(mn, 6) AS v_min,
           round(mx, 6) AS v_max,
           cast(list_sum(list_transform(x,
               e -> cast(round((e - mn) / sc) AS bigint))) AS bigint)
               AS code_sum,
           round(list_sum(list_transform(x,
               e -> abs(e - (mn + round((e - mn) / sc) * sc)))) / len(x), 6)
               AS mean_abs_err
    FROM s
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column (FAISS-SQ8
    shape, 4x storage cut before indexing) — map-only, no shuffle. The
    oracle's code_sum is an INTEGER checksum over all 64 codes per
    vector: any cross-engine divergence in the scale arithmetic flips
    an exact value instead of hiding under decimal rounding.
    Precondition: non-constant vectors (the scale is (max-min)/255)."""
    return similarity.quantize_int8(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    f"""
    WITH {CORPUS_CTE.strip()}
    SELECT md5(text) AS text_hash,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM corpus
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: one hash-shuffle on the md5 digest, never the
    text. Injected exact copies (doc_id%7) surface as n_copies=2."""
    return dedup.exact_dedup(corpus_with_dups(_docs(spark, sf_dir)))


# MinHash+LSH pipeline as reusable CTEs ending in `pairs` (a, b, jaccard)
# — shared by the pair entry and the connected-components clusters entry.
# `_CAND_BUCKET_CAP_SQL` is spliced into the capped variant's candidate
# join (dedup_minhash_lsh mirrors the engine's max_bucket_size guard);
# the uncapped CTE text stays byte-identical for the cluster entries.
LSH_BUCKET_CAP = 24
SIMHASH_BUCKET_CAP = 24


def _minhash_pairs_ctes(bucket_cap: int | None) -> str:
    """MinHash+LSH CTE chain ending in ``pairs`` (a, b, jaccard). With
    ``bucket_cap`` the candidate join first drops band buckets holding
    more than that many documents — the DuckDB twin of
    ``lsh_candidate_pairs(max_bucket_size=...)``; ``None`` keeps the
    uncapped candidate join byte-identical to the pre-cap text."""
    if bucket_cap is None:
        cand = """cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        WHERE l.doc_id < r.doc_id
    ),"""
    else:
        cand = f"""keep AS (
        SELECT band_id, band_hash FROM bands
        GROUP BY band_id, band_hash HAVING count(*) <= {bucket_cap}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l
        JOIN keep k
          ON l.band_id = k.band_id AND l.band_hash = k.band_hash
        JOIN bands r
          ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        WHERE l.doc_id < r.doc_id
    ),"""
    return f"""{CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    sig AS (
        SELECT doc_id,
               {", ".join(f"min(({a} * shingle_x + {b}) % {dedup.MINHASH_P}) AS s{i}" for i, (a, b) in enumerate(dedup.minhash_coeffs(16)))}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, band_id,
               CASE band_id
                   WHEN 0 THEN md5(concat_ws('|', s0, s1, s2, s3))
                   WHEN 1 THEN md5(concat_ws('|', s4, s5, s6, s7))
                   WHEN 2 THEN md5(concat_ws('|', s8, s9, s10, s11))
                   ELSE md5(concat_ws('|', s12, s13, s14, s15))
               END AS band_hash
        FROM sig, (VALUES (0), (1), (2), (3)) v(band_id)
    ),
    {cand}
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, count(*) AS n_inter
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.a
        JOIN shingles sb ON sb.doc_id = c.b AND sb.shingle_x = sa.shingle_x
        GROUP BY c.a, c.b
    ),
    pairs AS (
        SELECT i.a, i.b,
               round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.a
        JOIN sizes zb ON zb.doc_id = i.b
        WHERE round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) >= 0.5
    )"""


MINHASH_PAIRS_CTES = _minhash_pairs_ctes(None)
MINHASH_PAIRS_CTES_CAPPED = _minhash_pairs_ctes(LSH_BUCKET_CAP)


@query(
    "dedup_minhash_lsh",
    f"""
    WITH {MINHASH_PAIRS_CTES_CAPPED}
    SELECT a, b, jaccard FROM pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) near-dup detection with exact-Jaccard
    verification at θ=0.5. The engine-portable hash family is one md5
    per shingle reduced to a 31-bit int, then 16 affine permutations
    mod 2^31-1 (exact 64-bit math in both engines); band buckets make
    the candidate join linear-ish (SURVEY north-star; scale analysis in
    operators/dedup.py). The candidate join carries the hot-bucket
    guard (max_bucket_size=LSH_BUCKET_CAP, mirrored in the oracle's
    `keep` CTE): at web scale a boilerplate band bucket shared by D
    docs fans D² candidate rows onto one shuffle key; over-cap buckets
    are dropped before the self-join in BOTH engines."""
    return dedup.minhash_near_dups(
        corpus_with_dups(_docs(spark, sf_dir)),
        num_hashes=16,
        bands=4,
        threshold=0.5,
        max_bucket_size=LSH_BUCKET_CAP,
    )


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {MINHASH_PAIRS_CTES},
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION
        SELECT b AS u, a AS v FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    )
    SELECT node AS doc_id,
           min(r) AS cluster_id,
           node = min(r) AS is_representative
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clustering*: the MinHash pair graph collapsed into
    connected components (``operators/dedup.py::duplicate_clusters``)
    — the step that turns pairwise verdicts into a keep/drop decision
    (keep the minimum-id representative per component). The operator
    is the graph-family hybrid: union-find on the driver under
    ``graph._LOCAL_THRESHOLD`` pair rows (the LSH-bounded common case
    — r16), the iterative min-label loop beyond it; both paths land
    on the identical component-minimum fixed point (two-path equality
    pinned in tests). The oracle computes the same components with a
    recursive reachability CTE over the identical pair set, so the
    pair pipeline AND the convergence are hash-checked cross-engine."""
    pairs = dedup.minhash_near_dups(
        corpus_with_dups(_docs(spark, sf_dir)), num_hashes=16, bands=4, threshold=0.5
    )
    labels = dedup.duplicate_clusters(pairs)
    return labels.withColumn(
        "is_representative", F.col("doc_id") == F.col("cluster_id")
    )


@query(
    "dedup_retain_corpus",
    f"""
    WITH RECURSIVE {MINHASH_PAIRS_CTES},
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION
        SELECT b AS u, a AS v FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ),
    labels AS (
        SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    dropped AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
    SELECT c.doc_id, md5(c.text) AS text_hash
    FROM corpus c
    WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
)
def dedup_retain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END deliverable: the corpus after removing
    every non-canonical near-duplicate (one representative per MinHash
    cluster, untouched docs pass through). One anti-join of the corpus
    against the tiny drop-list — the full shape a 100 TB pretraining
    pipeline runs: shingle → sign → band → verify → cluster → filter."""
    corpus = corpus_with_dups(_docs(spark, sf_dir))
    pairs = dedup.minhash_near_dups(
        corpus, num_hashes=16, bands=4, threshold=0.5
    )
    return dedup.retain_canonical(corpus, pairs).select(
        "doc_id", F.md5("text").alias("text_hash")
    )


@query(
    "text_pretraining_pipeline",
    f"""
    WITH RECURSIVE {MINHASH_PAIRS_CTES},
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION
        SELECT b AS u, a AS v FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ),
    labels AS (
        SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    kept AS (
        SELECT c.doc_id, c.text FROM corpus c
        WHERE c.doc_id NOT IN
            (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
    ),
    kt AS (SELECT doc_id, {{tokens}} AS toks FROM kept),
    kg AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(gram), 1, 15))::BIGINT
                   % {dedup.MINHASH_P} AS gx
        FROM (SELECT doc_id, unnest({{grams8}}) AS gram FROM kt)
    ),
    bt AS (SELECT doc_id, {{tokens}} AS toks
           FROM documents WHERE doc_id % 10 = 0),
    bg AS (
        SELECT DISTINCT ('0x' || substr(md5(gram), 1, 15))::BIGINT
                   % {dedup.MINHASH_P} AS gx
        FROM (SELECT unnest({{grams8}}) AS gram FROM bt)
    ),
    dirty AS (SELECT DISTINCT kg.doc_id FROM kg JOIN bg USING (gx)),
    clean AS (
        SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
    ),
    qt AS (
        SELECT doc_id, text, {{tokens}} AS toks,
               len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
               len(regexp_extract_all(text, '[0-9]')) AS n_digit
        FROM clean
    ),
    qr AS (
        SELECT doc_id, text, len(toks) AS n_tokens,
               round(n_punct / greatest(length(text), 1), 6) AS punct_ratio,
               round(n_digit / greatest(length(text), 1), 6) AS digit_ratio,
               round(len(list_filter(toks,
                     x -> list_contains(['the','a','of','and','to','is','in'], x)))
                     / greatest(len(toks), 1), 6) AS stopword_ratio
        FROM qt
    ),
    scored AS (
        SELECT doc_id, text, n_tokens,
               round((CASE WHEN n_tokens BETWEEN 10 AND 1000
                           THEN 0.4e0 ELSE 0.0e0 END)
                   + (CASE WHEN punct_ratio <= 0.1 THEN 0.2e0 ELSE 0.0e0 END)
                   + (CASE WHEN digit_ratio <= 0.2 THEN 0.2e0 ELSE 0.0e0 END)
                   + least(stopword_ratio * 2, 0.2e0), 6) AS quality_score
        FROM qr
    ),
    final AS (
        SELECT doc_id, text, n_tokens,
               ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM scored WHERE quality_score >= 0.5
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           cast(sum(n_tokens) AS bigint) AS sum_tokens,
           cast(sum(('0x' || substr(md5(text), 1, 15))::BIGINT
                    % 1099511627776) AS bigint) AS corpus_checksum
    FROM final
    GROUP BY 1
    ORDER BY 1
    """.replace("{tokens}", TOKENS_SQL).replace("{grams8}", _grams_sql(8)),
)
def text_pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE — the full pretraining-corpus curation pipeline as ONE
    composed job: MinHash near-dup removal (canonical representative
    kept) → benchmark decontamination (8-gram overlap with the eval
    slice) → quality filter (composite score ≥ 0.5) → deterministic
    train/val/test split — summarized per split with doc/token counts
    and an md5 corpus checksum so the oracle hash-verifies every stage
    end-to-end.

    This is the 100 TB operating shape: each stage is the already-
    audited operator (shingle hashes on the wire, broadcast benchmark
    grams, map-only scoring/splitting), composed without any
    driver-side materialization between stages — one lazy plan,
    Catalyst sees everything.

    Job profile (500 generated docs plus their injected duplicates,
    local[4]): a warm pass issues 22 Spark jobs. The corpus never
    shuffles on doc_id — the local connected-components labels
    broadcast, so every reference to ``kept`` streams it. 12 jobs run
    while the plan is built (the CC limit-probe collect executes the
    whole MinHash subplan: signature/set aggregation, band self-join,
    verification) and 10 in the final action (decontamination's gram
    shuffles, the quality/split scan and the per-split summary).
    Executor task CPU is about 1 s of a pass; the rest is per-job
    driver latency, so the job count is where the remaining cost sits.
    Decontamination re-shingles at n=8 (MinHash shingles are n=3 —
    different streams, nothing shareable)."""
    from glamira_end_to_end_data_pipeline_spark.caching import tracked_persist

    docs = _docs(spark, sf_dir)
    # persisted: the corpus feeds three independent consumers (shingle
    # stream for MinHash, the retain anti-join's probe side, and the
    # downstream clean/score stages) — without the persist each one
    # re-reads and re-unions the source.
    corpus = tracked_persist(corpus_with_dups(docs))
    pairs = dedup.minhash_near_dups(
        corpus, num_hashes=16, bands=4, threshold=0.5
    )
    kept = dedup.retain_canonical(corpus, pairs)
    flags = text.decontaminate(kept, docs.filter(F.col("doc_id") % 10 == 0), n=8)
    clean = kept.join(
        flags.filter(F.col("contaminated")).select("doc_id"), "doc_id", "left_anti"
    )
    # score with the text CARRIED THROUGH (map-only projection) so the
    # split/checksum stage needs no join back onto `clean` — the r4-era
    # formulation scored then self-joined on doc_id, re-traversing the
    # dedup+decontaminate subplan a second time whenever exchange reuse
    # didn't kick in (the round-6 stage profile put ~85% of the
    # capstone's cost in that upstream subplan).
    good = text.quality_score(clean, passthrough=("text",)).filter(
        F.col("quality_score") >= 0.5
    )
    final = text.split_assign(good.select("doc_id", "text", "n_tokens"))
    checksum = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast(
        "long"
    ) % F.lit(1099511627776)
    return (
        final.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum(checksum).cast("long").alias("corpus_checksum"),
        )
        .orderBy("split")
    )


@query(
    "dedup_winnowing_pairs",
    f"""
    WITH {CORPUS_CTE.strip()},
    wt AS (
        SELECT doc_id,
               array_to_string({TOKENS_SQL}, ' ') AS norm
        FROM corpus
    ),
    g AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(length(norm) - 11, 1)),
                   p -> ('0x' || substr(md5(substr(norm, p, 12)), 1, 15))::BIGINT
                        % {dedup.MINHASH_P}
               ) AS grams
        FROM wt
    ),
    sel AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(grams) - 7, 1)),
                   t -> list_min(list_transform(
                            generate_series(t, least(t + 7, len(grams))),
                            p -> grams[p] * 1024 + (t + 7 - p)
                        )) >> 10
               )) AS fps
        FROM g
    ),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
    keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 1000),
    fpk AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp))
    SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared
    FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 5
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) substring near-dup pairs: char-12-gram hashes,
    window-8 minimum selection with the paper's rightmost-tie rule
    (encoded as a scalar hash·1024+offset key — plain integer min on
    both engines), pairs sharing ≥5 selected fingerprints. Catches
    substring-level overlap (reordered sentences, partial copies) that
    token-shingle MinHash misses; guarantees detection of any shared
    run ≥ w+k−1 = 19 chars. Fingerprints present in >1000 documents
    are dropped before the self-join (document-frequency hub guard,
    mirrored in the oracle's keep CTE) — a boilerplate fingerprint
    shared by D docs would otherwise fan D² rows onto one shuffle
    key."""
    return dedup.winnow_pairs(
        corpus_with_dups(_docs(spark, sf_dir)),
        k=12,
        w=8,
        min_shared=5,
        max_fp_df=1000,
    )


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    pairs AS (
        SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
        FROM shingles sa JOIN shingles sb ON sa.shingle_x = sb.shingle_x
        WHERE sa.doc_id < sb.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, count(*) AS n_inter
        FROM pairs c
        JOIN shingles sa ON sa.doc_id = c.a
        JOIN shingles sb ON sb.doc_id = c.b AND sb.shingle_x = sa.shingle_x
        GROUP BY c.a, c.b
    )
    SELECT i.a, i.b,
           round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs 3-gram Jaccard (θ=0.3) via the shared-shingle join —
    the exact baseline the LSH path approximates."""
    return dedup.ngram_jaccard_pairs(
        corpus_with_dups(_docs(spark, sf_dir)), n=3, threshold=0.3
    )


# Packed-counter twins of operators/dedup.py simhash60: acc{j} holds 4
# 15-bit set-bit counters (bits 4j..4j+3); bit b set ⟺ 2*count_b >= n.
_SIMHASH_ACCS_SQL = ",\n               ".join(
    "sum("
    + " + ".join(
        f"(((h >> {dedup.SIMHASH_FIELDS * j + k}) & 1) << {dedup.SIMHASH_COUNTER_W * k})"
        for k in range(dedup.SIMHASH_FIELDS)
    )
    + f") AS acc{j}"
    for j in range(dedup.SIMHASH_NACC)
)
_SIMHASH_INT_SQL = " + ".join(
    f"(CASE WHEN 2 * ((acc{b // dedup.SIMHASH_FIELDS} >> "
    f"{dedup.SIMHASH_COUNTER_W * (b % dedup.SIMHASH_FIELDS)}) & "
    f"{(1 << dedup.SIMHASH_COUNTER_W) - 1}) >= n_toks THEN {1 << b} ELSE 0 END)"
    for b in range(dedup.SIMHASH_BITS)
)


@query(
    "dedup_simhash",
    f"""
    WITH {CORPUS_CTE.strip()},
    toks AS (
        SELECT DISTINCT doc_id, unnest({TOKENS_SQL}) AS tok FROM corpus
    ),
    hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM toks
    ),
    votes AS (
        SELECT doc_id,
               {_SIMHASH_ACCS_SQL},
               count(*) AS n_toks
        FROM hashed GROUP BY doc_id
    ),
    sims AS (SELECT doc_id, ({_SIMHASH_INT_SQL})::BIGINT AS simhash_int FROM votes),
    slices AS (
        SELECT doc_id,
               c.chunk_id,
               (simhash_int >> (c.chunk_id * 15)) & 32767 AS chunk
        FROM sims, (VALUES (0), (1), (2), (3)) c(chunk_id)
    ),
    keep AS (
        SELECT chunk_id, chunk FROM slices
        GROUP BY chunk_id, chunk HAVING count(*) <= {SIMHASH_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM slices l
        JOIN keep k ON l.chunk_id = k.chunk_id AND l.chunk = k.chunk
        JOIN slices r ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk
        WHERE l.doc_id < r.doc_id
    )
    SELECT c.a, c.b,
           bit_count(xor(sa.simhash_int, sb.simhash_int)) AS hamming
    FROM cand c
    JOIN sims sa ON sa.doc_id = c.a
    JOIN sims sb ON sb.doc_id = c.b
    WHERE bit_count(xor(sa.simhash_int, sb.simhash_int)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit, md5 bit family) near-dup pairs with hamming ≤ 3,
    banded into 4×15-bit chunks (32,768 buckets each) for the candidate
    join (pigeonhole guarantees recall at this radius; 60-bit width
    keeps random hamming-≤3 collisions negligible at corpus scale).
    The oracle now reproduces the BANDED join itself — slices, the
    hot-slice cap (max_bucket_size=SIMHASH_BUCKET_CAP, `keep` CTE),
    candidate generation, exact verify — so the pigeonhole machinery
    is hash-checked cross-engine, not just the final pair set."""
    return dedup.simhash_near_dups(
        corpus_with_dups(_docs(spark, sf_dir)),
        max_hamming=3,
        chunks=4,
        max_bucket_size=SIMHASH_BUCKET_CAP,
    ).select("a", "b", "hamming")


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

def _bucket_sql(col: str, n_bits: int) -> str:
    """DuckDB twin of similarity.hyperplane_bucket: same md5-derived
    Rademacher planes, same left-to-right projection order (term-by-term
    ±x addition is bit-exact vs the Spark fold), same sign threshold."""
    planes = similarity.rademacher_planes(n_bits)
    bits = []
    for p, plane in enumerate(planes):
        terms = " + ".join(
            f"({'' if w > 0 else '-'}{col}[{d + 1}]::DOUBLE)"
            for d, w in enumerate(plane)
        )
        bits.append(f"(CASE WHEN ({terms}) >= 0 THEN 1 ELSE 0 END) * {2 ** (len(planes) - 1 - p)}")
    return "(" + " + ".join(bits) + ")"


_COS_SQL = (
    "round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
)


@query(
    "emb_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec
          FROM embeddings WHERE vec_id >= 10),
    scored AS (
        SELECT query_id, neighbor_id,
               {_COS_SQL.format(a="q_vec", b="c_vec")} AS cosine_sim
        FROM c, q
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors — the exact-recall
    ANN baseline. Query side broadcast; corpus streams once."""
    emb = _emb(spark, sf_dir)
    return similarity.brute_force_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k=5,
    )


@query(
    "emb_ann_lsh_topk",
    f"""
    WITH v AS (
        SELECT vec_id, embedding,
               {_bucket_sql("embedding", 3)} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket
          FROM v WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, bucket
          FROM v WHERE vec_id >= 10),
    scored AS (
        SELECT query_id, neighbor_id,
               {_COS_SQL.format(a="q_vec", b="c_vec")} AS cosine_sim
        FROM c JOIN q USING (bucket)
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def emb_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-bucketed approximate top-5: random-hyperplane sign
    buckets (3 bits) restrict candidates ~8×; the bucket expression is a
    free partition column at 100 TB (partition-pruned probes)."""
    emb = _emb(spark, sf_dir)
    return similarity.lsh_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k=5,
        n_bits=3,
    )


@query(
    "emb_ivf_topk",
    f"""
    WITH cent AS (
        SELECT vec_id AS ccid, embedding AS cvec
        FROM embeddings WHERE vec_id >= 10 ORDER BY vec_id LIMIT 8
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec
          FROM embeddings WHERE vec_id >= 10),
    q AS (SELECT vec_id AS query_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 10),
    c_cell AS (
        SELECT neighbor_id, c_vec, ccid AS cell FROM (
            SELECT c.neighbor_id, c.c_vec, cent.ccid,
                   row_number() OVER (
                       PARTITION BY c.neighbor_id
                       ORDER BY {_COS_SQL.format(a="c_vec", b="cvec")} DESC,
                                cent.ccid) AS rn
            FROM c, cent) t WHERE rn = 1
    ),
    q_cell AS (
        SELECT query_id, q_vec, ccid AS cell FROM (
            SELECT q.query_id, q.q_vec, cent.ccid,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_COS_SQL.format(a="q_vec", b="cvec")} DESC,
                                cent.ccid) AS rn
            FROM q, cent) t WHERE rn <= 2
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               {_COS_SQL.format(a="q_vec", b="c_vec")} AS cosine_sim
        FROM c_cell JOIN q_cell USING (cell)
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 — the explicit inverted-file scale path
    beside the LSH variant: an 8-cell coarse quantizer (deterministic
    seeds, k-means-pluggable) baked into literal expressions, so corpus
    cell assignment is map-only and the cell doubles as a write-time
    partition column; each query probes its 2 nearest cells. The oracle
    recomputes the identical quantizer/assignment/probe in SQL."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k=5,
        n_cells=8,
        nprobe=2,
    )


@query(
    "emb_ivf_refined_topk",
    f"""
    WITH cent0 AS (
        SELECT vec_id AS ccid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id >= 10 ORDER BY vec_id LIMIT 8
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS c_vec
          FROM embeddings WHERE vec_id >= 10),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec
          FROM embeddings WHERE vec_id < 10),
    assign0 AS (
        SELECT neighbor_id, c_vec, ccid AS cell FROM (
            SELECT c.neighbor_id, c.c_vec, cent0.ccid,
                   row_number() OVER (
                       PARTITION BY c.neighbor_id
                       ORDER BY {_COS_SQL.format(a="c_vec", b="cvec")} DESC,
                                cent0.ccid) AS rn
            FROM c, cent0) t WHERE rn = 1
    ),
    dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    means AS (
        SELECT cell, list(avg_v ORDER BY i) AS mvec
        FROM (
            SELECT a.cell, d.i, avg(a.c_vec[d.i]) AS avg_v
            FROM assign0 a CROSS JOIN dims d
            GROUP BY a.cell, d.i
        ) GROUP BY cell
    ),
    cent1 AS (
        SELECT c0.ccid, coalesce(m.mvec, c0.cvec) AS cvec
        FROM cent0 c0 LEFT JOIN means m ON c0.ccid = m.cell
    ),
    c_cell AS (
        SELECT neighbor_id, c_vec, ccid AS cell FROM (
            SELECT c.neighbor_id, c.c_vec, cent1.ccid,
                   row_number() OVER (
                       PARTITION BY c.neighbor_id
                       ORDER BY {_COS_SQL.format(a="c_vec", b="cvec")} DESC,
                                cent1.ccid) AS rn
            FROM c, cent1) t WHERE rn = 1
    ),
    q_cell AS (
        SELECT query_id, q_vec, ccid AS cell FROM (
            SELECT q.query_id, q.q_vec, cent1.ccid,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_COS_SQL.format(a="q_vec", b="cvec")} DESC,
                                cent1.ccid) AS rn
            FROM q, cent1) t WHERE rn <= 2
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               {_COS_SQL.format(a="q_vec", b="c_vec")} AS cosine_sim
        FROM c_cell JOIN q_cell USING (cell)
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def emb_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with ONE Lloyd (k-means) refinement iteration over the
    seed quantizer — the graded path for ``similarity.lloyd_refine``:
    assignment to seed cells is map-only (literal centroids), the
    per-cell per-dimension means are one K×dim shuffle of partial sums,
    and the refined centroids re-enter as literals for the probe. The
    oracle replays the identical iteration in SQL (assign → avg per
    (cell, dim) → rebuilt centroid list, empty cells keeping seeds)."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k=5,
        n_cells=8,
        nprobe=2,
        refine_iters=1,
    )


# PQ codebook + code-assignment CTEs shared by the codes and ADC entries.
# Codebook: subspace s∈[0,8) × centroid j∈[0,16); centroid j of subspace
# s = seed vector j's s-th 8-dim subvector. Distances use explicit
# (a-b)*(a-b) (NOT ^2 — DuckDB pow may differ in the last ulp), rounded
# to 6dp before the argmin, matching similarity._sq_l2.
_PQ_CTES = """
    seeds AS (
        SELECT embedding::DOUBLE[] AS v,
               row_number() OVER (ORDER BY vec_id) - 1 AS j
        FROM (SELECT * FROM embeddings WHERE vec_id >= 10
              ORDER BY vec_id LIMIT 16)
    ),
    cb AS (
        SELECT sub.i AS s, j, v[sub.i*8+1 : sub.i*8+8] AS cvec
        FROM seeds, (SELECT unnest(generate_series(0, 7)) AS i) sub
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id >= 10),
    dists AS (
        SELECT c.vec_id, cb.s, cb.j,
               round(list_sum(list_transform(generate_series(1, 8),
                   i -> (c.v[cb.s*8 + i] - cb.cvec[i])
                      * (c.v[cb.s*8 + i] - cb.cvec[i]))), 6) AS d
        FROM corpus c, cb
    ),
    best AS (
        SELECT vec_id, s, j AS code, d FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM dists) t WHERE rn = 1
    )
"""


@query(
    "emb_pq_codes",
    f"""
    WITH {_PQ_CTES.strip()}
    SELECT vec_id,
           sum(cast(code AS BIGINT) * (1::BIGINT << (4 * s)))::BIGINT
               AS pq_code,
           round(sum(d), 6) AS recon_sq_err
    FROM best
    GROUP BY vec_id
    """,
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (FAISS PQ8x4 shape): 64-dim float vector →
    8 subspace codes of 4 bits = ONE 32-bit int per vector, the
    compression that fits a trillion-vector index in cluster RAM.
    Map-only literal-codebook argmin per subspace — no join, no
    shuffle; the packed code + squared reconstruction error are
    hash-checked against the SQL replay of the same codebooks."""
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    cents = similarity.pq_centroids(corpus, m=8, k=16)
    return similarity.pq_codes(corpus, cents)


@query(
    "emb_pq_adc_topk",
    f"""
    WITH {_PQ_CTES.strip()},
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 10),
    lut AS (
        SELECT q.query_id, cb.s, cb.j AS code,
               round(list_sum(list_transform(generate_series(1, 8),
                   i -> (q.v[cb.s*8 + i] - cb.cvec[i])
                      * (q.v[cb.s*8 + i] - cb.cvec[i]))), 6) AS d
        FROM q, cb
    ),
    scored AS (
        SELECT l.query_id, b.vec_id AS neighbor_id,
               round(sum(l.d), 6) AS adc_sq_dist
        FROM best b JOIN lut l ON l.s = b.s AND l.code = b.code
        GROUP BY l.query_id, b.vec_id
    )
    SELECT query_id, neighbor_id, adc_sq_dist, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY adc_sq_dist, neighbor_id) AS rank
        FROM scored
    ) t WHERE rank <= 5
    """,
)
def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-5 over PQ codes: the corpus is touched
    only as (id, 32-bit code); each query's m×k distance lookup table
    broadcasts, codes unpack map-side into (subspace, code) digits, and
    the per-pair distance is one shuffle of longs. The end state of the
    PQ pipeline: search never moves a vector after encoding."""
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    qs = emb.filter(F.col("vec_id") < 10)
    cents = similarity.pq_centroids(corpus, m=8, k=16)
    codes = similarity.pq_codes(corpus, cents)
    return similarity.pq_adc_topk(qs, codes, cents, k_top=5)


@query(
    "emb_ivfpq_topk",
    f"""
    WITH {_PQ_CTES.strip()},
    cent AS (
        SELECT vec_id AS ccid, v AS cvec
        FROM corpus ORDER BY vec_id LIMIT 8
    ),
    c_cell AS (
        SELECT vec_id, ccid AS cell FROM (
            SELECT c.vec_id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY {_COS_SQL.format(a="c.v", b="cent.cvec")} DESC,
                                cent.ccid) AS rn
            FROM corpus c, cent) t WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 10),
    q_cell AS (
        SELECT query_id, ccid AS cell FROM (
            SELECT q.query_id, cent.ccid,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_COS_SQL.format(a="q.v", b="cent.cvec")} DESC,
                                cent.ccid) AS rn
            FROM q, cent) t WHERE rn <= 2
    ),
    qlut AS (
        SELECT q.query_id, cb.s, cb.j AS code,
               round(list_sum(list_transform(generate_series(1, 8),
                   i -> (q.v[cb.s*8 + i] - cb.cvec[i])
                      * (q.v[cb.s*8 + i] - cb.cvec[i]))), 6) AS d
        FROM q, cb
    ),
    scored AS (
        SELECT qc.query_id, cc.vec_id AS neighbor_id,
               round(sum(l.d), 6) AS adc_sq_dist
        FROM q_cell qc
        JOIN c_cell cc ON cc.cell = qc.cell
        JOIN best b ON b.vec_id = cc.vec_id
        JOIN qlut l ON l.query_id = qc.query_id
                   AND l.s = b.s AND l.code = b.code
        GROUP BY qc.query_id, cc.vec_id
    )
    SELECT query_id, neighbor_id, adc_sq_dist, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY adc_sq_dist, neighbor_id) AS rank
        FROM scored
    ) t WHERE rank <= 5
    """,
)
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (FAISS IVFPQ): coarse cells prune to
    nprobe/n_cells of the corpus, PQ codes compress what remains to 32
    bits/vector, ADC lookups rank — no raw vector read at query time.
    The oracle replays both quantizers, the cell probe, and the
    ADC-within-cell join in SQL."""
    emb = _emb(spark, sf_dir)
    return similarity.ivfpq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k_top=5,
        n_cells=8,
        nprobe=2,
        m=8,
        k=16,
    )


# Shared mutant-injection fixture for the semantic-dedup family: every
# 25th vector gets a near-copy (+0.01 on the first component, id+100000)
# so near-dup recall has guaranteed true positives. ONE definition —
# Python and SQL twins below — consumed by emb_near_dup_pairs,
# dedup_semantic_retain, and emb_indexing_pipeline; a change to the
# mutation scheme lands in exactly two strings, not six.
_MUTANT_POOL_CTES = """mutants AS (
        SELECT vec_id + 100000 AS vec_id,
               list_prepend(embedding[1]::DOUBLE + 0.01e0,
                            (embedding[2:])::DOUBLE[]) AS embedding
        FROM embeddings WHERE vec_id % 25 = 0
    ),
    pool AS (
        SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM mutants
    )"""

# SemDeDup clustering chain over the mutant pool (bucketed candidate
# pairs -> symmetric edges -> recursive-CTE reachability -> min-label
# clusters -> non-canonical members). Use with .replace("{bucket}", ...)
# and .replace("{cos}", ...).
_SEMANTIC_CLUSTER_CTES = """v AS (
        SELECT vec_id, embedding,
               {bucket} AS bucket
        FROM pool
    ),
    pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {cos} >= 0.9
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION
        SELECT b AS u, a AS v FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ),
    labels AS (
        SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    dropped AS (SELECT vec_id FROM labels WHERE vec_id <> cluster_id)"""


def _mutant_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python twin of ``_MUTANT_POOL_CTES``."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    mutants = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.01)),
            F.slice("embedding", 2, 10_000),
        ).alias("embedding"),
    )
    return emb.unionByName(mutants)


@query(
    "emb_near_dup_pairs",
    f"""
    WITH {_MUTANT_POOL_CTES},
    v AS (
        SELECT vec_id, embedding,
               {_bucket_sql("embedding", 4)} AS bucket
        FROM pool
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           {_COS_SQL.format(a="a.embedding", b="b.embedding")} AS cosine_sim
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(a="a.embedding", b="b.embedding")} >= 0.9
    """,
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ 0.9) via sign-bit bucket
    candidate join. Injected mutants (vec_id%25, first component +0.01)
    guarantee true positives."""
    pool = _mutant_pool(spark, sf_dir)
    return similarity.near_dup_pairs(pool, threshold=0.9, n_bits=4)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    f"""
    SELECT doc_id,
           len({TOKENS_SQL}) AS n_tokens_ws,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_tokens_bpe,
           length(text) AS n_chars,
           round(coalesce(list_sum(list_transform({TOKENS_SQL}, t -> length(t))), 0)
                 / greatest(len({TOKENS_SQL}), 1), 6) AS mean_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens +
    mean token length. Map-only; scan-speed at any scale."""
    return text.token_stats(_docs(spark, sf_dir))


@query(
    "text_quality_score",
    f"""
    WITH t AS (
        SELECT doc_id, text, {TOKENS_SQL} AS toks,
               len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
               len(regexp_extract_all(text, '[0-9]')) AS n_digit
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               round(n_punct / greatest(length(text), 1), 6) AS punct_ratio,
               round(n_digit / greatest(length(text), 1), 6) AS digit_ratio,
               round(len(list_filter(toks,
                         x -> list_contains(['the','a','of','and','to','is','in'], x)))
                     / greatest(len(toks), 1), 6) AS stopword_ratio
        FROM t
    )
    SELECT doc_id, n_tokens, punct_ratio, digit_ratio, stopword_ratio,
           round((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.4e0 ELSE 0.0e0 END)
               + (CASE WHEN punct_ratio <= 0.1 THEN 0.2e0 ELSE 0.0e0 END)
               + (CASE WHEN digit_ratio <= 0.2 THEN 0.2e0 ELSE 0.0e0 END)
               + least(stopword_ratio * 2, 0.2e0), 6) AS quality_score,
           CASE WHEN round((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.4e0 ELSE 0.0e0 END)
                    + (CASE WHEN punct_ratio <= 0.1 THEN 0.2e0 ELSE 0.0e0 END)
                    + (CASE WHEN digit_ratio <= 0.2 THEN 0.2e0 ELSE 0.0e0 END)
                    + least(stopword_ratio * 2, 0.2e0), 6) >= 0.8 THEN 'high'
                WHEN round((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.4e0 ELSE 0.0e0 END)
                    + (CASE WHEN punct_ratio <= 0.1 THEN 0.2e0 ELSE 0.0e0 END)
                    + (CASE WHEN digit_ratio <= 0.2 THEN 0.2e0 ELSE 0.0e0 END)
                    + least(stopword_ratio * 2, 0.2e0), 6) >= 0.5 THEN 'medium'
                ELSE 'low' END AS quality_bucket
    FROM r
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality features + composite score as one
    map-only projection."""
    return text.quality_score(_docs(spark, sf_dir))


_LANG_SCORES_SQL = ",\n           ".join(
    "len(list_filter({toks}, x -> list_contains([{words}], x))) AS score_{lang}".format(
        toks=TOKENS_SQL,
        words=", ".join(f"'{w}'" for w in words),
        lang=lang,
    )
    for lang, words in sorted(text.LANG_MARKERS.items())
)


@query(
    "text_language_id",
    f"""
    WITH scored AS (
        SELECT doc_id,
           {_LANG_SCORES_SQL}
        FROM documents
    )
    SELECT doc_id, score_de, score_en, score_es, score_fr,
           CASE greatest(score_de, score_en, score_es, score_fr)
                WHEN score_de THEN 'de'
                WHEN score_en THEN 'en'
                WHEN score_es THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID with deterministic lexicographic
    tiebreak (matches the CASE-through-greatest order in the oracle)."""
    return text.language_id(_docs(spark, sf_dir))


@query(
    "text_fingerprint",
    f"""
    WITH t AS (SELECT doc_id, text, {TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           md5(array_to_string(toks, ' ')) AS content_hash,
           coalesce(
               list_min(list_transform(
                   list_transform(
                       generate_series(1, greatest(len(toks) - 4, 0)),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            || ' ' || toks[i+3] || ' ' || toks[i+4]),
                   g -> md5(g))),
               md5(array_to_string(toks, ' '))) AS min_shingle_hash
    FROM t
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: normalized-content md5 + winnowing-style
    min 5-gram hash (rolling-hash family = md5 over shingles)."""
    return text.fingerprint(_docs(spark, sf_dir))


@query(
    "text_split_assign",
    """
    WITH assigned AS (
        SELECT lang, n_chars,
               ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           cast(sum(n_chars) AS bigint) AS sum_chars
    FROM assigned
    GROUP BY 1, 2
    """,
)
def text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10 by md5 bucket of
    doc_id) summarized per language stratum. Split membership is a pure
    function of the id — stable under re-runs, backfills, and corpus
    growth (operators/text.py::split_assign); the per-stratum counts
    verify the hash family agrees bucket-for-bucket across engines."""
    assigned = text.split_assign(_docs(spark, sf_dir))
    return assigned.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "text_pack_sequences",
    f"""
    WITH t AS (
        SELECT lang AS stratum, doc_id, md5(text) AS fp,
               len({TOKENS_SQL}) AS n_toks
        FROM documents
    ),
    laid AS (
        SELECT stratum, doc_id, n_toks,
               coalesce(sum(n_toks) OVER (
                   PARTITION BY stratum ORDER BY fp, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS start_offset
        FROM t
    )
    SELECT stratum,
           cast(floor(start_offset / 2048) AS bigint) AS chunk_id,
           count(*) AS n_docs,
           cast(sum(n_toks) AS bigint) AS chunk_tokens,
           min(doc_id) AS first_doc_id
    FROM laid
    GROUP BY 1, 2
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk, the GPT-pretraining shape):
    docs laid end-to-end in deterministic (md5, id) order per language,
    chunk boundary every 2048 tokens, summarized per chunk. The window
    prefix-sum IS the distributed packing pass
    (operators/text.py::pack_sequences)."""
    packed = text.pack_sequences(_docs(spark, sf_dir), budget=2048)
    return packed.groupBy("stratum", "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("chunk_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


@query(
    "text_shuffle_shards",
    """
    WITH t AS (
        SELECT doc_id, md5(cast(doc_id AS varchar)) AS h,
               cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 4))::BIGINT
                   % 16 AS int) AS shard
        FROM documents
    )
    SELECT doc_id, shard,
           cast(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS int) AS pos
    FROM t
    """,
)
def text_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (training-data serving order):
    md5-derived shard + within-shard rank = a reproducible pseudo-random
    permutation with no global sort (operators/text.py::shuffle_shards).
    The oracle recomputes the identical permutation, so shard assignment
    AND order agree hash-for-hash across engines."""
    return text.shuffle_shards(_docs(spark, sf_dir), n_shards=16)


@query(
    "text_decontaminate",
    f"""
    WITH {CORPUS_CTE.strip()},
    ct AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM corpus),
    cg AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(gram), 1, 15))::BIGINT
                   % {dedup.MINHASH_P} AS gx
        FROM (SELECT doc_id, unnest({_grams_sql(8)}) AS gram FROM ct)
    ),
    bt AS (SELECT doc_id, {TOKENS_SQL} AS toks
           FROM documents WHERE doc_id % 10 = 0),
    bg AS (
        SELECT DISTINCT ('0x' || substr(md5(gram), 1, 15))::BIGINT
                   % {dedup.MINHASH_P} AS gx
        FROM (SELECT unnest({_grams_sql(8)}) AS gram FROM bt)
    ),
    hits AS (
        SELECT cg.doc_id, count(*) AS n_shared
        FROM cg JOIN bg USING (gx)
        GROUP BY cg.doc_id
    )
    SELECT c.doc_id,
           coalesce(h.n_shared, 0) AS n_shared_grams,
           coalesce(h.n_shared, 0) > 0 AS contaminated
    FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (pretraining hygiene): every corpus doc
    sharing an 8-gram with the 'benchmark' slice (doc_id%10 originals)
    is flagged — catching their injected near-dup mutants and the
    benchmark members themselves. The benchmark gram set broadcasts;
    clean docs never shuffle (operators/text.py::decontaminate)."""
    docs = _docs(spark, sf_dir)
    corpus = corpus_with_dups(docs)
    benchmark = docs.filter(F.col("doc_id") % 10 == 0)
    return text.decontaminate(corpus, benchmark, n=8)


@query(
    "text_repetition_filter",
    f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN text || ' ' || text
                    ELSE text END AS text
        FROM documents
    ),
    t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM injected),
    g AS (SELECT doc_id, {_grams_sql(3)} AS grams FROM t)
    SELECT doc_id,
           len(grams) AS total_ngrams,
           len(list_distinct(grams)) AS distinct_ngrams,
           round((len(grams) - len(list_distinct(grams)))
                 / greatest(len(grams), 1), 6) AS dup_fraction,
           (round((len(grams) - len(list_distinct(grams)))
                  / greatest(len(grams), 1), 6) > 0.2) AS flagged
    FROM g
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate-3-gram fraction per
    doc; docs with doc_id%13 are injected as self-concatenations
    (dup fraction ≈ 0.5) so the flag path is exercised. Map-only —
    scan-speed at any scale (operators/text.py::repetition_stats)."""
    docs = _docs(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.repetition_stats(injected, n=3, threshold=0.2)


# Quality-score CTE chain ending in scored(doc_id, lang, quality_score)
# — twin of operators/text.py::quality_score (same as the
# text_quality_score oracle, carrying lang through).
_QSCORE_CTES = f"""
qt AS (
    SELECT doc_id, lang, text, {TOKENS_SQL} AS toks,
           len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
           len(regexp_extract_all(text, '[0-9]')) AS n_digit
    FROM documents
),
qr AS (
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           round(n_punct / greatest(length(text), 1), 6) AS punct_ratio,
           round(n_digit / greatest(length(text), 1), 6) AS digit_ratio,
           round(len(list_filter(toks,
                     x -> list_contains(['the','a','of','and','to','is','in'], x)))
                 / greatest(len(toks), 1), 6) AS stopword_ratio
    FROM qt
),
scored AS (
    SELECT doc_id, lang,
           round((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.4e0 ELSE 0.0e0 END)
               + (CASE WHEN punct_ratio <= 0.1 THEN 0.2e0 ELSE 0.0e0 END)
               + (CASE WHEN digit_ratio <= 0.2 THEN 0.2e0 ELSE 0.0e0 END)
               + least(stopword_ratio * 2, 0.2e0), 6) AS quality_score
    FROM qr
)
"""


@query(
    "text_quality_filter_stratified",
    f"""
    WITH {_QSCORE_CTES.strip()},
    ranked AS (
        SELECT doc_id, lang, quality_score,
               round(percent_rank() OVER (
                   PARTITION BY lang ORDER BY quality_score, doc_id
               ), 6) AS q_rank
        FROM scored
    )
    SELECT doc_id, lang, quality_score, q_rank,
           (q_rank >= 0.25) AS kept
    FROM ranked
    """,
)
def text_quality_filter_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile quality filtering (drop the bottom
    quartile of each stratum) — the absolute-cutoff-bias fix every
    multilingual corpus pipeline needs. Map-only scoring + one shuffle
    on the stratum (operators/text.py::stratified_quality_filter)."""
    return text.stratified_quality_filter(_docs(spark, sf_dir), min_pct=0.25)


@query(
    "text_chunk_documents",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    sized AS (
        SELECT doc_id, t,
               1 + (greatest(len(t) - 32, 0) + 23) // 24 AS n_chunks
        FROM toks
    ),
    expanded AS (
        SELECT doc_id, t,
               unnest(generate_series(0, n_chunks - 1))::BIGINT AS chunk_id
        FROM sized
    )
    SELECT doc_id, chunk_id,
           len(t[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS n_tokens,
           array_to_string(t[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
               AS chunk_text
    FROM expanded
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for RAG/context-window prep: 32-token
    chunks, 8-token overlap (stride 24), last window clamped at the
    text end. Map-only (tokenize → posexplode window starts → slice) —
    no shuffle; chunk_id doubles as a write-time partition/sort column
    for the downstream embedding job."""
    return text.chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=32, overlap=8
    )


@query(
    "text_char_entropy",
    """
    WITH t AS (
        SELECT doc_id, text, length(text) AS n,
               list_distinct(list_transform(
                   generate_series(1, length(text)), i -> text[i:i]
               )) AS chars
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, n AS n_chars,
           round(log2(n) - list_sum(list_transform(chars,
               c -> (length(text) - length(replace(text, c, '')))
                  * log2(length(text) - length(replace(text, c, '')))
           )) / n, 4) AS char_entropy
    FROM t
    ORDER BY doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the information-
    theoretic quality signal (low entropy ⇒ repetitive/boilerplate/
    degenerate text; gibberish scores high): H = log2(n) − Σ c·log2(c)/n
    over per-character counts.

    Pure expressions, map-only: the distinct-character set (small
    alphabet) is one pass, and each character's count is
    len(text) − len(replace(text, c, '')) — codegen'd string ops, no
    per-char histogram shuffle and no UDF. O(|alphabet|·n) per row by
    construction."""
    docs = _docs(spark, sf_dir).filter(F.length("text") > 0)
    text_c = F.col("text")
    n = F.length(text_c)
    chars = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n), lambda i: text_c.substr(i, F.lit(1))
        )
    )
    cnt = lambda c: n - F.length(F.replace(text_c, c))  # noqa: E731
    h_sum = F.aggregate(
        chars,
        F.lit(0.0),
        lambda acc, c: acc + cnt(c).cast("double") * F.log2(cnt(c)),
    )
    return docs.select(
        "doc_id",
        n.alias("n_chars"),
        F.round(F.log2(n) - h_sum / n, 4).alias("char_entropy"),
    ).orderBy("doc_id")


_BUCKET_SQL = "('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::BIGINT % 10000"


@query(
    "text_sample_stratified",
    f"""
    WITH kept AS (
        SELECT lang, n_chars
        FROM documents
        WHERE {_BUCKET_SQL} < (CASE lang
            WHEN 'en' THEN 0.5e0 WHEN 'de' THEN 0.25e0 WHEN 'zh' THEN 1.0e0
            ELSE 0.1e0 END) * 10000
    )
    SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS sum_chars
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (corpus mixing step 1): keep
    a document iff its md5 bucket falls under the stratum's fraction —
    reproducible across runs/engines/partitionings, unlike RNG-seeded
    sampleBy (operators/text.py::sample_stratified). Summarized per
    language so the gate verifies the hash family agrees row-for-row."""
    kept = text.sample_stratified(
        _docs(spark, sf_dir),
        {"en": 0.5, "de": 0.25, "zh": 1.0},
        default_fraction=0.1,
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@query(
    "text_mix_epochs",
    f"""
    WITH weighted AS (
        SELECT doc_id, lang,
               (CASE lang WHEN 'en' THEN 1.7e0 WHEN 'de' THEN 0.5e0
                          WHEN 'zh' THEN 3.0e0 ELSE 1.0e0 END) AS w,
               {_BUCKET_SQL} AS b
        FROM documents
    ),
    copies AS (
        SELECT doc_id, lang,
               cast(floor(w) AS int)
               + (CASE WHEN b < (w - floor(w)) * 10000 THEN 1 ELSE 0 END)
                   AS n
        FROM weighted
    ),
    expanded AS (
        SELECT doc_id, lang, unnest(generate_series(1, n)) AS epoch
        FROM copies WHERE n > 0
    )
    SELECT lang,
           count(*) AS n_rows,
           count(DISTINCT doc_id) AS n_docs,
           cast(sum(doc_id * epoch) AS bigint) AS mix_checksum
    FROM expanded GROUP BY lang ORDER BY lang
    """,
)
def text_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch mixing (corpus mixing step 2, the LLaMA data-recipe
    shape): stratum weight w ⇒ floor(w) copies of every doc plus one
    extra for the deterministic frac(w) id-slice, so expected epochs
    equal w exactly with zero RNG state
    (operators/text.py::mix_epochs). The checksum binds (doc, epoch)
    pairs, so a fan-out off by one copy hash-mismatches."""
    mixed = text.mix_epochs(
        _docs(spark, sf_dir),
        {"en": 1.7, "de": 0.5, "zh": 3.0},
        default_weight=1.0,
    )
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.col("doc_id") * F.col("epoch")).cast("long").alias(
                "mix_checksum"
            ),
        )
        .orderBy("lang")
    )


@query(
    "text_lm_score",
    f"""
    WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
    idx AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i
        FROM t
    ),
    pairs AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM idx),
    big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
    uni AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1)
    SELECT p.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(c12 / c1)), 4) AS avg_logprob
    FROM pairs p JOIN big USING (w1, w2) JOIN uni USING (w1)
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical LM filter: bigram model trained on the
    corpus itself, documents scored by mean log bigram probability —
    the perplexity-proxy that flags text improbable under corpus
    statistics (operators/text.py::lm_score). LM tables are
    vocab-bounded aggregates; scoring is one join on the bigram key."""
    return text.lm_score(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "text_bm25_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, len({TOKENS_SQL}) AS dl,
               unnest({TOKENS_SQL}) AS term
        FROM documents
    ),
    c AS (
        SELECT count(*) AS n_docs, avg(len({TOKENS_SQL})) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        FROM toks WHERE term IN ('join', 'hash', 'filter')
        GROUP BY doc_id, term
    ),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               round(sum(
                   ln(1 + (c.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl))
               ), 4) AS bm25_score
        FROM tf JOIN dft USING (term), c
        GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25_score
    FROM scored
    ORDER BY bm25_score DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Lucene idf variant) for the query
    {join, hash, filter} — the search-scoring operator a curation
    pipeline uses for targeted corpus slicing. Only the query terms'
    postings shuffle; corpus scalars (N, avgdl) ride a one-row
    broadcast (operators/text.py::bm25_topk)."""
    return text.bm25_topk(
        _docs(spark, sf_dir), ["join", "hash", "filter"], k_top=10
    )


@query(
    "text_vocab_topk",
    f"""
    WITH tok AS (
        SELECT unnest({TOKENS_SQL}) AS token FROM documents
    )
    SELECT token, count(*) AS n_occurrences
    FROM tok
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 100
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction (tokenizer-training input): global token
    frequencies, top-100 with lexicographic tiebreak. Explode is
    map-side; the count collapses map-side via partial aggregation
    (token cardinality ≪ token occurrences), and the top-k is a
    TakeOrdered over |vocab| rows — no global sort of occurrences."""
    docs = _docs(spark, sf_dir)
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        normalized_tokens,
    )

    return (
        docs.select(F.explode(normalized_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(100)
    )


_PII_E, _PII_P, _PII_I = (p for _, p in text.PII_PATTERNS)
_PII_ORACLE = """
    WITH injected AS (
        SELECT doc_id,
               text || ' contact u' || doc_id || '@example.com'
                    || CASE WHEN doc_id % 2 = 0
                            THEN ' call +1 555-123-4567' ELSE '' END
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' from 10.' || (doc_id % 200) || '.0.'
                                 || (doc_id % 250)
                            ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text, '{i}')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(
               text, '{e}', '[PII]', 'g'), '{p}', '[PII]', 'g'),
               '{i}', '[PII]', 'g')) AS scrubbed_md5
    FROM injected
""".format(e=_PII_E, p=_PII_P, i=_PII_I)


@query("text_pii_scrub", _PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (training-data hygiene): deterministic emails /
    phones / IPv4s are injected per doc_id (the corpus is PII-free word
    soup), counted, and scrubbed. The md5 of the scrubbed text is
    hash-compared cross-engine, so BOTH the hit counts and the exact
    replacement behavior of every pattern are gate-checked — the
    pattern strings themselves are shared between the Spark operator
    (operators/text.py::PII_PATTERNS) and this oracle."""
    docs = _docs(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit(" call +1 555-123-4567")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".0."),
                    (F.col("doc_id") % 250).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    stats = text.pii_stats(injected)
    return stats.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.md5("scrubbed").alias("scrubbed_md5"),
    )


@query(
    "dedup_segment_boilerplate",
    f"""
    WITH {CORPUS_CTE.strip()},
    wt AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM corpus),
    seg AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(0, cast(ceil(len(toks) / 10.0) AS int) - 1),
                   c -> array_to_string(toks[c*10+1 : c*10+10], ' ')
               )) AS s
        FROM wt
    ),
    sx AS (
        SELECT doc_id,
               ('0x' || substr(md5(s), 1, 15))::BIGINT
                   % {dedup.MINHASH_P} AS seg_x
        FROM seg
    ),
    dfq AS (SELECT seg_x, count(DISTINCT doc_id) AS nd FROM sx GROUP BY seg_x)
    SELECT sx.doc_id,
           count(*) AS n_segments,
           cast(sum(CASE WHEN dfq.nd >= 2 THEN 1 ELSE 0 END) AS bigint)
               AS n_boilerplate
    FROM sx JOIN dfq USING (seg_x)
    GROUP BY sx.doc_id
    """,
)
def dedup_segment_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document boilerplate detection: consecutive 10-token
    segments shared verbatim by ≥2 distinct documents are flagged (the
    repeated matter — banners, license headers — that C4 strips
    line-by-line; token windows stand in for lines in this corpus).
    The injected exact duplicates share every segment and the near-dups
    all but the last, so the flag structure is non-degenerate. Segments
    are hashed to 31-bit longs before the document-frequency shuffle —
    text never shuffles."""
    return dedup.segment_boilerplate(
        corpus_with_dups(_docs(spark, sf_dir)), seg_tokens=10, min_docs=2
    )


def _bpe_round_sql(i: int) -> str:
    """One BPE round as SQL CTEs: p{i} = argmax bigram of stream s{i-1},
    s{i} = s{i-1} with that pair fused (twin of the Spark loop round in
    operators.text._bpe_fuse_stream)."""
    return f"""
    p{i} AS (
        SELECT pair, count(*) AS cnt FROM (
            SELECT unnest(list_transform(
                generate_series(1, greatest(len(t) - 1, 0)),
                i -> t[i] || ' ' || t[i+1])) AS pair
            FROM (SELECT regexp_split_to_array(trim(st), '\\s+') AS t
                  FROM s{i - 1})
        ) GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
    ),
    s{i} AS (
        SELECT doc_id,
               replace(st, ' ' || (SELECT pair FROM p{i}) || ' ',
                       ' ' || replace((SELECT pair FROM p{i}), ' ', '_') || ' ')
                   AS st
        FROM s{i - 1}
    )"""


@query(
    "text_bpe_merges",
    f"""
    WITH {CORPUS_CTE.strip()},
    s0 AS (
        SELECT doc_id,
               ' ' || array_to_string({TOKENS_SQL}, ' ') || ' ' AS st
        FROM corpus
    ),
    {",".join(_bpe_round_sql(i) for i in (1, 2, 3))}
    SELECT 1 AS step, pair, cast(cnt AS bigint) AS n_occurrences FROM p1
    UNION ALL
    SELECT 2 AS step, pair, cast(cnt AS bigint) AS n_occurrences FROM p2
    UNION ALL
    SELECT 3 AS step, pair, cast(cnt AS bigint) AS n_occurrences FROM p3
    ORDER BY step
    """,
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the merge loop (Sennrich et al.): three
    rounds of corpus-wide most-frequent-adjacent-pair selection, fusing
    the winner between rounds. Each round is one bigram-explode count
    shuffle + TakeOrderedAndProject(1); the fuse is a map-only literal
    replace. The learned merge table is the returned artifact.
    Inherently sequential across rounds; see
    :func:`operators.text.bpe_merges` for the parity and scale
    notes."""
    return text.bpe_merges(
        corpus_with_dups(_docs(spark, sf_dir)), n_merges=3
    )


@query(
    "dedup_semantic_retain",
    f"""
    WITH RECURSIVE {_MUTANT_POOL_CTES},
    {_SEMANTIC_CLUSTER_CTES}
    SELECT p.vec_id FROM pool p
    WHERE p.vec_id NOT IN (SELECT vec_id FROM dropped)
    """.replace("{bucket}", _bucket_sql("embedding", 4))
       .replace("{cos}", _COS_SQL.format(a="a.embedding", b="b.embedding")),
)
def dedup_semantic_retain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end deliverable: semantic — not
    lexical — deduplication by embedding cosine. Near-identical
    embeddings (cosine ≥ 0.9 through the sign-bit bucket candidate
    join) form clusters; each keeps only its minimum-id representative.
    The same cluster→retain machinery as the MinHash pipeline, driven
    by the vector modality — at 100 TB the pair graph comes from the
    bucketed candidate join (never all-pairs), clustering touches only
    pair members, and the corpus passes once through one anti-join
    against the tiny drop list."""
    pool = _mutant_pool(spark, sf_dir)
    pairs = similarity.near_dup_pairs(pool, threshold=0.9, n_bits=4).select(
        "a", "b"
    )
    return dedup.retain_canonical(
        pool.select("vec_id"), pairs, id_col="vec_id"
    ).select("vec_id")


@query(
    "text_hybrid_rrf",
    f"""
    WITH toks AS (
        SELECT doc_id, len({TOKENS_SQL}) AS dl,
               unnest({TOKENS_SQL}) AS term
        FROM documents
    ),
    c AS (
        SELECT count(*) AS n_docs, avg(len({TOKENS_SQL})) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        FROM toks WHERE term IN ('join', 'hash', 'filter')
        GROUP BY doc_id, term
    ),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    bscored AS (
        SELECT tf.doc_id,
               round(sum(
                   ln(1 + (c.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl))
               ), 4) AS bm25_score
        FROM tf JOIN dft USING (term), c
        GROUP BY tf.doc_id
    ),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS r_lex
        FROM bscored
    ),
    qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    cv AS (SELECT vec_id AS doc_id, embedding AS c_vec
           FROM embeddings WHERE vec_id > 0),
    sscored AS (
        SELECT doc_id,
               {_COS_SQL.format(a="q_vec", b="c_vec")} AS cosine_sim
        FROM cv, qv
    ),
    sem AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS r_sem
        FROM sscored
    ),
    fused AS (
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
               round(coalesce(1.0 / (60 + l.r_lex), 0.0)
                   + coalesce(1.0 / (60 + s.r_sem), 0.0), 6) AS rrf_score,
               cast(coalesce(l.r_lex, 0) AS bigint) AS r_lex,
               cast(coalesce(s.r_sem, 0) AS bigint) AS r_sem
        FROM (SELECT * FROM lex WHERE r_lex <= 50) l
        FULL OUTER JOIN (SELECT * FROM sem WHERE r_sem <= 50) s
        USING (doc_id)
    )
    SELECT doc_id, rrf_score, r_lex, r_sem
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def text_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (RRF, Cormack et
    al.): the lexical ranking (BM25 for {join, hash, filter}) and the
    semantic ranking (exact cosine against doc 0's embedding — the two
    tables share the id space) fuse as Σ 1/(60 + rank), the standard
    hybrid-search scorer (Elasticsearch/Vespa default). A doc missing
    from one list contributes 0 from that side.

    Scale shape: each side is its already-audited top-k operator
    produced at k=50 (BM25 shuffles only query-term postings; cosine
    streams the corpus once against a broadcast query) — the fusion
    join touches ≤2k rows regardless of corpus size, and the final
    top-10 is a TakeOrderedAndProject over ≤100 fused rows. The rank
    windows run over the BOUNDED 50-row lists (allow-listed), never the
    raw corpus."""
    lex = text.bm25_topk(
        _docs(spark, sf_dir), ["join", "hash", "filter"], k_top=50
    )
    wl = Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
    lex_r = lex.withColumn("r_lex", F.row_number().over(wl)).select(
        "doc_id", "r_lex"
    )
    emb = _emb(spark, sf_dir)
    sem_r = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") == 0),
        emb.filter(F.col("vec_id") > 0),
        k=50,
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_sem"))
    fused = lex_r.join(sem_r, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (60 + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (60 + F.col("r_sem")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.coalesce(F.col("r_lex"), F.lit(0)).cast("long").alias("r_lex"),
        F.coalesce(F.col("r_sem"), F.lit(0)).cast("long").alias("r_sem"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


@query(
    "text_dsir_select",
    f"""
    WITH b AS (
        SELECT doc_id, is_tgt,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS bucket
        FROM (
            SELECT doc_id, lang = 'en' AS is_tgt,
                   unnest({TOKENS_SQL}) AS tok
            FROM documents
        )
    ),
    doc_bucket AS (
        SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket
    ),
    raw_tbl AS (SELECT bucket, count(*) AS raw_c FROM b GROUP BY bucket),
    tgt_tbl AS (
        SELECT bucket, count(*) AS tgt_c FROM b WHERE is_tgt GROUP BY bucket
    ),
    tot AS (
        SELECT (SELECT sum(raw_c) FROM raw_tbl) AS raw_n,
               (SELECT sum(tgt_c) FROM tgt_tbl) AS tgt_n
    ),
    ratio AS (
        SELECT bucket,
               ln((coalesce(tgt_c, 0) + 1.0) / (tgt_n + 512.0))
             - ln((raw_c + 1.0) / (raw_n + 512.0)) AS log_ratio
        FROM raw_tbl LEFT JOIN tgt_tbl USING (bucket), tot
    )
    SELECT doc_id, round(sum(c * log_ratio), 4) AS log_weight
    FROM doc_bucket JOIN ratio USING (bucket)
    GROUP BY doc_id
    ORDER BY log_weight DESC, doc_id ASC
    LIMIT 50
    """,
)
def text_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS 2023): hashed-unigram
    importance weights of every raw document against the English subset
    as the target domain; returns the 50 most-target-like documents.
    The oracle refits both Laplace-smoothed bucket distributions and
    replays the exact md5-bucket hash, so weights must agree to 4dp
    across engines."""
    docs = _docs(spark, sf_dir)
    return text.dsir_weights(
        docs, F.col("lang") == "en", n_buckets=512, k_top=50
    )


@query(
    "emb_ann_recall",
    f"""
    WITH v AS (
        SELECT vec_id, embedding,
               {_bucket_sql("embedding", 3)} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket
          FROM v WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, bucket
          FROM v WHERE vec_id >= 10),
    gt AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
                PARTITION BY query_id
                ORDER BY {_COS_SQL.format(a="q_vec", b="c_vec")} DESC,
                         neighbor_id) AS rank
            FROM c, q
        ) WHERE rank <= 5
    ),
    ann AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
                PARTITION BY query_id
                ORDER BY {_COS_SQL.format(a="q_vec", b="c_vec")} DESC,
                         neighbor_id) AS rank
            FROM c JOIN q USING (bucket)
        ) WHERE rank <= 5
    )
    SELECT gt.query_id,
           count(ann.rank) AS n_hit,
           round(count(ann.rank) / 5.0, 6) AS recall
    FROM gt LEFT JOIN ann
        ON gt.query_id = ann.query_id AND gt.neighbor_id = ann.neighbor_id
    GROUP BY gt.query_id
    """,
)
def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH-bucketed ANN index measured against the exact
    brute-force ranking — the evaluation loop that justifies any
    approximate index's recall/throughput dial. Both rankings are the
    already-audited operators; the probe join is k-bounded per query."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    gt = similarity.brute_force_topk(q, c, k=5)
    ann = similarity.lsh_topk(q, c, k=5, n_bits=3)
    return similarity.ann_recall(gt, ann)


@query(
    "text_bpe_encode",
    f"""
    WITH {CORPUS_CTE.strip()},
    s0 AS (
        SELECT doc_id,
               ' ' || array_to_string({TOKENS_SQL}, ' ') || ' ' AS st
        FROM corpus
    ),
    {",".join(_bpe_round_sql(i) for i in (1, 2, 3))}
    SELECT doc_id,
           cast(len(t) AS int) AS n_tokens,
           cast(len(list_filter(t, x -> contains(x, '_'))) AS int) AS n_fused,
           cast(len(regexp_split_to_array(
               trim(replace(st, '_', ' ')), '\\s+')) AS int) AS n_tokens_orig
    FROM (
        SELECT doc_id, st, regexp_split_to_array(trim(st), '\\s+') AS t
        FROM s3
    )
    """,
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer application: 3 merges trained on the corpus, then
    every document re-segmented with them — per-doc token counts before
    and after fusing, the statistics sequence packing consumes. The
    encode pass itself is map-only (literal replaces + split); the
    oracle replays the identical 3 training rounds and the identical
    left-to-right fuse in SQL."""
    return text.bpe_encode(corpus_with_dups(_docs(spark, sf_dir)), n_merges=3)


@query(
    "text_ppl_buckets",
    f"""
    WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
    idx AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i
        FROM t
    ),
    pairs AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM idx),
    big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
    uni AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
    scored AS (
        SELECT p.doc_id, round(avg(ln(c12 / c1)), 4) AS avg_logprob
        FROM pairs p JOIN big USING (w1, w2) JOIN uni USING (w1)
        GROUP BY p.doc_id
    ),
    cuts AS (
        SELECT quantile_cont(avg_logprob, 1.0/3.0) AS t1,
               quantile_cont(avg_logprob, 2.0/3.0) AS t2
        FROM scored
    )
    SELECT doc_id, avg_logprob,
           CASE WHEN avg_logprob >= t2 THEN 'head'
                WHEN avg_logprob >= t1 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM scored, cuts
    ORDER BY doc_id
    """,
)
def text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split by bigram-LM score: exact
    tercile thresholds ride a one-row broadcast, so assignment stays
    map-only — the distributed formulation of ntile(3) without its
    single-task global window."""
    return text.ppl_buckets(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "emb_indexing_pipeline",
    """
    WITH RECURSIVE {mutant_pool},
    {semantic_cluster},
    retained AS (
        SELECT p.vec_id, p.embedding FROM pool p
        WHERE p.vec_id NOT IN (SELECT vec_id FROM dropped)
          AND p.vec_id >= 10
    ),
    seeds AS (
        SELECT embedding AS sv,
               row_number() OVER (ORDER BY vec_id) - 1 AS j
        FROM (SELECT * FROM retained ORDER BY vec_id LIMIT 16)
    ),
    cb AS (
        SELECT sub.i AS s, j, sv[sub.i*8+1 : sub.i*8+8] AS cvec
        FROM seeds, (SELECT unnest(generate_series(0, 7)) AS i) sub
    ),
    dists AS (
        SELECT c.vec_id, cb.s, cb.j,
               round(list_sum(list_transform(generate_series(1, 8),
                   i -> (c.embedding[cb.s*8 + i] - cb.cvec[i])
                      * (c.embedding[cb.s*8 + i] - cb.cvec[i]))), 6) AS d
        FROM retained c, cb
    ),
    best AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM dists) t WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 10),
    lut AS (
        SELECT q.query_id, cb.s, cb.j AS code,
               round(list_sum(list_transform(generate_series(1, 8),
                   i -> (q.qv[cb.s*8 + i] - cb.cvec[i])
                      * (q.qv[cb.s*8 + i] - cb.cvec[i]))), 6) AS d
        FROM q, cb
    ),
    scored AS (
        SELECT l.query_id, b.vec_id AS neighbor_id,
               round(sum(l.d), 6) AS adc_sq_dist
        FROM best b JOIN lut l ON l.s = b.s AND l.code = b.code
        GROUP BY l.query_id, b.vec_id
    )
    SELECT query_id, neighbor_id, adc_sq_dist, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY adc_sq_dist, neighbor_id) AS rank
        FROM scored
    ) t WHERE rank <= 5
    """.replace("{mutant_pool}", _MUTANT_POOL_CTES)
       .replace("{semantic_cluster}", _SEMANTIC_CLUSTER_CTES)
       .replace("{bucket}", _bucket_sql("embedding", 4))
       .replace("{cos}", _COS_SQL.format(a="a.embedding", b="b.embedding")),
)
def emb_indexing_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE for the vector modality — the full ANN index build a
    100 TB embedding store runs nightly, composed from the audited
    operators as one pipeline: SemDeDup semantic dedup (bucketed
    candidate join → cosine ≥ 0.9 clusters → canonical retention) →
    PQ8x4 encode of the retained corpus (map-only literal-codebook
    argmin; vectors compress to 32 bits BEFORE anything else moves) →
    asymmetric-distance top-5 for the query batch over codes only.
    The deduped corpus persists once and feeds both the codebook seed
    collect (16 rows, driver metadata by design) and the encode pass;
    at query time no raw vector is read. The oracle replays dedup's
    recursive-CTE clustering, the codebooks, and ADC end-to-end."""
    from glamira_end_to_end_data_pipeline_spark.caching import tracked_persist

    pool = _mutant_pool(spark, sf_dir)
    pairs = similarity.near_dup_pairs(pool, threshold=0.9, n_bits=4).select(
        "a", "b"
    )
    retained = dedup.retain_canonical(
        pool.select("vec_id"), pairs, id_col="vec_id"
    )
    corpus = tracked_persist(
        pool.join(retained, "vec_id").filter(F.col("vec_id") >= 10)
    )
    cents = similarity.pq_centroids(corpus, m=8, k=16)
    codes = similarity.pq_codes(corpus, cents)
    q = _emb(spark, sf_dir).filter(F.col("vec_id") < 10)
    return similarity.pq_adc_topk(q, codes, cents, k_top=5)


@query(
    "text_classifier_score",
    f"""
    WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
    s AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               coalesce(list_aggregate(list_transform(toks,
                   t -> ((('0x' || substr(md5(t), 1, 8))::BIGINT % 4096) % 997)::DOUBLE
                        / 997.0e0 - 0.5e0), 'sum'), 0.0e0) AS total
        FROM t
    )
    SELECT doc_id, n_tokens,
           round(1.0e0 / (1.0e0 + exp(-(0.1e0 + total / greatest(n_tokens, 1)))), 6)
               AS clf_score,
           CASE WHEN round(1.0e0 / (1.0e0
                     + exp(-(0.1e0 + total / greatest(n_tokens, 1)))), 6)
                     >= 0.5e0
                THEN 'keep' ELSE 'drop' END AS clf_label
    FROM s
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style hashed-BoW linear quality classifier (GPT-3/LLaMA
    recipe quality filter): md5 token buckets → deterministic weight
    vector → mean-pool → sigmoid → keep/drop. Map-only scan-speed
    scoring (operators/text.py:classifier_score); the oracle replays the
    identical hash arithmetic and sequential fold in DuckDB."""
    return text.classifier_score(_docs(spark, sf_dir))


@query(
    "text_domain_cap",
    """
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id ASC) AS domain_rank,
               count(*) OVER (PARTITION BY source) AS domain_total
        FROM documents
    )
    SELECT doc_id, source, n_chars,
           cast(domain_rank AS int) AS domain_rank,
           cast(domain_total AS bigint) AS domain_total
    FROM ranked
    WHERE domain_rank <= 10
    """,
)
def text_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-domain frequency cap: at most 10 docs per source,
    best-first (n_chars desc, id tiebreak), with the pre-cap domain
    total carried for downstream mix auditing. Domain-partitioned
    window — no global sort (operators/text.py:domain_cap)."""
    return text.domain_cap(_docs(spark, sf_dir), cap=10)


_MMR_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec
          FROM embeddings WHERE vec_id >= 10),
    scored AS (
        SELECT query_id, neighbor_id,
               {_COS_SQL.format(a="q_vec", b="c_vec")} AS rel, c_vec
        FROM c, q
    ),
    pool AS (
        SELECT query_id, neighbor_id, rel, c_vec FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rel DESC, neighbor_id) AS rnk
            FROM scored) WHERE rnk <= 20
    ),
    s1 AS (
        SELECT query_id, neighbor_id, rel, c_vec FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rel DESC, neighbor_id) AS r
            FROM pool) WHERE r = 1
    ),
    p2 AS (
        SELECT p.query_id, p.neighbor_id, p.rel, p.c_vec,
               {_COS_SQL.format(a="p.c_vec", b="s.c_vec")} AS ms,
               0.7e0 * p.rel
                   - (1.0e0 - 0.7e0)
                     * {_COS_SQL.format(a="p.c_vec", b="s.c_vec")} AS score
        FROM pool p JOIN s1 s USING (query_id)
        WHERE p.neighbor_id <> s.neighbor_id
    ),
    s2 AS (
        SELECT query_id, neighbor_id, rel, c_vec, ms, score FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS r
            FROM p2) WHERE r = 1
    ),
    p3 AS (
        SELECT p.query_id, p.neighbor_id, p.rel,
               greatest({_COS_SQL.format(a="p.c_vec", b="a.c_vec")},
                        {_COS_SQL.format(a="p.c_vec", b="b.c_vec")}) AS ms,
               0.7e0 * p.rel
                   - (1.0e0 - 0.7e0) * greatest(
                         {_COS_SQL.format(a="p.c_vec", b="a.c_vec")},
                         {_COS_SQL.format(a="p.c_vec", b="b.c_vec")}) AS score
        FROM pool p
        JOIN s1 a USING (query_id)
        JOIN s2 b USING (query_id)
        WHERE p.neighbor_id <> a.neighbor_id AND p.neighbor_id <> b.neighbor_id
    ),
    s3 AS (
        SELECT query_id, neighbor_id, rel, ms, score FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS r
            FROM p3) WHERE r = 1
    )
    SELECT query_id, neighbor_id, 1 AS mmr_rank, rel AS relevance,
           0.0e0 AS max_sim_selected, round(0.7e0 * rel, 7) AS mmr_score
    FROM s1
    UNION ALL
    SELECT query_id, neighbor_id, 2, rel, ms, round(score, 7) FROM s2
    UNION ALL
    SELECT query_id, neighbor_id, 3, rel, ms, round(score, 7) FROM s3
    """


@query("emb_mmr_rerank", _MMR_ORACLE)
def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-rank (λ=0.7, pool=20, k=3) for 5 queries:
    greedy λ·relevance − (1−λ)·max-sim-to-selected over the bounded
    top-20 pool, per query inside applyInPandas
    (operators/similarity.py:mmr_rerank). The oracle unrolls the three
    greedy steps as chained argmax CTEs making the identical
    rounded-comparison picks. mmr_score is rounded to 7dp, not 6: with
    rel/ms both 6dp-rounded, 0.7·rel − 0.3·ms is an exact decimal
    multiple of 1e-7 — i.e. it LANDS on 6dp half-boundaries, where the
    two engines' rounding diverges by one ulp; at 7dp no input sits on
    a boundary."""
    emb = _emb(spark, sf_dir)
    return similarity.mmr_rerank(
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") >= 10),
        k=3,
        pool=20,
        lam=0.7,
    )
