"""Text analysis operators (north-star, BASELINE.json): language ID,
quality scoring, token counting, document fingerprinting.

Everything is built-in column expressions (regex, array ops, md5) —
per-row work with zero shuffle, so these scale embarrassingly: at
100 TB they run map-only at parquet-scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from glamira_end_to_end_data_pipeline_spark.caching import tracked_persist
from glamira_end_to_end_data_pipeline_spark.frames import local_frame

from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
    normalized_tokens,
    shingles_from_tokens,
)

# BPE-ish token regex: letter runs, digit runs, single other-symbols.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny marker lexicons for n-gram/stopword language ID. Deliberately
# small: the operator's job is the *shape* (per-language hit counting +
# deterministic argmax), which scales to any lexicon broadcast with the
# plan.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es": ("el", "la", "los", "de", "que", "es", "una"),
    "fr": ("le", "la", "les", "de", "et", "est", "une"),
}


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish token counts, char count, mean token length."""
    toks = normalized_tokens(text_col)
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens_ws"),
        F.size(bpe).alias("n_tokens_bpe"),
        F.length(text_col).alias("n_chars"),
        # Σ len(token) == len(concat of tokens) — a codegen'd builtin
        # chain instead of an interpreted HOF fold (integer-exact, so
        # the mean matches the oracle's fold bit-for-bit after /n).
        F.round(
            F.length(F.array_join(toks, ""))
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("mean_token_len"),
    )


def _ratio(num: Column, den: Column) -> Column:
    return F.round(num / F.greatest(den, F.lit(1)), 6)


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic quality features + composite score: length band,
    punctuation density, digit density, stopword ratio (C4/Gopher-style
    filters re-expressed as one map-only projection).

    ``passthrough`` names extra input columns to carry into the output
    unchanged — so a composed pipeline that needs both the score AND
    (say) the text downstream stays ONE map-only projection instead of
    scoring then joining back to the input on the id (a whole extra
    shuffle, plus a second traversal of everything upstream of ``df``
    when the optimizer can't reuse the exchange)."""
    text = F.col(text_col)
    toks = normalized_tokens(text_col)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    n_digit = F.size(F.regexp_extract_all(text, F.lit(r"[0-9]"), 0))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"]))
    )
    punct_ratio = _ratio(n_punct, n_chars)
    digit_ratio = _ratio(n_digit, n_chars)
    stop_ratio = _ratio(stop_hits, n_tokens)
    length_ok = (n_tokens >= 10) & (n_tokens <= 1000)
    score = F.round(
        F.when(length_ok, 0.4).otherwise(0.0)
        + F.when(punct_ratio <= 0.1, 0.2).otherwise(0.0)
        + F.when(digit_ratio <= 0.2, 0.2).otherwise(0.0)
        + F.least(stop_ratio * 2, F.lit(0.2)),
        6,
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
        F.when(score >= 0.8, "high")
        .when(score >= 0.5, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    )


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-word language ID: count lexicon hits per language over the
    token set, argmax with lexicographic tiebreak (deterministic)."""
    toks = normalized_tokens(text_col)
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(*words))).alias(f"score_{lang}")
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    scored = df.select(F.col(id_col), *scores)
    # argmax via array_max over (score, inverted-lang) structs: ties fall
    # to the lexicographically *smallest* language code.
    langs = sorted(LANG_MARKERS)
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.col(f"score_{lang}").alias("s"),
                    F.lit(len(langs) - i).alias("prio"),
                    F.lit(lang).alias("lang"),
                )
                for i, lang in enumerate(langs)
            ]
        )
    )
    return scored.select(
        id_col,
        *[f"score_{lang}" for lang in langs],
        best.getField("lang").alias("predicted_lang"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprints: full-content md5 over normalized text +
    winnowing-style minimum 5-gram shingle hash (stable under padding)."""
    with_toks = df.select(
        F.col(id_col), normalized_tokens(text_col).alias("__toks")
    )
    norm_text = F.concat_ws(" ", F.col("__toks"))
    min_shingle = F.array_min(
        F.transform(shingles_from_tokens("__toks", 5), F.md5)
    )
    return with_toks.select(
        F.col(id_col),
        F.md5(norm_text).alias("content_hash"),
        F.coalesce(min_shingle, F.md5(norm_text)).alias("min_shingle_hash"),
    )


# PII scrubbing (training-data hygiene): each pattern is deliberately
# RE2-and-Java-regex compatible (no lookaround, no backrefs) so the
# exact same pattern string runs on Spark and the DuckDB oracle.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}"),
)


def scrub_pii(col: Column | str, replacement: str = "[PII]") -> Column:
    """Redact every PII pattern, applied in declaration order (email
    before ipv4, so a dotted-quad inside an email never half-matches).
    Pure regexp_replace chain — map-only, scan-speed at 100 TB."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, replacement)
    return c


def split_bucket(id_col: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic hash bucket in [0, n_buckets): first 8 hex chars of
    md5(id) as an int, mod n_buckets. Engine-portable (md5 is identical
    everywhere) and stable across runs/machines — the property a
    train/val/test split MUST have so no document ever migrates between
    splits when the corpus is re-processed or grows."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    hex8 = F.substring(F.md5(c.cast("string")), 1, 8)
    return F.conv(hex8, 16, 10).cast("long") % n_buckets


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Assign train/val/test by hash bucket (map-only, no shuffle,
    no sampling state). Holdout membership is a pure function of the
    document id — re-runs, backfills, and incremental appends all land
    every doc in the same split."""
    b = split_bucket(id_col)
    return df.withColumn(
        "split",
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "lang",
) -> DataFrame:
    """Concat-then-chunk sequence packing (GPT-style pretraining): order
    documents deterministically (content md5, id tiebreak) within each
    stratum, lay them end-to-end, and cut chunks every ``budget`` tokens.
    A doc belongs to the chunk its starting offset falls in.

    Scale: one shuffle on the stratum + an ordered window sweep — at
    100 TB you'd range-partition (stratum, fp) so each executor sorts a
    slice and the running offset is a two-pass prefix sum; Spark's
    window over the stratum partition is exactly that shape."""
    toks = F.size(normalized_tokens(text_col))
    base = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(id_col),
        F.md5(text_col).alias("fp"),
        toks.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stratum")
        .orderBy("fp", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "stratum",
        id_col,
        "n_tokens",
        offset.alias("start_offset"),
        F.floor(offset / budget).alias("chunk_id"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking (RAG / context-window prep): split
    each document into chunks of ``chunk_tokens`` whitespace tokens with
    ``overlap`` tokens shared between consecutive chunks (stride =
    chunk_tokens − overlap). The last window clamps at the text end, so
    every token lands in ≥1 chunk and no empty trailing chunk is
    emitted.

    Map-only — tokenize → per-row window-start sequence → posexplode →
    slice — no shuffle, scan-speed at 100 TB; chunk_id is a free
    write-time partition/sort column for downstream embedding jobs."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    # integer-exact window count: 1 + ceil((n - chunk)/stride) for
    # n > chunk, else 1 — identical arithmetic on both engines
    extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    # floor((extra + stride-1)/stride): exact in double for any real
    # token count (< 2^52)
    n_chunks = (
        F.lit(1) + F.floor((extra + F.lit(stride - 1)) / F.lit(stride))
    ).cast("int")
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)),
    ).select(
        id_col,
        F.col("pos").alias("chunk_id"),
        F.slice(
            "__toks", F.col("pos") * stride + 1, F.lit(chunk_tokens)
        ).alias("__chunk"),
    )
    return base.select(
        id_col,
        "chunk_id",
        F.size("__chunk").alias("n_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"),
    )


def stratified_quality_filter(
    df: DataFrame,
    min_pct: float = 0.25,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Percentile-based quality filtering per stratum: score every doc
    (map-only), rank within its language, drop the bottom ``min_pct``.

    Per-stratum thresholds are the standard fix for absolute-cutoff
    bias (a global threshold over-prunes whichever language the scorer
    is miscalibrated for). One shuffle on the stratum; the scorer adds
    zero shuffles."""
    scored = quality_score(df, id_col, text_col).select(id_col, "quality_score")
    with_stratum = df.select(F.col(id_col), F.col(stratum_col)).join(
        scored, id_col
    )
    w = Window.partitionBy(stratum_col).orderBy("quality_score", id_col)
    ranked = with_stratum.withColumn(
        "q_rank", F.round(F.percent_rank().over(w), 6)
    )
    return ranked.select(
        id_col,
        stratum_col,
        "quality_score",
        "q_rank",
        (F.col("q_rank") >= min_pct).alias("kept"),
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training-data serving: shard =
    md5-bucket of the id, position = rank of md5 within the shard.
    Together (shard, pos) is a reproducible pseudo-random permutation of
    the corpus — the 'shuffle the dataset before training' step — with
    NO global ordering anywhere: ordering happens per shard (window
    partitioned by shard), so the plan is one shuffle on small keys and
    scales linearly. A global row_number (single-partition sort) would
    be the anti-pattern this operator exists to avoid."""
    h = F.md5(F.col(id_col).cast("string"))
    shard = F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % n_shards
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(F.col(id_col), h.alias("h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing at
    least one word ``n``-gram with the benchmark/eval set (the standard
    pretraining hygiene step — leaked eval text inflates scores).

    Shape: probe first, distinct after. The corpus side explodes its
    n-gram hashes WITHOUT a distinct (never the text — only longs) and
    probes the broadcast benchmark gram set map-side; only matched rows
    reach the one shuffle, a per-doc distinct count (so a gram a doc
    repeats counts once) taken as the size of a ``collect_set`` — one
    exchange on the doc id, where ``countDistinct`` plans two. The
    verdict left-joins back. At 100 TB the
    benchmark side is tiny, so the scan-heavy side is map-only + one
    broadcast probe; corpus docs with zero hits never shuffle."""
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        exploded_shingles,
    )

    bench_grams = exploded_shingles(benchmark, id_col, text_col, n, distinct=False)
    hits = (
        exploded_shingles(corpus, id_col, text_col, n, distinct=False)
        .withColumnRenamed(id_col, "c_id")
        .join(F.broadcast(bench_grams.select("shingle_x").distinct()), "shingle_x")
        .groupBy("c_id")
        .agg(F.size(F.collect_set("shingle_x")).cast("long").alias("n_shared_grams"))
    )
    return (
        corpus.select(F.col(id_col))
        .join(hits, corpus[id_col] == hits["c_id"], "left")
        .select(
            id_col,
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def repetition_stats(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition filter: the duplicate-n-gram fraction
    (1 − distinct/total) catches boilerplate and loop-generated text.
    Pure array expressions — map-only, scan-speed."""
    with_toks = df.select(
        F.col(id_col), normalized_tokens(text_col).alias("__toks")
    )
    g = shingles_from_tokens("__toks", n)
    total = F.size(g)
    distinct = F.size(F.array_distinct(g))
    frac = F.round(
        (total - distinct) / F.greatest(total, F.lit(1)).cast("double"), 6
    )
    return with_toks.select(
        F.col(id_col),
        total.alias("total_ngrams"),
        distinct.alias("distinct_ngrams"),
        frac.alias("dup_fraction"),
        (frac > threshold).alias("flagged"),
    )


def pii_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII hit counts (one regexp_count per pattern) plus
    the scrubbed text — the audit artifact a redaction pipeline keeps."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        *[
            F.regexp_count(t, F.lit(pat)).alias(f"n_{name}")
            for name, pat in PII_PATTERNS
        ],
        scrub_pii(t).alias("scrubbed"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k_top: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones; Lucene's idf
    variant): score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Shape at scale: the inverted-index slice for the query terms is the
    ONLY thing that shuffles — tokens explode map-side, the filter to
    query terms cuts the stream to |terms| postings, df/tf are partial
    aggregations, and the corpus-level scalars (N, avgdl) ride in on a
    one-row broadcast computed from per-doc ``F.size`` BEFORE the
    explode (one row per doc, no aggregation over the token stream).
    The final top-k is ``orderBy().limit(k)`` — TakeOrderedAndProject,
    a per-partition heap + driver merge — never a global window over
    the unbounded scored set. The result is returned in rank order
    (score desc, id asc — a total order, since ids are unique); rank
    itself is the row position, not a materialized column, so no
    single-partition WindowExec appears anywhere in the plan."""
    terms = [t.lower() for t in query_terms]
    base = df.select(F.col(id_col), normalized_tokens(text_col).alias("__toks"))
    corpus = base.select(F.size("__toks").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    toks = base.select(
        F.col(id_col), F.size("__toks").alias("dl"), F.explode("__toks").alias("term")
    )

    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            F.col(id_col),
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (1 - b + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("__s"),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 4).alias("bm25_score"))
    )
    return scored.orderBy(F.desc("bm25_score"), F.asc(id_col)).limit(k_top)


def lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram language-model scoring (the CCNet-style statistical LM
    filter): train bigram/unigram counts on the corpus itself, then
    score each document by its mean log bigram probability
    avg(ln(count(w1,w2)/count(w1·))) — low scores flag text that is
    improbable under the corpus's own statistics (gibberish, boiler-
    plate with rare transitions); degenerate repetition scores HIGH,
    which is why this runs beside the repetition filter, not instead.

    Shape at scale: the LM tables are aggregations (vocab-bounded, far
    smaller than the corpus); per-doc scoring joins the exploded bigram
    stream back on the bigram key — counts shuffle once, documents
    stream once."""
    with_t = df.select(F.col(id_col), normalized_tokens(text_col).alias("__toks"))
    n = F.size("__toks")
    pairs = with_t.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice("__toks", 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
                F.slice("__toks", 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
            )
        ).alias("__p"),
    ).select(F.col(id_col), F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))

    bigram = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    unigram = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    return (
        pairs.join(bigram, ["w1", "w2"])
        .join(unigram, "w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c12") / F.col("c1"))), 4).alias(
                "avg_logprob"
            ),
        )
    )


def sample_stratified(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its md5
    bucket (of the id, 10000 buckets) falls under the stratum's
    fraction. No RNG state, map-only, and — unlike ``sampleBy`` — fully
    reproducible across runs, engines, partitionings, and corpus
    growth: membership is a pure function of the id."""
    b = split_bucket(id_col, n_buckets=10_000)
    frac = None
    for stratum, f in sorted(fractions.items()):
        cond = F.col(strata_col) == stratum
        frac = (
            F.when(cond, f) if frac is None else frac.when(cond, f)
        )
    frac = frac.otherwise(default_fraction) if frac is not None else F.lit(
        default_fraction
    )
    return df.filter(b < frac * 10_000)


def mix_epochs(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Epoch mixing (the LLaMA-style data-recipe step): a stratum with
    weight w contributes each document floor(w) times, plus one extra
    copy for the deterministic frac(w) slice of ids — so the expected
    epoch count equals w exactly while membership stays a pure function
    of the id. Output carries ``epoch`` (1-based copy index) so the
    shuffle-shard step can spread copies across shards.

    Map-only: weight lookup is a literal CASE, the copy fan-out is one
    posexplode of a per-row sequence — no join, no shuffle, no RNG."""
    b = split_bucket(id_col, n_buckets=10_000)
    w = None
    for stratum, wt in sorted(weights.items()):
        cond = F.col(strata_col) == stratum
        w = F.when(cond, wt) if w is None else w.when(cond, wt)
    w = w.otherwise(default_weight) if w is not None else F.lit(default_weight)
    base = F.floor(w).cast("int")
    extra = (b < (w - base.cast("double")) * 10_000).cast("int")
    n_copies = base + extra
    return df.withColumn("__n", n_copies).filter(F.col("__n") > 0).select(
        "*", F.posexplode(F.sequence(F.lit(1), F.col("__n"))).alias("__pos", "epoch")
    ).drop("__n", "__pos")


def bpe_merges(
    df: DataFrame,
    n_merges: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BPE tokenizer-training rounds over the corpus (the Sennrich
    merge loop): each round counts every ADJACENT token pair
    corpus-wide, picks the most frequent (ties → lexicographically
    smallest pair), and fuses that pair into a single token everywhere
    before the next count. Returns the learned merge table —
    (step, pair, n_occurrences), ``n_merges`` rows — the artifact a
    tokenizer trainer persists.

    Scale shape per round: bigram explode → one hash-shuffle count with
    map-side partials → TakeOrderedAndProject(1). The single winning
    pair is driver-side metadata by design (every BPE trainer holds the
    merge table in RAM — same rationale as the IVF/PQ codebooks); the
    fuse is a map-only literal string replace, so the corpus itself
    never shuffles. The merge loop is inherently sequential (round
    r+1's counts depend on round r's fuse) — no engine parallelizes
    across rounds; the win is parallelizing each count, which is the
    expensive part.

    Cross-engine parity: pair counting is per-document (no cross-doc
    bigrams — the stream is re-split per doc), and the fuse is a plain
    non-overlapping left-to-right literal replace of ``' x y '`` with
    ``' x_y '`` on the space-padded token stream, the semantics Spark's
    ``replace`` and the SQL twin's ``replace`` share: both resume
    scanning AFTER the matched span, so a match consumes its trailing
    delimiter and the immediately-following overlapping site in a run
    (``b b b b``) survives to the next round — deterministic and
    engine-identical, which is what the cross-engine gate requires
    (classic array-BPE would need a per-doc fold; this is the
    string-stream formulation)."""
    merges, _ = _bpe_fuse_stream(df, n_merges, id_col, text_col)
    spark = df.sparkSession
    return local_frame(
        spark, merges, "step int, pair string, n_occurrences long"
    )


def _bpe_fuse_stream(
    df: DataFrame, n_merges: int, id_col: str, text_col: str
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Shared BPE merge-training loop: returns the learned merge table
    AND the space-padded token stream with every merge applied (the
    state a tokenizer *encoder* needs). Semantics and parity notes in
    :func:`bpe_merges`."""
    stream = df.select(
        F.col(id_col),
        F.concat(
            F.lit(" "), F.concat_ws(" ", normalized_tokens(text_col)), F.lit(" ")
        ).alias("__st"),
    )
    merges: list[tuple[int, str, int]] = []
    # Per-round persist-and-swap (the winnow/compaction discipline):
    # round r's pair count materializes the CURRENT stream into cache,
    # so round r+1 reads one cached pass instead of replaying the
    # source scan + normalization + r prior replaces — without this the
    # loop costs O(n_merges²) corpus derivations, which is fatal at the
    # thousands of rounds a real BPE trainer runs. The previous round's
    # cache is dropped as soon as its successor is materialized.
    prev_persisted = None
    for step in range(1, n_merges + 1):
        stream = tracked_persist(stream, StorageLevel.MEMORY_AND_DISK)
        # tokens materialized BEFORE the bigram build, and bigrams via
        # codegen'd slice+zip+explode (never transform/element_at over
        # an inlined split, which re-runs the regex per element access
        # — measured 17.6 s -> ~2 s for the 3-round loop at sf0.1).
        tok_df = stream.select(
            F.split(F.trim(F.col("__st")), r"\s+").alias("__t")
        )
        n_pairs = F.greatest(F.size("__t") - 1, F.lit(0))
        zipped = F.arrays_zip(
            F.slice(F.col("__t"), 1, n_pairs).alias("t0"),
            F.slice(F.col("__t"), 2, n_pairs).alias("t1"),
        )
        pairs = tok_df.select(F.explode(zipped).alias("__g")).select(
            F.concat_ws(" ", "__g.t0", "__g.t1").alias("pair")
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = stream
        if not top:
            break
        pair, cnt = top[0]["pair"], top[0]["cnt"]
        merges.append((step, pair, int(cnt)))
        fused = pair.replace(" ", "_")
        stream = stream.select(
            F.col(id_col),
            F.replace(
                F.col("__st"), F.lit(f" {pair} "), F.lit(f" {fused} ")
            ).alias("__st"),
        )
    return merges, stream


def bpe_encode(
    df: DataFrame,
    n_merges: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BPE tokenizer APPLICATION: train ``n_merges`` merges on the
    corpus (the :func:`bpe_merges` loop) and encode every document with
    them, returning per-doc ``(n_tokens, n_fused, n_tokens_orig)`` —
    the segmentation statistics a tokenization pass feeds to sequence
    packing. Fused tokens carry ``_`` joiners, so ``n_tokens_orig``
    recovers the pre-merge count by undoing the joiners (precondition,
    shared with the fuse itself: corpus tokens contain no ``_``).

    Shape at scale: training is the sequential merge loop (each round
    one bigram-count shuffle + TakeOrderedAndProject(1)); the ENCODE is
    then a purely map-only pass — ``n_merges`` literal replaces plus a
    split — at parquet-scan speed, which is the property that matters
    when the encode side is 100 TB and the merge table is driver-side
    metadata."""
    _, stream = _bpe_fuse_stream(df, n_merges, id_col, text_col)
    t = F.split(F.trim(F.col("__st")), r"\s+")
    orig = F.split(
        F.trim(F.replace(F.col("__st"), F.lit("_"), F.lit(" "))), r"\s+"
    )
    return stream.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.size(F.filter(t, lambda x: x.contains("_"))).alias("n_fused"),
        F.size(orig).alias("n_tokens_orig"),
    )


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    n_buckets: int = 512,
    k_top: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): rank raw documents by how target-like they look
    under hashed bag-of-words models. Unigrams hash into ``n_buckets``
    buckets; two Laplace-smoothed categorical distributions are fit —
    p over the TARGET subset (rows matching ``target_pred``) and q over
    the RAW corpus — and each document scores
    ``log w(d) = Σ_b c_b(d) · (ln p_b − ln q_b)``; the top-``k_top``
    most-target-like documents are returned in rank order.

    Shape at scale: the token stream explodes map-side and aggregates
    to (doc, bucket) counts with map-side partials — ONE shuffle on
    (doc_id, bucket). Both distributions are ``n_buckets``-row
    aggregates of that same stream, and their normalizing totals are
    one-row aggs cross-joined back (broadcast) — never an unpartitioned
    window (the skew.py lesson). The per-doc score joins the bucket
    table in as a broadcast, re-aggregates on doc_id, and the final
    ranking is ``orderBy().limit(k)`` — TakeOrderedAndProject, no
    global WindowExec. Nothing driver-side: the 100 TB cost is two
    passes over the exploded token stream's aggregates.

    Cross-engine parity: bucket = first 15 md5 hex chars mod
    ``n_buckets`` (exact in a long, same idiom as shingle_to_int);
    log-weight rounds to 4dp before the (weight desc, doc_id asc)
    ranking so the selected set is engine-stable."""
    base = df.select(
        F.col(id_col),
        target_pred.alias("__is_tgt"),
        F.explode(normalized_tokens(text_col)).alias("__tok"),
    ).select(
        F.col(id_col),
        F.col("__is_tgt"),
        (F.conv(F.substring(F.md5("__tok"), 1, 15), 16, 10).cast("long")
         % n_buckets).alias("bucket"),
    )

    # ONE pass over the exploded token stream: the (doc, bucket) count
    # table carries the per-doc target flag (constant within a doc), so
    # both distributions derive from THIS compact table instead of
    # re-exploding + re-hashing the corpus once per aggregate — three
    # full token-stream passes collapse to one plus two aggregates over
    # |docs|·|buckets|-bounded rows.
    doc_bucket = tracked_persist(
        base.groupBy(id_col, "bucket").agg(
            F.count(F.lit(1)).alias("c"),
            F.max("__is_tgt").alias("__is_tgt"),
        )
    )
    raw_tbl = doc_bucket.groupBy("bucket").agg(F.sum("c").alias("raw_c"))
    tgt_tbl = (
        doc_bucket.filter(F.col("__is_tgt"))
        .groupBy("bucket")
        .agg(F.sum("c").alias("tgt_c"))
    )
    totals = raw_tbl.agg(F.sum("raw_c").alias("raw_n")).crossJoin(
        tgt_tbl.agg(F.sum("tgt_c").alias("tgt_n"))
    )
    ratio = (
        raw_tbl.join(tgt_tbl, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("tgt_c"), F.lit(0)) + 1.0)
                    / (F.col("tgt_n") + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.col("raw_c") + 1.0)
                    / (F.col("raw_n") + F.lit(float(n_buckets)))
                )
            ).alias("log_ratio"),
        )
    )
    scored = (
        doc_bucket.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("c") * F.col("log_ratio")), 4).alias("log_weight"))
    )
    return scored.orderBy(F.desc("log_weight"), F.asc(id_col)).limit(k_top)


def ppl_buckets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet's signature move (Wenzek et al. 2020): partition the corpus
    into head / middle / tail terciles by LM score — head (most
    probable under the LM, i.e. lowest perplexity) is kept for
    pretraining, middle deprioritized, tail dropped or review-queued.
    Scores come from :func:`lm_score`'s corpus-trained bigram model.

    Shape at scale: the two tercile thresholds are a ONE-ROW exact-
    percentile aggregate cross-joined back as a broadcast — bucket
    assignment is then a map-only comparison. No global sort and no
    unpartitioned window anywhere (ntile would move every score into
    one task; thresholds-by-agg is the distributed formulation)."""
    scored = lm_score(df, id_col, text_col).select(id_col, "avg_logprob")
    cuts = scored.agg(
        F.percentile("avg_logprob", F.lit(1 / 3.0)).alias("t1"),
        F.percentile("avg_logprob", F.lit(2 / 3.0)).alias("t2"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        F.col(id_col),
        F.col("avg_logprob"),
        F.when(F.col("avg_logprob") >= F.col("t2"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("t1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    bias: float = 0.1,
    threshold: float = 0.5,
) -> DataFrame:
    """FastText-style linear quality classifier over hashed bag-of-words
    (the quality-filter family used by GPT-3/LLaMA data recipes: a cheap
    linear model scores every document, a threshold keeps the 'looks
    like reference text' side).

    Features are token hash buckets (md5 → 32-bit → mod ``n_buckets``);
    the weight vector is an arithmetic function of the bucket index
    (deterministic stand-in for trained weights — a real model would
    broadcast its weight array as a literal or a small join table, which
    is exactly the shape this pins). Score = sigmoid(bias + mean bucket
    weight), mean-pooled like fastText.

    Map-only: hashing, weight lookup, the fold, and the sigmoid are all
    per-row column expressions — at 100 TB this runs at parquet-scan
    speed with zero shuffle. The fold is sequential in token order on
    both engines, so the unrounded double matches the oracle
    bit-for-bit and the keep/drop threshold cannot disagree."""
    toks = normalized_tokens(text_col)

    def weight(t: F.Column) -> F.Column:
        bucket = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint") % n_buckets
        return (bucket % 997).cast("double") / 997.0 - 0.5

    total = F.aggregate(
        F.transform(toks, weight), F.lit(0.0), lambda acc, w: acc + w
    )
    mean = total / F.greatest(F.size(toks), F.lit(1))
    # The label thresholds the ROUNDED score — the one the row emits —
    # so (clf_score, clf_label) can never contradict each other at the
    # boundary (an unrounded sigmoid of 0.4999996 rounds to 0.5; a
    # label cut on the unrounded value would say 'drop' beside an
    # emitted score of 0.5).
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(bias) + mean))), 6
    )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        score.alias("clf_score"),
        F.when(score >= threshold, F.lit("keep")).otherwise(F.lit("drop")).alias(
            "clf_label"
        ),
    )


def domain_cap(
    df: DataFrame,
    cap: int = 50,
    id_col: str = "doc_id",
    domain_col: str = "source",
    quality_col: str = "n_chars",
) -> DataFrame:
    """C4-style per-domain frequency cap: keep at most ``cap`` documents
    per domain, preferring higher ``quality_col`` (deterministic id
    tiebreak), so no single crawl domain dominates the training mix.

    Shape at scale: one window ranked within the domain — the partition
    key is the domain, so work distributes across domains and no
    unpartitioned window appears. A skewed mega-domain concentrates its
    own rows in one task; since only ``cap`` survive, the standard
    refinement is a pre-filter pass (count per domain, broadcast the
    over-cap set) before ranking — unnecessary until a domain's row
    count dwarfs a partition.

    Returns kept rows with their in-domain rank and the domain's total
    count (so downsampling ratios are auditable downstream)."""
    w = Window.partitionBy(domain_col).orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    ranked = df.select(
        F.col(id_col),
        F.col(domain_col),
        F.col(quality_col),
        F.row_number().over(w).alias("domain_rank"),
        F.count(F.lit(1)).over(Window.partitionBy(domain_col)).alias("domain_total"),
    )
    return ranked.filter(F.col("domain_rank") <= cap)
