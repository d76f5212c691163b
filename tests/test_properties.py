"""Property-based tests (hypothesis) for the scalar library — invariants
over adversarial inputs (unicode, whitespace runs, empties, nulls) that
fixed-fixture oracles cannot enumerate.

Each property generates a BATCH of examples and runs one Spark job over
it (hypothesis drives the data, Spark evaluates the column expression,
plain Python recomputes the expectation), keeping example counts low
enough for JVM round-trip cost."""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from glamira_end_to_end_data_pipeline_spark.functions import (
    ip_to_int,
    surrogate_key,
    ws_normalize,
)
from glamira_end_to_end_data_pipeline_spark.operators.text import (
    scrub_pii,
    split_bucket,
)

SETTLE = settings(max_examples=5, deadline=None)

texts = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
    ),
    min_size=1,
    max_size=20,
)


@SETTLE
@given(texts)
def test_ws_normalize_canonical_and_idempotent(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = df.select(
        ws_normalize("s").alias("once"),
        ws_normalize(ws_normalize("s")).alias("twice"),
    ).collect()
    ascii_ws = " \t\n\r\x0b\x0c"  # Java \s is ASCII-only (no NBSP etc.)
    for r in out:
        if r.once is not None:
            assert r.once == r.once.strip(ascii_ws)
            assert "  " not in r.once
            assert r.once != ""
        assert r.once == r.twice  # idempotent (NULL included)


@SETTLE
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(max_size=30)),
            st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_surrogate_key_matches_dbt_macro_bytes(spark, rows):
    """Key == md5 of '-'-joined values with the dbt NULL sentinel —
    byte parity with dbt_utils.generate_surrogate_key for ANY input."""
    df = spark.createDataFrame(rows, "a string, b long")
    got = df.select("a", "b", surrogate_key("a", "b").alias("k")).collect()
    for r in got:
        a = r.a if r.a is not None else "_dbt_utils_surrogate_key_null_"
        b = str(r.b) if r.b is not None else "_dbt_utils_surrogate_key_null_"
        assert r.k == hashlib.md5(f"{a}-{b}".encode()).hexdigest()


@SETTLE
@given(
    st.lists(
        st.one_of(
            st.from_regex(r"\A\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\Z"),
            st.text(max_size=20),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_ip_to_int_parses_or_nulls(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "ip string")
    out = df.select("ip", ip_to_int("ip").alias("n")).collect()
    for r in out:
        # re.ASCII: Java's \d (Spark rlike) is ASCII-only — unicode
        # digits like ARABIC-INDIC ZERO must NOT count as octets
        # (hypothesis found exactly that case).
        m = re.fullmatch(
            r"(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})", r.ip or "", re.ASCII
        )
        if m:
            expected = 0
            for g in m.groups():
                expected = expected * 256 + int(g)
            assert r.n == expected
        else:
            assert r.n is None


@SETTLE
@given(st.lists(st.integers(0, 2**60), min_size=1, max_size=30))
def test_split_bucket_range_and_stability(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = df.select(
        "doc_id",
        split_bucket("doc_id").alias("b1"),
        split_bucket("doc_id").alias("b2"),
    ).collect()
    for r in out:
        assert 0 <= r.b1 < 100
        assert r.b1 == r.b2
        expected = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) % 100
        assert r.b1 == expected


@SETTLE
@given(texts)
def test_scrub_pii_leaves_no_matches(spark, vals):
    from glamira_end_to_end_data_pipeline_spark.operators.text import PII_PATTERNS

    # salt the corpus with guaranteed PII so the scrub always has work
    vals = vals + ["mail me at a.b@example.com or 555-123-4567 from 10.0.0.1"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = df.select(scrub_pii("s").alias("clean")).collect()
    for r in out:
        for _, pat in PII_PATTERNS:
            assert not re.search(pat, r.clean), (pat, r.clean)


@SETTLE
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),   # doc_id (may repeat)
            st.sampled_from(["d0", "d1", "d2"]),      # domain
            st.integers(min_value=0, max_value=100),  # quality
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_domain_cap_invariants(spark, rows):
    from glamira_end_to_end_data_pipeline_spark.operators.text import domain_cap

    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    kept = domain_cap(df, cap=3).collect()
    by_dom: dict[str, list] = {}
    for r in kept:
        by_dom.setdefault(r["source"], []).append(r)
    totals = {}
    for _, dom, _ in rows:
        totals[dom] = totals.get(dom, 0) + 1
    for dom, rs in by_dom.items():
        # never more than cap; domain_total is the pre-cap count
        assert len(rs) <= 3
        assert all(r["domain_total"] == totals[dom] for r in rs)
        # kept rows are exactly the top-(≤cap) by (n_chars desc, id asc)
        want = sorted(
            [t for t in rows if t[1] == dom], key=lambda t: (-t[2], t[0])
        )[:3]
        assert sorted(r["doc_id"] for r in rs) == sorted(t[0] for t in want)


@SETTLE
@given(texts)
def test_classifier_score_bounded_and_pure(spark, batch):
    from glamira_end_to_end_data_pipeline_spark.operators.text import (
        classifier_score,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "doc_id long, text string"
    )
    rows = classifier_score(df).collect()
    assert len(rows) == len(batch)
    for r in rows:
        assert 0.0 <= r["clf_score"] <= 1.0
        assert r["clf_label"] == ("keep" if r["clf_score"] >= 0.5 else "drop")


@SETTLE
@given(
    st.lists(
        st.sampled_from([f"tok{i}" for i in range(12)]),
        min_size=1,
        max_size=60,
    )
)
def test_countmin_dominates_truth_on_random_multisets(spark, tokens):
    """Count-min one-sided error: for EVERY present item, estimate ≥
    exact count — under heavy forced collisions (w=16 ≪ vocabulary·d)."""
    from glamira_end_to_end_data_pipeline_spark.operators.sketch import (
        countmin_build,
        countmin_query,
    )

    df = spark.createDataFrame([(t,) for t in tokens], ["token"])
    sk = countmin_build(df, d=4, w=16)
    est = {
        r["token"]: r["cm_estimate"]
        for r in countmin_query(sk, df.distinct(), d=4, w=16).collect()
    }
    truth: dict[str, int] = {}
    for t in tokens:
        truth[t] = truth.get(t, 0) + 1
    assert set(est) == set(truth)
    for t, c in truth.items():
        assert est[t] >= c, (t, est[t], c)


@SETTLE
@given(st.integers(5, 30), st.integers(1, 4))
def test_containment_prefix_snippet_is_total(spark, n_extra, k):
    """A snippet that is a token-prefix of a corpus doc has containment
    exactly 1.0 (every snippet shingle occurs in the doc), and every
    reported score is in (0, 1]."""
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    words = [f"w{i}x" for i in range(5 + n_extra)]
    doc = " ".join(words)
    snippet = " ".join(words[: 3 + k])
    corpus = spark.createDataFrame([(1, doc)], ["doc_id", "text"])
    new = spark.createDataFrame([(100, snippet)], ["doc_id", "text"])
    rows = containment_pairs(corpus, new, threshold=0.0).collect()
    scores = {(r["new_id"], r["corpus_id"]): r["containment"] for r in rows}
    assert scores[(100, 1)] == 1.0
    assert all(0.0 < s <= 1.0 for s in scores.values())


@SETTLE
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=16,
    ),
    st.integers(2, 3),
)
def test_kcore_survivors_keep_degree_k(spark, raw_edges, k):
    """After enough peeling rounds to converge on an ≤8-node graph,
    every survivor has degree ≥ k WITHIN the surviving subgraph — the
    defining k-core property."""
    from glamira_end_to_end_data_pipeline_spark.operators.graph import kcore_peel

    edges = sorted({(u, v) for u, v in raw_edges if u < v})
    if not edges:
        return
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r["node"]: r["degree"] for r in kcore_peel(df, k=k, rounds=8).collect()}
    # degrees reported are within the surviving subgraph
    surv = set(got)
    for node, deg in got.items():
        true_deg = sum(
            1 for u, v in edges
            if (u == node and v in surv) or (v == node and u in surv)
        )
        assert deg == true_deg
        assert deg >= k


@SETTLE
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=18,
    ),
    st.integers(2, 3),
)
def test_kcore_exact_matches_python_fixpoint(spark, raw_edges, k):
    """kcore_exact must equal the reference fixed point (iterate the
    peel in plain Python until nothing changes) on ANY small graph —
    including cascades of arbitrary depth, the case fixed-round peeling
    cannot promise."""
    from glamira_end_to_end_data_pipeline_spark.operators.graph import kcore_exact

    edges = sorted({(u, v) for u, v in raw_edges if u < v})
    if not edges:
        return
    # Python reference: peel to the true fixed point.
    und = set(edges) | {(v, u) for u, v in edges}
    while True:
        deg: dict[int, int] = {}
        for u, _ in und:
            deg[u] = deg.get(u, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in und if u in keep and v in keep}
        if nxt == und:
            break
        und = nxt
    expected = {}
    for u, _ in und:
        expected[u] = expected.get(u, 0) + 1

    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r["node"]: r["degree"] for r in kcore_exact(df, k=k).collect()}
    assert got == expected


@SETTLE
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=14,
    )
)
def test_lpa_exact_matches_python_unroll(spark, raw_edges):
    """lpa_exact's contract is 'max_rounds synchronous sweeps with
    early exit at stability' — on ANY small graph it must equal the
    plain-Python unroll of exactly max_rounds deterministic rounds
    (fixed-point invariance makes early exit and full unroll agree;
    on oscillating inputs both run the full cap)."""
    from glamira_end_to_end_data_pipeline_spark.operators.graph import lpa_exact

    edges = sorted({(u, v) for u, v in raw_edges if u < v})
    if not edges:
        return
    cap = 6
    und: dict[int, set[int]] = {}
    for u, v in edges:
        und.setdefault(u, set()).add(v)
        und.setdefault(v, set()).add(u)
    lab = {n: n for n in und}
    for _ in range(cap):
        new = {}
        for n in und:
            cnt: dict[int, int] = {}
            for m in und[n]:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            new[n] = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        if new == lab:
            break
        lab = new

    df = spark.createDataFrame(edges, ["u", "v"])
    got = {
        r["node"]: r["community"]
        for r in lpa_exact(df, max_rounds=cap).collect()
    }
    assert got == lab


@SETTLE
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=2,
        max_size=14,
    ),
    st.integers(1, 3),
)
def test_jaccard_hub_cap_scores_are_lower_bounds(spark, raw_edges, cap):
    """With a hub cap, every surviving pair's (n_common, jaccard) must
    be ≤ the uncapped (exact) pair's — the documented lower-bound
    semantics behind making the cap opt-in rather than a default."""
    from glamira_end_to_end_data_pipeline_spark.operators.graph import (
        jaccard_link_prediction,
    )

    edges = sorted({(u, v) for u, v in raw_edges if u < v})
    if not edges:
        return
    df = spark.createDataFrame(edges, ["u", "v"])
    exact = {
        (r["a"], r["b"]): (r["n_common"], r["jaccard"])
        for r in jaccard_link_prediction(df, k_top=100).collect()
    }
    capped = {
        (r["a"], r["b"]): (r["n_common"], r["jaccard"])
        for r in jaccard_link_prediction(
            df, k_top=100, max_mid_degree=cap
        ).collect()
    }
    for pair, (nc, jc) in capped.items():
        assert pair in exact
        assert nc <= exact[pair][0]
        assert jc <= exact[pair][1] + 1e-9


word = st.text(alphabet="abcdefgh", min_size=1, max_size=5)
docs_strategy = st.lists(
    st.lists(word, min_size=0, max_size=40), min_size=1, max_size=8
)


@SETTLE
@given(docs_strategy)
def test_cdc_chunks_partition_tokens_exactly(spark, token_lists):
    """CDC chunking is a PARTITION of each document's token stream:
    chunk token counts sum to the doc's token count, chunk ids are
    contiguous, and duplicated-token mass never exceeds the total —
    over arbitrary corpora including duplicate docs and single-token
    docs (blank docs are filtered by contract)."""
    from glamira_end_to_end_data_pipeline_spark.operators.dedup import (
        cdc_chunk_stats,
    )

    rows_in = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    got = {r.doc_id: r for r in cdc_chunk_stats(df).collect()}
    for i, toks in enumerate(token_lists):
        if not toks:
            assert i not in got
            continue
        r = got[i]
        assert r.n_tokens == len(toks)
        assert 0 <= r.dup_tokens <= r.n_tokens
        assert 0 <= r.dup_chunks <= r.n_chunks
    # exact-duplicate docs must show FULL duplication both ways
    texts = [" ".join(t) for t in token_lists if t]
    dupes = {t for t in texts if texts.count(t) > 1}
    for i, toks in enumerate(token_lists):
        if toks and " ".join(toks) in dupes:
            assert got[i].dup_token_frac == 1.0


@SETTLE
@given(
    st.lists(
        st.lists(st.integers(min_value=1, max_value=50_000), min_size=1, max_size=20),
        min_size=1,
        max_size=4,
    )
)
def test_ewma_fold_matches_python_recursion(spark, tmp_path_factory, series):
    """w_ewma_anomaly's aggregate-HOF fold == the plain-Python recursion
    s_t = (x_t·1e6 + 3·s_{t-1}) >> 2 for arbitrary positive daily
    counts (one synthetic event per count unit, one event_type per
    generated series)."""
    import datetime as dt
    import os

    from glamira_end_to_end_data_pipeline_spark.plans import QUERIES

    t0 = dt.datetime(2024, 7, 1)
    rows, eid = [], 0
    for si, xs in enumerate(series):
        for day, n in enumerate(xs):
            for k in range(n % 40 + 1):  # cap rows: counts mod 40 keep jobs small
                rows.append(
                    (
                        eid,
                        t0 + dt.timedelta(days=day, seconds=k),
                        1,
                        f"t{si}",
                        1.0,
                        "{}",
                    )
                )
                eid += 1
    sf_dir = str(tmp_path_factory.mktemp("ewma"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    got = QUERIES["w_ewma_anomaly"](spark, sf_dir).collect()
    by_type = {}
    for r in got:
        by_type.setdefault(r.event_type, []).append(r)
    for si, xs in enumerate(series):
        counts = [x % 40 + 1 for x in xs]
        out = sorted(by_type[f"t{si}"], key=lambda r: r.day)
        assert [r.n_events for r in out] == counts
        s = None
        for r, x in zip(out, counts):
            s = x * 1_000_000 if s is None else (x * 1_000_000 + 3 * s) >> 2
            assert r.ewma_micro == s


@SETTLE
@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12)
)
def test_multitouch_bp_conserve_revenue_any_touch_count(
    spark, tmp_path_factory, touch_counts
):
    """Largest-remainder 40/20/40 allocation sums to exactly 10000 bp
    for EVERY touch count n >= 1, so credited revenue equals purchase
    revenue to the cent — the billing-grade claim, checked for
    arbitrary n (the unit test pins n = 1, 2, 5 by hand)."""
    import datetime as dt
    import os

    from glamira_end_to_end_data_pipeline_spark.plans import QUERIES

    t0 = dt.datetime(2024, 9, 1)
    rows, eid = [], 0
    expected_cents = 0
    for u, n in enumerate(touch_counts):
        for k in range(n):
            rows.append(
                (eid, t0 + dt.timedelta(minutes=k), u, "view", 1.0, "{}")
            )
            eid += 1
        price = 10.0 + u * 0.37  # varied, cents-exact after round
        rows.append(
            (eid, t0 + dt.timedelta(minutes=n + 1), u, "purchase", price, "{}")
        )
        eid += 1
        expected_cents += round(price * 100)
    sf_dir = str(tmp_path_factory.mktemp("mt"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    got = QUERIES["j_multitouch_attribution"](spark, sf_dir).collect()
    total_cents = round(sum(r.credited_revenue for r in got) * 100)
    assert total_cents == expected_cents


@SETTLE
@given(
    st.integers(min_value=1, max_value=40),  # corpus size n
    st.integers(min_value=1, max_value=25),  # sample cap k
    st.booleans(),  # all-tied priorities vs arbitrary weights
)
def test_priority_sample_is_exactly_min_n_k_under_ties(
    spark, n, k, force_ties
):
    """priority_sample returns EXACTLY min(n, k) rows for any corpus —
    including the adversarial all-tied case classic DLT under-fills
    (priority > tau discards every row tied at tau). Ties are forced
    exactly by setting w_i = h(doc_id)+1, which makes every priority
    the same IEEE-exact 2^31; the expected membership is then the k
    lexicographically smallest doc_ids (the deterministic tie-break)."""
    import hashlib

    from glamira_end_to_end_data_pipeline_spark.plans.r8_queries import (
        priority_sample,
    )

    def h(doc_id: str) -> int:
        return int(hashlib.md5(doc_id.encode()).hexdigest()[:15], 16) % 2147483647

    ids = [f"d{i:03d}" for i in range(n)]
    rows = [
        (d, "src", h(d) + 1 if force_ties else (i % 7) * 1000 + 50)
        for i, d in enumerate(ids)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_chars long")
    got = priority_sample(df, k).collect()
    assert len(got) == min(n, k)
    assert len({r.doc_id for r in got}) == min(n, k)
    if force_ties:
        assert sorted(r.doc_id for r in got) == sorted(ids)[: min(n, k)]
        # all-tied regime: every priority is exactly 2^31
        assert all(r.priority == 2147483648.0 for r in got)


@SETTLE
@given(
    st.lists(
        st.lists(st.integers(min_value=1, max_value=50_000), min_size=1, max_size=20),
        min_size=1,
        max_size=3,
    )
)
def test_holt_fold_matches_python_recursion(spark, tmp_path_factory, series):
    """w_holt_linear_trend's aggregate-HOF fold == the plain-Python
    coupled recursion l_t = (x·1e6 + 3(l+b)) >> 2,
    b_t = ((l_t - l_prev) + 3b) >> 2 — including NEGATIVE trend states,
    where flooring shifts and truncating division diverge."""
    import datetime as dt
    import os

    from glamira_end_to_end_data_pipeline_spark.plans import QUERIES

    t0 = dt.datetime(2024, 7, 1)
    rows, eid = [], 0
    for si, xs in enumerate(series):
        for day, n in enumerate(xs):
            for k in range(n % 40 + 1):
                rows.append(
                    (eid, t0 + dt.timedelta(days=day, seconds=k), 1,
                     f"t{si}", 1.0, "{}")
                )
                eid += 1
    sf_dir = str(tmp_path_factory.mktemp("holt"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    got = QUERIES["w_holt_linear_trend"](spark, sf_dir).collect()
    by_type = {}
    for r in got:
        by_type.setdefault(r.event_type, []).append(r)
    for si, xs in enumerate(series):
        counts = [x % 40 + 1 for x in xs]
        out = sorted(by_type[f"t{si}"], key=lambda r: r.day)
        assert [r.n_events for r in out] == counts
        lv, b = None, 0
        for r, x in zip(out, counts):
            if lv is None:
                lv = x * 1_000_000
            else:
                l_new = (x * 1_000_000 + 3 * (lv + b)) >> 2
                b = ((l_new - lv) + 3 * b) >> 2
                lv = l_new
            assert (r.level_micro, r.trend_micro) == (lv, b)
            assert r.forecast_next_micro == lv + b


@SETTLE
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-300, max_value=300),
            st.integers(min_value=-300, max_value=300),
        ),
        min_size=2,
        max_size=60,
        unique=True,
    )
)
def test_grid_neighbor_join_equals_brute_force(spark, pts):
    """j_grid_neighbor_join's grid+3x3-explode candidate generation is
    EXACT: for arbitrary integer/1000-grid points (tie- and boundary-
    heavy: many points land exactly on cell edges, where a wrong
    floor/offset would lose pairs), the pair set equals the O(n^2)
    brute-force filter."""
    import itertools
    import math

    eps = 0.02
    coords = [(i, x / 1000.0, y / 1000.0) for i, (x, y) in enumerate(pts)]
    expected = set()
    for (ia, xa, ya), (ib, xb, yb) in itertools.combinations(coords, 2):
        if (xa - xb) ** 2 + (ya - yb) ** 2 <= eps * eps:
            expected.add((min(ia, ib), max(ia, ib)))

    from pyspark.sql import functions as F

    df = spark.createDataFrame(coords, "id long, x double, y double")
    cx = F.floor(F.col("x") / eps).cast("long")
    cy = F.floor(F.col("y") / eps).cast("long")
    right = df.select("id", "x", "y", cx.alias("cx"), cy.alias("cy"))
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    left = (
        df.select("id", "x", "y", cx.alias("bx"), cy.alias("by"))
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
    got = {
        (r.id_a, r.id_b)
        for r in left.join(right, ["cx", "cy"])
        .filter((F.col("id_a") < F.col("id")) & (d2 <= eps * eps))
        .select("id_a", F.col("id").alias("id_b"))
        .collect()
    }
    assert got == expected
    assert math.isfinite(eps)


@SETTLE
@given(
    st.lists(
        st.integers(min_value=0, max_value=12), min_size=10, max_size=300
    ),
    st.integers(min_value=2, max_value=6),  # MG k
    st.integers(min_value=1, max_value=8),  # partitions
)
def test_mg_two_phase_heavy_hitters_exact(spark, keys, k, nparts):
    """The two-phase Misra-Gries pipeline returns EXACTLY the keys with
    frequency > n/k, for any key skew, any k, and any partitioning —
    the MG candidate union must be a superset of the truth no matter
    how rows land in partitions."""
    from collections import Counter

    from pyspark.sql import functions as F

    from glamira_end_to_end_data_pipeline_spark.operators.sketch import (
        mg_candidates,
    )

    n = len(keys)
    truth = {
        str(key) for key, c in Counter(keys).items() if c > n / k
    }
    df = spark.createDataFrame(
        [(str(key),) for key in keys], "hot_key string"
    ).repartition(nparts)
    cands = (
        mg_candidates(df, "hot_key", k)
        .select("hot_key")
        .distinct()
        .withColumn("__cand", F.lit(True))
    )
    grouped = (
        df.join(F.broadcast(cands), "hot_key", "left")
        .groupBy(
            F.when(F.col("__cand"), F.col("hot_key"))
            .otherwise(F.lit("__other"))
            .alias("hot_key")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    got = {
        r.hot_key
        for r in grouped.collect()
        if r.hot_key != "__other" and r.n_rows > n / k
    }
    assert got == truth


@SETTLE
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # value (quantized)
            st.booleans(),  # split
        ),
        min_size=4,
        max_size=200,
    )
)
def test_ks_prefix_sum_matches_naive(spark, rows):
    """The distributed two-level prefix-sum KS statistic equals the
    naive single-pass computation for arbitrary value/split mixes
    (duplicate values, empty-ish splits guarded)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # ensure both splits are non-empty
    rows = rows + [(0, True), (0, False)]
    na = sum(1 for _, s in rows if not s)
    nb = sum(1 for _, s in rows if s)
    # naive python CDF diff over sorted distinct values
    from collections import Counter

    ca: Counter = Counter()
    cb: Counter = Counter()
    for v, s in rows:
        (cb if s else ca)[v / 4.0] += 1
    vals = sorted(set(ca) | set(cb))
    best, ia, ib = 0.0, 0, 0
    for v in vals:
        ia += ca.get(v, 0)
        ib += cb.get(v, 0)
        best = max(best, abs(ia / na - ib / nb))

    df = spark.createDataFrame(
        [(v / 4.0, 1 if s else 0) for v, s in rows], "value double, s int"
    )
    g = df.groupBy("value").agg(
        F.sum((F.col("s") == 0).cast("long")).alias("ca"),
        F.sum((F.col("s") == 1).cast("long")).alias("cb"),
    ).withColumn("bucket", F.floor(F.col("value") / 2.0))
    win_in = (
        Window.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "bucket", "value",
        F.sum("ca").over(win_in).alias("ia"),
        F.sum("cb").over(win_in).alias("ib"),
    )
    btot = g.groupBy("bucket").agg(F.sum("ca").alias("ba"), F.sum("cb").alias("bb"))
    win_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "bucket",
        F.coalesce(F.sum("ba").over(win_b), F.lit(0)).alias("pa"),
        F.coalesce(F.sum("bb").over(win_b), F.lit(0)).alias("pb"),
    )
    d = (
        cum.join(boff, "bucket")
        .select(
            F.abs(
                (F.col("pa") + F.col("ia")) / F.lit(float(na))
                - (F.col("pb") + F.col("ib")) / F.lit(float(nb))
            ).alias("d")
        )
        .agg(F.max("d"))
        .collect()[0][0]
    )
    assert abs(d - best) < 1e-12


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.lists(st.integers(0, 9), min_size=1, max_size=4)),
            st.tuples(st.just("delete"), st.lists(st.integers(0, 9), min_size=1, max_size=3)),
            st.tuples(st.just("compact"), st.just([])),
            st.tuples(st.just("wap"), st.lists(st.integers(0, 9), min_size=1, max_size=4)),
            st.tuples(st.just("expire"), st.just([])),
            st.tuples(st.just("rwm"), st.just([])),
            st.tuples(st.just("cas"), st.lists(st.integers(0, 9), min_size=1, max_size=4)),
            st.tuples(st.just("rollback"), st.integers(1, 6)),
        ),
        min_size=2,
        max_size=6,
    )
)
# rollback past a compaction to a version holding CAS files, which
# live in a directory that names no era
@example(ops=[("cas", [1, 2]), ("delete", [2]), ("compact", []), ("rollback", 3)])
def test_mor_lake_matches_reference_model(spark, tmp_path_factory, ops):
    """Model-based check of the merge-on-read lake: ANY interleaving of
    append / equality-delete / compact / WAP-publish / expiry /
    rewrite-manifests (delete-checkpoint) / CAS / rollback commits
    must read (via read_snapshot_mor) exactly what a sequential
    in-memory model holds — sequence rule, re-inserts, multiset
    semantics (duplicate keys in different appends both survive until
    deleted), compaction materialization, BRANCH-PUBLISHED files (whose
    era comes from the manifest map, not the /data/v<N>/ path — the r10
    ADVICE corruption bug), and delete fold-forward across expiry, all
    at once. Each retained version is time-travel-checked against the
    model's state AT that version; expired versions must RAISE."""
    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path_factory.mktemp("mor_model") / "t")
    # model: list of (key, era) live rows; deletes remove rows with
    # era < delete version; compact rewrites all live rows at era v;
    # wap appends via stage+publish (same model as append — that
    # equivalence IS the property); expire drops versions < cutoff;
    # rollback to t reinstates t's rows with their eras, minus those a
    # delete committed after t outranks
    live: list = []
    states = {}
    snaps = {}  # version -> its live (key, era, rid) rows
    deletes: list = []  # (delete version, doomed keys)
    rid = 0
    version = 0
    horizon = 1  # oldest still-readable version
    first = ops[0][0] == "append"
    if not first:
        ops = [("append", [0, 1])] + ops
    for op, payload in ops:
        if op == "append":
            version += 1
            rows = [(key, rid + i) for i, key in enumerate(payload)]
            rid += len(payload)
            lake.write_snapshot(
                spark,
                spark.createDataFrame(rows, "k int, rid long"),
                path,
            )
            live.extend((key, version, r) for key, r in rows)
        elif op == "delete":
            if version == 0:
                continue
            version += 1
            lake.delete_snapshot(
                spark,
                spark.createDataFrame([(key,) for key in payload], "k int"),
                path,
                ["k"],
            )
            doomed = set(payload)
            deletes.append((version, doomed))
            live = [
                (key, era, r)
                for key, era, r in live
                if not (key in doomed and era < version)
            ]
        elif op == "wap":
            if version == 0:
                continue  # publish_branch needs an existing table
            version += 1
            rows = [(key, rid + i) for i, key in enumerate(payload)]
            rid += len(payload)
            lake.stage_branch(
                spark,
                spark.createDataFrame(rows, "k int, rid long"),
                path,
                "wb",
            )
            got_v = lake.publish_branch(spark, path, "wb")
            assert got_v == version
            live.extend((key, version, r) for key, r in rows)
        elif op == "expire":
            if version < 3:
                continue  # keep_last=2 would be a no-op
            lake.expire_snapshots(spark, path, keep_last=2)
            horizon = max(horizon, version - 1)
            continue  # no new version, state unchanged
        elif op == "rwm":
            if version == 0:
                continue
            version += 1
            out = lake.rewrite_manifests(spark, path)
            assert out["version"] == version
            # metadata-only: live state unchanged; later MoR reads stop
            # their walk at this checkpoint — the equivalence IS the
            # property
        elif op == "cas":
            if version == 0:
                continue  # CAS needs an existing head manifest
            rows = [(key, rid + i) for i, key in enumerate(payload)]
            rid += len(payload)
            got_v = lake.write_snapshot_cas(
                spark,
                spark.createDataFrame(rows, "k int, rid long"),
                path,
                expected_version=version,
            )
            version += 1
            assert got_v == version
            # a CAS commit at the true head IS an append — that
            # equivalence (incl. manifest eras for the vcas_ dir) is
            # the property
            live.extend((key, version, r) for key, r in rows)
        elif op == "rollback":
            if not horizon <= payload <= version:
                continue  # expired or not yet committed
            version += 1
            assert lake.rollback_snapshot(spark, path, payload) == version
            live = [
                (key, era, r)
                for key, era, r in snaps[payload]
                if not any(key in doomed and era < dv for dv, doomed in deletes)
            ]
        else:  # compact
            if version == 0:
                continue
            version += 1
            lake.compact_snapshot(spark, path)
            live = [(key, version, r) for key, _, r in live]
        snaps[version] = list(live)
        states[version] = sorted((key, r) for key, _, r in live)
    for v, expected in states.items():
        if v < horizon:
            with pytest.raises(FileNotFoundError):
                lake.read_snapshot_mor(spark, path, v).collect()
            continue
        got = sorted(
            (r.k, r.rid)
            for r in lake.read_snapshot_mor(spark, path, v).collect()
        )
        assert got == expected, (v, got, expected)


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-5, max_value=15),
            st.sampled_from(["a:b", "a=b", "x y", "", "plain", "a%b"]),
            st.none(),
        ),
        min_size=2,
        max_size=8,
    ),
    st.booleans(),  # partition v2 on the probe column?
)
def test_spec_pruned_read_equals_unpruned_filter(spark, tmp_path_factory, vals, spec_v2):
    """read_snapshot_spec_pruned is a pure OPTIMIZATION: for any mix of
    numeric / Hive-special-character / empty / NULL values — written
    under both an unpartitioned spec (stats fallback) and a partitioned
    one (path matching) — the pruned read returns exactly the rows the
    unpruned filter does, for every distinct probe value."""
    from glamira_end_to_end_data_pipeline_spark.sources import lake

    path = str(tmp_path_factory.mktemp("specp") / "t")
    typed = [(str(v) if v is not None else None, i) for i, v in enumerate(vals)]
    half = len(typed) // 2
    v1 = spark.createDataFrame(typed[:half] or [("seed", -1)], "k string, x int")
    v2 = spark.createDataFrame(typed[half:] or [("seed2", -2)], "k string, x int")
    lake.write_snapshot(spark, v1.coalesce(1), path, stats_cols=["k"])
    lake.write_snapshot(
        spark, v2, path, partition_by=["k"] if spec_v2 else None,
        stats_cols=None if spec_v2 else ["k"],
    )
    table = lake.read_snapshot(spark, path)
    probes = {v if v is None else str(v) for v in vals}
    for probe in probes:
        got, n_read, n_total, _ = lake.read_snapshot_spec_pruned(
            spark, path, "k", probe
        )
        got_rows = sorted(r.x for r in got.collect())
        if probe is None:
            want = sorted(r.x for r in table.filter(table.k.isNull()).collect())
        else:
            want = sorted(r.x for r in table.filter(table.k == probe).collect())
        assert got_rows == want, (probe, got_rows, want, n_read, n_total)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.floats(min_value=0.0, max_value=5000.0, allow_nan=False, width=32),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_quantiles_two_phase_matches_flat_reference(spark, rows):
    """The two-phase bucket-locate-recount weighted quantile equals the
    flat definition (smallest x with den*cumweight >= num*W over the
    value-sorted tie-collapsed series) for ANY weighted multiset —
    including ties, single-bucket groups, and thresholds landing
    exactly on bucket boundaries."""
    from glamira_end_to_end_data_pipeline_spark.operators.exact_stats import (
        weighted_quantiles_two_phase,
    )

    specs = [("q25", 1, 4), ("q50", 1, 2), ("q90", 9, 10)]
    df = spark.createDataFrame(
        [(g, float(x), w) for g, x, w in rows], "g string, x double, w int"
    )
    got = {
        (r.g, r.q): (r.xq, r.w)
        for r in weighted_quantiles_two_phase(
            df, "g", "x", "w", specs, bucket_width=500.0
        ).collect()
    }
    # flat reference
    from collections import defaultdict

    agg = defaultdict(lambda: defaultdict(int))
    for g, x, w in rows:
        agg[g][float(x)] += w
    expected = {}
    for g, vals in agg.items():
        total = sum(vals.values())
        cw = 0
        series = sorted(vals.items())
        for label, qn, qd in specs:
            cw = 0
            for x, w in series:
                cw += w
                if qd * cw >= qn * total:
                    expected[(g, label)] = (x, total)
                    break
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=5000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_gini_bucket_decomposition_matches_direct_ranks(spark, rows):
    """The bucket rank-reconstruction Gini equals the direct
    sorted-rank formula G = 2*sum(r_i x_i)/(n*sum x) - (n+1)/n for any
    non-negative integer multiset (ties included), computed in exact
    integer arithmetic on both sides."""
    from glamira_end_to_end_data_pipeline_spark.operators.exact_stats import (
        gini_index_exact,
    )

    df = spark.createDataFrame(list(rows), "g string, xi long")
    got = {
        r.g: (r.n, r.sx, r.gini) for r in gini_index_exact(df, "g", "xi").collect()
    }
    from collections import defaultdict

    byg = defaultdict(list)
    for g, x in rows:
        byg[g].append(x)
    for g, xs in byg.items():
        xs.sort()
        n = len(xs)
        sx = sum(xs)
        srx = sum((i + 1) * x for i, x in enumerate(xs))
        n_got, sx_got, gini_got = got[g]
        assert (n_got, sx_got) == (n, sx)
        if sx == 0:
            continue  # 0/0 — both sides NaN/None; ordering undefined
        expected = (2.0 * srx) / (float(n) * sx) - (n + 1) / float(n)
        assert abs(gini_got - expected) < 1e-12


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 20), st.integers(0, 6)), max_size=25),
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)), max_size=10),
    st.integers(min_value=0, max_value=7),  # split salt
)
def test_delta_join_rule_reconstitutes_full_join(spark, r_rows, s_rows, salt):
    """First-order delta rule: for ANY split of both sides into
    (initial, delta), V1 u dR><S1 u R1><dS u dR><dS is multiset-equal
    to the full join R><S."""
    from collections import Counter

    r = spark.createDataFrame(
        [(i, k) for i, (_, k) in enumerate(r_rows)] or [(0, -1)],
        "rid int, k int",
    )
    s = spark.createDataFrame(
        [(j, k) for j, (k, _) in enumerate(s_rows)] or [(0, -2)],
        "sid int, k int",
    )
    r1 = r.filter((F.col("rid") + salt) % 2 == 0)
    dr = r.filter((F.col("rid") + salt) % 2 == 1)
    s1 = s.filter((F.col("sid") + salt) % 3 == 0)
    ds = s.filter((F.col("sid") + salt) % 3 != 0)

    def j(a, b):
        return a.join(b, "k").select("k", "rid", "sid")

    inc = (
        j(r1, s1)
        .unionByName(j(dr, s1))
        .unionByName(j(r1, ds))
        .unionByName(j(dr, ds))
    )
    full = j(r, s)
    assert Counter(map(tuple, inc.collect())) == Counter(
        map(tuple, full.collect())
    )


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-2000, max_value=5000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_values_at_ranks_matches_flat_sort(spark, rows):
    """values_at_ranks' two-phase bucket locate equals the flat sorted
    definition (x_at = the rk-th smallest, cnt_lt/sum_lt over strictly
    smaller values) for ANY integer multiset and any in-range rank —
    including ties at the located value, negative values, ranks landing
    on bucket boundaries, and single-value groups."""
    from collections import defaultdict

    from glamira_end_to_end_data_pipeline_spark.operators.exact_stats import (
        values_at_ranks,
    )

    by_g = defaultdict(list)
    for g, x in rows:
        by_g[g].append(x)
    rank_rows = []
    for g, xs in by_g.items():
        n = len(xs)
        for label, rk in (("first", 1), ("third", (n + 2) // 3), ("last", n)):
            rank_rows.append((g, label, max(1, rk)))
    df = spark.createDataFrame(rows, "g string, x long")
    ranks = spark.createDataFrame(rank_rows, "g string, label string, rk long")
    got = {
        (r.g, r.label): (r.x_at, r.cnt_lt, r.sum_lt)
        for r in values_at_ranks(df, "g", "x", ranks, bucket_width=500.0).collect()
    }
    expected = {}
    for g, label, rk in rank_rows:
        xs = sorted(by_g[g])
        x_at = xs[rk - 1]
        below = [v for v in xs if v < x_at]
        expected[(g, label)] = (x_at, len(below), sum(below))
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1000.0, max_value=1000.0, allow_nan=False, width=32),
        min_size=1,
        max_size=50,
    )
)
def test_exclusive_prefix_over_values_matches_flat_cumsum(spark, xs):
    """The bucket-partitioned exclusive prefix equals the flat sorted
    exclusive cumulative count for ANY multiset — ties collapse to one
    row carrying the count of strictly-smaller values, values landing
    exactly on bucket boundaries included (floor(x/width) edges)."""
    from collections import Counter

    from glamira_end_to_end_data_pipeline_spark.operators.exact_stats import (
        exclusive_prefix_over_values,
    )

    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    g = df.groupBy("x").agg(F.count(F.lit(1)).alias("cnt"))
    got = {
        r.x: (r.cnt, r.prior)
        for r in exclusive_prefix_over_values(g, "x", "cnt", 250.0).collect()
    }
    counts = Counter(float(x) for x in xs)
    run = 0
    expected = {}
    for v in sorted(counts):
        expected[v] = (counts[v], run)
        run += counts[v]
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=60),
        min_size=1,
        max_size=60,
    )
)
def test_pointer_jump_roots_matches_flat_walk(spark, raw):
    """Path doubling equals the flat parent walk on ANY forest —
    including multi-root forests, long chains, and star shapes. The
    fixture guarantees acyclicity by drawing parent(i) < i (node 0 and
    any i with draw ≥ i become roots), and the round count must stay
    logarithmic in the longest chain."""
    import math

    from glamira_end_to_end_data_pipeline_spark.operators.graph import (
        pointer_jump_roots,
    )

    parent = {}
    for i, draw in enumerate(raw):
        parent[i] = draw if draw < i else i
    df = spark.createDataFrame(
        list(parent.items()), "node long, parent long"
    )
    got_df, rounds = pointer_jump_roots(df)
    got = {r.node: (r.root, r.depth) for r in got_df.collect()}
    expected = {}
    maxdepth = 0
    for i in parent:
        cur, d = i, 0
        while parent[cur] != cur:
            cur, d = parent[cur], d + 1
        expected[i] = (cur, d)
        maxdepth = max(maxdepth, d)
    assert got == expected
    # doubling signature: rounds ≤ ceil(log2(depth)) + 2 slack
    bound = (math.ceil(math.log2(maxdepth)) if maxdepth > 1 else 1) + 2
    assert rounds <= bound, (rounds, maxdepth)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),   # key
            st.integers(min_value=0, max_value=99),   # val
            st.sampled_from(["a", "b"]),              # partition
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda r: r[0],
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda r: r[0],
    ),
)
def test_merge_multi_clause_matches_model(spark, tmp_path_factory, base_rows, src_rows):
    """merge_into_multi_clause equals a flat in-memory model for ANY
    base/source keyed row sets under a fixed clause program:
    WHEN MATCHED AND s.val > t.val THEN UPDATE,
    WHEN MATCHED AND t.val < 20 THEN DELETE,
    WHEN NOT MATCHED AND s.val > 50 THEN INSERT,
    WHEN NOT MATCHED BY SOURCE AND t.part = 'a' THEN DELETE —
    first-true-wins ordering, source rows keep the target's partition
    contract (source carries its key's current partition when
    matched)."""
    from glamira_end_to_end_data_pipeline_spark.sources import lake

    if not base_rows and not src_rows:
        return
    base_map = {k: (v, p) for k, v, p in base_rows}
    # matched source rows must carry the key's CURRENT partition (the
    # documented cross-partition contract); unmatched pick 'b'
    src_map = {
        k: (v, base_map[k][1] if k in base_map else "b")
        for k, v in src_rows
    }
    path = str(tmp_path_factory.mktemp("mergeprop") / "tab")
    if base_rows:
        lake.write_partitioned(
            spark.createDataFrame(
                [(k, float(v), p) for k, (v, p) in base_map.items()],
                "k long, val double, part string",
            ),
            path,
            ["part"],
        )
    else:
        lake.write_partitioned(
            spark.createDataFrame([], "k long, val double, part string"),
            path,
            ["part"],
        )
    src = spark.createDataFrame(
        [(k, float(v), p) for k, (v, p) in src_map.items()],
        "k long, val double, part string",
    )
    lake.merge_into_multi_clause(
        spark,
        path,
        src,
        key_cols=["k"],
        partition_col="part",
        when_matched=[("s.val > t.val", "update"), ("t.val < 20", "delete")],
        when_not_matched="s.val > 50",
        when_not_matched_by_source_delete="t.part = 'a'",
    )
    try:
        got = {
            r.k: (r.val, r.part)
            for r in lake.read_partitioned(spark, path).collect()
        }
    except Exception:
        got = {}  # table still empty: nothing committed, nothing to read
    expected = {}
    for k, (v, p) in base_map.items():
        if k in src_map:
            sv = src_map[k][0]
            if sv > v:
                expected[k] = (float(sv), p)
            elif v < 20:
                pass
            else:
                expected[k] = (float(v), p)
        else:
            if p != "a":
                expected[k] = (float(v), p)
    for k, (sv, sp) in src_map.items():
        if k not in base_map and sv > 50:
            expected[k] = (float(sv), sp)
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=40),
                        st.integers(min_value=0, max_value=9),
                    ),
                    min_size=1,
                    max_size=6,
                ),
            ),
            st.tuples(
                st.just("delete"),
                st.integers(min_value=0, max_value=9),
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_posdelete_matches_reference_model(spark, tmp_path_factory, ops):
    """Positional deletes equal an in-memory multiset model under
    RANDOM append/delete interleavings: a delete tombstones exactly the
    CURRENTLY-live rows matching the predicate (val == probe), and rows
    appended later always survive earlier deletes even when they match
    — the file-scoped-tombstone law, exercised across arbitrary op
    orders and duplicate (key, val) rows in distinct commits."""
    from glamira_end_to_end_data_pipeline_spark.sources import posdelete

    path = str(tmp_path_factory.mktemp("posprop") / "ptab")
    live = []  # model: list of (k, val) multiset of live rows
    seq = 0
    wrote = False
    for op, arg in ops:
        if op == "append":
            rows = [
                (seq * 1000 + i, k % 3, k, v)
                for i, (k, v) in enumerate(arg)
            ]
            seq += 1
            df = spark.createDataFrame(
                rows, "rid long, grp long, k long, val long"
            )
            posdelete.write_data(spark, df, path, "grp", "rid")
            live.extend((k, v) for k, v in arg)
            wrote = True
        elif wrote:
            n = posdelete.position_delete(
                spark, path, F.col("val") == int(arg)
            )
            assert n == sum(1 for _, v in live if v == arg)
            live = [(k, v) for k, v in live if v != arg]
    if not wrote:
        return
    got = sorted(
        (r.k, r.val) for r in posdelete.read_mor(spark, path).collect()
    )
    assert got == sorted(live)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=40),
                        st.integers(min_value=0, max_value=9),
                    ),
                    min_size=1,
                    max_size=6,
                ),
            ),
            st.tuples(
                st.just("delete"),
                st.integers(min_value=0, max_value=9),
            ),
            st.tuples(st.just("compact"), st.just(0)),
        ),
        min_size=1,
        max_size=7,
    )
)
def test_deletion_vectors_match_reference_model(spark, tmp_path_factory, ops):
    """Deletion-vector compaction is INVISIBLE to reads: under random
    append/delete/COMPACT interleavings the DV-aware read equals the
    same in-memory multiset model as the uncompacted positional-delete
    law (file-scoped tombstones, later appends survive earlier
    deletes). Compaction at ANY point — before deletes, between them,
    repeatedly, or never — must not change a single visible row."""
    from glamira_end_to_end_data_pipeline_spark.sources import posdelete

    path = str(tmp_path_factory.mktemp("dvprop") / "dvtab")
    live = []
    seq = 0
    wrote = False
    for op, arg in ops:
        if op == "append":
            rows = [
                (seq * 1000 + i, k % 3, k, v)
                for i, (k, v) in enumerate(arg)
            ]
            seq += 1
            df = spark.createDataFrame(
                rows, "rid long, grp long, k long, val long"
            )
            posdelete.write_data(spark, df, path, "grp", "rid")
            live.extend((k, v) for k, v in arg)
            wrote = True
        elif op == "delete" and wrote:
            # position_delete's live set is the DV-aware read (a delete
            # issued after a compaction must not re-tombstone rows whose
            # (file, pos) moved into dv/) — pinned by the count assert
            victims = (
                posdelete.read_mor_dv(spark, path)
                .filter(F.col("val") == int(arg))
                .count()
            )
            assert victims == sum(1 for _, v in live if v == arg)
            live = [(k, v) for k, v in live if v != arg]
            n = posdelete.position_delete(
                spark, path, F.col("val") == int(arg)
            )
            assert n == victims
        elif op == "compact" and wrote:
            posdelete.compact_to_deletion_vectors(spark, path)
    if not wrote:
        return
    got = sorted(
        (r.k, r.val) for r in posdelete.read_mor_dv(spark, path).collect()
    )
    assert got == sorted(live)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=40),
                        st.integers(min_value=0, max_value=9),
                    ),
                    min_size=1,
                    max_size=6,
                ),
            ),
            st.tuples(
                st.just("delete"),
                st.integers(min_value=0, max_value=9),
            ),
            st.tuples(st.just("compact"), st.just(0)),
            st.tuples(
                st.just("merge"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=40),
                        st.integers(min_value=100, max_value=109),
                    ),
                    min_size=1,
                    max_size=5,
                ),
            ),
        ),
        min_size=1,
        max_size=7,
    )
)
def test_merge_mor_matches_reference_model(spark, tmp_path_factory, ops):
    """MoR MERGE joins the multiset model: under random
    append/delete/compact/MERGE interleavings, a merge upserts by key —
    EVERY live copy of a merged key dies (as DV bits after the fold)
    and the source rows (distinct val range, so they are tellable from
    appends) land as new files; deletes and compaction keep their laws
    around it. The visible table must equal the sequential model at
    every end state, and merge must never touch a pre-existing file."""
    from glamira_end_to_end_data_pipeline_spark.sources import posdelete

    path = str(tmp_path_factory.mktemp("mmprop") / "mmtab")
    live = []
    seq = 0
    wrote = False
    for op, arg in ops:
        if op == "append":
            rows = [
                (seq * 1000 + i, k % 3, k, v)
                for i, (k, v) in enumerate(arg)
            ]
            seq += 1
            df = spark.createDataFrame(
                rows, "rid long, grp long, k long, val long"
            )
            posdelete.write_data(spark, df, path, "grp", "rid")
            live.extend((k, v) for k, v in arg)
            wrote = True
        elif op == "delete" and wrote:
            n = posdelete.position_delete(
                spark, path, F.col("val") == int(arg)
            )
            assert n == sum(1 for _, v in live if v == arg)
            live = [(k, v) for k, v in live if v != arg]
        elif op == "compact" and wrote:
            posdelete.compact_to_deletion_vectors(spark, path)
        elif op == "merge" and wrote:
            rows = [
                (seq * 1000 + i, k % 3, k, v)
                for i, (k, v) in enumerate(arg)
            ]
            seq += 1
            before = dict(posdelete._list_data_files_sized(spark, path))
            df = spark.createDataFrame(
                rows, "rid long, grp long, k long, val long"
            )
            n_matched, n_src = posdelete.merge_mor(
                spark, path, df, "k", "grp", "rid"
            )
            keys = {k for k, _ in arg}
            assert n_matched == sum(1 for k, _ in live if k in keys)
            assert n_src == len(arg)
            after = dict(posdelete._list_data_files_sized(spark, path))
            assert set(before) <= set(after)
            assert all(after[f] == sz for f, sz in before.items())
            live = [(k, v) for k, v in live if k not in keys]
            live.extend(arg)
    if not wrote:
        return
    got = sorted(
        (r.k, r.val) for r in posdelete.read_mor_dv(spark, path).collect()
    )
    assert got == sorted(live)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_boruvka_mst_matches_kruskal_model(spark, edges_raw):
    """Borůvka equals an in-memory union-find KRUSKAL on ANY random
    graph shape (self-loops dropped, parallel edges collapsed,
    disconnected inputs allowed — both produce the minimum spanning
    FOREST): with md5-derived distinct weights the MSF is unique, so
    the two greedy orders must pick the identical edge set."""
    import hashlib

    from glamira_end_to_end_data_pipeline_spark.operators.graph import (
        boruvka_mst,
    )

    canon = sorted(
        {(min(u, v), max(u, v)) for u, v in edges_raw if u != v}
    )
    if not canon:
        return
    weighted = []
    seen_w = set()
    for u, v in canon:
        w = (
            int(hashlib.md5(f"prop:{u}:{v}".encode()).hexdigest()[:15], 16)
            % 100000
        )
        assert w not in seen_w, "md5 weight collision in property fixture"
        seen_w.add(w)
        weighted.append((u, v, w))

    # model: Kruskal with union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    expected = []
    for u, v, w in sorted(weighted, key=lambda t: t[2]):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            expected.append((u, v, w))

    df = spark.createDataFrame(weighted, "u long, v long, w long")
    mst, rounds = boruvka_mst(df)
    got = sorted((r.u, r.v, r.w) for r in mst.collect())
    assert got == sorted(expected)
    assert rounds <= 5  # ceil(log2(15)) + margin


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=9),   # bucket count n_i
            st.integers(min_value=0, max_value=9),   # positives s_i <= n_i later
        ),
        min_size=1,
        max_size=8,
    )
)
def test_isotonic_minimax_matches_pava_model(spark, buckets):
    """The registry's minimax isotonic construction (prefix sums + two
    bounded inequality joins + min_by/max_by) equals the sequential
    pool-adjacent-violators reference on ANY bucket profile — the
    equivalence the entry's derivation rests on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    data = [(i, n, min(s, n)) for i, (n, s) in enumerate(buckets)]

    # reference: classic PAVA stack over (weight, sum)
    stack = []
    for _, n, s in data:
        stack.append([n, s])
        while len(stack) > 1 and (
            stack[-2][1] * stack[-1][0] > stack[-1][1] * stack[-2][0]
        ):
            b = stack.pop()
            stack[-1][0] += b[0]
            stack[-1][1] += b[1]
    # expand block means back to per-bucket values (half-up integer ppm)
    expected = []
    idx = 0
    remaining = data[:]
    for n_blk, s_blk in stack:
        ppm = (2_000_000 * s_blk + n_blk) // (2 * n_blk)
        acc = 0
        while acc < n_blk:
            acc += remaining[idx][1]
            expected.append(ppm)
            idx += 1

    g = spark.createDataFrame(data, "b long, n long, s long")
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    p = g.select(
        "b", "n", "s",
        F.sum("n").over(w).alias("ni"), F.sum("s").over(w).alias("si"),
    )
    jx = p.select(
        F.col("b").alias("j"),
        (F.col("ni") - F.col("n")).alias("nxj"),
        (F.col("si") - F.col("s")).alias("sxj"),
    )
    kx = p.select(
        F.col("b").alias("k"), F.col("ni").alias("nk"), F.col("si").alias("sk")
    )
    t = (
        p.select(F.col("b").alias("i"))
        .join(F.broadcast(jx), F.col("j") <= F.col("i"))
        .join(F.broadcast(kx), F.col("k") >= F.col("i"))
        .select(
            "i", "j",
            (F.col("sk") - F.col("sxj")).alias("num"),
            (F.col("nk") - F.col("nxj")).alias("den"),
            ((F.col("sk") - F.col("sxj")) / (F.col("nk") - F.col("nxj"))).alias("frac"),
        )
    )
    m1 = t.groupBy("i", "j").agg(
        F.min("frac").alias("fmin"),
        F.min_by("num", "frac").alias("mnum"),
        F.min_by("den", "frac").alias("mden"),
    )
    m2 = m1.groupBy("i").agg(
        F.max_by("mnum", "fmin").alias("wnum"),
        F.max_by("mden", "fmin").alias("wden"),
    )
    got = [
        r.ppm
        for r in m2.select(
            "i",
            F.expr("CAST((2000000 * wnum + wden) DIV (2 * wden) AS BIGINT)").alias("ppm"),
        )
        .orderBy("i")
        .collect()
    ]
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=40),
                        st.integers(min_value=0, max_value=9),
                    ),
                    min_size=1,
                    max_size=6,
                ),
            ),
            st.tuples(
                st.just("delete"),
                st.integers(min_value=0, max_value=9),
            ),
            st.tuples(st.just("compact"), st.just(0)),
            st.tuples(st.just("rewrite"), st.just(0)),
        ),
        min_size=1,
        max_size=7,
    ),
    st.integers(min_value=0, max_value=9),
    st.integers(min_value=0, max_value=9),
)
def test_dv_pruned_read_matches_model_under_zorder_layout(
    spark, tmp_path_factory, ops, a, b
):
    """The COMPOSED read path (lake_dv_zorder_read's machinery) under
    random append/delete/compact interleavings WITH the z-order layout
    step: appends are laid out by an interleaved-bits (k, val) file
    grouping (each file a compact 2-D rectangle), per-file min/max
    metrics are collected, and the file-pruned DV-aware read over a
    random [lo, hi] val range — rows re-filtered to the range, since
    file pruning is a superset filter — must equal the in-memory model
    restricted to the range, at every interleaving point. Also pins
    n_read <= n_total and that every in-range model row survives."""
    from glamira_end_to_end_data_pipeline_spark.sources import posdelete

    path = str(tmp_path_factory.mktemp("dvzprop") / "zt")
    live = []
    seq = 0
    wrote = False
    for op, arg in ops:
        if op == "append":
            rows = [
                # 2-bit interleave of (k, val) high bits = the z-order
                # file grouping: files cover compact (k, val) rectangles
                (
                    seq * 1000 + i,
                    ((k >> 4) & 1) * 8
                    + ((v >> 3) & 1) * 4
                    + ((k >> 3) & 1) * 2
                    + ((v >> 2) & 1),
                    k,
                    v,
                )
                for i, (k, v) in enumerate(arg)
            ]
            seq += 1
            df = spark.createDataFrame(
                rows, "rid long, grp long, k long, val long"
            )
            posdelete.write_data(spark, df, path, "grp", "rid")
            live.extend((k, v) for k, v in arg)
            wrote = True
        elif op == "delete" and wrote:
            n = posdelete.position_delete(
                spark, path, F.col("val") == int(arg)
            )
            assert n == sum(1 for _, v in live if v == arg)
            live = [(k, v) for k, v in live if v != arg]
        elif op == "compact" and wrote:
            posdelete.compact_to_deletion_vectors(spark, path)
        elif op == "rewrite" and wrote:
            # MoR->COW file rewrite at ANY interleaving point: live
            # rows unchanged, all tombstone/stats metadata reset
            n = posdelete.rewrite_compact(spark, path, "grp", "rid")
            assert n == len(live)
    if not wrote:
        return
    lo, hi = min(a, b), max(a, b)
    posdelete.collect_file_stats(spark, path, ["val"])
    pruned, n_read, n_total = posdelete.read_mor_dv_pruned(
        spark, path, "val", lo, hi
    )
    assert 0 <= n_read <= n_total
    got = sorted(
        (r.k, r.val)
        for r in pruned.filter(
            (F.col("val") >= lo) & (F.col("val") <= hi)
        ).collect()
    )
    assert got == sorted((k, v) for k, v in live if lo <= v <= hi)


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2), min_size=30, max_size=30
    ),
    st.integers(min_value=2, max_value=7),
)
def test_incremental_star_fact_equals_full_rebuild(
    spark, tmp_path_factory, assign, late_mod
):
    """star_fact_sales_order_incremental's load-splitting law, under
    RANDOM splits: dates are assigned arbitrarily to three loads, and
    a late slice (event_id % m == 0) of the first load's earliest date
    is withheld until the LAST load — after all incremental runs
    (insert-overwrite of exactly the touched date partitions, dims
    derived per-slice) the fact must equal the one-shot full build
    row-for-row. This is the property the graded entry fixes one split
    of; here the split itself is adversarial."""
    import datetime as dt

    from glamira_end_to_end_data_pipeline_spark.plans.r13_queries import (
        _incremental_fact_run,
    )
    from glamira_end_to_end_data_pipeline_spark.plans.star_queries import (
        _events,
    )
    from glamira_end_to_end_data_pipeline_spark.plans import models
    from glamira_end_to_end_data_pipeline_spark.plans.star_queries import (
        ip_locations_from_events,
        product_details_from_events,
        summary_from_events,
    )
    from tests.conftest import SF_SMALL

    base = str(tmp_path_factory.mktemp("starprop"))
    src_path = f"{base}/staging"
    fact_path = f"{base}/fact"

    events = _events(spark, SF_SMALL).withColumn(
        "event_date", F.to_date("ts")
    )
    b = events.agg(F.min("event_date").alias("lo")).collect()[0]
    dates = [b["lo"] + dt.timedelta(days=i) for i in range(30)]
    loads_dates = {i: [d for d, a in zip(dates, assign) if a == i] for i in range(3)}
    # the late slice: first load-0 date's (event_id % late_mod == 0)
    # rows arrive with the LAST nonempty load
    last_load = max(i for i in range(3) if loads_dates[i]) if any(
        loads_dates.values()
    ) else 0
    # the late slice only exists when a LATER load can deliver it —
    # when load 0 is the only (or last) nonempty load, its rows are
    # simply on time
    late_day = (
        loads_dates[0][0] if loads_dates[0] and last_load != 0 else None
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        for i in range(3):
            ds = loads_dates[i]
            sel = events.filter(F.col("event_date").isin(ds)) if ds else None
            if late_day is not None:
                late = (F.col("event_date") == F.lit(late_day)) & (
                    F.col("event_id") % late_mod == 0
                )
                if sel is not None:
                    sel = sel.filter(~late) if i != last_load else sel
                if i == last_load:
                    late_rows = events.filter(late)
                    sel = (
                        sel.unionByName(late_rows)
                        if sel is not None
                        else late_rows
                    )
            if sel is None:
                continue
            touched = sorted(
                r[0] for r in sel.select("event_date").distinct().collect()
            )
            if not touched:
                continue
            sel.repartition("event_date").write.mode("append").partitionBy(
                "event_date"
            ).parquet(src_path)
            _incremental_fact_run(
                spark, src_path, fact_path, touched, expect_pruning=False
            )
    finally:
        spark.conf.set(mode_key, prev)

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(fact_path).drop("event_date").collect()
    )
    full_stg = models.stg_summary(summary_from_events(events))
    want_df = models.fact_sales_order(
        full_stg,
        models.dim_product(product_details_from_events(events)),
        models.dim_customer(full_stg),
        models.dim_location(ip_locations_from_events(events)),
        models.dim_date(models.stg_summary_date_range(full_stg)),
        models.dim_session_context(full_stg),
    )
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want
