"""Seeded input generator for the benchmark.

Every table is written as one Parquet file in the ``read_table`` layout
(``<dir>/<name>.parquet``) with the column names and types of the repo's
test data (events / documents / embeddings).  The same (seed, knobs) gives
byte-identical files: the values come from one ``numpy`` PCG64 stream per
table, the Arrow tables are built without pandas metadata, and the writer
settings are pinned.

Files are cached under ``<cache_dir>/<table>-s<seed>-<knob digest>/`` so a
second run with the same seed and size reuses them.  Generation time is
never part of a metric: callers time only the package's work.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic knobs per table.  Each workload adds its sizes (events: ``rows``,
# ``users``; documents: ``docs``; embeddings: ``vectors``, ``queries``); the
# knobs that reach a file are recorded in the run record.
EVENTS_KNOBS = {
    "user_zipf_a": 1.3,  # key skew of user_id (so customer, ip, session keys)
    "days": 60,
}
DOCS_KNOBS = {
    "vocab": 4_000,
    "word_zipf_a": 1.15,  # word frequency skew
    "min_words": 8,
    "max_words": 160,
}
EMB_KNOBS = {
    "dim": 64,
    "clusters": 16,
    "spread": 0.35,  # within-cluster noise relative to the unit centres
}

_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_STOPWORDS = ("the", "a", "of", "and", "to", "is", "in")
_LANGS = ("en", "de", "fr", "es", "zh")
_T0 = dt.datetime(2024, 1, 1)


def _rng(seed: int, table: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{table}:{seed}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table,
        path,
        compression="snappy",
        use_dictionary=True,
        write_statistics=True,
        row_group_size=1 << 20,
    )


def _bounded_zipf(rng: np.random.Generator, a: float, n: int, size: int) -> np.ndarray:
    """Ranks in [0, n) with P(rank r) ∝ (r+1)^-a (exact inverse-CDF draw)."""
    w = np.arange(1, n + 1, dtype=np.float64) ** -a
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"), n - 1)


def events_table(seed: int, knobs: dict) -> pa.Table:
    """Clickstream in the ``events`` schema.  ``user_id`` ranks are Zipf
    skewed and then shuffled over the id space, so the hot users are not
    the low ids (``user_id % 5 == 0`` means "anonymous" downstream)."""
    rng = _rng(seed, "events")
    n, users = knobs["rows"], knobs["users"]
    perm = rng.permutation(users)
    user_id = perm[_bounded_zipf(rng, knobs["user_zipf_a"], users, n)].astype(np.int64)
    span_us = knobs["days"] * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n, dtype=np.int64))
    ts = np.datetime64(_T0, "us") + offs.astype("timedelta64[us]")
    # cents-exact prices in [0.01, 999.99]: both engines print them alike
    cents = np.clip(np.round(rng.lognormal(8.0, 1.0, n)), 1, 99_999).astype(np.int64)
    kinds = rng.integers(0, len(_EVENT_TYPES), n)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array([_EVENT_TYPES[k] for k in kinds], type=pa.string()),
            "value": pa.array(cents / 100.0),
            "props": pa.array(props, type=pa.string()),
        }
    )


def _vocab(size: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = list(_STOPWORDS)
    i = 0
    while len(out) < size:
        j, w = i, ""
        while True:
            w = letters[j % 26] + w
            j //= 26
            if j == 0:
                break
        if w not in _STOPWORDS:
            out.append("w" + w)
        i += 1
    return out[:size]


def documents_table(seed: int, knobs: dict) -> pa.Table:
    """Word-soup corpus in the ``documents`` schema.  Doc ids stay below
    100000: the curation entry offsets injected duplicates by +100000 and
    +200000.  Some documents get digits and punctuation so the quality
    filter keeps and drops a mix."""
    n = knobs["docs"]
    if n >= 100_000:
        raise ValueError("documents: doc ids must stay below 100000")
    rng = _rng(seed, "documents")
    vocab = np.array(_vocab(knobs["vocab"]), dtype=object)
    lens = rng.integers(knobs["min_words"], knobs["max_words"] + 1, n)
    words = vocab[_bounded_zipf(rng, knobs["word_zipf_a"], len(vocab), int(lens.sum()))]
    noisy = rng.random(n) < 0.15
    texts, pos = [], 0
    for i in range(n):
        toks = list(words[pos : pos + lens[i]])
        pos += lens[i]
        if noisy[i]:
            toks = [f"{t}{k % 10}!?" if k % 3 == 0 else t for k, t in enumerate(toks)]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([_LANGS[k] for k in rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _mixture(rng, centres: np.ndarray, n: int, spread: float):
    label = rng.integers(0, len(centres), n)
    x = centres[label] + spread * rng.standard_normal((n, centres.shape[1]))
    return x.astype(np.float32), label.astype(np.int32)


def _emb_table(ids: np.ndarray, x: np.ndarray, label: np.ndarray) -> pa.Table:
    dim = x.shape[1]
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (len(ids) + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label),
        }
    )


def embeddings_tables(seed: int, knobs: dict) -> tuple[pa.Table, pa.Table]:
    """Clustered unit-centre Gaussian mixture in the ``embeddings`` schema,
    plus a query set drawn from the same mixture (ids after the corpus)."""
    rng = _rng(seed, "embeddings")
    dim = knobs["dim"]
    centres = rng.standard_normal((knobs["clusters"], dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    sd = knobs["spread"] / dim**0.5  # noise vector norm ≈ spread
    x, lab = _mixture(rng, centres, knobs["vectors"], sd)
    q, qlab = _mixture(rng, centres, knobs["queries"], sd)
    n = knobs["vectors"]
    return (
        _emb_table(np.arange(n), x, lab),
        _emb_table(np.arange(n, n + knobs["queries"]), q, qlab),
    )


def _cached(cache_dir: str, kind: str, seed: int, knobs: dict, build) -> str:
    digest = hashlib.sha256(json.dumps(knobs, sort_keys=True).encode()).hexdigest()[:12]
    out = os.path.join(cache_dir, f"{kind}-s{seed}-{digest}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(knobs, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    _prune(cache_dir, keep=12)
    return out


def _prune(cache_dir: str, keep: int) -> None:
    """Bound the cache: keep only the ``keep`` most recently built inputs."""
    entries = [
        os.path.join(cache_dir, e)
        for e in os.listdir(cache_dir)
        if os.path.exists(os.path.join(cache_dir, e, "_DONE"))
    ]
    entries.sort(key=lambda p: os.path.getmtime(os.path.join(p, "_DONE")))
    for old in entries[:-keep]:
        shutil.rmtree(old, ignore_errors=True)


def events_dir(cache_dir: str, seed: int, knobs: dict) -> str:
    return _cached(
        cache_dir,
        "events",
        seed,
        knobs,
        lambda d: _write(events_table(seed, knobs), os.path.join(d, "events.parquet")),
    )


def chunked_events_dir(cache_dir: str, seed: int, knobs: dict, chunk_rows: int, chunks: int) -> str:
    """Base events plus ``chunks`` landing files of ``chunk_rows`` events
    each (consecutive event-id slices of the base table, so every key a
    chunk carries is covered by dims built from the base)."""

    def build(d: str) -> None:
        base = events_table(seed, knobs)
        _write(base, os.path.join(d, "events.parquet"))
        for j in range(chunks):
            cd = os.path.join(d, f"chunk_{j:03d}")
            os.makedirs(cd)
            _write(base.slice(j * chunk_rows, chunk_rows), os.path.join(cd, "events.parquet"))

    full = dict(knobs, chunk_rows=chunk_rows, chunks=chunks)
    if chunk_rows * chunks > knobs["rows"]:
        raise ValueError("chunks exceed the base events")
    return _cached(cache_dir, "chunked", seed, full, build)


def documents_dir(cache_dir: str, seed: int, knobs: dict) -> str:
    return _cached(
        cache_dir,
        "documents",
        seed,
        knobs,
        lambda d: _write(documents_table(seed, knobs), os.path.join(d, "documents.parquet")),
    )


def embeddings_dir(cache_dir: str, seed: int, knobs: dict) -> str:
    def build(d: str) -> None:
        corpus, queries = embeddings_tables(seed, knobs)
        _write(corpus, os.path.join(d, "embeddings.parquet"))
        os.makedirs(os.path.join(d, "queries"))
        _write(queries, os.path.join(d, "queries", "embeddings.parquet"))

    return _cached(cache_dir, "embeddings", seed, knobs, build)
