"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

``generate``       seeded inputs (untimed, cached)
``prepare``        one-time preparation after session start (timed as set-up)
``after_prepare``  untimed preparation of the checks (exact answers) and,
                   in a traced run, of the trace's counts
``begin``          before each segment of operations
``op``             one operation of the closed loop (timed); returns input rows
``after_op``       untimed bookkeeping of the operation's output
``done``           True where the run may stop measuring (episode boundary)
``check``          every output check, after the measurement; returns
                   (operations that failed, [(check name, ok, detail)])

Only the package's public functions are called.  In a traced segment the
tracer has wrapped the module attributes those functions call, so the same
code runs with spans around every layer.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import gen

from glamira_end_to_end_data_pipeline_spark.operators import dedup, similarity, text
from glamira_end_to_end_data_pipeline_spark.plans import ORACLES, QUERIES, models, northstar_queries
from glamira_end_to_end_data_pipeline_spark.plans import star_queries as sq
from glamira_end_to_end_data_pipeline_spark.sources import lake, read_table
from glamira_end_to_end_data_pipeline_spark.testing import canonicalize

MODELS = (
    "stg_summary",
    "stg_summary_date_range",
    "dim_customer",
    "dim_location",
    "dim_product",
    "dim_session_context",
    "dim_date",
    "fact_sales_order",
)
DIMS = ("dim_product", "dim_customer", "dim_location", "dim_date", "dim_session_context")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _parquet_view(con, name: str, files: list[str]) -> None:
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet({files!r})"
    )


class Workload:
    """Defaults of the life cycle; each workload overrides what it needs."""

    setups = 3  # set-up rounds; setup_s is their median
    warmup_ops = 1
    min_ops = 1

    def after_prepare(self, spark, traced: bool) -> None:
        pass

    def begin(self) -> None:
        pass

    def trace_counts(self, n_ops: int) -> dict:
        return {}

    def done(self) -> bool:
        return True

    def extra(self) -> dict:
        return {}


class StarMicrobatch(Workload):
    """Chunks land one at a time against prebuilt dims; dashboard reads."""

    name = "star_microbatch"
    why = (
        "tiny chunks through the star models plus lake commits, reads and "
        "compaction: per-job overhead and lake metadata dominate"
    )
    knobs = dict(gen.EVENTS_KNOBS, rows=20_000, users=4_000)
    chunk_rows = 1_000
    chunks = 8  # K: commits per episode; each episode starts from an empty lake
    compact_every = 8  # a compact_snapshot commit after every N appends
    # The warm-up is a whole episode in a throwaway lake, so the timed
    # episode runs every path (compaction too) with the JIT already warm.
    warmup_ops = chunks
    min_ops = chunks

    def generate(self, cache: str, seed: int) -> dict:
        self.dir = gen.chunked_events_dir(cache, seed, self.knobs, self.chunk_rows, self.chunks)
        self.chunk_bytes = [os.path.getsize(self._chunk_file(j)) for j in range(self.chunks)]
        return dict(
            self.knobs,
            chunk_rows=self.chunk_rows,
            chunks_per_episode=self.chunks,
            compact_every=self.compact_every,
        )

    def _chunk_file(self, j: int) -> str:
        return os.path.join(self.dir, f"chunk_{j:03d}", "events.parquet")

    def _star_inputs(self, tr, spark):
        ev = tr.call("sources.tables.read_table", read_table, spark, self.dir, "events")
        return (
            tr.call("plans.star_queries.summary_from_events", sq.summary_from_events, ev),
            tr.call("plans.star_queries.ip_locations_from_events", sq.ip_locations_from_events, ev),
            tr.call(
                "plans.star_queries.product_details_from_events",
                sq.product_details_from_events,
                ev,
            ),
        )

    def prepare(self, spark, tr, work: str) -> None:
        """Build the dims once from the base events (dbt ``table`` models)."""
        self.work = work
        star = models.build_star(*self._star_inputs(tr, spark))
        dims_dir = os.path.join(work, "dims")
        shutil.rmtree(dims_dir, ignore_errors=True)
        self.dims = {}
        for d in DIMS:
            star[d].write.parquet(os.path.join(dims_dir, d))
            self.dims[d] = spark.read.parquet(os.path.join(dims_dir, d))
        self.episode = -1
        self.j = self.chunks - 1
        self.results: list[tuple[int, dict]] = []  # (chunks landed, revenue per date_key)
        self.lakes: list[str] = []
        self.files_per_read: list[int] = []

    def begin(self) -> None:
        self.j = self.chunks - 1  # the next operation opens a new, empty lake

    def trace_hooks(self, tr) -> None:
        for m in MODELS:
            tr.wrap(models, m, f"plans.models.{m}")
        for fn in ("write_snapshot", "read_snapshot", "compact_snapshot"):
            tr.wrap(lake, fn, f"sources.lake.{fn}")

    def trace_counts(self, n_ops: int) -> dict:
        # A traced read returns a persisted frame, which lists no input
        # files: count them over the untraced episode before it instead.
        files = self.files_per_read[:-n_ops]
        return {
            "sources.lake.files_per_read": sum(files) / len(files),
            "sources.lake.bytes_per_input_byte": self.lake_ratio,
        }

    def op(self, spark, tr, i: int) -> int:
        from pyspark.sql import functions as F

        if self.j == self.chunks - 1:
            self.episode += 1
            self.j = -1
            self.lake = os.path.join(self.work, f"lake_{self.episode}")
        self.j += 1
        chunk = os.path.dirname(self._chunk_file(self.j))
        ev = tr.call("sources.tables.read_table", read_table, spark, chunk, "events")
        stg = models.stg_summary(
            tr.call("plans.star_queries.summary_from_events", sq.summary_from_events, ev)
        )
        d = self.dims
        fact = models.fact_sales_order(
            stg, d["dim_product"], d["dim_customer"], d["dim_location"], d["dim_date"],
            d["dim_session_context"],
        )
        lake.write_snapshot(spark, fact, self.lake)
        snap = lake.read_snapshot(spark, self.lake)
        rows = snap.groupBy("date_key").agg(F.sum("sales_amount").alias("revenue")).collect()
        if (self.j + 1) % self.compact_every == 0:
            lake.compact_snapshot(spark, self.lake)
        self._last = (self.j + 1, {r["date_key"]: r["revenue"] for r in rows})
        self._snap = snap
        return self.chunk_rows

    def after_op(self, i: int, measured: bool) -> None:
        if measured:
            self.results.append(self._last)
            self.files_per_read.append(len(self._snap.inputFiles()))
            if self.lake not in self.lakes:
                self.lakes.append(self.lake)

    def done(self) -> bool:
        return self.j == self.chunks - 1

    def check(self, spark):
        con = _duck()
        fact_sql = ORACLES["star_fact_sales_order"]
        expect = {}
        for n in range(1, self.chunks + 1):
            _parquet_view(con, "events", [self._chunk_file(j) for j in range(n)])
            got = con.sql(
                f"SELECT date_key, sum(sales_amount) AS revenue FROM ({fact_sql}) GROUP BY 1"
            ).fetchall()
            expect[n] = dict(got)
        failed = 0
        for n, rev in self.results:
            want = expect[n]
            ok = set(rev) == set(want) and all(
                math.isclose(rev[k] or 0.0, want[k] or 0.0, rel_tol=1e-9, abs_tol=1e-6)
                for k in want
            )
            failed += not ok
        checks = [("every dashboard read matches the oracle revenue per date_key", failed == 0, "")]
        want = canonicalize(con.sql(fact_sql).arrow().to_pandas())
        con.close()
        for lk in self.lakes:
            ok = canonicalize(lake.read_snapshot(spark, lk).toPandas()) == want
            checks.append(
                (f"{os.path.basename(lk)} final snapshot matches star_fact_sales_order oracle", ok, "")
            )
        landed = sum(self.chunk_bytes)
        ratios = [_dir_bytes(lk) / landed for lk in self.lakes]
        self.lake_ratio = sum(ratios) / len(ratios)
        return failed, checks

    def extra(self) -> dict:
        return {"lake_bytes_per_input_byte": (self.lake_ratio, "ratio")}


def _exact_topk(corpus_file: str, query_file: str, k: int) -> dict[int, set]:
    """The exact top-k neighbour ids per query, ranked as
    ``similarity.brute_force_topk`` ranks them (cosine rounded to 6 dp, then
    the lower id), computed in numpy from the generated files."""
    import numpy as np
    import pyarrow.parquet as pq

    def load(path: str):
        t = pq.read_table(path, columns=["vec_id", "embedding"])
        x = t["embedding"].combine_chunks().flatten().to_numpy().astype(np.float64)
        x = x.reshape(t.num_rows, -1)
        return t["vec_id"].to_numpy(), x / np.linalg.norm(x, axis=1, keepdims=True)

    cid, c = load(corpus_file)
    qid, q = load(query_file)
    sim = np.round(q @ c.T, 6)
    return {
        int(qid[i]): set(cid[np.lexsort((cid, -row))[:k]].tolist()) for i, row in enumerate(sim)
    }


class AnnIndex:
    """An embedding corpus with its IVF cells built once, queried in batches
    of ``batch`` vectors through ``similarity.ivf_topk``."""

    batch = 8  # B: query vectors per request
    k = 10
    nprobe = 2  # ivf_topk's default

    def __init__(self, knobs: dict):
        self.knobs = knobs

    def generate(self, cache: str, seed: int) -> None:
        self.dir = gen.embeddings_dir(cache, seed, self.knobs)

    def prepare(self, spark) -> None:
        """Load the corpus and build the cell centroids (set-up)."""
        self.corpus = read_table(spark, self.dir, "embeddings").persist()
        self.corpus_rows = self.corpus.count()
        self.cents = similarity.ivf_centroids(self.corpus)
        self.served: list[tuple[list[int], list]] = []

    def after_prepare(self, spark, traced: bool) -> None:
        """Load the query pool and the exact answers; for a traced run also
        the cell sizes."""
        from pyspark.sql import functions as F

        self.queries = read_table(spark, os.path.join(self.dir, "queries"), "embeddings").persist()
        self.qids = sorted(r["vec_id"] for r in self.queries.select("vec_id").collect())
        self.truth = _exact_topk(
            os.path.join(self.dir, "embeddings.parquet"),
            os.path.join(self.dir, "queries", "embeddings.parquet"),
            self.k,
        )
        if not traced:
            return
        # Candidates a request scores: the corpus rows in each query's
        # probed cells (ivf_topk's assignment and probe, evaluated once).
        vec, nrm = F.col("embedding"), similarity.norm(F.col("embedding"))
        cell_rows = (
            self.corpus.select(similarity.ivf_cell_bulk(vec, nrm, self.cents).alias("cell"))
            .groupBy("cell")
            .count()
            .collect()
        )
        sizes = {r["cell"]: r["count"] for r in cell_rows}
        probes = self.queries.select(
            "vec_id", similarity.ivf_probe_cells(vec, nrm, self.cents, self.nprobe).alias("cells")
        ).collect()
        self.candidates = {r["vec_id"]: sum(sizes.get(c, 0) for c in r["cells"]) for r in probes}

    def request(self, i: int):
        from pyspark.sql import functions as F

        n = len(self.qids)
        ids = [self.qids[(i * self.batch + b) % n] for b in range(self.batch)]
        q = self.queries.filter(F.col("vec_id").isin(ids))
        return ids, similarity.ivf_topk(q, self.corpus, k=self.k, cents=self.cents).collect()

    def check(self) -> list[bool]:
        """Per request, whether it failed to return k distinct ranked rows
        for every query; sets ``recall`` against the exact top-k."""
        failed, hits, total = [], 0, 0
        for ids, rows in self.served:
            per_q: dict[int, list] = {}
            for r in rows:
                per_q.setdefault(r["query_id"], []).append(r)
            failed.append(
                set(per_q) != set(ids)
                or not all(
                    sorted(r["rank"] for r in rs) == list(range(1, self.k + 1))
                    and len({r["neighbor_id"] for r in rs}) == self.k
                    for rs in per_q.values()
                )
            )
            for qid, rs in per_q.items():
                hits += len({r["neighbor_id"] for r in rs} & self.truth[qid])
            total += self.k * len(ids)
        self.recall = hits / total
        return failed

    def trace_counts(self, n_ops: int) -> dict:
        served = [q for ids, _rows in self.served[-n_ops:] for q in ids]
        return {
            "operators.similarity.candidates_per_result": (
                sum(self.candidates[q] for q in served) / (self.k * len(served))
            ),
            # ivf_topk assigns every corpus row to a cell on every request
            "operators.similarity.corpus_rows_assigned_per_request": self.corpus_rows,
            "operators.similarity.recall_at_10": self.recall,
        }


class CurateCorpus(Workload):
    """One curation pass: the text_pretraining_pipeline registry entry over
    the documents, then a semantic near-duplicate lookup (top-k neighbours
    of a batch of new embeddings against the IVF-indexed corpus)."""

    name = "curate_corpus"
    why = (
        "north-star curation: MinHash LSH, connected components, decontamination, "
        "quality filter, split and IVF top-k; dedup/graph/text/similarity dominate"
    )
    knobs = dict(gen.DOCS_KNOBS, docs=500)
    emb_knobs = dict(gen.EMB_KNOBS, vectors=4_000, queries=128)
    min_ops = 3  # the median of three passes rides out a slow one
    setups = 5  # a round takes about a second, so five cost little

    def __init__(self):
        self.ann = AnnIndex(self.emb_knobs)

    def generate(self, cache: str, seed: int) -> dict:
        self.dir = gen.documents_dir(cache, seed, self.knobs)
        self.ann.generate(cache, seed)
        return dict(
            documents=self.knobs,
            embeddings=dict(self.emb_knobs, batch=self.ann.batch, k=self.ann.k),
        )

    def prepare(self, spark, tr, work: str) -> None:
        self.outputs: list = []
        self.ann.prepare(spark)

    def after_prepare(self, spark, traced: bool) -> None:
        self.ann.after_prepare(spark, traced)

    def trace_hooks(self, tr) -> None:
        tr.wrap(northstar_queries, "read_table", "sources.tables.read_table")
        for fn in ("minhash_near_dups", "lsh_candidate_pairs", "retain_canonical"):
            tr.wrap(dedup, fn, f"operators.dedup.{fn}")
        tr.wrap(dedup, "duplicate_clusters", "operators.graph.cc")
        for fn in ("decontaminate", "quality_score", "split_assign"):
            tr.wrap(text, fn, f"operators.text.{fn}")
        for fn in ("ivf_centroids", "ivf_topk"):
            tr.wrap(similarity, fn, f"operators.similarity.{fn}")

    def trace_counts(self, n_ops: int) -> dict:
        return self.ann.trace_counts(n_ops)

    def op(self, spark, tr, i: int) -> int:
        self._last = QUERIES["text_pretraining_pipeline"](spark, self.dir).toPandas()
        self._last_ann = self.ann.request(i)
        return self.knobs["docs"] + self.ann.batch

    def after_op(self, i: int, measured: bool) -> None:
        if measured:
            self.outputs.append(canonicalize(self._last))
            self.ann.served.append(self._last_ann)

    def _oracle(self):
        """The DuckDB answer, computed once per input and kept beside it."""
        path = os.path.join(self.dir, "oracle_text_pretraining_pipeline.json")
        if not os.path.exists(path):
            con = _duck()
            _parquet_view(con, "documents", [os.path.join(self.dir, "documents.parquet")])
            want = canonicalize(con.sql(ORACLES["text_pretraining_pipeline"]).arrow().to_pandas())
            con.close()
            with open(path + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            n, cols, h = json.load(f)
        return n, cols, h

    def check(self, spark):
        want = self._oracle()
        bad_text = [got != want for got in self.outputs]
        bad_ann = self.ann.check()
        failed = sum(t or a for t, a in zip(bad_text, bad_ann))
        return failed, [
            ("every pass matches the text_pretraining_pipeline oracle", not any(bad_text), ""),
            ("every lookup returned k distinct ranked rows per query", not any(bad_ann), ""),
        ]

    def extra(self) -> dict:
        return {"recall_at_10": (self.ann.recall, "ratio")}


WORKLOADS = {w.name: w for w in (StarMicrobatch, CurateCorpus)}
