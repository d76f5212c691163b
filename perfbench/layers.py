"""Per-layer metrics of a traced segment, computed from its spans.

Every workload reports every metric below; a layer the workload does not
exercise reports 0.  Values are per operation (chunk, pass or request)
unless the name says otherwise.  The set-up rounds feed
``session.start_s`` (their median session start),
``session.first_start_s`` (the first, which also launches the JVM),
``operators.similarity.ivf_centroids.self_s`` and the star models that run
only in set-up (the dims), the last two as a mean per round.
"""

from __future__ import annotations

from spans import Span
from workloads import MODELS

ENGINE = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("executor_run_ms", "ms"),
    ("executor_cpu_ms", "ms"),
    ("jvm_gc_ms", "ms"),
    ("spill_bytes", "bytes"),
    ("driver_wait_ms", "ms"),
)

# (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("session.first_start_s", "s", "lower"),
    ("sources.tables.read_table.self_s", "s", "lower"),
    ("sources.tables.read_table.input_bytes", "bytes", "lower"),
    ("plans.star_queries.self_s", "s", "lower"),
]
for _m in MODELS:
    PER_LAYER += [
        (f"plans.models.{_m}.self_s", "s", "lower"),
        (f"plans.models.{_m}.shuffle_write_bytes", "bytes", "lower"),
        (f"plans.models.{_m}.jobs", "count", "lower"),
        (f"plans.models.{_m}.tasks", "count", "lower"),
        (f"plans.models.{_m}.rows_out", "count", "higher"),
    ]
PER_LAYER += [
    ("sources.lake.write_snapshot.self_s", "s", "lower"),
    ("sources.lake.read_snapshot.self_s", "s", "lower"),
    ("sources.lake.files_per_read", "count", "lower"),
    ("sources.lake.compact_snapshot.self_s", "s", "lower"),
    ("sources.lake.bytes_written", "bytes", "lower"),
    ("sources.lake.bytes_per_input_byte", "ratio", "lower"),
    ("operators.dedup.minhash_near_dups.self_s", "s", "lower"),
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.dedup.verified_pairs", "count", "higher"),
    ("operators.dedup.verified_per_candidate", "ratio", "higher"),
    ("operators.dedup.retain_canonical.self_s", "s", "lower"),
    ("operators.graph.cc.self_s", "s", "lower"),
    ("operators.graph.cc.jobs", "count", "lower"),
    ("operators.text.decontaminate.self_s", "s", "lower"),
    ("operators.text.quality_score.self_s", "s", "lower"),
    ("operators.text.split_assign.self_s", "s", "lower"),
    ("operators.text.docs_in", "count", "higher"),
    ("operators.text.docs_out", "count", "higher"),
    ("operators.similarity.ivf_centroids.self_s", "s", "lower"),
    ("operators.similarity.ivf_topk.self_s", "s", "lower"),
    ("operators.similarity.corpus_rows_assigned_per_request", "count", "lower"),
    ("operators.similarity.candidates_per_result", "ratio", "lower"),
    ("operators.similarity.recall_at_10", "ratio", "higher"),
    ("caching.cached_bytes_peak", "bytes", "lower"),
]
PER_LAYER += [(f"engine.{k}", u, "lower") for k, u in ENGINE]
PER_LAYER += [
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.spans_per_op", "count", "lower"),
]
UNITS = {name: unit for name, unit, _b in PER_LAYER}


def _sum(spans: list[Span], name: str, attr: str) -> float:
    total = 0.0
    for sp in spans:
        if sp.name == name:
            v = getattr(sp, attr) if attr in ("self_s", "rows_out") else sp.engine[attr]
            total += v or 0
    return total


def compute(
    op_spans: list[Span],
    setup_spans: list[Span],
    n_ops: int,
    n_setups: int,
    op_walls: list[float],
    cores: int,
    counts: dict[str, float],
) -> dict[str, float]:
    """Per-layer values for one traced segment.

    ``counts`` carries what only the run or the workload can count (session
    start, cache peak, overhead, lake files, similarity candidates, recall);
    each key must be a metric name.
    """
    out = dict.fromkeys(UNITS, 0.0)
    per = 1.0 / max(n_ops, 1)

    def mean(name: str, attr: str) -> float:
        return _sum(op_spans, name, attr) * per

    out["sources.tables.read_table.self_s"] = mean("sources.tables.read_table", "self_s")
    out["sources.tables.read_table.input_bytes"] = mean("sources.tables.read_table", "input_bytes")
    out["plans.star_queries.self_s"] = per * sum(
        sp.self_s for sp in op_spans if sp.name.startswith("plans.star_queries.")
    )
    for m in MODELS:
        span = f"plans.models.{m}"
        ran_per_op = any(sp.name == span for sp in op_spans)
        for attr in ("self_s", "shuffle_write_bytes", "jobs", "tasks", "rows_out"):
            if ran_per_op:
                v = mean(span, attr)
            else:
                v = _sum(setup_spans, span, attr) / max(n_setups, 1)
            out[f"{span}.{attr}"] = v
    for fn in ("write_snapshot", "read_snapshot", "compact_snapshot"):
        out[f"sources.lake.{fn}.self_s"] = mean(f"sources.lake.{fn}", "self_s")
    out["sources.lake.bytes_written"] = sum(
        mean(f"sources.lake.{fn}", "output_bytes") for fn in ("write_snapshot", "compact_snapshot")
    )
    for fn in ("minhash_near_dups", "retain_canonical"):
        out[f"operators.dedup.{fn}.self_s"] = mean(f"operators.dedup.{fn}", "self_s")
    cand = mean("operators.dedup.lsh_candidate_pairs", "rows_out")
    verified = mean("operators.dedup.minhash_near_dups", "rows_out")
    out["operators.dedup.candidate_pairs"] = cand
    out["operators.dedup.verified_pairs"] = verified
    out["operators.dedup.verified_per_candidate"] = verified / cand if cand else 0.0
    out["operators.graph.cc.self_s"] = mean("operators.graph.cc", "self_s")
    out["operators.graph.cc.jobs"] = mean("operators.graph.cc", "jobs")
    for fn in ("decontaminate", "quality_score", "split_assign"):
        out[f"operators.text.{fn}.self_s"] = mean(f"operators.text.{fn}", "self_s")
    out["operators.text.docs_in"] = mean("operators.dedup.retain_canonical", "rows_out")
    out["operators.text.docs_out"] = mean("operators.text.split_assign", "rows_out")
    out["operators.similarity.ivf_centroids.self_s"] = _sum(
        setup_spans, "operators.similarity.ivf_centroids", "self_s"
    ) / max(n_setups, 1)
    out["operators.similarity.ivf_topk.self_s"] = mean("operators.similarity.ivf_topk", "self_s")

    for k, _u in ENGINE:
        if k == "spill_bytes":
            v = sum(sp.engine["memory_spill_bytes"] + sp.engine["disk_spill_bytes"] for sp in op_spans)
        elif k == "driver_wait_ms":
            busy_ms = sum(sp.engine["executor_run_ms"] for sp in op_spans) / cores
            v = 1000.0 * sum(op_walls) - busy_ms
        else:
            v = sum(sp.engine[k] for sp in op_spans)
        out[f"engine.{k}"] = v * per
    out["trace.spans_per_op"] = len(op_spans) * per
    for k, v in counts.items():
        if k not in out:
            raise KeyError(f"unknown per-layer metric {k!r}")
        out[k] = v
    return out
