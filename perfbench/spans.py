"""In-memory spans around the calls into each package layer.

A span records name, start, end, parent and run id.  While a span is open,
its id is the Spark job group, so after the run every job (and through it
every stage) can be attributed to the innermost span that submitted it.
Stage metrics come from the JVM status store, which the driver keeps even
with the UI disabled.

Tracing installs wrappers on module attributes of the package (the package
code itself is not changed) and removes them afterwards.  In traced mode a
wrapped call's lazy DataFrame result is materialised before the span closes
(persisted to disk only, so the cache of the package's own ``persist`` calls
stays measurable in memory), which makes a span's self time the work of
that layer alone.
"""

from __future__ import annotations

import functools
import itertools
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Stage metric fields summed per span; the tuple is (accessor, scale).
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "executor_run_ms": ("executorRunTime", 1),
    "executor_cpu_ms": ("executorCpuTime", 1e-6),  # ns in the store
    "jvm_gc_ms": ("jvmGcTime", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
}
ENGINE_FIELDS = ("jobs", "stages") + tuple(_STAGE_FIELDS)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    phase: str
    op: int
    start: float
    end: float = 0.0
    rows_out: int | None = None
    engine: dict = field(default_factory=lambda: dict.fromkeys(ENGINE_FIELDS, 0))
    self_s: float = 0.0


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of [start, end] its children cover
    (children clipped to the span; overlapping children counted once)."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


class Tracer:
    """Span recorder for one benchmark process.

    ``enabled`` is False for the untraced measurement: ``call`` then only
    runs the function and no wrappers are installed, so untraced timings
    carry no tracing cost.
    """

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._persisted: list[DataFrame] = []
        self._patches: list[tuple[object, str, object]] = []
        self.phase = "setup"
        self.op = 0
        self.cached_bytes_peak = 0
        self.bind(spark)

    def bind(self, spark) -> None:
        """Point the tracer at a (new) session."""
        self.sc = spark.sparkContext

    # -- spans ---------------------------------------------------------
    def start(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        sp = Span(
            f"{self.run_id}-{next(self._ids)}", name, parent, self.run_id,
            self.phase, self.op, time.perf_counter(),
        )
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        return sp

    def finish(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append(sp)
        self._sample_cache()

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; in traced mode materialise a DataFrame
        result so its cost lands in this span."""
        sp = self.start(name)
        try:
            out = fn(*args, **kwargs)
            if sp is not None and isinstance(out, DataFrame):
                out = out.persist(StorageLevel.DISK_ONLY)
                self._persisted.append(out)
                sp.rows_out = out.count()
            return out
        finally:
            self.finish(sp)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned call until ``unwrap``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        self._patches.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def release(self) -> None:
        """Drop the disk copies made to materialise traced results."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- engine metrics --------------------------------------------------
    def _sample_cache(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mem = sum(int(i.memSize()) for i in infos)
        self.cached_bytes_peak = max(self.cached_bytes_peak, mem)

    def collect_engine(self, spans: list[Span]) -> None:
        """Attribute jobs and stage metrics to ``spans`` (after they end).

        A stage is counted once, for the first job that lists it; stages a
        job skipped (shuffle output reused) carry no work and are ignored.
        """
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = []
        for sp in spans:
            for jid in tracker.getJobIdsForGroup(sp.id):
                jobs.append((jid, sp))
        seen: set[int] = set()
        for jid, sp in sorted(jobs, key=lambda t: t[0]):
            sp.engine["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                sp.engine["stages"] += 1
                for key, (acc, scale) in _STAGE_FIELDS.items():
                    sp.engine[key] += getattr(sd, acc)() * scale
        for sp in spans:
            sp.self_s = self_time(
                sp.start,
                sp.end,
                [(c.start, c.end) for c in spans if c.parent == sp.id],
            )
