#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload star_microbatch --seed 1 --seconds 10 --trace 0

The launcher settles the run's hygiene before Spark starts: ``local[N]``
with N = the CPUs this process may use, a driver heap that fits the box,
the repo on the Python workers' path, and every Spark local directory,
the warehouse, the JVM temp dir and all outputs under ``.perfbench_tmp/``
in the checkout (removed at exit).  Generated inputs are cached under
``.perfbench_cache/`` by (seed, size).

One run, in one process with one client thread (closed loop):

1. generate the seeded inputs (untimed);
2. the workload's ``setups`` times: start a session and run its one-time
   preparation; ``setup_s`` is the median, the session is stopped between
   rounds (the first round also launches the JVM);
3. warm-up operations (untimed);
4. ``--trace 0``: operations for at least ``--seconds``, in whole episodes
   and at least the workload's ``min_ops``; ``--trace 1``: an untraced
   segment and a traced segment of half the time each, the traced one with
   spans around every layer call (see ``spans.py``);
5. every output check, outside the timed region.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics).  ``--record FILE`` also writes the full record
(knobs, checks, percentile used for the tail, every metric).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "glamira_end_to_end_data_pipeline_spark"
DRIVER_MEM = "1g"
_JVM_OPTS = (
    "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing -XX:+SegmentedCodeCache "
    "-XX:-UsePerfData"
)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _hygiene(tmp: str) -> None:
    """Environment for the session; must run before pyspark is imported."""
    local = os.path.join(tmp, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # The heap is committed and touched whole at launch, so peak RSS does not
    # depend on how far G1 chose to grow it in this run.
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        f"{_JVM_OPTS} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={local}"
    )
    os.environ["TMPDIR"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.local.dir={local}",
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            # the status store keeps what tracing attributes to spans
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )
    sys.path[:0] = [ROOT, HERE]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants (the
    JVM, PySpark's daemon and its workers), with the children they reaped."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while walking
    return total / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, wl, seed: int, tmp: str):
        from spans import Tracer

        self.wl, self.seed, self.tmp = wl, seed, tmp
        self.Tracer = Tracer
        self.tr = None
        self.spark = None
        self.i = 0

    # -- set-up ------------------------------------------------------------
    def setup(self, rounds: int, traced: bool) -> tuple[list[float], list[float]]:
        from glamira_end_to_end_data_pipeline_spark import get_spark

        totals, starts = [], []
        self.setup_spans = []
        for r in range(rounds):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark()
            t1 = time.perf_counter()
            if self.tr is None:
                self.tr = self.Tracer(self.spark, f"s{self.seed}")
            self.tr.bind(self.spark)
            if traced:
                self.wl.trace_hooks(self.tr)
                self.tr.enabled = True
            self.wl.prepare(self.spark, self.tr, os.path.join(self.tmp, "work"))
            t2 = time.perf_counter()
            if traced:
                self.tr.enabled = False
                self.tr.unwrap()
                spans = [s for s in self.tr.spans if s.phase == "setup"]
                self.tr.collect_engine(spans)
                self.setup_spans += spans
                self.tr.spans.clear()
                self.tr.release()
            starts.append(t1 - t0)
            totals.append(t2 - t0)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return totals, starts

    # -- operations --------------------------------------------------------
    def segment(self, seconds: float, min_ops: int, measured: bool = True):
        self.wl.begin()
        lat, cpu, rows = [], [], 0
        t_end = time.perf_counter() + seconds
        while True:
            self.tr.op = self.i
            c0 = _tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            n = self.wl.op(self.spark, self.tr, self.i)
            dt = time.perf_counter() - t0
            cpu.append(_tree_cpu_s(os.getpid()) - c0)
            self.wl.after_op(self.i, measured)
            self.i += 1
            lat.append(dt)
            rows += n
            if (
                len(lat) >= min_ops
                and time.perf_counter() >= t_end
                and (self.wl.done() or not measured)
            ):
                self.cpu = cpu
                return lat, rows

    def traced_segment(self, seconds: float, min_ops: int):
        tr = self.tr
        self.wl.trace_hooks(tr)
        tr.phase, tr.enabled = "op", True
        try:
            lat, rows = self.segment(seconds, min_ops)
        finally:
            tr.enabled = False
            tr.unwrap()
        tr.collect_engine(tr.spans)
        tr.release()
        return lat, rows

    def peak_rss_mb(self) -> float:
        return _hwm_mb("self") + _hwm_mb(self.jvm_pid)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = gw.proc  # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run(args, tmp: str) -> tuple[dict, int, int]:
    """One run; returns (record, operations failed, operations attempted)."""
    import layers
    import stats
    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    knobs = wl.generate(cache, args.seed)
    phase("generate")
    b = Bench(wl, args.seed, tmp)
    try:
        traced = bool(args.trace)
        setups, starts = b.setup(wl.setups, traced)
        phase("setup")
        wl.after_prepare(b.spark, traced)
        phase("after_prepare")
        b.segment(0, wl.warmup_ops, measured=False)
        phase("warmup")
        seconds = args.seconds / 2 if traced else args.seconds
        steal0, total0 = _cpu_ticks()
        lat, rows = b.segment(seconds, wl.min_ops)
        cpu = b.cpu
        steal1, total1 = _cpu_ticks()
        phase("measure")
        if traced:
            t_lat, t_rows = b.traced_segment(seconds, wl.min_ops)
            phase("traced")
        rss = b.peak_rss_mb()  # the program's peak, before the checks' own work
        failed, checks = wl.check(b.spark)
        phase("check")
    finally:
        b.close()
        shutil.rmtree(tmp, ignore_errors=True)
    phase("close")

    attempted = len(lat) + (len(t_lat) if traced else 0)
    rows_per_s = rows / sum(lat)
    pct, tail = stats.tail(lat)
    e2e = {
        "setup_s": _metric(statistics.median(setups), "s"),
        "cpu_ms_per_op": _metric(1000 * statistics.median(cpu), "ms"),
        "peak_rss_mb": _metric(rss, "MB"),
    }
    # Printed and recorded, not bounded.  Wall time per operation rises about
    # seven times the share of CPU time the host lends to other guests, which
    # swings between runs; CPU time per operation does not follow it.  A run
    # also holds too few operations for a percentile with ten samples beyond
    # it (see the record's percentile).
    extra = {
        "rows_per_s": _metric(rows_per_s, "rows/s"),
        "latency_p50_ms": _metric(1000 * statistics.median(lat), "ms"),
        "latency_tail_ms": _metric(1000 * tail, "ms"),
    }
    extra.update({k: _metric(v, u) for k, (v, u) in wl.extra().items()})
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": _cpus(),
        "knobs": knobs,
        "ops": len(lat),
        "setup_rounds_s": setups,
        "phase_s": phases,
        "latencies_ms": [1000 * x for x in lat],
        "cpu_ms": [1000 * x for x in cpu],
        # CPU time the hypervisor gave to other guests while measuring: a
        # shared host slows every timing by about this share
        "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "latency_tail_percentile": pct,
        "latency_samples": len(lat),
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "failed_ratio": failed / attempted,
        "end_to_end": e2e,
        "extra": extra,
    }
    if traced:
        t_rps = t_rows / sum(t_lat)
        counts = dict(wl.trace_counts(len(t_lat)))
        counts["session.start_s"] = statistics.median(starts)
        counts["session.first_start_s"] = starts[0]
        counts["caching.cached_bytes_peak"] = b.tr.cached_bytes_peak
        counts["trace.overhead_ratio"] = max(0.0, 1.0 - t_rps / rows_per_s)
        values = layers.compute(
            b.tr.spans, b.setup_spans, len(t_lat), wl.setups, t_lat, _cpus(), counts
        )
        record["per_layer"] = {k: _metric(v, layers.UNITS[k]) for k, v in values.items()}
        record["traced_rows_per_s"] = t_rps
    return record, failed, attempted


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", help="also write the full record (JSON) here")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG}/ not found in {ROOT}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    _hygiene(tmp)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    record, failed, attempted = run(args, tmp)
    if args.record:
        with open(args.record, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    for c in record["checks"]:
        print(f"check {'PASS' if c['ok'] else 'FAIL'}: {c['name']} {c['detail']}".rstrip())
    shown = dict(record["end_to_end"], **record["extra"])
    shown["failed_ratio"] = _metric(record["failed_ratio"], "ratio")
    for k, m in sorted(shown.items()):
        print(f"{record['workload']} {k} = {m['value']:.6g} {m['unit']}")
    print(
        f"{record['workload']} latency_tail_ms is p{record['latency_tail_percentile']:.4g} "
        f"of {record['latency_samples']} samples"
    )
    print(f"{record['workload']} host_steal_share = {record['host_steal_share']:.3g} while measuring")
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    correct = failed == 0 and all(c["ok"] for c in record["checks"])
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
