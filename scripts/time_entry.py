"""Solo per-entry timing harness (optimization rounds).

Usage: python scripts/time_entry.py <name> [<name> ...] [--runs N]

Times each named registry entry exactly like bench.py does (plan →
noop sink on the warm session), printing every run plus the min —
the steady-state number the bench would record — the Spark jobs and
stages each run issued (from the JVM status store), the classes it
compiled (Janino compiles, i.e. codegen-cache misses) and the py4j
round trips the Python driver made to the JVM, so a job-count
regression, codegen-cache thrash or a plan built node by node over
py4j shows without a benchmark run.
Keeps the bench contract untouched; this is a measurement-only tool.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries  # noqa: E402
from glamira_end_to_end_data_pipeline_spark import get_spark  # noqa: E402


def jobs_and_stages(spark, group: str) -> tuple[int, int]:
    """(jobs, stages run) for one job group; stages a job skipped
    (shuffle output reused) are not counted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    infos = [tracker.getJobInfo(jid) for jid in jobs]
    stages = {
        sid
        for info in infos
        if info is not None
        for sid in info.stageIds
        if store.lastStageAttempt(sid).status().toString() != "SKIPPED"
    }
    return len(jobs), len(stages)


def classes_compiled(spark) -> int:
    """Generated classes compiled so far in this JVM (codegen-cache
    misses; a warm run that finds every class cached adds 0)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def count_py4j(spark):
    """Count every py4j command from now on; returns a function giving the
    count so far. The JVM-reference frees that py4j's finalizer thread
    sends when Python drops an object are round trips too, and count."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    return lambda: sent[0]


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        if i + 1 >= len(args) or not args[i + 1].isdigit():
            sys.exit("usage: time_entry.py <name> [...] [--runs N]")
        runs = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = queries()
    unknown = [n for n in args if n not in qs]
    if unknown or not args:
        sys.exit(
            f"unknown entries: {unknown or '(none given)'}; available: "
            + ", ".join(sorted(qs))
        )
    spark = get_spark(app_name="time_entry")

    def consume(df):
        df.write.format("noop").mode("overwrite").save()

    # same warmup as bench.py: JVM/codegen + Arrow worker pool
    consume(qs["flagship_daily_events"](spark, sf_dir))
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def __warm(v):
        return v

    consume(
        spark.range(0, 1024, 1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .select(__warm((F.col("id") * 1.0).alias("v")).alias("w"))
    )

    py4j = count_py4j(spark)
    for name in args:
        ts, js, cs, ps = [], [], [], []
        for i in range(runs):
            group = f"{name}#{i}"
            spark.sparkContext.setJobGroup(group, name)
            c0 = classes_compiled(spark)
            p0 = py4j()
            t0 = time.time()
            consume(qs[name](spark, sf_dir))
            ts.append(round(time.time() - t0, 3))
            ps.append(py4j() - p0)
            cs.append(classes_compiled(spark) - c0)
            js.append("{}/{}".format(*jobs_and_stages(spark, group)))
        print(
            f"{name}: runs={ts} min={min(ts)} jobs/stages={js} "
            f"classes_compiled={cs} py4j={ps}"
        )


if __name__ == "__main__":
    main()
