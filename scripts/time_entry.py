"""Solo per-entry timing harness (optimization rounds).

Usage: python scripts/time_entry.py <name> [<name> ...] [--runs N]

Times each named registry entry exactly like bench.py does (plan →
noop sink on the warm session), printing every run plus the min —
the steady-state number the bench would record — and the Spark jobs
and stages each run issued (from the JVM status store), so a job-count
regression shows without a benchmark run. Keeps the bench contract
untouched; this is a measurement-only tool.
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

    for name in args:
        ts, js = [], []
        for i in range(runs):
            group = f"{name}#{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            consume(qs[name](spark, sf_dir))
            ts.append(round(time.time() - t0, 3))
            js.append("{}/{}".format(*jobs_and_stages(spark, group)))
        print(f"{name}: runs={ts} min={min(ts)} jobs/stages={js}")


if __name__ == "__main__":
    main()
