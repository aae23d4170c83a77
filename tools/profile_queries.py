"""Per-query optimization profiler (round 13).

For each named query: capture `.explain("formatted")` to
plans/$SPARK_GRAFT_PLANS_ROUND/<name>_<tag>.txt (default r14), count plan features (Exchange,
SortMergeJoin/BroadcastHashJoin, BatchEvalPython/ArrowEvalPython,
FileScan), count Spark jobs run, and time the noop-sink
materialization (min-of-2, GC outside the timer) — bench.py's exact
methodology, isolated to a query list so measure -> change -> re-measure
loops stay cheap.  Each run executes under its own Spark job group and
its jobs are counted by that group (as perfbench's ``Tracer.group_stats``
does), never as deltas of the ungrouped job list, which the status store
trims to ``spark.ui.retainedJobs`` entries in a long session.

Usage:
    python tools/profile_queries.py q243_knn_eval,q182_user_rfm [tag]
    python tools/profile_queries.py TOP30 [tag]     # top-30 of last detail
    (SPARK_GRAFT_SF_DIR selects the data dir, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.session import (
        get_spark,
        warm_start,
    )

    arg = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    reg = load_all()
    if arg == "TOP30":
        recs = [
            json.loads(line)
            for line in open(os.path.join(HERE, "BENCH_DETAIL.jsonl"))
        ]
        last = [r for r in recs if r.get("sf") == 0.1][-1]
        names = [
            k
            for k, _ in sorted(
                last["queries"].items(), key=lambda kv: -kv[1]
            )[:30]
        ]
    else:
        names = [n.strip() for n in arg.split(",") if n.strip()]

    spark = get_spark("profile-r13")
    warm_start(spark, SF_DIR)
    plans_dir = os.path.join(
        HERE, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
    )
    os.makedirs(plans_dir, exist_ok=True)

    sc = spark.sparkContext
    out: dict[str, dict] = {}
    for name in names:
        qd = reg[name]
        sc.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = qd.fn(spark, SF_DIR)
        build_sec = time.perf_counter() - t0
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        times = []
        for run in range(2):
            gc.collect()
            spark._jvm.System.gc()
            group = f"profile:{name}:{tag}:{run}"
            sc.setJobGroup(group, f"profile:{name}")
            try:
                t0 = time.perf_counter()
                qd.fn(spark, SF_DIR).write.mode("overwrite").format(
                    "noop"
                ).save()
                times.append(time.perf_counter() - t0)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            # the status store fills from the listener bus: drain it first
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        out[name] = {
            "sec": round(min(times), 3),
            "runs": [round(t, 3) for t in times],
            "build_sec": round(build_sec, 3),
            "jobs_per_run": jobs,
            "exchanges": plan.count("Exchange"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "py": plan.count("EvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInArrow"),
            "scans": plan.count("Scan parquet")
            + plan.count("FileScan"),
        }
        print(name, json.dumps(out[name]))
        sc.setJobDescription(None)
    print(json.dumps({"sf_dir": SF_DIR, "tag": tag, "profile": out}))


if __name__ == "__main__":
    main()
