#!/usr/bin/env python
"""Repeat-timing harness for A/B comparisons: runs each named query
``reps`` times in one session (first run untimed warm-up), prints
min/median per query of the whole run, of its build (the query function
returning its DataFrame) and of its sink (the noop write), and the Spark
jobs each build started. Usage:
  python tools/abtime.py q1,q2 [reps]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = [n for n in sys.argv[1].split(",") if n]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from stream4flow_spark.registry import queries
    from stream4flow_spark.session import get_spark

    spark = get_spark(app_name="s4f-abtime")
    qs = queries()

    from stream4flow_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()

    def clear():
        spark.catalog.clearCache()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(False)

    sc = spark.sparkContext
    for name in names:
        fn = qs[name]
        builds, sinks, jobs = [], [], []
        for i in range(reps + 1):
            group = f"abtime-build-{name}-{i}"
            sc.setJobGroup(group, "query build")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            clear()
            if i > 0:  # first run = warm-up
                builds.append(t1 - t0)
                sinks.append(t2 - t1)
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        ts = [b + s for b, s in zip(builds, sinks)]
        print(
            f"{name}: min={min(ts):.3f} med={statistics.median(ts):.3f} "
            f"build_min={min(builds):.3f} build_med={statistics.median(builds):.3f} "
            f"sink_min={min(sinks):.3f} sink_med={statistics.median(sinks):.3f} "
            f"build_jobs={jobs} all={[round(t, 2) for t in ts]}",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
