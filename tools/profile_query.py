"""Per-job / per-stage profile of one registered query.

Runs a query with the Spark UI enabled and dumps every job (description,
duration, stages) plus the slowest stages from the UI REST API — the
guide's "empirical loop" (spark_optimization_guide §1.1/§7.1) without a
browser. Python-side wall time between jobs (driver work: planning, file
IO, py4j) is visible as the gap between total wall and the job sum.
Each rep also prints how many generated classes Janino compiled for it;
with the session's codegen cache, every rep after the first prints 0.

Usage:  python tools/profile_query.py <query> [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from projectdatalake_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    spark = get_spark("profile", extra_confs={
        "spark.ui.enabled": "true",
        "spark.ui.port": "4099",
    })
    qs = entry_mod.queries()
    fn = qs[name]
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    for r in range(reps):
        sc = spark.sparkContext
        compiled0 = codegen.METRIC_COMPILATION_TIME().getCount()
        t0 = time.perf_counter()
        sc.setJobDescription(f"{name} rep{r}")
        t_build0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t_build0
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        compiled = codegen.METRIC_COMPILATION_TIME().getCount() - compiled0
        print(f"\n=== rep {r}: wall {wall:.3f}s (df-build {t_build:.3f}s, "
              f"{compiled} classes compiled)")

    app_id = spark.sparkContext.applicationId
    # uiWebUrl reflects the port Spark actually bound (4099 may have been
    # taken, in which case Spark binds 4100+ — ADVICE r12)
    ui = spark.sparkContext.uiWebUrl or "http://localhost:4099"
    base = f"{ui}/api/v1/applications/{app_id}"
    jobs = json.load(urllib.request.urlopen(f"{base}/jobs"))
    jobs.sort(key=lambda j: j["jobId"])
    tot = 0.0
    print(f"{'job':>4} {'sec':>8}  {'stages':>6}  {'tasks':>6}  name")
    for j in jobs:
        from datetime import datetime
        st = datetime.strptime(j["submissionTime"], "%Y-%m-%dT%H:%M:%S.%fGMT")
        en = datetime.strptime(j["completionTime"], "%Y-%m-%dT%H:%M:%S.%fGMT")
        sec = (en - st).total_seconds()
        tot += sec
        desc = (j.get("description") or j["name"])[:100]
        print(f"{j['jobId']:>4} {sec:>8.3f}  {len(j['stageIds']):>6}  "
              f"{j.get('numTasks', 0):>6}  {desc}")
    print(f"sum of job wall: {tot:.3f}s  ({len(jobs)} jobs)")

    stages = json.load(urllib.request.urlopen(f"{base}/stages?status=complete"))
    stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    print("\nslowest stages by executorRunTime:")
    for s in stages[:15]:
        from datetime import datetime
        st = datetime.strptime(s["firstTaskLaunchedTime"], "%Y-%m-%dT%H:%M:%S.%fGMT")
        en = datetime.strptime(s["completionTime"], "%Y-%m-%dT%H:%M:%S.%fGMT")
        sec = (en - st).total_seconds()
        print(f"  stage {s['stageId']:>4} wall {sec:7.3f}s run {s['executorRunTime']/1000:7.1f}s "
              f"tasks {s['numCompleteTasks']:>4} in {s['inputBytes']>>20:>5}MB "
              f"sh-r {s['shuffleReadBytes']>>20:>4}MB sh-w {s['shuffleWriteBytes']>>20:>4}MB  "
              f"{s['name'][:80]}")
    spark.stop()


if __name__ == "__main__":
    main()
