"""Per-query job/stage/task counts from the REST status API.

Usage: python tools/count_jobs.py <query> [<query> ...]

For each query: one untimed warmup (codegen + shared-cache population),
then one measured run — prints jobs/stages/tasks the run submitted plus
wall seconds. Counts are deterministic, so they adjudicate job-count
optimizations on a noisy-latency box where seconds alone cannot
(OPTIMIZATION_r15.md measurement protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def snapshot(spark) -> tuple[int, int, int]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/jobs?status=succeeded", timeout=10
    ) as r:
        jobs = json.loads(r.read())
    n_stages = sum(len(j.get("stageIds", [])) for j in jobs)
    n_tasks = sum(j.get("numCompletedTasks", 0) for j in jobs)
    return len(jobs), n_stages, n_tasks


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as em
    from bench import ALIAS
    from drugbankner_spark.caching import release_shared_caches
    from drugbankner_spark.session import get_spark

    spark = get_spark(
        app_name="count-jobs", extra_conf={"spark.ui.enabled": "true"}
    )
    qs = em.all_queries()
    for name in names:
        fn = qs.get(ALIAS.get(name, name))
        if fn is None:
            print(f"{name}: not in registry")
            continue
        fn(spark, sf_dir).toPandas()  # warmup
        release_shared_caches()
        j0, s0, t0 = snapshot(spark)
        w0 = time.perf_counter()
        fn(spark, sf_dir).toPandas()
        sec = time.perf_counter() - w0
        j1, s1, t1 = snapshot(spark)
        release_shared_caches()
        print(
            f"{name}: jobs={j1 - j0} stages={s1 - s0} tasks={t1 - t0} "
            f"sec={sec:.3f}"
        )


if __name__ == "__main__":
    main()
