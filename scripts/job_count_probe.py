"""Job-count + wall-time probe for a registered query — lifecycle
evidence for the streaming loops, whose returned frame's explain()
shows only the log read-back, not the foreachBatch work (round-11
verdict ask #1: "plan dumps showing the removed sink/job").

Runs each named query to the noop sink ``runs`` times after an untimed
prepare/warm pass, and reports per-run wall seconds plus the number of
Spark JOBS the run submitted (StatusTracker delta — triggers, probe
writes, segment writes, pins and read-backs each cost at least one
job, so the delta is the honest count of scheduled work) and the
number of whole-stage-codegen classes it Janino-compiled (CodegenMetrics
delta — a class already in Spark's generated-class cache costs none).

The runs of one query follow each other back to back, so every class a
run generates is still cached for the next: the probe cannot show a
cache-capacity effect (classes evicted by the other queries of a cycled
mix). A non-zero ``compiles`` after the warm pass means the run
generated source text that differs from the previous run's.

Usage: python scripts/job_count_probe.py q1[,q2,...] [runs]
Emits one JSON line:
  {"metric": "job_count_probe", "queries": {name:
      {"jobs": [..], "compiles": [..], "sec": [..], "min_sec": s}}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elt_data4transformation_spark.plans import REGISTRY  # noqa: E402
from elt_data4transformation_spark.session import get_spark  # noqa: E402


def _jobs_so_far(spark) -> int:
    # nextJobId is the JVM-side monotonically increasing job counter:
    # its value is the number of jobs submitted so far (all groups,
    # including streaming micro-batch jobs, which run under their own
    # group ids and are invisible to getJobIdsForGroup(None)).
    # py4j auto-unboxes the AtomicInteger to a plain int.
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _compiles_so_far(spark) -> int:
    # one compilation-time sample per generated class Janino compiled;
    # a cache hit records none
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [q for q in sys.argv[1].split(",") if q]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="elt4t-job-count-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    out = {}
    for name in names:
        spec = REGISTRY[name]
        if spec.prepare is not None:
            spec.prepare(spark, sf_dir)
            spark.catalog.clearCache()
        # warm pass (JIT, page cache) — not recorded
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        jobs, compiles, secs = [], [], []
        for _ in range(runs):
            j0, c0 = _jobs_so_far(spark), _compiles_so_far(spark)
            t0 = time.monotonic()
            spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            secs.append(round(time.monotonic() - t0, 3))
            jobs.append(_jobs_so_far(spark) - j0)
            compiles.append(_compiles_so_far(spark) - c0)
            spark.catalog.clearCache()
        out[name] = {
            "jobs": jobs, "compiles": compiles, "sec": secs,
            "min_sec": min(secs),
        }
    print(
        json.dumps({"metric": "job_count_probe", "queries": out})
    )
    spark.stop()


if __name__ == "__main__":
    main()
