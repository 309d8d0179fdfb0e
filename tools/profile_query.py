"""Per-job profile of one or more registered queries (guide §1/§7).

Runs each named query in the engine's own session (`session.get_spark`),
then reads the driver's status store — kept with the UI off — to print
every Spark job's wall time, its description, and the gaps between jobs
(driver-side time: planning, commit protocol, py4j).

Usage: python tools/profile_query.py <query> [query ...]
       SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored as in bench.py.

The timed run matches bench.py methodology (warm-up + noop sink) so the
breakdown maps 1:1 onto the bench numbers.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nshm2022db_spark.session import get_spark  # noqa: E402


def _jobs(spark) -> list[dict]:
    """Every job the status store still holds: id, submission and
    completion times (epoch ms; completion None while running), stage
    and task counts, and its description."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(seq.size()):
        jd = seq.apply(i)
        sub, done, desc = jd.submissionTime(), jd.completionTime(), jd.description()
        out.append({
            "jobId": jd.jobId(),
            "submissionTime": sub.get().getTime() if sub.isDefined() else None,
            "completionTime": done.get().getTime() if done.isDefined() else None,
            "stages": jd.stageIds().size(),
            "numTasks": jd.numTasks(),
            "description": desc.get() if desc.isDefined() else jd.name(),
        })
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        print("usage: profile_query.py <query> [query ...]")
        raise SystemExit(2)

    spark = get_spark("profile_query")

    import __spark_entry__ as mod

    qs = mod.queries()
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    import gc

    for name in names:
        fn = qs[name]
        # warm-up (codegen, workers, footer caches)
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        gc.collect()
        seen = {j["jobId"] for j in _jobs(spark)}
        t_lo = time.time() * 1000
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        t_hi = time.time() * 1000
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [
            j
            for j in _jobs(spark)
            if j["jobId"] not in seen and j["completionTime"] is not None
        ]
        jobs.sort(key=lambda j: j["submissionTime"])

        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs ===")
        prev_end = t_lo
        total_job = 0.0
        total_gap = 0.0
        for j in jobs:
            sub = j["submissionTime"]
            end = j["completionTime"]
            dur = (end - sub) / 1000.0
            gap = max(0.0, (sub - prev_end) / 1000.0)
            total_job += dur
            total_gap += gap
            print(
                f"  job {j['jobId']:>4}  gap {gap:6.3f}  dur {dur:6.3f}  "
                f"stages {j['stages']:>2} "
                f"tasks {j['numTasks']:>4}  {(j['description'] or '')[:100]}"
            )
            prev_end = end
        tail = max(0.0, (t_hi - prev_end) / 1000.0)
        print(
            f"  --- jobs {total_job:.3f}s, inter-job gaps {total_gap:.3f}s, "
            f"tail {tail:.3f}s, wall {wall:.3f}s"
        )


if __name__ == "__main__":
    main()
