"""Time selected registered queries (one warm-up, then N timed runs
into a noop sink) in ONE session, and print the min, median and
interquartile range (IQR) of the N runs per query.

Limit: the runs share one session and one host, so the spread shows
in-session noise only, not drift between sessions. On a shared 4-CPU
host a sub-second query that a change did not touch read 15 % slower
on the change in 10 of 10 alternating sessions, and a cross run did not
reproduce it: a ±12 % difference is not resolved by this tool. For a
speed claim, time the parent and the change in interleaved pairs, each
run from a fresh archive of the committed files (PERF.md, "DML
commits" section).

Usage: python tools/time_queries.py [-n RUNS (default 5)] <query> [query ...]
       SPARK_GRAFT_SF_DIR honored as in bench.py.
"""

from __future__ import annotations

import gc
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nshm2022db_spark.session import get_spark  # noqa: E402


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = sys.argv[1:]
    runs = 5
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_queries")
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    import __spark_entry__ as mod

    qs = mod.queries()
    for name in names:
        spark.sparkContext.setJobDescription(f"time:{name}")
        _run(qs[name](spark, sf_dir))  # warm-up
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            _run(qs[name](spark, sf_dir))
            times.append(time.perf_counter() - t0)
        q1, med, q3 = np.percentile(times, [25, 50, 75])
        print(
            f"TIME {name}={min(times):.3f} median={med:.3f} "
            f"iqr=[{q1:.3f}, {q3:.3f}] n={runs}",
            flush=True,
        )
        spark.catalog.clearCache()
        gc.collect()


if __name__ == "__main__":
    main()
