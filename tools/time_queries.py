#!/usr/bin/env python
"""Time individual bench queries with the bench.py methodology
(PRECISE off, noop sink, min-of-N with the >2x steal guard) plus
per-query shuffle-write deltas — the focused before/after instrument
for optimization rounds; the committed artifact stays `bench.py`.

Usage: SPARK_GRAFT_SF_DIR=... python tools/time_queries.py q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    import bench
    from cngi_prototype_spark import queries as Q
    from cngi_prototype_spark.plans.inspect import shuffle_totals
    from cngi_prototype_spark.session import initialize_framework

    Q.PRECISE = False
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    spark = initialize_framework(
        cores=cpus, app_name="time_queries", shuffle_partitions=cpus,
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable",
                    "spark.ui.retainedStages": "100000"})
    bench._run(spark.read.parquet(f"{sf_dir}/region.parquet"))
    out: dict[str, dict] = {}
    for name in names or bench.BENCH_QUERIES:
        try:
            fn = bench.entry(name)
        except KeyError:
            print(f"skip {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(name)
        bench._run(fn(spark, sf_dir))  # codegen/JIT warm
        rs: list[float] = []
        s0 = shuffle_totals(spark)
        bench._timed_min(fn, spark, sf_dir, runs=runs, rs=rs)
        s1 = shuffle_totals(spark)
        mb = (round(max(0, s1["write"] - s0["write"]) / len(rs) / 2**20, 2)
              if s0 and s1 else None)
        out[name] = {"min_sec": min(rs), "runs": rs,
                     "shuffle_write_mb_per_run": mb}
        print(f"{name}: min {min(rs)} s, {mb} MB shuffle/run, runs {rs}",
              file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
