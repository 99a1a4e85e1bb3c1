#!/usr/bin/env python
"""Snapshot ``explain("formatted")`` for every bench query.

Writes ``plans/<tag>/<query>_<suffix>.txt`` for each entry the bench
times (BENCH_QUERIES plus imaging_major_cycle, each resolved by
``bench.entry``), under the same session shape bench.py uses
(PRECISE off, shuffle_partitions = cpus). The optimization rounds
commit these as the before/after plan evidence next to the measured
seconds.

Usage: python tools/capture_plans.py <tag> <before|after> [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:]) or None

    import bench
    from cngi_prototype_spark import queries as Q
    from cngi_prototype_spark.plans.inspect import explain_formatted
    from cngi_prototype_spark.session import initialize_framework

    Q.PRECISE = False
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = initialize_framework(
        cores=cpus, app_name=f"capture_plans_{tag}",
        shuffle_partitions=cpus,
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable"})
    names = bench.BENCH_QUERIES + ["imaging_major_cycle"]
    rc = 0
    for name in names:
        if only is not None and name not in only:
            continue
        try:
            spark.sparkContext.setJobDescription(f"plan: {name}")
            plan = explain_formatted(bench.entry(name)(spark, sf_dir))
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"),
                      "w") as fh:
                fh.write(plan)
            print(f"ok   {name} ({plan.count(') Exchange')} exchanges)")
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"[:200])
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
