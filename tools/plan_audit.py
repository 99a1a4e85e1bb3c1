#!/usr/bin/env python
"""Registry-wide physical-plan audit → PLAN_AUDIT.json.

Builds every ``queries()`` entry at the given sf dir (default
/root/testdata/sf0.001 — plan shape, not timing) and checks the
100-TB-readiness plan properties; see cngi_prototype_spark/plans/
audit.py for the violation classes.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:]) or None

    from cngi_prototype_spark.plans.audit import audit_registry
    from cngi_prototype_spark.session import initialize_framework

    spark = initialize_framework(cores=8, app_name="plan_audit",
                                 shuffle_partitions=8)
    report = audit_registry(spark, sf_dir, only=only)
    for qname, q in sorted(report["queries"].items()):
        tag = "FAIL" if q["violations"] else "ok  "
        extra = (f" violations={q['violations']}" if q["violations"] else
                 f" exch={q.get('n_exchanges')} scans={len(q.get('scans', []))}"
                 f" build_jobs={q.get('build_jobs')}"
                 f" jvm_calls={q.get('build_jvm_calls')}")
        print(f"{tag} {qname}{extra}")
    print(f"{report['n_clean']}/{report['n_queries']} clean")
    if only is None:
        with open("PLAN_AUDIT.json", "w") as fh:
            json.dump(report, fh, indent=1)
        print("wrote PLAN_AUDIT.json")
    return 0 if report["n_clean"] == report["n_queries"] else 1


if __name__ == "__main__":
    sys.exit(main())
