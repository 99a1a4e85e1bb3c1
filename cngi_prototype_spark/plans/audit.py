"""Registry-wide physical-plan audit.

tests/test_plan_shapes.py pins the plan properties of a dozen headline
operators; this module makes the same 100-TB-readiness checks
*machine-checkable across every registered query* so a silent plan
regression anywhere in the registry (a lost pushdown, a Python UDF
sneaking onto a hot path, a join degrading to a cartesian product)
surfaces as a named violation instead of a cluster-scale incident.

Checked per query, on the plan Spark actually builds at the audited SF:

- ``cartesian``   — a ``CartesianProduct`` node. Never acceptable: every
  intentional small-side pairing in this repo is a broadcast
  (``BroadcastNestedLoopJoin`` over a bounded side is allowed and
  counted separately).
- ``python_row_udf`` — a ``BatchEvalPython`` node: row-at-a-time Python
  execution on the data path. The repo's contract is Arrow-vectorized
  only (``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` / ``MapInArrow``
  / ``MapInPandas`` pass).
- ``unpruned_scan`` — a parquet scan of a wide source table
  (``>= WIDE_TABLE_COLS`` columns) whose ReadSchema reads every column:
  column pruning failed or the query genuinely needs the full width
  (whitelist it with a reason).

Everything else is recorded as evidence, not judged: exchange count,
broadcast-hint count, pushed-filter strings, per-scan read widths, and
``build_jobs`` — the Spark jobs the query's builder launched (parquet
schema reads included), so "builders launch no undeclared jobs" reads
off the committed report.

``build_jobs`` is exact only at zero. A builder that runs an eager
action (a ``localCheckpoint``, a ``count``) runs it through adaptive
execution, where every query stage is its own job, and AQE re-plans
as stages complete, so the same plan can split into a different
number of stages from run to run. ``dedup_minhash_verified``, built
alone in a fresh session, recorded 10 jobs in four runs and 11 in
two: the eager ``localCheckpoint`` of ``duplicate_clusters``' edge
list ran one extra 1-task shuffle stage and then 16 uncoalesced
partitions instead of 2. Built after every earlier registry query
it recorded 11 twice, so query order is not the cause, and the
schema reads do not vary (one job per ``spark.read.parquet``; nothing
caches them across queries). A ±1 ``build_jobs`` difference on a
builder with eager actions is scheduling, not a builder change.

Run the full audit with ``python tools/plan_audit.py`` (writes
``PLAN_AUDIT.json``); tests/test_plan_audit.py gates a representative
subset in CI.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from cngi_prototype_spark.plans.inspect import (
    broadcast_hint_count,
    build_jobs,
    count_exchanges,
    explain_formatted,
)

WIDE_TABLE_COLS = 8

# full-width scans that are the operator's semantics, not a pruning
# failure — name: reason. Currently EMPTY: the audited registry (see
# PLAN_AUDIT.json for the authoritative count) needs no exemptions —
# even ingest/describe read through projections narrower than the
# source tables.
UNPRUNED_WHITELIST: dict[str, str] = {}


def _struct_fields(read_schema: str) -> int:
    """Top-level field count of a ``struct<...>`` ReadSchema string —
    commas nested in ``array<struct<...>>`` OR in parenthesized type
    arguments (``decimal(12,2)``) don't count."""
    body = read_schema[read_schema.index("<") + 1:]
    depth, fields, seen_any = 0, 0, False
    for ch in body:
        if ch in "<(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ">":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            fields += 1
        else:
            seen_any = seen_any or not ch.isspace()
    return fields + 1 if seen_any else 0


_SCAN_RE = re.compile(
    r"\(\d+\) Scan parquet ?\n(.*?)(?=\n\(\d+\) |\Z)", re.S)
_LOC_RE = re.compile(r"Location: \w+ \[([^\]]*)\]")
_SCHEMA_RE = re.compile(r"ReadSchema: (struct<.*)")


def parquet_scans(plan: str) -> list[dict]:
    """``[{table, cols_read}]`` for every parquet scan in a formatted
    plan (table = basename of the scan location, ``.parquet``
    stripped)."""
    out = []
    for m in _SCAN_RE.finditer(plan):
        block = m.group(1)
        loc = _LOC_RE.search(block)
        sch = _SCHEMA_RE.search(block)
        table = None
        if loc and loc.group(1):
            base = loc.group(1).split(",")[0].rstrip("/").rsplit("/", 1)[-1]
            table = base[:-8] if base.endswith(".parquet") else base
        out.append({
            "table": table,
            "cols_read": _struct_fields(sch.group(1)) if sch else None,
        })
    return out


def table_widths(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    widths = {}
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        try:
            widths[t] = len(spark.read.parquet(f"{sf_dir}/{t}.parquet").schema)
        except Exception:
            pass
    return widths


def audit_df(df: DataFrame, widths: dict[str, int],
             *, name: str = "?") -> dict:
    """Audit one DataFrame's physical plan; see module docstring for
    the violation classes."""
    plan = explain_formatted(df)
    scans = parquet_scans(plan)
    violations: list[str] = []
    if "CartesianProduct" in plan:
        violations.append("cartesian")
    if "BatchEvalPython" in plan:
        violations.append("python_row_udf")
    unpruned = [
        s for s in scans
        if s["table"] in widths
        and widths[s["table"]] >= WIDE_TABLE_COLS
        and s["cols_read"] is not None
        and s["cols_read"] >= widths[s["table"]]
    ]
    if unpruned and name not in UNPRUNED_WHITELIST:
        violations.append("unpruned_scan:" + ",".join(
            sorted({s["table"] for s in unpruned})))
    return {
        "violations": violations,
        "n_exchanges": count_exchanges(df),
        "n_broadcast_hints": broadcast_hint_count(df),
        "n_bnl_joins": plan.count("BroadcastNestedLoopJoin"),
        "scans": [
            {**s, "table_cols": widths.get(s["table"])} for s in scans],
        "whitelisted_unpruned": bool(unpruned) and name in UNPRUNED_WHITELIST,
    }


def audit_registry(spark: SparkSession, sf_dir: str,
                   only: set[str] | None = None) -> dict:
    """Audit every ``queries()`` entry (or ``only``); never raises on a
    single query — build errors land in the report."""
    import cngi_prototype_spark.queries as Q

    widths = table_widths(spark, sf_dir)
    report: dict[str, dict] = {}
    for qname, fn in Q.queries().items():
        if only and qname not in only:
            continue
        try:
            df, jobs = build_jobs(spark, lambda: fn(spark, sf_dir))
            report[qname] = {**audit_df(df, widths, name=qname),
                             "build_jobs": jobs}
        except Exception as e:  # noqa: BLE001 — report, don't die
            report[qname] = {"error": f"{type(e).__name__}: {e}"[:200],
                             "violations": ["build_error"]}
    bad = {k: v["violations"] for k, v in report.items() if v["violations"]}
    return {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "n_clean": sum(1 for v in report.values() if not v["violations"]),
        "violations": bad,
        "queries": report,
    }
