"""Physical-plan inspection helpers.

The engine's scale guarantees (SURVEY.md §4, README scale rules) are
properties of the *plans*, not just the results: filters reach the
parquet scan, projections prune the read schema, aggregations combine
map-side before every exchange, small sides broadcast. These helpers
make those properties assertable in tests and inspectable in notebooks,
so a regression that silently degrades a plan (a lost pushdown, a
broadcast that became a shuffle) fails CI instead of shipping a 10×
slowdown to the 100 TB cluster.
"""

from __future__ import annotations

import re
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", explain_formatted(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — the column-pruning witness."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", explain_formatted(df))


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excluding broadcast exchanges)."""
    plan = explain_formatted(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_formatted(df)


def broadcast_hint_count(df: DataFrame) -> int:
    """Number of explicit ``broadcast()`` hints in the analyzed logical
    plan. Unlike :func:`has_broadcast_join` this is AQE-independent: it
    witnesses what the *code* promised, not what runtime stats chose —
    the scale contract is "only bounded-size sides are ever hinted"."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"ResolvedHint \(strategy=broadcast\)", plan))


def build_cost(spark, fn: Callable[[], Any]) -> tuple[Any, int, int]:
    """Call the builder ``fn()`` under a fresh job group and return
    ``(its result, the Spark jobs it launched, the py4j commands it
    sent)``.

    A builder should only describe work; a nonzero job count means it
    ran some eagerly (a checkpoint, a count, a partition-count probe
    that materializes adaptive query stages). The command count is the
    builder's Python -> JVM round trips (every Column operator and
    ``functions`` call costs several, see ``functions/lits.py``),
    counted on the session's gateway client for the call only. The
    caller's job group is restored afterwards.
    """
    sc = spark.sparkContext
    group = f"build_jobs.{uuid.uuid4().hex}"
    prev = (sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(group, "plan build")
    client = sc._gateway._gateway_client
    send = client.send_command
    sent = 0

    def counted(*args, **kwargs):
        nonlocal sent
        sent += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        out = fn()
    finally:
        client.send_command = send
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])
    # the status tracker is fed by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), sent


def build_jobs(spark, fn: Callable[[], Any]) -> tuple[Any, int]:
    """``(fn(), the Spark jobs it launched)`` — :func:`build_cost`
    without the command count."""
    out, jobs, _ = build_cost(spark, fn)
    return out, jobs


def shuffle_totals(spark) -> dict[str, int] | None:
    """Cumulative shuffle read/write bytes across all stages the
    session's AppStatusStore retains — snapshot before/after a query
    and the delta is that query's measured shuffle volume (the scale
    ladder records it so "sub-linear" is a byte trend, not just a time
    trend). Works with the UI disabled (AppStatusListener always runs).
    Returns None when the py4j surface drifts across Spark versions —
    callers treat the metric as optional evidence.
    """
    try:
        jvm = spark._jvm
        gw = spark.sparkContext._gateway
        store = spark._jsparkSession.sparkContext().statusStore()
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList())
        write = read = 0
        for i in range(stages.size()):
            s = stages.apply(i)
            write += s.shuffleWriteBytes()
            read += s.shuffleReadBytes()
        return {"write": int(write), "read": int(read)}
    except Exception:  # noqa: BLE001 — diagnostic surface, never fatal
        return None


def estimated_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate, or ``None``
    when it cannot be read — the job-free way to pick a plan SHAPE by
    input size (both shapes must compute identical values; estimates
    are never allowed to change a result).

    PySpark exposes no public statistics API (Dataset.queryExecution
    is JVM-only), so this goes through ``_jdf`` — wrapped here, once,
    with the failure mode pinned: any py4j/attribute drift across Spark
    versions returns ``None`` and the caller falls back to its
    conservative default branch.

    Known blind spots of the estimator (document at the call site which
    direction is safe):
    - over a ``localCheckpoint``/``ExistingRDD`` input there are no
      column stats and the estimate degrades to
      ``spark.sql.defaultSizeInBytes`` (Long.Max) — a huge
      OVER-estimate;
    - file-source estimates are the COMPRESSED on-disk size times an
      expansion factor, so heavily compressed columns under-estimate
      their in-memory width.
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:  # noqa: BLE001 — version-drift guard, see docstring
        return None


def estimated_rows(df: DataFrame, bytes_per_row: int) -> int | None:
    """Row-count estimate derived from :func:`estimated_size_bytes`
    with a caller-supplied (deliberately LOW) bytes-per-row divisor, so
    the result errs toward OVER-estimating rows. Callers must only use
    it where the over-estimate direction is the safe/conservative
    branch. Returns ``None`` when no estimate is available."""
    size = estimated_size_bytes(df)
    if size is None:
        return None
    return max(1, size // max(1, bytes_per_row))


def has_partial_aggregation(df: DataFrame) -> bool:
    """True when a HashAggregate appears upstream of an Exchange that is
    followed by the final HashAggregate — Spark's map-side combine."""
    plan = explain_formatted(df)
    ops = re.findall(r"\(\d+\) (HashAggregate|Exchange)", plan)
    for i in range(len(ops) - 2):
        if ops[i:i + 3] == ["HashAggregate", "Exchange", "HashAggregate"]:
            return True
    return False
