"""Spark's own bookkeeping, read from outside the engine: job ids by
job group (statusTracker), stage task metrics (the app status store),
SQL node metrics (the SQL status store) and Catalyst phase times."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}


def parse_metric(text: str) -> float:
    """'2.8 s', '100,000', or 'total (min, med, max ...)\\n1.2 s (...)'
    -> the total, in seconds / bytes / count."""
    head = text.split("\n")[-1].split(" (")[0].strip().split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS.get(head[1], 1.0) if len(head) > 1 else value


def wait_listeners(spark: SparkSession) -> None:
    """Block until the listener bus has delivered every event, so the
    status stores hold the finished jobs' metrics."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_jobs(spark: SparkSession, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_totals(spark: SparkSession, jobs: list[int]) -> dict[str, float]:
    """Task metrics summed over the stages that ran for ``jobs``
    (skipped stages reuse shuffle output and are not counted)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seen: set[int] = set()
    tot = dict(stages=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0, gc_s=0.0,
               shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0)
    for j in jobs:
        ids = store.job(j).stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["task_run_s"] += sd.executorRunTime() / 1e3
            tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2 ** 20
            tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 2 ** 20
            tot["spill_mb"] += sd.diskBytesSpilled() / 2 ** 20
    return tot


class SqlMetrics:
    """Reads SQL-execution node metrics for executions that ran jobs of
    interest: time in Python workers (Arrow / pandas exec nodes) and
    rows emitted by file scans."""

    def __init__(self, spark: SparkSession):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.last = -1  # executions up to this id were read before

    def totals(self, jobsets: dict[str, list[int]]) -> dict[str, dict[str, float]]:
        """For each named job set, sums over the executions that ran any
        of its jobs and started after the previous call."""
        wants = {k: set(v) for k, v in jobsets.items()}
        out = {k: {"python_s": 0.0, "scan_rows": 0.0} for k in jobsets}
        execs = self.store.executionsList()
        newest = self.last
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= self.last:
                continue
            newest = max(newest, e.executionId())
            ej, ran = e.jobs().keySet().iterator(), set()
            while ej.hasNext():
                ran.add(int(ej.next()))
            hits = [k for k, want in wants.items() if ran & want]
            if not hits:
                continue
            values = self._values(e.executionId())
            nodes = self.store.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name.startswith("Scan "):
                    key, metric = "scan_rows", "number of output rows"
                elif "Python" in name or "Pandas" in name or "Arrow" in name:
                    key, metric = "python_s", "time to run Python workers"
                else:
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    v = values.get(int(pm.accumulatorId()))
                    if pm.name() == metric and v:
                        for k in hits:
                            out[k][key] += parse_metric(v)
        self.last = newest
        return out

    def _values(self, execution_id: int) -> dict[int, str]:
        vals, it = {}, self.store.executionMetrics(execution_id).iterator()
        while it.hasNext():
            t = it.next()
            vals[int(t._1())] = t._2()
        return vals


def catalyst_s(df: DataFrame) -> float:
    """Analysis + optimization + planning time of ``df``'s last action."""
    phases = df._jdf.queryExecution().tracker().phases()
    total, it = 0, phases.valuesIterator()
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1e3
