"""Averaging / binning operators.

Reference parity:
- ``time_average`` — cngi/vis/time_average.py:21-120 (coarsen N adjacent
  times, or resample to a uniform width; weighted mean of DATA by its
  WEIGHT, plain mean of other vars, SUM of weights; optional grouping by
  scan/state)
- ``chan_average`` — cngi/vis/chan_average.py:21-70 (coarsen chan by
  width with 1/sigma^2-style weighting)
- ``rebin``        — cngi/image/rebin.py:21-50 (coarsen one axis by a
  factor, mean)

Spark-first shape: each is ONE hash aggregation (partial map-side combine
+ final) on the binned key — Spark's partial/final agg is exactly the
reference's per-chunk-partial + tree-sum pattern
(_standard_grid.py:109-120) done by the engine instead of by hand.

Scale notes:
- One shuffle each, keyed by the (binned) cube dims. Cardinality shrinks
  by the bin factor, so the shuffle writes less than it reads with
  map-side combine — this is the best possible plan for the op.
- ``timebin`` mode needs a per-group time *index*; computed by ranking
  the distinct times (tiny: n_time values) and broadcast-joining back,
  NOT by a global window over the fact table (which would funnel 100 TB
  through one partition).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cngi_prototype_spark.functions import exact
from cngi_prototype_spark.functions.lits import local_frame
from cngi_prototype_spark.schema import DEFAULT_VIS, VisSchema


def _agg_exprs(vs: VisSchema, precise: bool) -> list[Column]:
    """The time/chan-average shared aggregate set: weighted mean per
    complex data pair, summed weight, count, plain mean of extras."""
    aggs: list[Column] = []
    w = F.col(vs.weight)
    for re, im in vs.data_cols:
        aggs.append(exact.wmean(F.col(re), w, precise).alias(re))
        aggs.append(exact.wmean(F.col(im), w, precise).alias(im))
    if precise:
        aggs.append(exact.dsum(w).alias(vs.weight))
    else:
        aggs.append(F.sum(w).alias(vs.weight))
    aggs.append(F.count(F.lit(1)).alias("n_samples"))
    # flag of the average: all-flagged bins stay flagged (reference ANDs
    # flags through averaging via nan-propagation of fully-flagged cells)
    aggs.append(F.min(F.coalesce(F.col(vs.flag), F.lit(False))).alias(vs.flag))
    for c in vs.extra_mean_cols:
        aggs.append(exact.mean(F.col(c), precise).alias(c))
    for c in vs.carry_cols:
        aggs.append(F.first(F.col(c), ignorenulls=True).alias(c))
    return aggs


def time_average(
    df: DataFrame,
    bin: int | None = None,  # noqa: A002 - reference arg name (time_average.py:21)
    width: str | None = None,
    span: str = "none",
    vs: VisSchema = DEFAULT_VIS,
    precise: bool = False,
    data_group: str | dict | None = None,
) -> DataFrame:
    """Average N adjacent time steps (``bin``) or resample to a uniform
    interval (``width``, e.g. ``'10 seconds'``).

    ``data_group`` selects a named column set from the table's
    data_groups registry (ngcasa's ``sel_parms['data_group_in']`` —
    see operators/data_groups.py); it overrides ``vs``'s data/weight/
    flag roles.

    ``span='state'`` keeps scan boundaries (groups by scan_number),
    ``span='scan'`` keeps state boundaries, ``'both'`` keeps both —
    mirroring time_average.py:89-105 (note the reference's naming is
    inverted the same way: span='state' groups by SCAN_NUMBER).

    Output: one row per (time-bin, baseline, chan, pol[, span keys]) with
    weighted-mean data, summed weight, and ``n_samples``.
    """
    if data_group is not None:
        from cngi_prototype_spark.operators.data_groups import (
            resolve_data_group,
        )
        vs = resolve_data_group(df, data_group, base=vs)
    if (bin is None) == (width is None):
        raise ValueError("specify exactly one of bin= or width=")

    span_keys: list[str] = []
    if span in ("state", "both"):
        span_keys.append(vs.scan)
    if span in ("scan", "both"):
        span_keys.append(vs.state)

    if width is not None:
        # tumbling window: window start is a pure expression of time ->
        # no global ordering, scales embarrassingly
        binned = df.withColumn("__tbin", F.window(F.col(vs.time), width).start)
    else:
        # rank distinct times within each span group, then broadcast back
        dt = df.select(*span_keys, vs.time).distinct()
        if span_keys:
            # rank restarts per span group; groups run in parallel and a
            # group's distinct-time count bounds its task
            rank_w = Window.partitionBy(*[F.col(k) for k in span_keys]).orderBy(vs.time)
            dt = dt.withColumn("__tidx", F.row_number().over(rank_w) - 1)
        else:
            # NO single-partition sort: bucket times by VALUE with
            # deterministic arithmetic boundaries (min/max — one scalar
            # agg), rank locally per bucket, and add exact bucket-count
            # offsets (B values to the driver, independent of row count)
            dt = _distributed_time_rank(dt, vs.time)
        dt = dt.withColumn(
            "__tbin", F.min(F.col(vs.time)).over(
                Window.partitionBy(*span_keys, F.floor(F.col("__tidx") / bin))
            )
        ).select(*span_keys, vs.time, "__tbin")
        binned = df.join(F.broadcast(dt), span_keys + [vs.time])

    group_cols = span_keys + ["__tbin", vs.baseline, vs.chan, vs.pol]
    out = binned.groupBy(*group_cols).agg(*_agg_exprs(vs, precise))
    return out.withColumnRenamed("__tbin", vs.time)


def _distributed_time_rank(dt: DataFrame, time_col: str,
                           n_buckets: int | None = None,
                           max_bucket_rows: int = 4_000_000,
                           keep_bucket: bool = False) -> DataFrame:
    """Exact global dense rank of a distinct-values table without a
    single-partition sort.

    Values bucket by arithmetic position between min and max (two
    scalars from one aggregate — deterministic, no sampling, so the
    assignment is stable across re-executions, unlike
    ``repartitionByRange``'s sampled boundaries). Each bucket ranks
    locally in parallel; bucket counts (longs, not data) cumsum on the
    driver into offsets.

    Clustered (skewed) value distributions pile rows into few buckets,
    and a bucket is one task's in-memory sort — so any bucket past
    ``max_bucket_rows`` second-level splits by value inside its own
    probed [min, max] (the probe already aggregates them alongside the
    counts; distinct values mean the span is positive whenever n > 1).
    The mapping rides a small broadcast join against a ``LocalRelation``
    (never an inline CASE chain), and the offsets arithmetic reruns
    over the refined buckets.
    ``keep_bucket=True`` retains the final ``__vb`` column (tests
    assert the per-bucket bound through it)."""
    spark = dt.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t = F.col(time_col).cast("double")
    lo, hi = dt.agg(F.min(t), F.max(t)).collect()[0]
    if lo is None or hi is None or hi <= lo:
        vb = F.lit(0)
    else:
        vb = F.least(F.lit(n_buckets - 1),
                     F.floor((t - F.lit(float(lo)))
                             / F.lit((float(hi) - float(lo)) / n_buckets)).cast("int"))
    dt = dt.withColumn("__vb", vb)
    probe = {int(r["__vb"]): (int(r["n"]), float(r["mn"]), float(r["mx"]))
             for r in dt.groupBy("__vb").agg(
                 F.count(F.lit(1)).alias("n"),
                 F.min(t).alias("mn"), F.max(t).alias("mx")).collect()}
    ks = {b: -(-n // max_bucket_rows) if (n > max_bucket_rows and mx > mn)
          else 1 for b, (n, mn, mx) in probe.items()}
    if any(k > 1 for k in ks.values()):
        rows, base2 = [], 0
        for b in range(n_buckets):
            n, mn, mx = probe.get(b, (0, 0.0, 0.0))
            k = ks.get(b, 1)
            rows.append((b, k, base2, mn, (mx - mn) / k if k > 1 else 1.0))
            base2 += k
        m = F.broadcast(local_frame(
            spark, rows,
            "__vb int, __k int, __b2 int, __mn double, __w double"))
        sub = F.when(
            F.col("__k") > 1,
            F.least(F.col("__k") - 1,
                    F.floor((t - F.col("__mn")) / F.col("__w")).cast("int"))
        ).otherwise(F.lit(0))
        dt = (dt.join(m, "__vb")
              .withColumn("__vb", F.col("__b2") + sub)
              .drop("__k", "__b2", "__mn", "__w"))
        counts = {int(r["__vb"]): int(r["n"]) for r in
                  dt.groupBy("__vb").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        n_final = base2
    else:
        counts = {b: n for b, (n, _, _) in probe.items()}
        n_final = n_buckets
    offsets: list[int] = []
    acc = 0
    for b in range(n_final):
        offsets.append(acc)
        acc += counts.get(b, 0)
    off = F.element_at(F.array(*[F.lit(o) for o in offsets]), F.col("__vb") + 1)
    local = Window.partitionBy("__vb").orderBy(time_col)
    out = dt.withColumn("__tidx", F.row_number().over(local) - 1 + off)
    return out if keep_bucket else out.drop("__vb")


def chan_average(
    df: DataFrame,
    width: int,
    vs: VisSchema = DEFAULT_VIS,
    precise: bool = False,
) -> DataFrame:
    """Average ``width`` adjacent channels (chan_average.py:21-70).

    chan is an integer channel index, so the bin is a pure projection
    ``floor(chan/width)`` — no ranking pass needed. Weighted mean with
    the data-group weight implements the *intended* reference formula
    (see SURVEY.md §7.4 on the chan_average.py:55-60 weighting bug).
    """
    binned = df.withColumn("__cbin", (F.col(vs.chan) / width).cast("long") * width)
    group_cols = [vs.time, vs.baseline, "__cbin", vs.pol]
    out = binned.groupBy(*group_cols).agg(*_agg_exprs(vs, precise))
    return out.withColumnRenamed("__cbin", vs.chan)


def rebin(
    df: DataFrame,
    axis: str,
    factor: int,
    group_cols: list[str],
    value_cols: list[str],
    precise: bool = False,
) -> DataFrame:
    """Coarsen one integer axis by ``factor`` with a plain mean
    (cngi/image/rebin.py:21-50: ``coarsen(axis=factor).sum()/factor``;
    for full bins sum/factor == mean; for the ragged tail the reference
    pads — we use the mean of present samples, i.e. NaN-skip semantics).
    """
    binned = df.withColumn("__bin", (F.col(axis) / factor).cast("long") * factor)
    keys = [c for c in group_cols if c != axis] + ["__bin"]
    aggs = [exact.mean(F.col(c), precise).alias(c) for c in value_cols]
    aggs.append(F.count(F.lit(1)).alias("n_samples"))
    return binned.groupBy(*keys).agg(*aggs).withColumnRenamed("__bin", axis)
