"""Driver-contract query registry.

Each entry pairs a Spark implementation (built from the engine's
operators) with a DuckDB-oracle SQL twin over the same parquet tables.
The driver hash-compares values, so every query follows
cross-engine-reproducibility rules:

- exact decimal sums under every mean/sum of doubles
  (:mod:`cngi_prototype_spark.functions.exact`) so accumulation order
  can't shift the result;
- every derived double output rounded to 6 decimals on BOTH sides —
  DuckDB's decimal->double cast is not correctly rounded (computed as
  int128/10^s in floating point), so exact sums can still differ by
  1 ulp after the cast; rounding absorbs it;
- never output a raw timestamp — output epoch seconds of a bucket
  instead. events.ts's physical parquet type has drifted across driver
  versions (nanos-as-long vs TIMESTAMP_NTZ micros), so all events reads
  go through :func:`_events`, which branches on the dtype Spark actually
  resolves rather than pinning any legacy conf;
- deterministic tie-breaks for any arg-extremum;
- aliases identical on both sides (driver sorts columns by name).

The vis-shaped operators (time_average, chan_average, apply_flags, ...)
run here over vis-shaped *derivations* of the driver tables (events,
lineitem): the operator code is generic over VisSchema column roles, so
the gate exercises the same code paths the unit tests cover on the
synthetic cube. Reference citations live in the operator docstrings.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cngi_prototype_spark.functions import exact
from cngi_prototype_spark.functions.exact import sql_dsum, sql_mean, sql_rms, sql_stddev, sql_wmean
from cngi_prototype_spark.functions.lits import local_frame
from cngi_prototype_spark.operators import averaging as OA
from cngi_prototype_spark.operators import flags as OF
from cngi_prototype_spark.operators.statistics import flag_summary, moments, statistics
from cngi_prototype_spark.schema import VisSchema

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql):
    """``sql``: the DuckDB twin — a string, None (rows-only), or a
    zero-arg callable resolved lazily in :func:`oracle_sql` (for twins
    whose construction needs environment access, e.g. trained-centroid
    literals — import of this module must never touch the filesystem)."""
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


# The driver's correctness gate evaluates only the FIRST 50 registry
# entries (round-1 finding), so registration order is part of the
# contract: every oracle-bearing gate must land inside that window.
# Rows-only (sql=None) gates go last, highest-value compositions first.
# _DRIVER_WINDOW guards the contract: a 51st oracle-bearing @register
# would silently push an existing gate past the hashed window, so
# _ordered_names() raises instead — merge gates (tagged-union SELECTs,
# see flagging_suite / time_average) to free a slot before adding one.
_DRIVER_WINDOW = 50
_ROWS_ONLY_PRIORITY = [
    "synthesis_imaging_cube", "mosaic_image", "hogbom_clean",
    "dirty_image", "psf_image", "predict_modelvis", "self_cal_gains",
    "image_smooth", "spec_fit", "media_pixel_features",
    "media_frame_sample", "rm_clean", "fast_resolve",
]


def _ordered_names() -> list[str]:
    oracled = [k for k, v in _REGISTRY.items() if v[1] is not None]
    rows_only = [k for k, v in _REGISTRY.items() if v[1] is None]
    if len(oracled) > _DRIVER_WINDOW:
        raise RuntimeError(
            f"{len(oracled)} oracle-bearing gates exceed the driver's "
            f"{_DRIVER_WINDOW}-entry hash window; merge gates instead "
            f"of appending (see _DRIVER_WINDOW comment)")
    tail = [k for k in _ROWS_ONLY_PRIORITY if k in rows_only]
    tail += [k for k in rows_only if k not in _ROWS_ONLY_PRIORITY]
    return oracled + tail


def queries() -> dict[str, QueryFn]:
    return {k: _REGISTRY[k][0] for k in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {k: (v() if callable(v) else v)
            for k in _ordered_names()
            if (v := _REGISTRY[k][1]) is not None}


# Gate queries default to the decimal-exact aggregation paths so results
# hash-match the DuckDB oracle; bench.py flips this to False to measure the
# production (double) fast path.
PRECISE = True


def _precise() -> bool:
    return PRECISE


# Source override for shared-scan fusion (r15, flagging_suite_fused):
# inside the context manager every `_t(..., "events")` returns the
# given DataFrame (a checkpointed single materialization) instead of a
# fresh parquet scan. Queries are built sequentially on the driver, so
# a module global is safe; the override never leaks past the `with`.
_EVENTS_OVERRIDE: DataFrame | None = None


@contextmanager
def _events_source(df: DataFrame):
    global _EVENTS_OVERRIDE
    _EVENTS_OVERRIDE = df
    try:
        yield
    finally:
        _EVENTS_OVERRIDE = None


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events" and _EVENTS_OVERRIDE is not None:
        return _EVENTS_OVERRIDE
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to session-tz TIMESTAMP (micros).

    The testdata's physical ts type has drifted across driver versions
    (TIMESTAMP(NANOS) read as int64 under the legacy conf; now
    TIMESTAMP(MICROS, NTZ) read as TIMESTAMP_NTZ), so branch on the
    dtype Spark actually resolves instead of pinning a legacy conf:

    - bigint            -> nanosecond epoch; integer-div to micros
      (double division would lose precision on ns epochs)
    - timestamp_ntz     -> cast to TIMESTAMP; exact under the UTC
      session tz (session.py sets spark.sql.session.timeZone=UTC),
      and matches DuckDB's naive-as-UTC ``epoch()`` semantics
    - timestamp         -> already what we want
    """
    ev = _t(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    elif ts_type.startswith("timestamp"):
        ts = F.col("ts").cast("timestamp")
    else:
        raise TypeError(f"events.ts resolved as unsupported type {ts_type!r}")
    return ev.withColumn("ts", ts)


def round_doubles(df: DataFrame, ndigits: int = 6,
                  only: tuple[str, ...] | None = None) -> DataFrame:
    """Round selected DoubleType output columns (gate-comparison hygiene for
    quantities whose engine-internal formulas may differ by 1 ulp, e.g.
    percentile interpolation; everything derived from exact decimal sums is
    bit-identical across engines and must NOT be rounded — rounding a value
    that sits exactly on a .xxxxxx5 decimal tie flips differently per
    engine's rounding mode)."""
    cols: list[Column] = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DoubleType) and (only is None or f.name in only):
            cols.append((F.round(F.col(f.name), ndigits) + F.lit(0.0)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def R(expr: str) -> str:  # noqa: N802 - SQL-side twin of round_doubles
    return f"(ROUND({expr}, 6) + 0.0)"


# ---------------------------------------------------------------------------
# Flagship: TPC-H-Q1-shaped pricing summary (groupBy + 8 aggregates).
# Exercises: scan w/ predicate pushdown, hash agg w/ map-side combine —
# the same shape as the reference's weighted averaging core.
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_mean('l_quantity')} AS avg_qty,
           {sql_mean('l_extendedprice')} AS avg_price,
           {sql_mean('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    p = _precise()
    s = exact.dsum if p else F.sum
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            s(F.col("l_quantity")).alias("sum_qty"),
            s(F.col("l_extendedprice")).alias("sum_base_price"),
            s(disc_price).alias("sum_disc_price"),
            s(charge).alias("sum_charge"),
            exact.mean(F.col("l_quantity"), p).alias("avg_qty"),
            exact.mean(F.col("l_extendedprice"), p).alias("avg_price"),
            exact.mean(F.col("l_discount"), p).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# describe_vis analog (cngi/dio/describe_vis.py:21-56): per-partition
# row/cardinality summary, here per event_type.
# ---------------------------------------------------------------------------

@register(
    "describe_partitions",
    """
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users,
           MIN(event_id) AS first_id,
           MAX(event_id) AS last_id
    FROM events GROUP BY event_type
    UNION ALL
    -- zarr round-trip part: the Spark side routes these 8192 cells
    -- through an actual zarr v2 store (distributed write -> chunked
    -- read); the round trip is bit-lossless, so the oracle computes
    -- the same checksums straight from parquet. first_id re-derives
    -- event_id from the cube dims (coords survived); last_id is an
    -- exact integer checksum of the decoded DATA doubles.
    SELECT '__zarr__' AS event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT (event_id // 64) % 16) AS n_users,
           MIN(event_id) AS first_id,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
             AS last_id
    FROM events WHERE event_id < 8192
    """,
)
def describe_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_vis(spark, sf_dir)
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )
    return base.unionByName(_zarr_roundtrip_part(spark, sf_dir))


def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench entry: full-corpus PII scrub (value-gated via the
    text_features scrub columns)."""
    from cngi_prototype_spark.text.analysis import scrub_pii
    return scrub_pii(_docs(spark, sf_dir))


def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench entry: full-corpus winnowing fingerprints (value-gated via
    the ngram_jaccard 'wfp' part on the doc_id%7 subset)."""
    from cngi_prototype_spark.text.analysis import winnow_fingerprints
    return winnow_fingerprints(_docs(spark, sf_dir))


def embedding_pool_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench entry: mean-pool embeddings into 50 groups (value-gated
    via the embedding_neardup 'pool' part)."""
    from cngi_prototype_spark.similarity.ann import pool_embeddings
    emb = _t(spark, sf_dir, "embeddings")
    return pool_embeddings(emb.withColumn("g", F.col("vec_id") % 50),
                           group_col="g")


def dedup_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench entry: the one-call minhash dedup wrapper (stages
    individually value-gated)."""
    from cngi_prototype_spark.dedup.dedup import dedup_corpus
    return dedup_corpus(_docs(spark, sf_dir), threshold=0.5)


def _sql_bpe_tokenize() -> str:
    from cngi_prototype_spark.text.bpe import BPE_GATE_MERGES, sql_apply_bpe
    return sql_apply_bpe(BPE_GATE_MERGES)


@register("bpe_tokenize", _sql_bpe_tokenize)
def bpe_tokenize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE value gate: the distributed encoder (distinct-word
    mapInPandas + broadcast join back) runs the fixed well-formed
    BPE_GATE_MERGES list, whose lowest-rank-first loop is provably
    equal to the nested-replace DuckDB twin (see sql_apply_bpe).
    Restricted to printable-ASCII words on both sides (position-
    preserving row filter). The iterative TRAINER stays rows-gated
    (bpe_train_encode) + unit-verified against an in-test reference
    (tests/test_bpe.py)."""
    from cngi_prototype_spark.text.bpe import BPE_GATE_MERGES, apply_bpe
    docs = _docs(spark, sf_dir)
    return (apply_bpe(docs, BPE_GATE_MERGES)
            .filter(F.col("word").rlike(r"^[\x21-\x7b]+$"))
            .select("doc_id", "token_pos", "word",
                    F.concat_ws(" ", "bpe_tokens").alias("bpe")))


@register("bpe_train_encode", None)  # iterative trainer: rows-only
def bpe_train_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production BPE: train (12 merges on the corpus vocabulary) +
    encode. The trainer's iterative merge loop is not practically
    SQL-expressible, hence rows-only; the ENCODER it feeds is
    value-gated under bpe_tokenize with a fixed merge list."""
    from cngi_prototype_spark.text.bpe import apply_bpe, train_bpe_merges
    docs = _docs(spark, sf_dir)
    merges = train_bpe_merges(docs, 12)
    return apply_bpe(docs, merges).select(
        "doc_id", "token_pos", "word",
        F.concat_ws(" ", "bpe_tokens").alias("bpe"))


@register("zarr_store_describe", None)  # store metadata: rows-only
def zarr_store_describe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe_vis over a zarr store (pure .zmetadata read): reuses
    the round-trip part's store — value parity of the data inside it is
    hash-checked by describe_partitions' '__zarr__' part."""
    import hashlib as _hl
    import os
    import tempfile

    from cngi_prototype_spark.sources.zarr_io import describe_zarr_store

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:10]
    store = f"{tempfile.gettempdir()}/cngi_spark_gate_zarr_{tag}"
    if not os.path.exists(os.path.join(store, ".zmetadata")):
        _zarr_roundtrip_part(spark, sf_dir).collect()
    return describe_zarr_store(spark, store)


def describe_partitions_bench_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Bench entry: the original describe scope (the gate gained a
    zarr round-trip union part, which times store IO, not describe)."""
    ev = _events_vis(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )


def _zarr_roundtrip_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8192 events → mixed-radix (t, bl, chan, pol) cube cells →
    write_zarr_xds → read_zarr_xds → checksums. Proves the zarr path
    end-to-end under the hash gate (store layout asserted separately in
    tests/test_zarr_io.py)."""
    import hashlib as _hl
    import shutil
    import tempfile

    from cngi_prototype_spark.sources.zarr_io import (
        VarSpec, read_zarr_xds, write_zarr_xds)

    ev = _events(spark, sf_dir).filter(F.col("event_id") < 8192).select(
        (F.col("event_id") / 1024).cast("int").alias("t"),
        ((F.col("event_id") / 64) % 16).cast("int").alias("bl"),
        ((F.col("event_id") / 2) % 32).cast("int").alias("chan"),
        (F.col("event_id") % 2).cast("int").alias("pol"),
        F.col("value").alias("data_re"),
        (-F.col("value")).alias("data_im"))
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:10]
    store = f"{tempfile.gettempdir()}/cngi_spark_gate_zarr_{tag}"
    shutil.rmtree(store, ignore_errors=True)
    write_zarr_xds(
        ev, store, "xds0", dim_cols=["t", "bl", "chan", "pol"],
        var_specs=[VarSpec("DATA", ("t", "bl", "chan", "pol"),
                           ("data_re", "data_im"), "<c16",
                           complex(float("nan"), float("nan")))],
        chunks={"t": 2, "chan": 16})
    back = read_zarr_xds(spark, store, "xds0",
                         drop_if_nan=["data_re", "data_im"])
    eid = (F.col("t") * 1024 + F.col("bl") * 64
           + F.col("chan") * 2 + F.col("pol")).cast("long")
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("bl").alias("n_users"),
        F.min(eid).alias("first_id"),
        F.sum(F.floor(F.col("data_re") * F.lit(1000000.0)).cast("long"))
        .alias("last_id"),
    ).select(F.lit("__zarr__").alias("event_type"), "n_rows", "n_users",
             "first_id", "last_id")


# ---------------------------------------------------------------------------
# Vis-shaped derivation of `events`: the flagging + time_average substrate.
# flag := value > 400 OR event_type = 'error'   (deterministic, no FP ops)
# weight := 1 + (event_id % 5)
# ---------------------------------------------------------------------------

_EV_VIS = VisSchema(
    time="ts", baseline="bl", chan="chan", pol="pol",
    data_cols=(("data_re", "data_im"),), weight="w", flag="flag",
    scan="scan", state="state",
)

_EV_SQL_BASE = """
    SELECT event_id, ts, user_id, event_type, user_id % 20 AS bl,
           0 AS chan, 0 AS pol,
           value AS data_re, -value AS data_im,
           CAST(1 + event_id % 5 AS DOUBLE) AS w,
           (value > 400 OR event_type = 'error') AS flag,
           user_id % 3 AS scan, user_id % 2 AS state
    FROM events
"""


def _events_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        (F.col("user_id") % 20).alias("bl"),
        F.lit(0).alias("chan"),
        F.lit(0).alias("pol"),
        F.col("value").alias("data_re"),
        (-F.col("value")).alias("data_im"),
        (1 + F.col("event_id") % 5).cast("double").alias("w"),
        ((F.col("value") > 400) | (F.col("event_type") == "error")).alias("flag"),
        (F.col("user_id") % 3).alias("scan"),
        (F.col("user_id") % 2).alias("state"),
    )


@register(
    "apply_flags",
    f"""
    SELECT event_id,
           CASE WHEN NOT flag THEN data_re END AS data_re,
           CASE WHEN NOT flag THEN data_im END AS data_im,
           flag
    FROM ({_EV_SQL_BASE})
    """,
)
def apply_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = OF.apply_flags(_events_vis(spark, sf_dir), vs=_EV_VIS)
    return df.select("event_id", "data_re", "data_im", "flag")


# auto_clip / manual_flag register through the merged `flagging_suite`
# gate (end of file): every flag-family op outputs (op, event_id, flag)
# so eight operators share one driver slot — the driver gate hashes the
# first 50 registry entries only, so slots are the scarce resource.
_SQL_AUTO_CLIP = f"""
    SELECT event_id,
           (flag OR SQRT(data_re*data_re + data_im*data_im) < 50.0
                 OR SQRT(data_re*data_re + data_im*data_im) > 600.0) AS flag
    FROM ({_EV_SQL_BASE})
    """


def auto_clip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = OF.auto_clip(_events_vis(spark, sf_dir), clip_min=50.0, clip_max=600.0, vs=_EV_VIS)
    return df.select("event_id", "flag")


_SQL_MANUAL_FLAG = f"""
    SELECT event_id, (flag OR bl = 7) AS flag FROM ({_EV_SQL_BASE})
    """


def manual_flag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = OF.manual_flag(_events_vis(spark, sf_dir), F.col("bl") == 7, vs=_EV_VIS)
    return df.select("event_id", "flag")


# time_average registers through the merged `time_average` gate below:
# the resample-width and integer-bin variants share one driver slot as a
# tagged union (the driver gate hashes only the first 50 entries).
_SQL_TIME_AVERAGE = f"""
    SELECT bl, chan, pol,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS t_epoch,
           {sql_wmean('data_re', 'w')} AS data_re,
           {sql_wmean('data_im', 'w')} AS data_im,
           {sql_dsum('w')} AS w,
           COUNT(*) AS n_samples,
           bool_and(flag) AS flag
    FROM ({_EV_SQL_BASE})
    GROUP BY bl, chan, pol, date_trunc('hour', ts)
    """


def time_average_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = OA.time_average(_events_vis(spark, sf_dir), width="1 hour", vs=_EV_VIS, precise=_precise())
    out = out.select(
        "bl", "chan", "pol",
        F.unix_timestamp("ts").alias("t_epoch"),
        "data_re", "data_im", "w", "n_samples", "flag",
    )
    return out


_SQL_TIME_AVERAGE_BINNED = f"""
    WITH base AS ({_EV_SQL_BASE}),
    dt AS (
      SELECT scan, ts,
             (ROW_NUMBER() OVER (PARTITION BY scan ORDER BY ts) - 1) // 4 AS tb
      FROM (SELECT DISTINCT scan, ts FROM base)
    ),
    dtb AS (SELECT scan, ts, MIN(ts) OVER (PARTITION BY scan, tb) AS tbin FROM dt)
    SELECT b.scan, b.bl, b.chan, b.pol,
           CAST(FLOOR(epoch(dtb.tbin)) AS BIGINT) AS t_epoch,
           {sql_wmean('b.data_re', 'b.w')} AS data_re,
           {sql_dsum('b.w')} AS w,
           COUNT(*) AS n_samples
    FROM base b JOIN dtb ON b.scan = dtb.scan AND b.ts = dtb.ts
    GROUP BY b.scan, b.bl, b.chan, b.pol, dtb.tbin
    """


def time_average_binned_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timebin mode with span grouping (time_average.py:89-105)."""
    out = OA.time_average(_events_vis(spark, sf_dir), bin=4, span="state", vs=_EV_VIS,
                          precise=_precise())
    out = out.select(
        "scan", "bl", "chan", "pol",
        F.unix_timestamp("ts").alias("t_epoch"),
        "data_re", "w", "n_samples",
    )
    return out


@register(
    "time_average",
    f"""
    SELECT 'resample' AS mode, -1 AS scan, bl, chan, pol,
           t_epoch, data_re, data_im, w, n_samples, flag
    FROM ({_SQL_TIME_AVERAGE})
    UNION ALL
    SELECT 'bin', scan, bl, chan, pol, t_epoch, data_re,
           0.0, w, n_samples, FALSE
    FROM ({_SQL_TIME_AVERAGE_BINNED})
    """,
)
def time_average_merged_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (time_average_q(spark, sf_dir)
         .select(F.lit("resample").alias("mode"),
                 F.lit(-1).alias("scan"),
                 "bl", "chan", "pol", "t_epoch", "data_re", "data_im",
                 "w", "n_samples", "flag"))
    b = (time_average_binned_q(spark, sf_dir)
         .select(F.lit("bin").alias("mode"), "scan", "bl", "chan", "pol",
                 "t_epoch", "data_re",
                 F.lit(0.0).alias("data_im"),
                 "w", "n_samples",
                 F.lit(False).alias("flag")))
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Vis-shaped derivation of `lineitem` for chan_average: order = baseline,
# linenumber = channel.
# ---------------------------------------------------------------------------

_LI_VIS = VisSchema(
    time="t", baseline="bl", chan="chan", pol="pol",
    data_cols=(("data_re", "data_im"),), weight="w", flag="flag",
)

_LI_SQL_BASE = """
    SELECT 0 AS t, l_orderkey AS bl, l_linenumber AS chan, 0 AS pol,
           l_extendedprice AS data_re, l_tax AS data_im,
           l_quantity AS w, (l_returnflag = 'R') AS flag
    FROM lineitem
"""


def _lineitem_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.lit(0).alias("t"),
        F.col("l_orderkey").alias("bl"),
        F.col("l_linenumber").alias("chan"),
        F.lit(0).alias("pol"),
        F.col("l_extendedprice").alias("data_re"),
        F.col("l_tax").alias("data_im"),
        F.col("l_quantity").alias("w"),
        (F.col("l_returnflag") == "R").alias("flag"),
    )


@register(
    "chan_average",
    f"""
    SELECT bl, pol, (chan // 2) * 2 AS chan,
           {sql_wmean('data_re', 'w')} AS data_re,
           {sql_wmean('data_im', 'w')} AS data_im,
           {sql_dsum('w')} AS w,
           COUNT(*) AS n_samples,
           bool_and(flag) AS flag
    FROM ({_LI_SQL_BASE})
    GROUP BY bl, pol, chan // 2
    """,
)
def chan_average_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = OA.chan_average(_lineitem_vis(spark, sf_dir), width=2, vs=_LI_VIS, precise=_precise())
    return out.select("bl", "pol", "chan", "data_re", "data_im", "w", "n_samples", "flag")


@register(
    "rebin",
    f"""
    SELECT (user_id // 10) * 10 AS user_id,
           {sql_mean('value')} AS value,
           COUNT(*) AS n_samples
    FROM events GROUP BY user_id // 10
    """,
)
def rebin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_vis(spark, sf_dir).select("user_id", F.col("data_re").alias("value"))
    out = OA.rebin(ev, axis="user_id", factor=10, group_cols=["user_id"],
                   value_cols=["value"], precise=_precise())
    return out


@register(
    "statistics",
    f"""
    SELECT COUNT(l_extendedprice) AS npts,
           {sql_dsum('l_extendedprice')} AS sum,
           {sql_dsum('l_extendedprice * l_extendedprice')} AS sumsq,
           {sql_mean('l_extendedprice')} AS mean,
           {sql_stddev('l_extendedprice')} AS sigma,
           {sql_rms('l_extendedprice')} AS rms,
           MIN(l_extendedprice) AS min,
           MAX(l_extendedprice) AS max,
           {R('quantile_cont(l_extendedprice, 0.5)')} AS median,
           {R('quantile_cont(l_extendedprice, 0.25)')} AS q1,
           {R('quantile_cont(l_extendedprice, 0.75)')} AS q3,
           arg_min(l_orderkey, l_extendedprice) AS min_pos_l_orderkey,
           arg_max(l_orderkey, l_extendedprice) AS max_pos_l_orderkey
    FROM lineitem
    """,
)
def statistics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = statistics(li, "l_extendedprice", pos_cols=["l_orderkey"], precise=_precise())
    return round_doubles(out, only=("median", "q1", "q3"))


@register(
    "moments",
    f"""
    SELECT l_suppkey, l_returnflag,
           {sql_mean('l_extendedprice')} AS mom_mean,
           {sql_dsum('l_extendedprice')} * 2.0 AS mom_integrated,
           {sql_wmean('CAST(l_linenumber AS DOUBLE)', 'l_extendedprice')} AS mom_weighted_coord,
           {R('quantile_cont(l_extendedprice, 0.5)')} AS mom_median,
           {R('quantile_cont(l_extendedprice, 0.25)')} AS mom_median_coord,
           {sql_stddev('l_extendedprice')} AS mom_stddev,
           {sql_rms('l_extendedprice')} AS mom_rms,
           MAX(l_extendedprice) AS mom_max,
           CAST(arg_max(l_linenumber, l_extendedprice) AS DOUBLE) AS mom_max_coord,
           MIN(l_extendedprice) AS mom_min,
           CAST(arg_min(l_linenumber, l_extendedprice) AS DOUBLE) AS mom_min_coord
    FROM lineitem
    GROUP BY l_suppkey, l_returnflag
    """,
)
def moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = moments(
        li, group_cols=["l_suppkey", "l_returnflag"], axis_col="l_linenumber",
        value_col="l_extendedprice", delta=2.0,
        which=[-1, 0, 1, 3, 4, 5, 6, 8, 9, 10, 11], precise=_precise(),
    )
    return round_doubles(out, only=("mom_median", "mom_median_coord"))


@register(
    "flag_summary",
    """
    WITH flagged AS (
      SELECT l_linestatus, l_suppkey % 10 AS supp_bucket,
             o_orderpriority,
             CAST(l_returnflag = 'R' AS BIGINT) AS f
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT 'l_linestatus' AS group_key, CAST(l_linestatus AS VARCHAR) AS group_value,
           CAST(SUM(f) AS BIGINT) AS flagged, COUNT(*) AS total
    FROM flagged GROUP BY l_linestatus
    UNION ALL
    SELECT 'supp_bucket', CAST(supp_bucket AS VARCHAR), CAST(SUM(f) AS BIGINT), COUNT(*)
    FROM flagged GROUP BY supp_bucket
    UNION ALL
    SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR), CAST(SUM(f) AS BIGINT), COUNT(*)
    FROM flagged GROUP BY o_orderpriority
    """,
)
def flag_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_linestatus",
        (F.col("l_suppkey") % 10).alias("supp_bucket"),
        "o_orderpriority",
        (F.col("l_returnflag") == "R").alias("flag"),
    )
    return flag_summary(joined, ["l_linestatus", "supp_bucket", "o_orderpriority"])


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Joins tier (SURVEY.md §2.3): join_vis full-outer coordinate merge,
# split_dataset semi-join trim, join_dataset surrogate-key catalog union.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.operators import joins as OJ  # noqa: E402


@register(
    "join_vis",
    f"""
    WITH base AS ({_EV_SQL_BASE}),
    a AS (SELECT event_id, data_re, user_id FROM base WHERE user_id % 2 = 0),
    b AS (SELECT event_id, data_re, event_type FROM base
          WHERE user_id % 2 = 1 OR user_id % 4 = 0)
    SELECT COALESCE(a.event_id, b.event_id) AS event_id,
           COALESCE(a.data_re, b.data_re) AS data_re,
           a.user_id, b.event_type
    FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
    """,
)
def join_vis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_vis(spark, sf_dir)
    a = ev.filter(F.col("user_id") % 2 == 0).select("event_id", "data_re", "user_id")
    b = ev.filter((F.col("user_id") % 2 == 1) | (F.col("user_id") % 4 == 0)) \
        .select("event_id", "data_re", "event_type")
    # validate=True exercises the no-conflicts check (both sides derive
    # from the same source, so it passes — conflict case is unit-tested)
    return OJ.join_vis(a, b, keys=["event_id"], validate=True)


@register(
    "split_dataset",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT DISTINCT o_custkey FROM orders
                        WHERE o_orderstatus = 'O' AND o_totalprice > 200000)
    """,
)
def split_dataset_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    fact = orders.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 200000))
    _, trimmed = OJ.split_dataset(fact, {"customer": (customer, "c_custkey", "o_custkey")})
    return trimmed["customer"]


_JD_SQL = """
    WITH dim1 AS (SELECT c_custkey AS id, c_name FROM customer WHERE c_custkey <= 1000),
         dim2 AS (SELECT c_custkey - 800 AS id, c_name FROM customer WHERE c_custkey > 800),
         matched AS (SELECT d2.id AS old_id, d1.id AS new_id
                     FROM dim2 d2 JOIN dim1 d1 USING (c_name)),
         unmatched AS (SELECT d2.id AS old_id, d2.c_name,
                              1000 + ROW_NUMBER() OVER (ORDER BY d2.id) AS new_id
                       FROM dim2 d2 ANTI JOIN dim1 d1 USING (c_name)),
         remap AS (SELECT old_id, new_id FROM matched
                   UNION ALL SELECT old_id, new_id FROM unmatched),
         fact1 AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey <= 1000),
         fact2 AS (SELECT o_orderkey, o_custkey - 800 AS o_custkey
                   FROM orders WHERE o_custkey > 800),
         fact2r AS (SELECT f.o_orderkey, COALESCE(r.new_id, f.o_custkey) AS o_custkey
                    FROM fact2 f LEFT JOIN remap r ON f.o_custkey = r.old_id),
         fact_all AS (SELECT * FROM fact1 UNION ALL SELECT * FROM fact2r),
         dim_all AS (SELECT id, c_name FROM dim1
                     UNION ALL SELECT new_id AS id, c_name FROM unmatched)
"""


def _join_dataset_parts(spark: SparkSession, sf_dir: str):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    dim1 = customer.filter(F.col("c_custkey") <= 1000) \
        .select(F.col("c_custkey").alias("id"), "c_name")
    dim2 = customer.filter(F.col("c_custkey") > 800) \
        .select((F.col("c_custkey") - 800).alias("id"), "c_name")
    fact1 = orders.filter(F.col("o_custkey") <= 1000).select("o_orderkey", "o_custkey")
    fact2 = orders.filter(F.col("o_custkey") > 800) \
        .select("o_orderkey", (F.col("o_custkey") - 800).alias("o_custkey"))
    return OJ.join_dataset(fact1, dim1, fact2, dim2, dim_key="id", fact_fk="o_custkey")


# facts + dims in one tagged-union slot (the driver hashes only
# _DRIVER_WINDOW registry entries; merging frees a slot for the
# imaging value gates)
@register(
    "join_dataset",
    _JD_SQL + """
    SELECT 'facts' AS part, CAST(o_custkey AS BIGINT) AS k,
           COUNT(*) AS n, '' AS name
    FROM fact_all GROUP BY o_custkey
    UNION ALL
    SELECT 'dims', CAST(id AS BIGINT), CAST(0 AS BIGINT), c_name
    FROM dim_all
    """,
)
def join_dataset_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact_out, dim_out = _join_dataset_parts(spark, sf_dir)
    facts = (fact_out.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
             .select(F.lit("facts").alias("part"),
                     F.col("o_custkey").cast("long").alias("k"),
                     "n", F.lit("").alias("name")))
    dims = dim_out.select(F.lit("dims").alias("part"),
                          F.col("id").cast("long").alias("k"),
                          F.lit(0).cast("long").alias("n"),
                          F.col("c_name").alias("name"))
    return facts.unionByName(dims)


# ---------------------------------------------------------------------------
# UDF tier (SURVEY.md §2.5, §2.8): windowed smoothing + per-group fits.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.operators.fitting import (  # noqa: E402
    cont_sub_linear, spec_fit, uv_cont_fit,
)
from cngi_prototype_spark.operators.smoothing import (  # noqa: E402
    chan_smooth, sql_chan_smooth, window_weights,
)

_SMOOTH_W = window_weights("triang", 3)


# smoothing axis must be totally ordered within a partition (lag/lead
# tie-breaks are engine-dependent): event_id is globally unique, so smooth
# data_re along event_id within each bl "spectrum".
_EV_SMOOTH_VIS = VisSchema(
    time="pol", baseline="bl", chan="event_id", pol="chan",
    data_cols=(("data_re", "data_im"),), weight="w", flag="flag",
)


@register(
    "chan_smooth",
    f"""
    SELECT bl, event_id,
           {sql_chan_smooth('data_re', _SMOOTH_W, 'bl, pol, chan', 'event_id')} AS data_re
    FROM ({_EV_SQL_BASE})
    """,
)
def chan_smooth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = chan_smooth(_events_vis(spark, sf_dir), window="triang", size=3,
                      vs=_EV_SMOOTH_VIS, cols=["data_re"])
    return out.select("bl", "event_id", "data_re")


@register(
    "cont_sub_linear",
    f"""
    WITH base AS ({_LI_SQL_BASE}),
    sums AS (
      SELECT bl,
             {sql_dsum('CAST(chan AS DOUBLE)')} AS sx,
             {sql_dsum('CAST(chan AS DOUBLE) * CAST(chan AS DOUBLE)')} AS sxx,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('data_re')} AS sy,
             {sql_dsum('CAST(chan AS DOUBLE) * data_re')} AS sxy
      FROM base GROUP BY bl
    )
    SELECT b.bl, b.chan,
           b.data_re - (((s.sy - (CASE WHEN (s.n * s.sxx - s.sx * s.sx) <> 0
                 THEN (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx) END)
                 * s.sx) / s.n)
              + (CASE WHEN (s.n * s.sxx - s.sx * s.sx) <> 0
                 THEN (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx) END)
                * CAST(b.chan AS DOUBLE)) AS data_re,
           (((s.sy - (CASE WHEN (s.n * s.sxx - s.sx * s.sx) <> 0
                 THEN (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx) END)
                 * s.sx) / s.n)
              + (CASE WHEN (s.n * s.sxx - s.sx * s.sx) <> 0
                 THEN (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx) END)
                * CAST(b.chan AS DOUBLE)) AS data_re_cont
    FROM base b JOIN sums s ON b.bl = s.bl
    """,
)
def cont_sub_linear_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cont_sub_linear(
        _lineitem_vis(spark, sf_dir), group_cols=["bl"], x_col="chan",
        value_cols=["data_re"], precise=_precise(),
    )
    return out.select("bl", "chan", "data_re", "data_re_cont")


def uv_cont_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gate-checked (with a value oracle) inside the merged `uv_cont_fit`
    # gate registered further down
    return uv_cont_fit(_lineitem_vis(spark, sf_dir), vs=_LI_VIS, fitorder=2,
                       precise=_precise())


@register("spec_fit", None)  # Gauss-Newton on noisy driver data: rows-only
def spec_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_vis(spark, sf_dir)
    return spec_fit(ev.filter(F.col("bl") < 5), ["bl"], "event_id", "data_re")


# ---------------------------------------------------------------------------
# spec_fit truth-recovery part: VALUE evidence for the Gauss-Newton
# gaussian fit (same pattern as self_cal_small): spectra are exact
# noise-free gaussians y = A·exp(-((x-mu)/sigma)^2/2), so the fit
# converges to the generating parameters to its 1e-12 tolerance and the
# oracle is the closed-form truth; rms_err rounds to exactly 0.
# Rides the beam_fit gate as its 'specfit' union part (driver-slot
# economy — its standalone slot was re-spent on bpe_tokenize).
# ---------------------------------------------------------------------------


def _spec_fit_small_part(spark: SparkSession) -> DataFrame:
    spectra = spark.range(5 * 40).select(
        (F.col("id") / 40).cast("int").alias("grp"),
        (F.col("id") % 40).cast("double").alias("x"))
    a = 5.0 + 0.5 * F.col("grp").cast("double")
    mu = 17.0 + 1.1 * F.col("grp").cast("double")
    sig = 3.0 + 0.25 * F.col("grp").cast("double")
    t = (F.col("x") - mu) / sig
    spectra = spectra.withColumn("y", a * F.exp(-0.5 * t * t))
    out = spec_fit(spectra, ["grp"], "x", "y")
    return out.select(
        F.lit("specfit").alias("method"),
        F.col("grp").cast("int").alias("chan"),
        (F.round("amp", 6) + F.lit(0.0)).alias("v1"),
        (F.round("center", 6) + F.lit(0.0)).alias("v2"),
        (F.round("sigma", 6) + F.lit(0.0)).alias("v3"),
        (F.round("rms_err", 6) + F.lit(0.0)).alias("v4"))


# ---------------------------------------------------------------------------
# Training-data pipeline tier: text analysis, dedup, similarity search.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.dedup.dedup import (  # noqa: E402
    SQL_EXACT_DEDUP,
    exact_dedup,
    minhash_lsh_candidates,
    duplicate_clusters,
    minhash_signatures,
    ngram_contamination,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    sql_dedup_minhash_verified,
    sql_duplicate_clusters,
    sql_minhash_lsh_candidates,
    sql_minhash_signatures,
    sql_ngram_contamination,
    sql_ngram_jaccard_pairs,
    sql_remove_duplicate_spans,
    sql_simhash_fingerprints,
)
from cngi_prototype_spark.text.lm import (  # noqa: E402
    lm_doc_logprob,
    sql_lm_doc_logprob,
)
from cngi_prototype_spark.text.retrieval import (  # noqa: E402
    bm25_topk,
    sql_bm25_topk,
)
from cngi_prototype_spark.text.classifier import (  # noqa: E402
    nb_classify,
    sql_nb_classify,
)
from cngi_prototype_spark.text.dsir import (  # noqa: E402
    dsir_resample,
    dsir_resample_from_weights,
    dsir_weights,
    sql_dsir_resample,
    sql_dsir_weights,
)
from cngi_prototype_spark.similarity.ann import (  # noqa: E402
    brute_force_topk,
    cosine_pairs,
    lsh_topk,
    cosine_pairs_lsh,
    hamming_topk,
    ivf_topk,
    ivfpq_topk,
    pq_topk,
    semantic_dedup,
    sql_brute_force_topk,
    sql_cosine_pairs,
    sql_cosine_pairs_lsh,
    sql_hamming_topk,
    sql_ivf_topk,
    sql_ivfpq_topk,
    sql_lsh_topk,
    sql_pool_embeddings,
    sql_pq_topk,
    sql_semantic_dedup,
    train_ivfpq,
    train_ivfpq_arrow,
    train_pq_codebooks,
)
from cngi_prototype_spark.text.analysis import (  # noqa: E402
    chunk_documents,
    md5_num,
    sql_chunk_documents,
    sql_doc_fingerprint,
    sql_language_id,
    sql_md5_num,
    sql_quality_score,
    sql_token_frequencies,
    sql_token_stats,
    sql_winnow_fingerprints,
    text_features,
    token_frequencies,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table spread across the cluster: the testdata ships as
    one small parquet file (one input split), which would serialize the
    tokenize/md5-heavy text ops onto a single core. Real corpora arrive
    as many files; this repartition recreates that parallelism and its
    cost is trivial next to per-row text work."""
    par = spark.sparkContext.defaultParallelism
    return _t(spark, sf_dir, "documents").repartition(par, "doc_id")


def _sql_text_features() -> str:
    from cngi_prototype_spark.text.analysis import sql_scrub_pii
    from cngi_prototype_spark.text.gopher import (
        sql_gopher_quality_filter,
        sql_gopher_repetition,
    )
    s = sql_token_stats("text")
    fp = sql_doc_fingerprint("text")
    scrub = (f"SELECT doc_id, md5(text) AS scrub_md5, n_email, "
             f"n_ipv4, n_phone FROM ({sql_scrub_pii()})")
    return f"""
    WITH _scrub AS ({scrub}),
    _grep AS ({sql_gopher_repetition()}),
    _gqual AS ({sql_gopher_quality_filter()})
    SELECT documents.doc_id,
           {s['n_tokens']} AS n_tokens,
           {s['n_chars']} AS n_chars,
           {s['mean_token_len']} AS mean_token_len,
           {s['punct_ratio']} AS punct_ratio,
           {s['stopword_ratio']} AS stopword_ratio,
           {sql_quality_score('text')} AS quality,
           {sql_language_id('text')} AS lang_pred,
           {fp['md5_norm']} AS md5_norm,
           {fp['minhash1']} AS minhash1,
           _scrub.scrub_md5 AS scrub_md5,
           _scrub.n_email AS n_email,
           _scrub.n_ipv4 AS n_ipv4,
           _scrub.n_phone AS n_phone,
           _grep.* EXCLUDE (doc_id, n_chars),
           _gqual.* EXCLUDE (doc_id)
    FROM documents
    JOIN _scrub ON _scrub.doc_id = documents.doc_id
    JOIN _grep ON _grep.doc_id = documents.doc_id
    JOIN _gqual ON _gqual.doc_id = documents.doc_id
    """


@register("text_features", _sql_text_features)
def text_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cngi_prototype_spark.text.analysis import scrub_pii
    from cngi_prototype_spark.text.gopher import gopher_annotate
    docs = _docs(spark, sf_dir)
    tf = text_features(docs)
    sc = scrub_pii(docs).select(
        "doc_id", F.md5("text").alias("scrub_md5"),
        "n_email", "n_ipv4", "n_phone")
    # r14: repetition + quality ride one fused projection pass (same
    # columns as the old rep ⋈ qual pair, n_chars dropped as before —
    # text_features carries its own)
    ann = gopher_annotate(docs).drop("n_chars")
    return tf.join(sc, "doc_id").join(ann, "doc_id")


def text_features_bench_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench entry: the original feature scope (the gate gained the
    PII-scrub columns for slot economy)."""
    return text_features(_docs(spark, sf_dir))


@register("gopher_filter", None)  # value-gated via text_features parts
def gopher_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape Gopher corpus filtering: repetition metrics +
    the seven document-quality rules, one row per document with keep /
    reason. Value-hashed (all columns) through the text_features gate;
    this entry runs the operator pair at its production scope.

    r14: one fused per-document pass (column-identical to the old
    ``gopher_repetition ⋈ gopher_quality_filter`` — both operands are
    pure projections since the in-row repetition rewrite, so the join
    bought two extra corpus passes and an exchange pair for nothing)."""
    from cngi_prototype_spark.text.gopher import gopher_annotate
    return gopher_annotate(_docs(spark, sf_dir))


@register("bm25_topk", None)  # value-gated via ngram_jaccard 'bm25' part
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape BM25 retrieval: six queries, top-20 per query,
    exact double scores (the quantized tier of the same operator is
    hash-checked as the 'bm25' part of the ngram_jaccard gate)."""
    docs = _docs(spark, sf_dir)
    qs = [(0, "scan merge window sort"),
          (1, "customer stream batch data"),
          (2, "spark join filter"), (3, "query group agg"),
          (4, "fast key value"), (5, "table row column")]
    return bm25_topk(docs, qs, top_n=20)


@register("hybrid_search", None)  # value-gated via ngram_jaccard 'hyb'
def hybrid_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape hybrid retrieval: BM25 top-50 shortlist →
    embedding cosine re-score → weighted blend → top-10 (the blend
    tier of the same operator is hash-checked as the 'hyb' part of
    the ngram_jaccard gate)."""
    from cngi_prototype_spark.similarity.hybrid import hybrid_search
    docs = _docs(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qs = [(0, "scan merge window sort"),
          (1, "customer stream batch data"),
          (2, "spark join filter"), (3, "query group agg"),
          (4, "fast key value"), (5, "table row column")]
    qv = (emb.filter(F.col("vec_id") < 6)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    return hybrid_search(docs, emb, qs, qv, bm25_n=50, k=10)


@register("nb_classify", None)  # value-gated via ngram_jaccard 'nbc'
def nb_classify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape Naive Bayes classification: self-train on the
    lang labels, exact double log-joint scores + margins (the
    quantized tier of the same operator is hash-checked as the 'nbc'
    part of the ngram_jaccard gate)."""
    return nb_classify(_docs(spark, sf_dir))


@register("dsir_select", None)  # value-gated via 'dsir'/'dsel' parts
def dsir_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape DSIR selection: importance-weight the corpus
    against the lang='en' target and Gumbel-top-k 100 documents (the
    quantized weight and the selection-key tiers of the same operator
    are hash-checked as the 'dsir'/'dsel' parts of the ngram_jaccard
    gate)."""
    docs = _docs(spark, sf_dir)
    return dsir_resample(docs, docs.filter(F.col("lang") == "en"),
                         100, seed=13)


@register("curation_pipeline", None)  # stages value-gated individually
def curation_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus curation with the round-13 operators, as ONE
    lazy plan (the pipeline_training_assembly discipline — no
    intermediate persist): NB classifier-consistency gate (keep
    documents whose self-trained prediction agrees with the recorded
    lang — the cheap label-noise filter), DSIR importance selection
    of 200 documents against the lang='en' target over the survivors,
    then 2048-token sequence packing of the selection. Each stage is
    the correspondingly-gated operator ('nbc', 'dsir'/'dsel', 'pack'
    parts), so this entry times composition, not new semantics."""
    from cngi_prototype_spark.text.training import pack_sequences
    docs = _docs(spark, sf_dir)
    pred = nb_classify(docs).select("doc_id", "label_pred")
    kept = (docs.join(pred, "doc_id")
            .filter(F.col("label_pred") == F.col("lang"))
            .drop("label_pred"))
    # `kept` is a DIAMOND node (DSIR raw side + target side + the
    # final selection join all consume it); left lazy, every consumer
    # re-runs the NB scoring join (measured 12 s -> ~5 s at sf0.1).
    # Stage-boundary materialization is what a production pipeline
    # does between classifier and selector — localCheckpoint, not
    # persist, per the CacheManager-contamination rule (dedup.py).
    kept = kept.localCheckpoint(eager=True)
    sel = dsir_resample(kept, kept.filter(F.col("lang") == "en"),
                        200, seed=13)
    chosen = kept.join(sel.select("doc_id"), "doc_id")
    return pack_sequences(chosen, 2048, eod_tokens=1)


@register("lm_perplexity", None)  # value-gated via ngram_jaccard 'ppl'
def lm_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape LM quality scoring: stupid-backoff bigram
    self-perplexity over the corpus, exact double log-probs (the
    quantized tier of the same operator is hash-checked as the 'ppl'
    part of the ngram_jaccard gate)."""
    return lm_doc_logprob(_docs(spark, sf_dir))


@register("dedup_spans", None)  # token-index union rebuild: rows-only
def dedup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-span removal (Lee et al. 2021) at 8-gram
    production shape — reference-implementation parity unit-tested
    (tests/test_pipeline_ops.py exactsubstr)."""
    from cngi_prototype_spark.dedup.dedup import remove_duplicate_spans
    return remove_duplicate_spans(_docs(spark, sf_dir), n=8)


@register("dedup_exact", SQL_EXACT_DEDUP)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


@register("minhash_signatures", sql_minhash_signatures(8, 3))
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_docs(spark, sf_dir), num_hashes=8, shingle_n=3)


@register("minhash_lsh_candidates", sql_minhash_lsh_candidates(8, 4, 3))
def minhash_lsh_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_candidates(_docs(spark, sf_dir),
                                  num_hashes=8, bands=4, shingle_n=3)


_PACK_L = 37  # gate-scope sequence length (production uses 2048-8192)
_MIX_FRACS = {"en": 0.61, "de": 0.29, "fr": 0.83, "es": 0.47,
              "zh": 0.11}


def _sql_pack_sequences_part() -> str:
    from cngi_prototype_spark.text.training import sql_pack_sequences
    return sql_pack_sequences(_PACK_L, eod_tokens=1)


def _sql_mix_part() -> str:
    from cngi_prototype_spark.text.training import sql_stratified_sample
    return sql_stratified_sample(_MIX_FRACS, by="lang", seed=5)


# gate-scope BM25 queries: mid-frequency testdata vocabulary so each
# query matches a nontrivial, distinct doc subset
_BM25_QUERIES = [(0, "scan merge window"), (1, "customer stream batch"),
                 (2, "spark join")]


def _sql_hybrid_part() -> str:
    from cngi_prototype_spark.similarity.hybrid import sql_hybrid_search
    return sql_hybrid_search(_BM25_QUERIES, bm25_n=20, k=10,
                             query_vec_pred="vec_id < 3")


def _sql_rrf_part() -> str:
    from cngi_prototype_spark.similarity.hybrid import sql_rrf_search
    return sql_rrf_search(_BM25_QUERIES, bm25_n=20, k=10,
                          query_vec_pred="vec_id < 3")


@register(
    "ngram_jaccard",
    f"""
    SELECT 'jac' AS part, id_a, id_b, jaccard
    FROM ({sql_ngram_jaccard_pairs(3, 0.05)})
    UNION ALL
    -- benchmark decontamination (gram-set overlap vs the doc_id%13
    -- held-out subset): integer-ratio overlap_frac, bit-exact
    SELECT 'contam', doc_id, bench_id, overlap_frac
    FROM ({sql_ngram_contamination(3, 2)})
    UNION ALL
    -- document chunking boundaries (5-token chunks, overlap 2):
    -- exact integer token counts per (doc, chunk)
    SELECT 'chunk', doc_id, chunk_id,
           CAST(n_chunk_tokens AS DOUBLE)
    FROM ({sql_chunk_documents(5, 2)})
    UNION ALL
    -- vocabulary statistics (top-256 tokens): token identity rides
    -- md5_num, rank is the deterministic (count desc, token asc)
    -- position, and the value packs both counts exactly
    -- (n_occurrences*1e6 + n_docs < 2^53 at any test SF)
    SELECT 'vocab', {sql_md5_num('token')}, CAST(rank AS BIGINT),
           CAST(n_occurrences * 1000000 + n_docs AS DOUBLE)
    FROM ({sql_token_frequencies(256)})
    UNION ALL
    -- winnowing fingerprints (MOSS rolling-hash, doc_id%7 subset):
    -- value < 2^31 so the hash rides the double exactly
    SELECT 'wfp', doc_id, CAST(pos AS BIGINT),
           CAST(fingerprint AS DOUBLE)
    FROM ({sql_winnow_fingerprints(5, 4)})
    WHERE doc_id % 7 = 0
    UNION ALL
    -- sequence packing (GPT concat-and-chunk at seq_len=37): the
    -- whole placement (tok_start, tok_end, seq_offset) packs exactly
    -- into one double (< 2e11 < 2^53)
    SELECT 'pack', doc_id, seq_id,
           CAST((CAST(tok_start AS BIGINT) * 100000 + tok_end) * 1000
                + seq_offset AS DOUBLE)
    FROM ({_sql_pack_sequences_part()})
    UNION ALL
    -- deterministic mixture sampling (md5 keep-gate per lang):
    -- kept rows by (doc, lang), value rides n_chars
    SELECT 'mix', doc_id, {sql_md5_num('lang')},
           CAST(n_chars AS DOUBLE)
    FROM ({_sql_mix_part()})
    UNION ALL
    -- ExactSubstr duplicate-span removal (8-gram): the rebuilt text
    -- rides md5_num (content-exact), counts pack one double
    SELECT 'spans', doc_id, {sql_md5_num('text_dedup')},
           CAST(n_tokens * 100000 + n_removed AS DOUBLE)
    FROM ({sql_remove_duplicate_spans(8)})
    UNION ALL
    -- BM25 top-10 per query (quantized tier): per-term contributions
    -- are identical IEEE expression trees floor-quantized to BIGINT
    -- nano-units, so the score sum is order-independent; value packs
    -- (score_q, rank) exactly (score_q*100 + rank < 5e12 < 2^53)
    SELECT 'bm25', CAST(query_id AS BIGINT), doc_id,
           CAST(score_q * 100 + rank AS DOUBLE)
    FROM ({sql_bm25_topk(_BM25_QUERIES, top_n=10, quantize=True)})
    UNION ALL
    -- stupid-backoff LM perplexity (CCNet-style quality scoring):
    -- per-token log-probs quantized to BIGINT nano-units before the
    -- per-doc sum (order-free); id_b packs (n_tokens, n_unseen)
    SELECT 'ppl', doc_id, n_tokens * 1000 + n_unseen,
           CAST(logprob_q AS DOUBLE)
    FROM ({sql_lm_doc_logprob()})
    UNION ALL
    -- hybrid lexical+vector retrieval: BM25 shortlist (quantized
    -- tier) blended with embedding cosine — the score is a pure
    -- per-row expression over exact inputs (int division + the ann
    -- tier's bit-mirrored cosine folds), so it hashes unquantized
    SELECT 'hyb', CAST(query_id AS BIGINT), doc_id, hybrid_score
    FROM ({_sql_hybrid_part()})
    UNION ALL
    -- reciprocal rank fusion over the same two signals (Cormack
    -- 2009; the Elasticsearch hybrid default): integer ranks fused
    -- by 1/(60+r) — exact-input rationals, hash-safe unquantized
    SELECT 'rrf', CAST(query_id AS BIGINT), doc_id, rrf_score
    FROM ({_sql_rrf_part()})
    UNION ALL
    -- multinomial Naive Bayes classifier (self-train on lang): the
    -- predicted label rides md5_num, the winning log-joint is
    -- nano-quantized BIGINT (order-free sum), exact in a double
    SELECT 'nbc', doc_id, {sql_md5_num('label_pred')},
           CAST(score_q AS DOUBLE)
    FROM ({sql_nb_classify()})
    UNION ALL
    -- DSIR importance weights (hashed unigram+bigram LLR vs the
    -- lang='en' target): nano-quantized BIGINT log-weight sum
    SELECT 'dsir', doc_id, n_features, CAST(logw_q AS DOUBLE)
    FROM ({sql_dsir_weights("d.lang = 'en'")})
    UNION ALL
    -- DSIR Gumbel-top-k selection: the gate pins MEMBERSHIP + ORDER
    -- (doc_id, rank) plus the exact n_features count; the key itself
    -- carries two nested ln() draws whose 1-ulp libm/Math.log
    -- divergence is amplified by |key|~1e2, so it is deliberately NOT
    -- hashed — the weights behind it are value-gated in 'dsir'
    SELECT 'dsel', doc_id, CAST(rank AS BIGINT),
           CAST(n_features AS DOUBLE)
    FROM ({sql_dsir_resample("d.lang = 'en'", 40, seed=7)})
    """,
)
def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    jac = ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.05).select(
        F.lit("jac").alias("part"), "id_a", "id_b", "jaccard")
    contam = ngram_contamination(
        docs, docs.filter(F.col("doc_id") % 13 == 0),
        shingle_n=3, min_overlap=2).select(
        F.lit("contam").alias("part"), F.col("doc_id").alias("id_a"),
        F.col("bench_id").alias("id_b"),
        F.col("overlap_frac").alias("jaccard"))
    chunk = chunk_documents(docs, chunk_tokens=5, overlap=2).select(
        F.lit("chunk").alias("part"), F.col("doc_id").alias("id_a"),
        F.col("chunk_id").cast("long").alias("id_b"),
        F.col("n_chunk_tokens").cast("double").alias("jaccard"))
    vocab = token_frequencies(docs, top_k=256).select(
        F.lit("vocab").alias("part"),
        md5_num(F.col("token")).alias("id_a"),
        F.col("rank").cast("long").alias("id_b"),
        (F.col("n_occurrences") * F.lit(1000000) + F.col("n_docs"))
        .cast("double").alias("jaccard"))
    from cngi_prototype_spark.text.analysis import winnow_fingerprints
    wfp = winnow_fingerprints(
        docs.filter(F.col("doc_id") % 7 == 0), k=5, window=4).select(
        F.lit("wfp").alias("part"), F.col("doc_id").alias("id_a"),
        F.col("pos").cast("long").alias("id_b"),
        F.col("fingerprint").cast("double").alias("jaccard"))
    from cngi_prototype_spark.text.training import (
        pack_sequences, stratified_sample)
    # sequence packing: the full placement (tok_start, tok_end,
    # seq_offset) packs exactly into one double (< 2e11 < 2^53)
    pack = pack_sequences(docs, _PACK_L, eod_tokens=1).select(
        F.lit("pack").alias("part"), F.col("doc_id").alias("id_a"),
        F.col("seq_id").alias("id_b"),
        ((F.col("tok_start").cast("long") * 100000
          + F.col("tok_end")).cast("double") * 1000
         + F.col("seq_offset")).alias("jaccard"))
    # deterministic mixture sampling: kept rows by (doc, lang), value
    # rides n_chars so row identity is content-checked
    mix = stratified_sample(docs, _MIX_FRACS, by="lang",
                            seed=5).select(
        F.lit("mix").alias("part"), F.col("doc_id").alias("id_a"),
        md5_num(F.col("lang")).alias("id_b"),
        F.col("n_chars").cast("double").alias("jaccard"))
    # ExactSubstr span removal: the rebuilt text is content-checked
    # via md5_num; n_tokens/n_removed pack exactly into one double
    from cngi_prototype_spark.dedup.dedup import remove_duplicate_spans
    spans = remove_duplicate_spans(docs, n=8).select(
        F.lit("spans").alias("part"), F.col("doc_id").alias("id_a"),
        md5_num(F.col("text_dedup")).alias("id_b"),
        (F.col("n_tokens").cast("long") * 100000
         + F.col("n_removed")).cast("double").alias("jaccard"))
    bm25 = bm25_topk(docs, _BM25_QUERIES, top_n=10, quantize=True).select(
        F.lit("bm25").alias("part"),
        F.col("query_id").cast("long").alias("id_a"),
        F.col("doc_id").alias("id_b"),
        (F.col("score_q") * 100 + F.col("rank"))
        .cast("double").alias("jaccard"))
    ppl = lm_doc_logprob(docs, quantize=True).select(
        F.lit("ppl").alias("part"), F.col("doc_id").alias("id_a"),
        (F.col("n_tokens") * 1000 + F.col("n_unseen")).alias("id_b"),
        F.col("logprob_q").cast("double").alias("jaccard"))
    from cngi_prototype_spark.similarity.hybrid import (
        hybrid_search,
        rrf_search,
    )
    emb = _t(spark, sf_dir, "embeddings")
    qv3 = (emb.filter(F.col("vec_id") < 3)
           .select(F.col("vec_id").alias("query_id"), "embedding"))
    hyb = hybrid_search(docs, emb, _BM25_QUERIES, qv3,
                        bm25_n=20, k=10).select(
        F.lit("hyb").alias("part"),
        F.col("query_id").cast("long").alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("hybrid_score").alias("jaccard"))
    rrf = rrf_search(docs, emb, _BM25_QUERIES, qv3,
                     bm25_n=20, k=10).select(
        F.lit("rrf").alias("part"),
        F.col("query_id").cast("long").alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("rrf_score").alias("jaccard"))
    nbc = nb_classify(docs, quantize=True).select(
        F.lit("nbc").alias("part"),
        F.col("doc_id").alias("id_a"),
        md5_num(F.col("label_pred")).alias("id_b"),
        F.col("score_q").cast("double").alias("jaccard"))
    en = docs.filter(F.col("lang") == "en")
    # ONE weight pipeline feeds both DSIR parts (the keying step is a
    # pure per-row expression over the quantized weights)
    w = dsir_weights(docs, en, quantize=True)
    dsw = w.select(
        F.lit("dsir").alias("part"),
        F.col("doc_id").alias("id_a"),
        F.col("n_features").alias("id_b"),
        F.col("logw_q").cast("double").alias("jaccard"))
    # the selection KEY carries two nested ln() draws whose 1-ulp
    # libm-vs-Math.log divergence is amplified by |key|~1e2, so the
    # gate pins membership + order (doc_id, rank) and the exact
    # n_features count instead of the key itself; the weights behind
    # the key are value-gated in the 'dsir' part
    dsel = dsir_resample_from_weights(w, 40, seed=7).select(
        F.lit("dsel").alias("part"),
        F.col("doc_id").alias("id_a"),
        F.col("rank").cast("long").alias("id_b"),
        F.col("n_features").cast("double").alias("jaccard"))
    return (jac.unionByName(contam).unionByName(chunk)
            .unionByName(vocab).unionByName(wfp)
            .unionByName(pack).unionByName(mix).unionByName(spans)
            .unionByName(bm25).unionByName(ppl).unionByName(hyb)
            .unionByName(rrf).unionByName(nbc).unionByName(dsw)
            .unionByName(dsel))


def ngram_jaccard_bench_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench entry: the original pairs-only scope (round-over-round
    comparability; the gate gained a 'contam' union part)."""
    return ngram_jaccard_pairs(_docs(spark, sf_dir),
                               shingle_n=3, threshold=0.05)


@register("token_frequencies", None)  # vocab stats: rows-only
def token_frequencies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (top-4096 tokens by occurrence) —
    the counting pass under tokenizer training."""
    from cngi_prototype_spark.text.analysis import token_frequencies
    return token_frequencies(_docs(spark, sf_dir), top_k=4096)


@register("chunk_documents", None)  # projection-only: rows-only
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape document chunking (128-token chunks, 16-token
    overlap; value-gated at 5/2 via the 'chunk' part of
    ngram_jaccard)."""
    return chunk_documents(_docs(spark, sf_dir),
                           chunk_tokens=128, overlap=16)


@register("pack_sequences", None)  # production shape: rows-only
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape sequence packing (2048-token training
    sequences; value-gated at seq_len=37 via the 'pack' part of
    ngram_jaccard)."""
    from cngi_prototype_spark.text.training import pack_sequences
    return pack_sequences(_docs(spark, sf_dir), 2048)


@register("corpus_mixture", None)  # trained fractions: rows-only
def corpus_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape mixture sampling: per-lang fractions computed
    from the corpus' own counts under temperature 2 reweighting
    (low-resource boosted), then the deterministic md5 keep-gate
    (value-gated with fixed fractions via the 'mix' part of
    ngram_jaccard). The counts collect is strata-sized metadata."""
    from cngi_prototype_spark.text.training import (
        mixture_fractions, stratified_sample)
    docs = _docs(spark, sf_dir)
    counts = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    fracs = mixture_fractions(counts, temperature=2.0,
                              target_total=sum(counts.values()) // 2)
    return stratified_sample(docs, fracs, by="lang", seed=11)


@register("decontaminate", None)  # production 8-gram shape: rows-only
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape benchmark decontamination: 8-gram overlap of
    the full corpus against a FIXED-SIZE held-out set (doc_id < 400 —
    a real eval set is bounded, and the operator broadcasts the bench
    gram side, so the bench set must not scale with the corpus).
    Value-gated at 3-gram via the 'contam' part of ngram_jaccard."""
    docs = _docs(spark, sf_dir)
    return ngram_contamination(docs, docs.filter(F.col("doc_id") < 400),
                               shingle_n=8, min_overlap=1)


@register(
    "dedup_minhash_verified",
    f"""
    WITH verified AS ({sql_dedup_minhash_verified(8, 4, 3, 0.05)})
    SELECT 'pair' AS part, id_a, id_b, jaccard FROM verified
    UNION ALL
    -- duplicate-cluster resolution: connected components over the
    -- verified pair graph, canonical = min doc id per component (the
    -- recursive-CTE twin of the engine's min-label propagation)
    SELECT 'cluster', doc_id, canonical_id, 0.0
    FROM ({sql_duplicate_clusters("SELECT id_a, id_b FROM verified")})
    """,
)
def dedup_minhash_verified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    cands = minhash_lsh_candidates(docs, num_hashes=8, bands=4, shingle_n=3)
    pairs = ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.05,
                                candidates=cands)
    clusters = duplicate_clusters(pairs)
    pout = pairs.select(F.lit("pair").alias("part"), "id_a", "id_b", "jaccard")
    cout = clusters.select(F.lit("cluster").alias("part"),
                           F.col("doc_id").alias("id_a"),
                           F.col("canonical_id").alias("id_b"),
                           F.lit(0.0).alias("jaccard"))
    return pout.unionByName(cout)


def dedup_minhash_verified_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-only scope (bench entry: the original gate scope before the
    cluster part was merged in; the iterative cluster fixpoint would
    time driver-loop convergence, not the dedup pipeline)."""
    docs = _docs(spark, sf_dir)
    cands = minhash_lsh_candidates(docs, num_hashes=8, bands=4, shingle_n=3)
    return ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.05,
                               candidates=cands)


@register("simhash", sql_simhash_fingerprints())
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(_docs(spark, sf_dir))


def ann_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, num_planes=6)


def _ivf_gate_centroids() -> list[list[float]]:
    """Deterministic unit centroids for the gate (md5-derived, like the
    LSH planes): the operator takes externally trained centroids —
    train_ivf_centroids is the production trainer (unit-tested); the
    gate needs centroids known at oracle-build time."""
    import math

    from cngi_prototype_spark.similarity.ann import _plane

    cs = []
    for i in range(8):
        p = _plane(7, i, 64)
        n = math.sqrt(sum(x * x for x in p))
        cs.append([x / n for x in p])
    return cs


def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10),
                    _ivf_gate_centroids(), k=5, nprobe=3)


# TRAINED PQ codebooks for the 'pq' gate part (the 'semtrained'
# pattern): the deterministic arrow trainer on the FIXTURE corpus; both
# the Spark query and the oracle twin call this function, so the
# codebooks are identical by construction. 4 subspaces x 16 codewords
# (= 64 cells, exactly the codegen cap, so the gate stays on the
# expression route the twin mirrors).
def _pq_gate_codebooks() -> list[list[list[float]]]:
    global _PQ_TRAINED
    if "_PQ_TRAINED" not in globals():
        import os
        if os.path.exists(_SEM_FIXTURE_EMB):
            from cngi_prototype_spark.similarity.ann import (
                train_pq_codebooks_arrow,
            )
            _PQ_TRAINED = train_pq_codebooks_arrow(
                _SEM_FIXTURE_EMB, m=4, ksub=16)
        else:  # fixture absent: pinned md5 codewords, both sides
            from cngi_prototype_spark.similarity.ann import _plane
            _PQ_TRAINED = [[_plane(900 + j, c, 16) for c in range(8)]
                           for j in range(4)]
    return _PQ_TRAINED


def ann_pq_gate_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10),
                   _pq_gate_codebooks(), k=5)


def ann_hamming_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return hamming_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# TRAINED IVF-PQ structures for the 'ivfpq' gate part (the same
# 'semtrained' pattern as _pq_gate_codebooks): one deterministic arrow
# trainer call on the fixture corpus yields the coarse centroids AND
# the residual codebooks both sides embed. 8 cells x (4 x 16) residual
# books; the gate call raises max_codegen_cells so the whole
# composition (assign -> residual encode -> probe -> ADC) runs on the
# unrolled expression route the SQL twin mirrors bit-for-bit. m=8
# (dsub 8) over m=4: on near-random 64-d data the extra subspaces
# double the reconstruction-direction fidelity (measured recall
# 0.12/0.20 vs 0.06 at m=4) for the same 4-bit codes.
def _ivfpq_gate_structs() -> tuple[list, list]:
    global _IVFPQ_TRAINED
    if "_IVFPQ_TRAINED" not in globals():
        import os
        if os.path.exists(_SEM_FIXTURE_EMB):
            _IVFPQ_TRAINED = train_ivfpq_arrow(
                _SEM_FIXTURE_EMB, n_cells=8, m=8, ksub=16)
        else:  # fixture absent: pinned md5 structures, both sides
            from cngi_prototype_spark.similarity.ann import _plane
            _IVFPQ_TRAINED = (
                _ivf_gate_centroids(),
                [[_plane(950 + j, c, 8) for c in range(16)]
                 for j in range(8)])
    return _IVFPQ_TRAINED


def ann_ivfpq_gate_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cents, books = _ivfpq_gate_structs()
    return ivfpq_topk(emb, emb.filter(F.col("vec_id") < 10), cents,
                      books, k=5, nprobe=3, max_codegen_cells=2048)


# Exact brute-force, hyperplane-LSH, IVF, and PQ/ADC top-k share one
# slot: all emit (query_id, neighbor_id, cos_sim, rank); LSH/IVF use
# deterministic md5-derived structures and PQ uses arrow-trained
# codebooks, so each has an exact SQL twin. recall@k rows (per query,
# approx ∩ brute / k) ride in the same union: counts of deterministic
# sets, hash-exact. Lazy twin (register passes the callable): the PQ
# part trains its codebooks from the fixture corpus at oracle-build
# time, which must not run at import.
def _sql_ann_topk() -> str:
    return f"""
    WITH b AS ({sql_brute_force_topk(5, "vec_id < 10")}),
    l AS ({sql_lsh_topk(5, 64, 6, 42, "vec_id < 10")}),
    i AS ({sql_ivf_topk(_ivf_gate_centroids(), 5, 3, "vec_id < 10")}),
    p AS ({sql_pq_topk(_pq_gate_codebooks(), 5, "vec_id < 10")}),
    h AS ({sql_hamming_topk(5, query_pred="vec_id < 10")}),
    v AS ({sql_ivfpq_topk(*_ivfpq_gate_structs(), k=5, nprobe=3,
                          query_pred="vec_id < 10")})
    SELECT 'brute' AS method, * FROM b
    UNION ALL
    SELECT 'lsh', * FROM l
    UNION ALL
    SELECT 'ivf', * FROM i
    UNION ALL
    SELECT 'pq', * FROM p
    UNION ALL
    SELECT 'hamming', * FROM h
    UNION ALL
    SELECT 'ivfpq', * FROM v
    UNION ALL
    SELECT 'recall_lsh', b.query_id, -1,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / COUNT(*), -1
    FROM b LEFT JOIN l ON b.query_id = l.query_id
                      AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id
    UNION ALL
    SELECT 'recall_ivf', b.query_id, -1,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / COUNT(*), -1
    FROM b LEFT JOIN i ON b.query_id = i.query_id
                      AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id
    UNION ALL
    SELECT 'recall_pq', b.query_id, -1,
           CAST(COUNT(p.neighbor_id) AS DOUBLE) / COUNT(*), -1
    FROM b LEFT JOIN p ON b.query_id = p.query_id
                      AND b.neighbor_id = p.neighbor_id
    GROUP BY b.query_id
    UNION ALL
    SELECT 'recall_hamming', b.query_id, -1,
           CAST(COUNT(h.neighbor_id) AS DOUBLE) / COUNT(*), -1
    FROM b LEFT JOIN h ON b.query_id = h.query_id
                      AND b.neighbor_id = h.neighbor_id
    GROUP BY b.query_id
    UNION ALL
    SELECT 'recall_ivfpq', b.query_id, -1,
           CAST(COUNT(v.neighbor_id) AS DOUBLE) / COUNT(*), -1
    FROM b LEFT JOIN v ON b.query_id = v.query_id
                      AND b.neighbor_id = v.neighbor_id
    GROUP BY b.query_id
    UNION ALL
    -- retrieval-floor ASSERTIONS (oracle emits LITERALS, Spark
    -- computes): red rows if quality collapses even when both sides'
    -- mirrored recall computations would agree.
    -- (1) dominance: brute's best non-self similarity is a global
    --     optimum, so no approximate method may beat it per query
    --     (PQ is excluded: its scores are quantized ESTIMATES and can
    --     legitimately exceed the true best — recall is its contract);
    SELECT 'dominance', q.query_id, -1, 1.0, 1
    FROM (SELECT DISTINCT query_id FROM b) q
    UNION ALL
    -- (2) IVF mean recall@5 over the query set stays >= 0.3 (0.5 on
    --     this testdata; random embeddings cap what any bucketed
    --     method can reach, so the floor is set below the measured
    --     value but far above a broken bucketing's ~0)
    SELECT 'floor_ivf', -1, -1, 1.0, 1
    UNION ALL
    -- (3) PQ mean recall@5 >= 0.05 (measured 0.22 at sf0.01 with the
    --     4x16 trained codebooks; near-orthogonal random embeddings
    --     are PQ's worst case, and chance is k/(n-1) ~ 0.01)
    SELECT 'floor_pq', -1, -1, 1.0, 1
    UNION ALL
    -- (4) sign-bit Hamming mean recall@5 >= 0.15 (measured 0.5 at
    --     sf0.01 with rerank 4k; SimHash's cos(pi*ham/d) law holds
    --     even on random embeddings)
    SELECT 'floor_hamming', -1, -1, 1.0, 1
    UNION ALL
    -- (5) composed IVF-PQ mean recall@5 >= 0.08 (raised from 0.05 by
    --     the round-12 recall curve: on near-random 64-d embeddings
    --     recall is QUANTIZATION-dominated and FLAT in nprobe —
    --     measured 0.12/0.12/0.12/0.12 at nprobe 2/3/4/8 on sf0.01
    --     and 0.10 at the gate's nprobe=3 on sf0.001 with the 8x16
    --     books, so the floor pins the plateau, not an nprobe ramp;
    --     chance is k/(n-1) ~ 0.01 at sf0.01. Curve artifact:
    --     BENCH_DETAIL.json ivfpq_recall_curve)
    SELECT 'floor_ivfpq', -1, -1, 1.0, 1
    """


@register("ann_topk", _sql_ann_topk)
def ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    b_ = ann_cosine_topk_q(spark, sf_dir)
    l_ = ann_lsh_topk_q(spark, sf_dir)
    i_ = ann_ivf_topk_q(spark, sf_dir)
    p_ = ann_pq_gate_topk_q(spark, sf_dir)
    h_ = ann_hamming_topk_q(spark, sf_dir)
    v_ = ann_ivfpq_gate_topk_q(spark, sf_dir)

    def recall(approx: DataFrame, tag: str) -> DataFrame:
        j = (b_.alias("b").join(
            approx.alias("a"),
            (F.col("b.query_id") == F.col("a.query_id"))
            & (F.col("b.neighbor_id") == F.col("a.neighbor_id")), "left"))
        return (j.groupBy(F.col("b.query_id").alias("query_id"))
                .agg((F.count(F.col("a.neighbor_id"))
                      / F.count(F.lit(1))).alias("cos_sim"))
                .select(F.lit(tag).alias("method"), "query_id",
                        F.lit(-1).cast("long").alias("neighbor_id"),
                        "cos_sim", F.lit(-1).alias("rank")))

    # assertion rows: Spark COMPUTES, the oracle emits LITERAL 1.0
    bmax = b_.groupBy("query_id").agg(F.max("cos_sim").alias("_bmax"))
    # hamming joins the dominance set: its scores are EXACT cosines of
    # a Hamming-selected subset (pq stays out — quantized estimates)
    amax = (l_.unionByName(i_).unionByName(h_).groupBy("query_id")
            .agg(F.max("cos_sim").alias("_amax")))
    dominance = (bmax.join(amax, "query_id", "left")
                 .select(F.lit("dominance").alias("method"), "query_id",
                         F.lit(-1).cast("long").alias("neighbor_id"),
                         F.when(F.coalesce(F.col("_amax"), F.lit(-2.0))
                                <= F.col("_bmax") + F.lit(1e-12), 1.0)
                         .otherwise(0.0).alias("cos_sim"),
                         F.lit(1).alias("rank")))
    floor_ivf = (recall(i_, "recall_ivf")
                 .agg(F.avg("cos_sim").alias("_r"))
                 .select(F.lit("floor_ivf").alias("method"),
                         F.lit(-1).cast("long").alias("query_id"),
                         F.lit(-1).cast("long").alias("neighbor_id"),
                         F.when(F.col("_r") >= 0.3, 1.0).otherwise(0.0)
                         .alias("cos_sim"),
                         F.lit(1).alias("rank")))

    def floor(approx: DataFrame, tag: str, thresh: float) -> DataFrame:
        return (recall(approx, "_r")
                .agg(F.avg("cos_sim").alias("_r"))
                .select(F.lit(tag).alias("method"),
                        F.lit(-1).cast("long").alias("query_id"),
                        F.lit(-1).cast("long").alias("neighbor_id"),
                        F.when(F.col("_r") >= thresh, 1.0).otherwise(0.0)
                        .alias("cos_sim"),
                        F.lit(1).alias("rank")))

    out = (b_.select(F.lit("brute").alias("method"), "*")
           .unionByName(l_.select(F.lit("lsh").alias("method"), "*"))
           .unionByName(i_.select(F.lit("ivf").alias("method"), "*"))
           .unionByName(p_.select(F.lit("pq").alias("method"), "*"))
           .unionByName(h_.select(F.lit("hamming").alias("method"), "*"))
           .unionByName(v_.select(F.lit("ivfpq").alias("method"), "*")))
    return (out.unionByName(recall(l_, "recall_lsh"))
            .unionByName(recall(i_, "recall_ivf"))
            .unionByName(recall(p_, "recall_pq"))
            .unionByName(recall(h_, "recall_hamming"))
            .unionByName(recall(v_, "recall_ivfpq"))
            .unionByName(dominance)
            .unionByName(floor_ivf)
            .unionByName(floor(p_, "floor_pq", 0.05))
            .unionByName(floor(h_, "floor_hamming", 0.15))
            .unionByName(floor(v_, "floor_ivfpq", 0.08)))


# Fixed deterministic centroids for the semantic-dedup gate part: the
# production path trains them (train_ivf_centroids), but oracle_sql is
# a static string, so the gate pins 4 seeded unit vectors — the
# PIPELINE (assign -> cluster pairs -> components -> canonical) is what
# the twin value-checks; the trainer has its own truth-recovery tests.
def _sem_centroids() -> list[list[float]]:
    import numpy as np
    rng = np.random.default_rng(77)
    c = rng.normal(size=(4, 64))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in c]


_SEM_CENTROIDS = _sem_centroids()

# TRAINED centroids for the 'semtrained' gate part: the deterministic
# arrow trainer on the FIXTURE corpus (the driver's gate SF). Both the
# Spark query and the oracle string call this same function, so the
# centroids are identical by construction at any queried sf_dir —
# train-on-fixture / apply-on-corpus, the realistic quantizer pattern.
_SEM_FIXTURE_EMB = "/root/testdata/sf0.01/embeddings.parquet"


def _sem_trained_centroids() -> list[list[float]]:
    """Lazy (NEVER at import — a missing fixture must not break the
    module) and memoized; falls back to the pinned synthetic centroids
    when the fixture corpus is absent, consistently on both the Spark
    and oracle sides (both call this function)."""
    global _SEM_TRAINED
    if "_SEM_TRAINED" not in globals():
        import os
        if os.path.exists(_SEM_FIXTURE_EMB):
            from cngi_prototype_spark.similarity.ann import (
                train_ivf_centroids_arrow,
            )
            _SEM_TRAINED = train_ivf_centroids_arrow(
                _SEM_FIXTURE_EMB, n_centroids=8)
        else:
            _SEM_TRAINED = _SEM_CENTROIDS
    return _SEM_TRAINED


# Near-dup: the all-pairs blocked-matmul EXACT path and the scale-path
# LSH (banded buckets -> exact re-rank, no block cross-join) share one
# slot; the LSH twin reuses the deterministic md5 planes.
def _sql_embedding_neardup() -> str:
    # built lazily (register passes the callable): the 'semtrained'
    # twin embeds centroids trained from the fixture corpus, and
    # training at import time would make `import queries` depend on
    # the fixture path existing
    return f"""
    SELECT 'exact' AS path, * FROM ({sql_cosine_pairs(0.4)})
    UNION ALL
    SELECT 'lsh', * FROM ({sql_cosine_pairs_lsh(0.4, 64, 4, 6)})
    UNION ALL
    -- SemDeDup pipeline on pinned centroids: id_b carries the
    -- canonical id, cos_sim carries the cluster cell
    SELECT 'sem', vec_id, canonical_id, CAST(cell AS DOUBLE)
    FROM ({sql_semantic_dedup(_SEM_CENTROIDS, 0.4)})
    UNION ALL
    -- SemDeDup on TRAINED centroids (deterministic arrow k-means on
    -- the fixture corpus): value-checks the apply path under a real
    -- quantizer, not just the 4 synthetic pinned vectors
    SELECT 'semtrained', vec_id, canonical_id, CAST(cell AS DOUBLE)
    FROM ({sql_semantic_dedup(_sem_trained_centroids(), 0.4)})
    UNION ALL
    -- embedding pooling (chunk->doc mean): one row per (group, dim),
    -- DECIMAL-exact means, ROUND+0.0 for the signed-zero hash guard
    SELECT 'pool', g, i - 1,
           (ROUND(embedding[i], 6) + 0.0)
    FROM ({sql_pool_embeddings("vec_id % 50")}),
         UNNEST(range(1, len(embedding) + 1)) AS r(i)
    """


@register("embedding_neardup", _sql_embedding_neardup)
def embedding_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ex = cosine_pairs(emb, threshold=0.4).select(
        F.lit("exact").alias("path"), "*")
    ls = cosine_pairs_lsh(emb, threshold=0.4, dim=64, num_bands=4,
                          planes_per_band=6).select(F.lit("lsh").alias("path"), "*")
    sem = semantic_dedup(emb, _SEM_CENTROIDS, threshold=0.4).select(
        F.lit("sem").alias("path"), F.col("vec_id").alias("id_a"),
        F.col("canonical_id").alias("id_b"),
        F.col("cell").cast("double").alias("cos_sim"))
    semtr = semantic_dedup(emb, _sem_trained_centroids(),
                           threshold=0.4).select(
        F.lit("semtrained").alias("path"), F.col("vec_id").alias("id_a"),
        F.col("canonical_id").alias("id_b"),
        F.col("cell").cast("double").alias("cos_sim"))
    from cngi_prototype_spark.similarity.ann import pool_embeddings
    pool = pool_embeddings(
        emb.withColumn("g", F.col("vec_id") % 50), group_col="g",
        precise=_precise()).select(
        F.lit("pool").alias("path"), F.col("g").alias("id_a"),
        F.posexplode("embedding").alias("id_b", "_v")).select(
        "path", "id_a", F.col("id_b").cast("long").alias("id_b"),
        (F.round(F.col("_v"), 6) + F.lit(0.0)).alias("cos_sim"))
    return (ex.unionByName(ls).unionByName(sem).unionByName(semtr)
            .unionByName(pool))


@register("ann_hamming_topk", None)  # production rerank width: rows-only
def ann_hamming_topk_prod_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production sign-bit Hamming search: wider rerank (64) than the
    gate part — the first pass is two XOR+popcounts per (query, row)
    inside whole-stage codegen, so widening the re-rank set is nearly
    free and recall rises with it. The gate-scale twin ('hamming' part
    of ann_topk) value-checks the identical packing/cut/re-rank."""
    emb = _t(spark, sf_dir, "embeddings")
    return hamming_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        rerank=64)


_IVFPQ_PROD: dict[str, tuple] = {}


@register("ann_ivfpq_topk", None)  # coarse+residual index: rows-only
def ann_ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production IVF-PQ (the FAISS-style index): one deterministic
    sample trains BOTH the coarse cells and the residual codebooks
    (memoized per corpus); queries probe nprobe cells and ADC-score
    candidates against the c_cell + r-hat reconstruction. The
    COMPOSITION is value-gated as the 'ivfpq' part of ann_topk (round
    11: expression scoring tier vs sql_ivfpq_topk, bit-exact scores,
    plus recall/floor rows); this rows-only entry keeps the
    production Arrow-kernel shape under bench + tier-parity and
    cluster-retrieval unit tests (tests/test_udf_tier.py). rerank=50
    (round 12): the FAISS refine stage — quantized recall decays with
    corpus size (0.12 gate-scale -> ~0.05 at 600k vectors, measured
    curve in BENCH_DETAIL), and the exact rescore of the ADC
    shortlist restores it at R x queries extra vector reads. m=16
    (round 13): quantization bits must grow with log(n) — the
    ann_recall_contract curve measured m=16 beating m=8 at EVERY
    rerank width (recall@5 at 600k vectors: 0.14 vs 0.04 raw ADC,
    0.48 vs 0.22 at R=50) at equal-or-lower latency, so the
    production codebook is 16x32 and the contract floor is 0.30
    (tools/ladder.py ANN_CONTRACT_FLOORS)."""
    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _IVFPQ_PROD:
        _IVFPQ_PROD[sf_dir] = train_ivfpq(emb, n_cells=8, m=16, ksub=32)
    cents, books = _IVFPQ_PROD[sf_dir]
    return ivfpq_topk(emb, emb.filter(F.col("vec_id") < 10), cents,
                      books, k=5, nprobe=3, rerank=50)


_PQ_PROD_CODEBOOKS: dict[str, list] = {}


@register("ann_pq_topk", None)  # trained production PQ: rows-only
def ann_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production PQ/ADC: train 8x32 codebooks on the corpus (driver-
    side per-subspace Lloyd, memoized per corpus — a quantizer is a
    reusable artifact), encode with the broadcast-numpy tier, and scan
    codes with the Arrow ADC kernel emitting per-batch top-k. The
    expression-route twin is value-gated as the 'pq' part of ann_topk
    (fixture-trained 4x16 codebooks); the two tiers are parity-tested
    (tests/test_udf_tier.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _PQ_PROD_CODEBOOKS:
        _PQ_PROD_CODEBOOKS[sf_dir] = train_pq_codebooks(emb, m=8, ksub=32)
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10),
                   _PQ_PROD_CODEBOOKS[sf_dir], k=5)


_SEM_PROD_CENTROIDS: dict[str, list[list[float]]] = {}


@register("semantic_dedup", None)  # trained-centroid production shape
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SemDeDup: train the coarse quantizer on the corpus
    (driver-side spherical k-means, the IVF trainer), then the
    assign->cluster-pairs->components pipeline that the 'sem' /
    'semtrained' parts of embedding_neardup value-check.

    Training memoizes per corpus — a quantizer is a reusable artifact
    (train once, apply per batch), so repeat invocations (and the
    bench's min-of-N protocol) measure the DEDUP PIPELINE, not
    re-training the same centroids every run."""
    from cngi_prototype_spark.similarity.ann import train_ivf_centroids
    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _SEM_PROD_CENTROIDS:
        _SEM_PROD_CENTROIDS[sf_dir] = train_ivf_centroids(
            emb, n_centroids=8)
    # production path: BLAS assignment (assign_max_codegen_k=0); the
    # expression-twin route stays on the VALUE-gated parts of
    # embedding_neardup. This gate is rows-only, and the row count is
    # one-per-vector regardless of assignment.
    return semantic_dedup(emb, _SEM_PROD_CENTROIDS[sf_dir],
                          threshold=0.4, assign_max_codegen_k=0)


def embedding_neardup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-dup path alone (bench entry; gate-checked
    inside the merged ``embedding_neardup`` union)."""
    return cosine_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def embedding_neardup_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup path alone (bench entry; gate-checked inside the
    merged ``embedding_neardup`` union). ``vectorize_above=0`` forces
    the production BLAS signature route — at real corpus sizes
    (n > 2048) that is the only route, but the sf0.1 embeddings table
    is 2000 rows, which silently benchmarks the interpreted
    gate-twin expressions instead (measured ~4x the BLAS route)."""
    return cosine_pairs_lsh(_t(spark, sf_dir, "embeddings"), threshold=0.4,
                            dim=64, num_bands=4, planes_per_band=6,
                            vectorize_above=0)


# ---------------------------------------------------------------------------
# Imaging tier: standard uv gridder (SURVEY.md §2.10 UDAF-shaped scatter-add
# re-expressed as explode-taps + groupBy aggregation; reference
# ngcasa/imaging/_imaging_utils/_standard_grid.py:242-371).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.grid import (  # noqa: E402
    GridParms,
    grid_visibilities,
    sql_grid_visibilities,
    sql_sum_weight,
)

_GP = GridParms(n_u=64, n_v=64, cell_u=2.0e-5, cell_v=2.0e-5, support=7, oversampling=100)

# uv-vis derivation from events: deterministic, timestamp-free, identical
# expression trees on both engines so double products are bit-equal.
_UV_SQL = """
    SELECT (event_id * 7919 % 130000) / 10.0 - 6500.0 AS u,
           ((event_id * 104729 + user_id) % 110000) / 10.0 - 5500.0 AS v,
           1.0e9 + (event_id % 3) * 1.0e6 AS freq,
           CAST(event_id % 3 AS INT) AS chan,
           CAST(user_id % 2 AS INT) AS pol,
           value / 100.0 AS data_re,
           0.0 - value / 200.0 AS data_im,
           1.0 + CAST(event_id % 5 AS DOUBLE) AS weight
    FROM events
"""


def _uv_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        ((F.col("event_id") * 7919 % 130000) / F.lit(10.0) - F.lit(6500.0)).alias("u"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 110000) / F.lit(10.0) - F.lit(5500.0)).alias("v"),
        (F.lit(1.0e9) + (F.col("event_id") % 3) * F.lit(1.0e6)).alias("freq"),
        (F.col("event_id") % 3).cast("int").alias("chan"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (F.lit(0.0) - F.col("value") / F.lit(200.0)).alias("data_im"),
        (F.lit(1.0) + (F.col("event_id") % 5).cast("double")).alias("weight"),
    )


# Both gridder physical strategies — Catalyst explode-taps and numpy
# partial-dense-grid kernel — must produce the same cells; in precise
# mode the kernel accumulates 1e-9-quantized BIGINT partials (integer
# addition is associative, so partitioning can't shift the result) and
# the two variants share one oracle twin under a variant tag.
_SQL_UV_GRID = sql_grid_visibilities(_GP, _UV_SQL)

# Single-dish tier (make_sd_image / make_sd_psf / make_sd_weight_image
# reference stubs): pointed samples gridded in the image plane with a
# continuous gaussian kernel — shares the uv_grid union (same tap-sum
# gate shape). 'sd' carries image in grid_re and the weight map in
# grid_im (one aggregation produces both); 'sd_psf' the per-freq beam.
from cngi_prototype_spark.imaging.sd import (  # noqa: E402
    make_sd_image,
    make_sd_psf,
    make_sd_weight_image,
    sql_make_sd_image,
    sql_make_sd_psf,
)

_SD_N = 24
_SD_CELL = 1.0e-3
_SD_SUPPORT = 2
_SD_SIGMA = 1.2
_SD_PSF_FREQS = [1.0e9, 1.2e9]
_SD_SQL = """
    SELECT ((event_id * 7919) % 20000) / 1e6 - 1e-2 AS l,
           ((event_id * 104729 + user_id) % 20000) / 1e6 - 1e-2 AS m,
           CAST(event_id % 3 AS INT) AS chan,
           CAST(user_id % 2 AS INT) AS pol,
           value / 1e2 AS data,
           1e0 + CAST(event_id % 5 AS DOUBLE) AS weight
    FROM events
"""


def _sd_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        (((F.col("event_id") * 7919) % 20000) / F.lit(1.0e6)
         - F.lit(1.0e-2)).alias("l"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 20000)
         / F.lit(1.0e6) - F.lit(1.0e-2)).alias("m"),
        (F.col("event_id") % 3).cast("int").alias("chan"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("value") / F.lit(1.0e2)).alias("data"),
        (F.lit(1.0) + (F.col("event_id") % 5).cast("double")).alias("weight"),
    )


@register(
    "uv_grid",
    f"""
    SELECT 'explode' AS variant, * FROM ({_SQL_UV_GRID})
    UNION ALL
    SELECT 'kernel', * FROM ({_SQL_UV_GRID})
    UNION ALL
    SELECT 'sumw', chan, pol, -1, -1, sum_weight, 0.0
    FROM ({sql_sum_weight(_GP, _UV_SQL)})
    UNION ALL
    SELECT 'sd', chan, pol, l_idx, m_idx,
           (ROUND(sd_image, 6) + 0.0), (ROUND(sd_weight, 6) + 0.0)
    FROM ({sql_make_sd_image(_SD_SQL, _SD_N, _SD_N, _SD_CELL, _SD_CELL,
                             support=_SD_SUPPORT, sigma_px=_SD_SIGMA)})
    UNION ALL
    SELECT 'sd_psf', chan, -1, l_idx, m_idx,
           (ROUND(sd_psf, 6) + 0.0), 0.0
    FROM ({sql_make_sd_psf(_SD_PSF_FREQS, _SD_N, _SD_N, _SD_CELL, _SD_CELL)})
    """,
)
def uv_grid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _uv_vis(spark, sf_dir)
    e, sumw = grid_visibilities(vis, _GP, variant="explode", precise=_precise())
    k, _ = grid_visibilities(vis, _GP, variant="kernel", precise=_precise())
    sw = sumw.select(
        F.lit("sumw").alias("variant"), "chan", "pol",
        F.lit(-1).alias("u_idx"), F.lit(-1).alias("v_idx"),
        F.col("sum_weight").alias("grid_re"), F.lit(0.0).alias("grid_im"))
    sd = make_sd_image(_sd_vis(spark, sf_dir), _SD_N, _SD_N, _SD_CELL,
                       _SD_CELL, support=_SD_SUPPORT, sigma_px=_SD_SIGMA,
                       precise=_precise()).select(
        F.lit("sd").alias("variant"), "chan", "pol",
        F.col("l_idx").alias("u_idx"), F.col("m_idx").alias("v_idx"),
        (F.round("sd_image", 6) + F.lit(0.0)).alias("grid_re"),
        (F.round("sd_weight", 6) + F.lit(0.0)).alias("grid_im"))
    sp = make_sd_psf(spark, _SD_PSF_FREQS, _SD_N, _SD_N, _SD_CELL,
                     _SD_CELL).select(
        F.lit("sd_psf").alias("variant"), "chan", F.lit(-1).alias("pol"),
        F.col("l_idx").alias("u_idx"), F.col("m_idx").alias("v_idx"),
        (F.round("sd_psf", 6) + F.lit(0.0)).alias("grid_re"),
        F.lit(0.0).alias("grid_im"))
    return (e.select(F.lit("explode").alias("variant"), "*")
            .unionByName(k.select(F.lit("kernel").alias("variant"), "*"))
            .unionByName(sw).unionByName(sd).unionByName(sp))


def uv_grid_explode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode-variant gridder alone (bench entry)."""
    grid, _ = grid_visibilities(_uv_vis(spark, sf_dir), _GP, variant="explode")
    return grid


def sd_image_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape single-dish image (bench entry): 192² grid,
    support 3 (49 taps/sample), pointings spread over the full grid.
    Value-gated at 24² via the 'sd' part of the uv_grid union."""
    ev = _t(spark, sf_dir, "events")
    vis = ev.select(
        (((F.col("event_id") * 7919) % 190000) / F.lit(1.0e6)
         - F.lit(9.5e-2)).alias("l"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 190000)
         / F.lit(1.0e6) - F.lit(9.5e-2)).alias("m"),
        (F.col("event_id") % 4).cast("int").alias("chan"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("value") / F.lit(1.0e2)).alias("data"),
        (F.lit(1.0) + (F.col("event_id") % 5).cast("double")).alias("weight"),
    )
    return make_sd_image(vis, 192, 192, 1.0e-3, 1.0e-3, support=3,
                         sigma_px=1.3)


# sum-of-weights merged into the uv_grid union above (slot economy)
def uv_grid_sum_weight_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, sumw = grid_visibilities(_uv_vis(spark, sf_dir), _GP,
                                variant="explode", precise=_precise())
    return sumw


def uv_grid_kernel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel-variant gridder alone (bench entry; gate-checked inside
    the merged ``uv_grid`` union)."""
    grid, _ = grid_visibilities(_uv_vis(spark, sf_dir), _GP, variant="kernel")
    return grid


# ---------------------------------------------------------------------------
# Imaging weights (reference make_imaging_weight.py:100-260): 1-tap Hermitian
# weight grid + briggs factors + degrid read-back join. Exact across engines
# because the gate weights are integer-valued (all sums are exact in f64).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.weights import (  # noqa: E402
    make_imaging_weight,
    sql_grid_weights,
    sql_imaging_weight,
)

_UV_SQL_KEYED = """
    SELECT event_id,
           (event_id * 7919 % 130000) / 10.0 - 6500.0 AS u,
           ((event_id * 104729 + user_id) % 110000) / 10.0 - 5500.0 AS v,
           1.0e9 + (event_id % 3) * 1.0e6 AS freq,
           CAST(event_id % 3 AS INT) AS chan,
           CAST(user_id % 2 AS INT) AS pol,
           1.0 + CAST(event_id % 5 AS DOUBLE) AS weight
    FROM events
"""


def _uv_vis_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        ((F.col("event_id") * 7919 % 130000) / F.lit(10.0) - F.lit(6500.0)).alias("u"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 110000) / F.lit(10.0) - F.lit(5500.0)).alias("v"),
        (F.lit(1.0e9) + (F.col("event_id") % 3) * F.lit(1.0e6)).alias("freq"),
        (F.col("event_id") % 3).cast("int").alias("chan"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.lit(1.0) + (F.col("event_id") % 5).cast("double")).alias("weight"),
    )


# uv weight-grid merged into the imaging_weights gate below (one
# tagged-union slot for the whole weighting tier)
def uv_weight_grid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cngi_prototype_spark.imaging.weights import grid_weights
    return grid_weights(_uv_vis_keyed(spark, sf_dir), _GP)


def imaging_weight_briggs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = make_imaging_weight(_uv_vis_keyed(spark, sf_dir), _GP,
                              weighting="briggs", robust=0.5)
    return out.select("event_id", "chan", "pol", "imaging_weight")


def imaging_weight_uniform_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = make_imaging_weight(_uv_vis_keyed(spark, sf_dir), _GP, weighting="uniform")
    return out.select("event_id", "chan", "pol", "imaging_weight")


@register(
    "imaging_weights",
    f"""
    SELECT 'briggs' AS weighting, CAST(event_id AS BIGINT) AS k1, -1 AS k2,
           chan, pol, imaging_weight AS v FROM (
      {sql_imaging_weight(_GP, _UV_SQL_KEYED, weighting="briggs", robust=0.5,
                          key_cols="cells.event_id AS event_id,")})
    UNION ALL
    SELECT 'uniform', CAST(event_id AS BIGINT), -1, chan, pol,
           imaging_weight FROM (
      {sql_imaging_weight(_GP, _UV_SQL_KEYED, weighting="uniform",
                          key_cols="cells.event_id AS event_id,")})
    UNION ALL
    SELECT 'grid', CAST(u_idx AS BIGINT), v_idx, chan, pol, grid_w
    FROM ({sql_grid_weights(_GP, _UV_SQL_KEYED)})
    """,
)
def imaging_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = imaging_weight_briggs_q(spark, sf_dir).select(
        F.lit("briggs").alias("weighting"),
        F.col("event_id").cast("long").alias("k1"), F.lit(-1).alias("k2"),
        "chan", "pol", F.col("imaging_weight").alias("v"))
    u = imaging_weight_uniform_q(spark, sf_dir).select(
        F.lit("uniform").alias("weighting"),
        F.col("event_id").cast("long").alias("k1"), F.lit(-1).alias("k2"),
        "chan", "pol", F.col("imaging_weight").alias("v"))
    g = uv_weight_grid_q(spark, sf_dir).select(
        F.lit("grid").alias("weighting"),
        F.col("u_idx").cast("long").alias("k1"),
        F.col("v_idx").alias("k2"), "chan", "pol",
        F.col("grid_w").alias("v"))
    return b.unionByName(u).unionByName(g)


def imaging_weights_bench_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """briggs + uniform only (bench entry: the original gate scope
    before the weight-grid part was merged in)."""
    b = imaging_weight_briggs_q(spark, sf_dir).select(
        F.lit("briggs").alias("weighting"), "*")
    u = imaging_weight_uniform_q(spark, sf_dir).select(
        F.lit("uniform").alias("weighting"), "*")
    return b.unionByName(u)


# ---------------------------------------------------------------------------
# direction_rotate (reference ngcasa/imaging/direction_rotate.py:90-260):
# driver-side per-field rotation matrices, broadcast lookup join, matmul +
# phasor as column exprs. uvw outputs are bit-exact (pure arithmetic);
# phased data is rounded (libm cos/sin may differ across engines by 1 ulp).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.rotate import (  # noqa: E402
    direction_rotate,
    sql_direction_rotate,
)

_ROT_FIELDS = {0: (0.5, -0.3), 1: (0.52, -0.28), 2: (0.48, -0.32)}
_ROT_NEW = (0.51, -0.29)

_ROT_SQL_VIS = """
    SELECT event_id,
           CAST(user_id % 3 AS INT) AS field_id,
           (event_id * 7919 % 130000) / 10.0 - 6500.0 AS u,
           ((event_id * 104729 + user_id) % 110000) / 10.0 - 5500.0 AS v,
           ((event_id * 31 + user_id) % 9000) / 100.0 - 45.0 AS w,
           1.0e9 + (event_id % 3) * 1.0e6 AS freq,
           value / 100.0 AS data_re,
           0.0 - value / 200.0 AS data_im
    FROM events
"""


def _rot_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.col("user_id") % 3).cast("int").alias("field_id"),
        ((F.col("event_id") * 7919 % 130000) / F.lit(10.0) - F.lit(6500.0)).alias("u"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 110000) / F.lit(10.0) - F.lit(5500.0)).alias("v"),
        (((F.col("event_id") * 31 + F.col("user_id")) % 9000) / F.lit(100.0) - F.lit(45.0)).alias("w"),
        (F.lit(1.0e9) + (F.col("event_id") % 3) * F.lit(1.0e6)).alias("freq"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (F.lit(0.0) - F.col("value") / F.lit(200.0)).alias("data_im"),
    )


@register(
    "direction_rotate",
    f"""
    SELECT event_id, (ROUND(u, 6) + 0.0) AS u, (ROUND(v, 6) + 0.0) AS v, (ROUND(w, 6) + 0.0) AS w,
           (ROUND(data_re, 6) + 0.0) AS data_re, (ROUND(data_im, 6) + 0.0) AS data_im
    FROM ({sql_direction_rotate(_ROT_FIELDS, _ROT_NEW, _ROT_SQL_VIS,
                                select_cols="rot.event_id AS event_id,")})
    """,
)
def direction_rotate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = direction_rotate(_rot_vis(spark, sf_dir), _ROT_FIELDS, _ROT_NEW)
    out = out.select("event_id", "u", "v", "w", "data_re", "data_im")
    return round_doubles(out, only=("u", "v", "w", "data_re", "data_im"))


# ---------------------------------------------------------------------------
# Image formation tier: sky frame (SQL-exact SIN deprojection), airy PB
# (A&S J1 polynomial twin), dirty image / PSF via plane-FFT UDFs (rows-only:
# no SQL analog for the FFT).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.image import (  # noqa: E402
    make_empty_sky_image,
    make_image,
    make_image_and_psf,
    make_pb,
    make_psf,
    sql_airy_pb,
    sql_sky_image,
)

_SKY_CENTER = (0.8, -0.4)
_SKY_SIZE = (64, 64)
_SKY_CELL = (1.0e-4, 1.0e-4)


# sky lattice + visplot/implot thinning share one tagged-union slot
@register(
    "sky_image",
    f"""
    SELECT 'sky' AS op, l_idx, m_idx, l, m,
           (ROUND(right_ascension, 6) + 0.0) AS right_ascension,
           (ROUND(declination, 6) + 0.0) AS declination
    FROM ({sql_sky_image(_SKY_CENTER, _SKY_SIZE, _SKY_CELL)})
    UNION ALL
    SELECT 'thin', l_idx, m_idx, l, m, 0.0, 0.0
    FROM ({sql_sky_image(_SKY_CENTER, _SKY_SIZE, _SKY_CELL)})
    WHERE l_idx % 8 = 0 AND m_idx % 4 = 0
    """,
)
def sky_image_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = make_empty_sky_image(spark, _SKY_CENTER, _SKY_SIZE, _SKY_CELL)
    sky = round_doubles(out, only=("right_ascension", "declination")).select(
        F.lit("sky").alias("op"), "l_idx", "m_idx", "l", "m",
        "right_ascension", "declination")
    # `thin` is imported further down the module; by call time the
    # global is bound, so referencing it here is safe
    th = thin(out, {"l_idx": 8, "m_idx": 4}).select(
        F.lit("thin").alias("op"), "l_idx", "m_idx", "l", "m",
        F.lit(0.0).alias("right_ascension"), F.lit(0.0).alias("declination"))
    return sky.unionByName(th)


# beam_models (airy + gaussian merged gate) is registered after the
# image_ops import below — sql_gaussian_beam lives there


@register("dirty_image", None)  # plane FFT: no SQL analog
def dirty_image_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _uv_vis(spark, sf_dir)
    return make_image(vis, _GP, image_size=(48, 48), weight="weight")


@register("psf_image", None)  # plane FFT: no SQL analog
def psf_image_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _uv_vis_keyed(spark, sf_dir)
    return make_psf(vis, _GP, image_size=(48, 48), weight="weight")


# ---------------------------------------------------------------------------
# imaging_fft: VALUE evidence for the FFT imaging path (make_image /
# make_psf, reference make_image.py:104-130 / make_psf.py:113-131). The
# production 48^2 planes are rows-only (dirty_image / psf_image above);
# this gate reruns the same operators on a 16^2 grid where the oracle
# can afford the full centered DFT: for even n,
#   fftshift(ifft2(ifftshift(g)))·N == sum_{u,v} g[u,v] ·
#     exp(+i·2π((u-c)(l-c)/n_u + (v-c)(m-c)/n_v)),  c = n//2
# (identity verified numerically to 1e-13). Grid cells and sum_weight
# reuse the precise quantized twins, so grids are bit-equal across
# engines; the only residual drift is FFT-vs-DFT accumulation order
# (~1e-13), absorbed by ROUND 6 on both sides. PSWF correction values
# are injected as exact repr literals.
# ---------------------------------------------------------------------------

import numpy as _np  # noqa: E402

from cngi_prototype_spark.imaging.image import image_from_grid  # noqa: E402
from cngi_prototype_spark.imaging.kernels import pswf as _pswf  # noqa: E402

_FGP = GridParms(n_u=16, n_v=16, cell_u=2.0e-5, cell_v=2.0e-5,
                 support=5, oversampling=100)
_FFT_CROP = 12


def _fft_vis_sql(re_expr: str, im_expr: str) -> str:
    # uv bounded to +-5000 m so every sample lands inside the 16^2 grid
    # with half=2 margin (u_pos in [2.66, 13.34] at 1 GHz, 2e-5 rad)
    return f"""
    SELECT ((event_id * 7919) % 10000) - 5000.0 AS u,
           ((event_id * 104729 + user_id) % 10000) - 5000.0 AS v,
           1.0e9 AS freq, 0 AS chan, CAST(user_id % 2 AS INT) AS pol,
           {re_expr} AS data_re, {im_expr} AS data_im,
           1.0 + CAST(event_id % 5 AS DOUBLE) AS weight
    FROM events WHERE event_id < 1500
    """


def _fft_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1500)
    return ev.select(
        (((F.col("event_id") * 7919) % 10000) - F.lit(5000.0)).alias("u"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 10000)
         - F.lit(5000.0)).alias("v"),
        F.lit(1.0e9).alias("freq"),
        F.lit(0).alias("chan"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (F.lit(0.0) - F.col("value") / F.lit(200.0)).alias("data_im"),
        (F.lit(1.0) + (F.col("event_id") % 5).cast("double")).alias("weight"),
    )


def _sql_dft_image(cells_sql: str, sumw_sql: str, *, rounded: bool = True,
                   n: int | None = None, crop: int | None = None,
                   pswf_correct: bool = True) -> str:
    """grid → image twin of :func:`image_from_grid` as an unrolled DFT
    (the shifted-ifft2 exponent folded into centered index products);
    defaults mirror the imaging_fft gate shape, the n/crop/pswf knobs
    let other gates reuse it (mosaic: correct_pswf=False)."""
    n = n if n is not None else _FGP.n_u
    c = n // 2
    crop_n = crop if crop is not None else _FFT_CROP
    lo = c - crop_n // 2
    if pswf_correct:
        corr = _pswf((_np.arange(n) - c) / c)[0]
        # e-notation literals parse as DOUBLE in DuckDB; bare decimals
        # parse as DECIMAL whose ->DOUBLE cast can lose 1 ulp
        corr_vals = ", ".join(f"({i}, {corr[lo + i]:.17e})"
                              for i in range(crop_n))
        corr_cte = f"corr(i, cf) AS (SELECT * FROM (VALUES {corr_vals})),"
        corr_join = ("JOIN corr cu ON cu.i = d.l_idx\n"
                     "    JOIN corr cm ON cm.i = d.m_idx")
        corr_div = " / (cu.cf * cm.cf)"
    else:
        corr_cte, corr_join, corr_div = "", "", ""
    ph = (f"2 * PI() * ((c.u_idx - {c}) * (p.l_idx + {lo} - {c}) / {float(n)!r}"
          f" + (c.v_idx - {c}) * (p.m_idx + {lo} - {c}) / {float(n)!r})")
    val = (f"d.raw / (CASE WHEN s.sum_weight = 0 THEN 1.0 "
           f"ELSE s.sum_weight END){corr_div}")
    if rounded:
        val = f"(ROUND({val}, 6) + 0.0)"
    return f"""
    WITH cells AS ({cells_sql}),
    sw AS ({sumw_sql}),
    {corr_cte}
    px AS (SELECT CAST(l.range AS INT) AS l_idx, CAST(m.range AS INT) AS m_idx
           FROM range({crop_n}) l, range({crop_n}) m),
    dft AS (
      SELECT c.chan AS chan, c.pol AS pol, p.l_idx, p.m_idx,
             SUM(c.grid_re * COS({ph}) - c.grid_im * SIN({ph})) AS raw
      FROM cells c, px p
      GROUP BY 1, 2, 3, 4)
    SELECT d.chan, d.pol, d.l_idx, d.m_idx,
           {val} AS v
    FROM dft d
    JOIN sw s ON d.chan = s.chan AND d.pol = s.pol
    {corr_join}
    """


# Faraday-depth transform (deconvolve_rotation_measure_clean Steps 1-2:
# the λ²-space transform is the RM tier's Catalyst core) rides in this
# union as 'rm_re'/'rm_im' parts with chan carrying phi_idx. The
# per-pixel 1-D CLEAN loop is covered by rm_clean (rows-only) + truth
# -recovery tests (tests/test_rmclean.py).
from cngi_prototype_spark.imaging.rmclean import (  # noqa: E402
    deconvolve_rotation_measure_clean,
    faraday_depth_transform,
    sql_faraday_depth_transform,
)

_RM_FREQS = {c: 1.0e9 + c * 5.0e7 for c in range(4)}
_RM_PHI = [float(p) for p in _np.linspace(-30.0, 30.0, 9)]
_RM_SQL = """
    SELECT CAST(event_id % 6 AS INT) AS l_idx,
           CAST(user_id % 4 AS INT) AS m_idx,
           CAST(event_id % 4 AS INT) AS chan,
           value / 1e2 AS q, 0e0 - value / 3e2 AS u
    FROM events WHERE event_id < 8000
"""


def _rm_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 8000)
    return ev.select(
        (F.col("event_id") % 6).cast("int").alias("l_idx"),
        (F.col("user_id") % 4).cast("int").alias("m_idx"),
        (F.col("event_id") % 4).cast("int").alias("chan"),
        (F.col("value") / F.lit(1.0e2)).alias("q"),
        (F.lit(0.0) - F.col("value") / F.lit(3.0e2)).alias("u"),
    )


@register(
    "imaging_fft",
    f"""
    WITH fdspec AS ({sql_faraday_depth_transform(_RM_SQL, _RM_FREQS,
                                                 _RM_PHI)})
    SELECT 'dirty' AS part, chan, pol, l_idx, m_idx, v
    FROM ({_sql_dft_image(
        sql_grid_visibilities(_FGP, _fft_vis_sql("value / 100.0",
                                                 "0.0 - value / 200.0")),
        sql_sum_weight(_FGP, _fft_vis_sql("value / 100.0",
                                          "0.0 - value / 200.0")))})
    UNION ALL
    SELECT 'psf', chan, pol, l_idx, m_idx, v
    FROM ({_sql_dft_image(
        sql_grid_visibilities(_FGP, _fft_vis_sql("1.0", "0.0")),
        sql_sum_weight(_FGP, _fft_vis_sql("1.0", "0.0")))})
    UNION ALL
    SELECT 'rm_re', phi_idx, -1, l_idx, m_idx, (ROUND(f_re, 6) + 0.0)
    FROM fdspec
    UNION ALL
    SELECT 'rm_im', phi_idx, -1, l_idx, m_idx, (ROUND(f_im, 6) + 0.0)
    FROM fdspec
    """,
)
def imaging_fft_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _fft_vis(spark, sf_dir)
    crop = (_FFT_CROP, _FFT_CROP)
    grid, sumw = grid_visibilities(vis, _FGP, weight="weight",
                                   precise=_precise())
    dirty = image_from_grid(grid, sumw, _FGP, image_size=crop, out="v")
    gw, sw2 = grid_visibilities(vis, _FGP, weight="weight", re=None, im=None,
                                precise=_precise())
    psf = image_from_grid(gw, sw2, _FGP, image_size=crop, out="v")
    d = dirty.select(F.lit("dirty").alias("part"), "chan", "pol",
                     "l_idx", "m_idx", (F.round("v", 6) + F.lit(0.0)).alias("v"))
    p = psf.select(F.lit("psf").alias("part"), "chan", "pol",
                   "l_idx", "m_idx", (F.round("v", 6) + F.lit(0.0)).alias("v"))
    spec = faraday_depth_transform(_rm_vis(spark, sf_dir), _RM_FREQS,
                                   _RM_PHI, precise=_precise())
    rm_re = spec.select(F.lit("rm_re").alias("part"),
                        F.col("phi_idx").alias("chan"),
                        F.lit(-1).alias("pol"), "l_idx", "m_idx",
                        (F.round("f_re", 6) + F.lit(0.0)).alias("v"))
    rm_im = spec.select(F.lit("rm_im").alias("part"),
                        F.col("phi_idx").alias("chan"),
                        F.lit(-1).alias("pol"), "l_idx", "m_idx",
                        (F.round("f_im", 6) + F.lit(0.0)).alias("v"))
    return d.unionByName(p).unionByName(rm_re).unionByName(rm_im)


@register("rm_clean", None)  # per-pixel iterative 1-D CLEAN: rows-only
def rm_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = deconvolve_rotation_measure_clean(
        _rm_vis(spark, sf_dir), _RM_FREQS, _RM_PHI, gain=0.2, niter=30)
    return out.filter((F.col("model_re") != 0.0) | (F.col("phi_idx") % 2 == 0))


def rm_clean_bench_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape RM-CLEAN (bench entry): 48×48 pixels × 8
    channels × 41-point φ grid, 30 iterations per pixel — 2304
    independent 1-D CLEAN groups."""
    freqs = {c: 1.0e9 + c * 5.0e7 for c in range(8)}
    phi = [float(p) for p in _np.linspace(-40.0, 40.0, 41)]
    ev = _t(spark, sf_dir, "events")
    vis = ev.select(
        (F.col("event_id") % 48).cast("int").alias("l_idx"),
        (F.col("user_id") % 48).cast("int").alias("m_idx"),
        (F.col("event_id") % 8).cast("int").alias("chan"),
        (F.col("value") / F.lit(1.0e2)).alias("q"),
        (F.lit(0.0) - F.col("value") / F.lit(3.0e2)).alias("u"),
    )
    return deconvolve_rotation_measure_clean(vis, freqs, phi, gain=0.2,
                                             niter=30)


# ---------------------------------------------------------------------------
# Deconvolution + full imaging pipeline composition (reference
# synthesis_imaging_cube.py / deconvolve_point_clean.py): rows-only —
# FFT + iterative minor cycle have no SQL analog.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.deconvolve import deconvolve_point_clean  # noqa: E402


@register("hogbom_clean", None)
def hogbom_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _uv_vis(spark, sf_dir)
    fused = make_image_and_psf(vis, _GP, image_size=(48, 48),
                               weight="weight")
    out = deconvolve_point_clean(fused, fused, gain=0.1, threshold=0.05,
                                 niter=50)
    return out.filter((F.col("model") != 0) | (F.col("l_idx") % 8 == 0))


@register("fast_resolve", None)  # FFT Wiener solve: rows-only at
def fast_resolve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape Wiener MAP deconvolution (same 48² planes as
    hogbom_clean); value-gated at small size via the 'fastres' part of
    hogbom_small."""
    from cngi_prototype_spark.imaging.fastresolve import (
        deconvolve_fast_resolve as _dfr)
    vis = _uv_vis(spark, sf_dir)
    fused = make_image_and_psf(vis, _GP, image_size=(48, 48),
                               weight="weight")
    return _dfr(fused, fused, noise_var=0.25, prior_power=2.5)


def msclean_cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape multi-scale CLEAN (bench entry): same 48² cube
    as hogbom_clean, 3 scales, value-gated at small size via the
    'msclean' part of hogbom_small."""
    vis = _uv_vis(spark, sf_dir)
    fused = make_image_and_psf(vis, _GP, image_size=(48, 48),
                               weight="weight")
    return deconvolve_multiterm_clean(fused, fused,
                                      scales=[0.0, 2.0, 4.0],
                                      gain=0.1, threshold=0.05, niter=30)


# ---------------------------------------------------------------------------
# hogbom_small: VALUE evidence for the iterative CLEAN minor cycle
# (deconvolve_point_clean.py:90-300 semantics). The loop body is pure
# float arithmetic with a deterministic argmax (first-max in row-major
# order), so a fixed-iteration unrolled SQL twin reproduces the Spark
# kernel BIT-EXACTLY: each iteration is one CTE pair (peak pick via
# ORDER BY ABS(r) DESC, row-major LIMIT 1; residual update mirrors
# numpy's r -= (gain·peak)·psf association). threshold=0 pins the
# iteration count so both sides run exactly NITER subtractions.
# ---------------------------------------------------------------------------

_HB_N = 8
_HB_NITER = 6
_HB_GAIN = 0.1
_HB_THR = 0.05       # is_converged absolute threshold
_HB_SIDELOBE = 0.2   # psf sidelobe level for cyclethreshold

# multi-scale CLEAN twin (deconvolve_multiterm_clean, nterms=1) on the
# same img/psf lattices: scales [0, 2], fixed iteration count
_MS_NITER = 4
_MS_GAIN = 0.1
_MS_SCALE = 2.0
_MS_BIAS1 = 1.0 - 0.6 * _MS_SCALE / max(_MS_SCALE, 1.0)

# MT-MFS twin (nterms=2): 3-channel cube with per-chan closed-form
# img/psf; every iteration is exact scalar arithmetic (no convolutions)
_MT_NITER = 3
_MT_GAIN = 0.2
_MT_FREQS = {0: 0.9e9, 1: 1.0e9, 2: 1.1e9}

# RM-CLEAN twin: single-pixel 4-channel closed-form Q/U spectrum,
# 7-point Faraday grid, 3 unrolled complex CLEAN iterations (the only
# iterative path that was still rows-only)
_RC_NITER = 3
_RC_GAIN = 0.3
_RC_FREQS = {c: 1.0e9 + c * 6.0e7 for c in range(4)}
_RC_PHI = [float(p) for p in _np.linspace(-18.0, 18.0, 7)]
_RC_SRC_SQL = """
    SELECT 0 AS l_idx, 0 AS m_idx, CAST(c.range AS INT) AS chan,
           1e0 + c.range / 4e0 AS q, 5e-1 - c.range / 8e0 AS u
    FROM range(4) c
"""


def _rmclean_ctes() -> list[str]:
    """Unrolled single-pixel complex RM-CLEAN — mirrors rm_clean_block
    exactly on the DECIMAL-exact Faraday spectrum: peak pick by squared
    magnitude (monotone twin of numpy's |z| argmax, same row-major
    tie-break), componentwise complex subtract of gain·F[p]·RMTF(φ−φp)
    in numpy's (ac−bd, ad+bc) association. The RMTF offset matrix is
    injected from the operator's own rmtf_values — bit-identical to the
    task-side closure array."""
    from cngi_prototype_spark.imaging.rmclean import (
        rmtf_values,
        sql_faraday_depth_transform,
    )
    g = f"{_RC_GAIN:.17e}"
    phi = _np.asarray(_RC_PHI)
    mat_vals = []
    for j in range(phi.size):
        col = rmtf_values(_RC_FREQS, phi - phi[j])
        mat_vals += [f"({i}, {j}, {col[i].real:.17e}, {col[i].imag:.17e})"
                     for i in range(phi.size)]
    ctes = [f"""
    rc_f AS ({sql_faraday_depth_transform(_RC_SRC_SQL, _RC_FREQS,
                                          _RC_PHI)})""", f"""
    rc_mat(i, j, re, im) AS (SELECT * FROM (VALUES {', '.join(mat_vals)}))""",
        """
    rc_it0 AS (SELECT phi_idx, f_re AS rr, f_im AS ri,
                      0.0 AS mr, 0.0 AS mi FROM rc_f)"""]
    for ki in range(_RC_NITER):
        ctes.append(f"""
    rc_pk{ki} AS (
      SELECT phi_idx AS p, {g} * rr AS gr, {g} * ri AS gi
      FROM rc_it{ki}
      ORDER BY rr * rr + ri * ri DESC, phi_idx ASC LIMIT 1)""")
        ctes.append(f"""
    rc_it{ki + 1} AS (
      SELECT c.phi_idx,
             c.rr - (a.gr * m.re - a.gi * m.im) AS rr,
             c.ri - (a.gr * m.im + a.gi * m.re) AS ri,
             c.mr + CASE WHEN c.phi_idx = a.p THEN a.gr ELSE 0.0 END AS mr,
             c.mi + CASE WHEN c.phi_idx = a.p THEN a.gi ELSE 0.0 END AS mi
      FROM rc_it{ki} c CROSS JOIN rc_pk{ki} a
      JOIN rc_mat m ON m.i = c.phi_idx AND m.j = a.p)""")
    return ctes

from cngi_prototype_spark.imaging.asp import (  # noqa: E402
    deconvolve_adaptive_scale_pixel,
    gaussian_atom as _gaussian_atom,
)
from cngi_prototype_spark.imaging.fastresolve import (  # noqa: E402
    deconvolve_fast_resolve,
    fit_spectral_index,
)
from cngi_prototype_spark.imaging.mtclean import (  # noqa: E402
    _lin_conv as _np_lin_conv,
    deconvolve_multiterm_clean,
    scale_kernel as _scale_kernel,
)

# Asp twin (deconvolve_adaptive_scale_pixel): widths [1, 2], 3
# iterations on the hogbom img/psf lattices
_ASP_NITER = 3
_ASP_GAIN = 0.5
_ASP_WIDTHS = [1.0, 2.0]


def _asp_tables() -> tuple["_np.ndarray", list, list]:
    """The atom (G_w) and dirty-atom (B_w = psf ⊛ G_w) tables, computed
    by the operator's own builders over the same closed-form psf the
    Spark task reconstructs — injected literals are therefore
    bit-identical to the task-side arrays."""
    n, c = _HB_N, _HB_N // 2
    l = _np.arange(n)[:, None]
    m = _np.arange(n)[None, :]
    psf = 1.0 / (1.0 + (l - c) ** 2 + (m - c) ** 2)
    atoms = [_gaussian_atom(n, n, w) for w in _ASP_WIDTHS]
    batoms = [_np_lin_conv(psf, a) for a in atoms]
    return psf, atoms, batoms


def _asp_ctes() -> list[str]:
    """Unrolled Asp — mirrors asp_plane: residual peak, closed-form
    amplitude per width over the edge-clipped overlap (inner joins
    clip), χ²-reduction subspace pick, windowed subtract of gain·amp·B,
    final model = Σ atom spikes ⊛ G_w."""
    n, c = _HB_N, _HB_N // 2
    g = f"{_ASP_GAIN:.17e}"
    _, atoms, batoms = _asp_tables()
    gv = ", ".join(f"({w}, {i}, {j}, {atoms[w][i, j]:.17e})"
                   for w in range(len(_ASP_WIDTHS))
                   for i in range(n) for j in range(n))
    bv = ", ".join(f"({w}, {i}, {j}, {batoms[w][i, j]:.17e})"
                   for w in range(len(_ASP_WIDTHS))
                   for i in range(n) for j in range(n))
    ctes = [f"""
    asp_g(w, l_idx, m_idx, v) AS (SELECT * FROM (VALUES {gv}))""", f"""
    asp_b(w, l_idx, m_idx, v) AS (SELECT * FROM (VALUES {bv}))""", f"""
    asp_it0 AS (SELECT l_idx, m_idx, v AS r, 0.0 AS ma, 0.0 AS mb
                FROM img)"""]
    for ki in range(_ASP_NITER):
        ctes.append(f"""
    asp_pk{ki} AS (
      SELECT l_idx AS pl, m_idx AS pm FROM asp_it{ki}
      ORDER BY ABS(r) DESC, l_idx * {n} + m_idx ASC LIMIT 1)""")
        ctes.append(f"""
    asp_fit{ki} AS (
      SELECT b.w,
             SUM(ci.r * b.v) AS num, SUM(b.v * b.v) AS den
      FROM asp_it{ki} ci CROSS JOIN asp_pk{ki} p
      JOIN asp_b b ON b.l_idx = {c} + ci.l_idx - p.pl
                  AND b.m_idx = {c} + ci.m_idx - p.pm
      GROUP BY 1)""")
        ctes.append(f"""
    asp_ch{ki} AS (
      SELECT f.w, p.pl, p.pm, {g} * (f.num / f.den) AS ga
      FROM asp_fit{ki} f CROSS JOIN asp_pk{ki} p
      ORDER BY (f.num / f.den) * f.num DESC, f.w ASC LIMIT 1)""")
        ctes.append(f"""
    asp_it{ki + 1} AS (
      SELECT ci.l_idx, ci.m_idx,
             ci.r - ch.ga * COALESCE(b.v, 0.0) AS r,
             ci.ma + CASE WHEN ch.w = 0 AND ci.l_idx = ch.pl
                          AND ci.m_idx = ch.pm
                          THEN ch.ga ELSE 0.0 END AS ma,
             ci.mb + CASE WHEN ch.w = 1 AND ci.l_idx = ch.pl
                          AND ci.m_idx = ch.pm
                          THEN ch.ga ELSE 0.0 END AS mb
      FROM asp_it{ki} ci CROSS JOIN asp_ch{ki} ch
      LEFT JOIN asp_b b ON b.w = ch.w
                       AND b.l_idx = {c} + ci.l_idx - ch.pl
                       AND b.m_idx = {c} + ci.m_idx - ch.pm)""")
    ctes.append(f"""
    asp_ev AS (
      SELECT t.l_idx, t.m_idx,
             COALESCE(SUM(CASE WHEN mm.ma <> 0.0
                               THEN mm.ma * ka.v END), 0.0)
             + COALESCE(SUM(CASE WHEN mm.mb <> 0.0
                                 THEN mm.mb * kb.v END), 0.0) AS mv
      FROM ms_lat t
      LEFT JOIN (SELECT * FROM asp_it{_ASP_NITER}
                 WHERE ma <> 0.0 OR mb <> 0.0) mm ON TRUE
      LEFT JOIN asp_g ka ON ka.w = 0
                        AND ka.l_idx = {c} + t.l_idx - mm.l_idx
                        AND ka.m_idx = {c} + t.m_idx - mm.m_idx
      LEFT JOIN asp_g kb ON kb.w = 1
                        AND kb.l_idx = {c} + t.l_idx - mm.l_idx
                        AND kb.m_idx = {c} + t.m_idx - mm.m_idx
      GROUP BY 1, 2)""")
    return ctes


def _materialize_ctes(sql: str) -> str:
    """Force every CTE in an unrolled-iteration oracle to MATERIALIZED.
    DuckDB inlines CTEs per reference; each iteration CTE is referenced
    2-3 times (peak pick + update + output), so the inlined expression
    tree grows exponentially with the unroll depth — measured 16.6 s →
    0.41 s on hogbom_small at identical results. DuckDB ≥ 0.9 syntax;
    oracle-side only (Spark never sees this text)."""
    import re as _re
    return _re.sub(r"AS \(", "AS MATERIALIZED (", sql)


def _conv8_cte(out: str, src: str, kern: str, val: str = "v") -> str:
    """Linear (edge-clipped) centered convolution on the 8×8 lattice:
    out[x,y] = Σ src[p,q]·kern[x+c−p, y+c−q], kernel rows absent
    outside support (COALESCE → zero-pad)."""
    c = _HB_N // 2
    return f"""
    {out} AS (
      SELECT t.l_idx, t.m_idx, COALESCE(SUM(a.{val} * k.v), 0.0) AS v
      FROM ms_lat t
      LEFT JOIN {src} a ON TRUE
      LEFT JOIN {kern} k ON k.l_idx = t.l_idx + {c} - a.l_idx
                        AND k.m_idx = t.m_idx + {c} - a.m_idx
      GROUP BY 1, 2)"""


def _msclean_ctes() -> list[str]:
    """Unrolled MS-Clean (scales [0, 2], {_MS_NITER} iterations) —
    mirrors msclean_plane: biased peak pick across scale residuals,
    alpha = gain·rv / peak(psf⊛S⊛S), cross-scale windowed subtract,
    final model evaluation m0 + m1⊛S2."""
    n, c = _HB_N, _HB_N // 2
    g = f"{_MS_GAIN:.17e}"
    k = _scale_kernel(n, n, _MS_SCALE)
    kern_vals = ", ".join(f"({i}, {j}, {k[i, j]:.17e})"
                          for i in range(n) for j in range(n)
                          if k[i, j] != 0.0)
    ctes = [f"""
    ms_lat AS (SELECT l_idx, m_idx FROM img)""", f"""
    ms_s2(l_idx, m_idx, v) AS (SELECT * FROM (VALUES {kern_vals}))""",
        _conv8_cte("ms_ps2", "psf", "ms_s2"),
        _conv8_cte("ms_p11", "ms_ps2", "ms_s2"),
        _conv8_cte("ms_r1i", "img", "ms_s2"), f"""
    ms_aa(s, av) AS (
      SELECT 0, (SELECT v FROM psf WHERE l_idx = {c} AND m_idx = {c})
      UNION ALL
      SELECT 1, (SELECT v FROM ms_p11 WHERE l_idx = {c} AND m_idx = {c}))""",
        f"""
    ms_pc AS (
      SELECT 0 AS sf, 0 AS st, l_idx, m_idx, v FROM psf
      UNION ALL SELECT 0, 1, l_idx, m_idx, v FROM ms_ps2
      UNION ALL SELECT 1, 0, l_idx, m_idx, v FROM ms_ps2
      UNION ALL SELECT 1, 1, l_idx, m_idx, v FROM ms_p11)""", f"""
    ms_it0 AS (
      SELECT i.l_idx, i.m_idx, i.v AS r0, rr.v AS r1,
             0.0 AS m0, 0.0 AS m1
      FROM img i JOIN ms_r1i rr
        ON rr.l_idx = i.l_idx AND rr.m_idx = i.m_idx)"""]
    for ki in range(_MS_NITER):
        ctes.append(f"""
    ms_pk{ki} AS (
      SELECT s, pl, pm, rv FROM (
        SELECT 0 AS s, l_idx AS pl, m_idx AS pm, r0 AS rv,
               1e0 * ABS(r0) AS val FROM ms_it{ki}
        UNION ALL
        SELECT 1, l_idx, m_idx, r1, {_MS_BIAS1!r} * ABS(r1)
        FROM ms_it{ki})
      ORDER BY val DESC, s ASC, pl * {n} + pm ASC LIMIT 1)""")
        ctes.append(f"""
    ms_al{ki} AS (
      SELECT p.s, p.pl, p.pm, {g} * p.rv / a.av AS alpha
      FROM ms_pk{ki} p JOIN ms_aa a ON a.s = p.s)""")
        ctes.append(f"""
    ms_it{ki + 1} AS (
      SELECT ci.l_idx, ci.m_idx,
             ci.r0 - al.alpha * COALESCE(p0.v, 0.0) AS r0,
             ci.r1 - al.alpha * COALESCE(p1.v, 0.0) AS r1,
             ci.m0 + CASE WHEN al.s = 0 AND ci.l_idx = al.pl
                          AND ci.m_idx = al.pm
                          THEN al.alpha ELSE 0.0 END AS m0,
             ci.m1 + CASE WHEN al.s = 1 AND ci.l_idx = al.pl
                          AND ci.m_idx = al.pm
                          THEN al.alpha ELSE 0.0 END AS m1
      FROM ms_it{ki} ci CROSS JOIN ms_al{ki} al
      LEFT JOIN ms_pc p0 ON p0.sf = al.s AND p0.st = 0
                        AND p0.l_idx = {c} + ci.l_idx - al.pl
                        AND p0.m_idx = {c} + ci.m_idx - al.pm
      LEFT JOIN ms_pc p1 ON p1.sf = al.s AND p1.st = 1
                        AND p1.l_idx = {c} + ci.l_idx - al.pl
                        AND p1.m_idx = {c} + ci.m_idx - al.pm)""")
    ctes.append(f"""
    ms_ev AS (
      SELECT t.l_idx, t.m_idx, COALESCE(SUM(mm.m1 * k.v), 0.0) AS c1
      FROM ms_lat t
      LEFT JOIN (SELECT * FROM ms_it{_MS_NITER} WHERE m1 <> 0.0) mm ON TRUE
      LEFT JOIN ms_s2 k ON k.l_idx = t.l_idx + {c} - mm.l_idx
                       AND k.m_idx = t.m_idx + {c} - mm.m_idx
      GROUP BY 1, 2)""")
    return ctes


# per-chan closed forms for the MT-MFS cube (shared Spark/SQL)
_MT_IMG = "((l_idx * 5 + m_idx * 11 + chan * 3) % 17) / 4e0 - 2e0"
_MT_PSF = (f"1e0 / (1e0 + ((l_idx - {_HB_N // 2}) * (l_idx - {_HB_N // 2})"
           f" + (m_idx - {_HB_N // 2}) * (m_idx - {_HB_N // 2}))"
           f" * (1e0 + chan / 1e1))")


def _mtmfs_ctes() -> list[str]:
    """Unrolled nterms=2 MT-MFS — mirrors mtmfs_cube exactly: Taylor
    sums in channel order, closed-form 2×2 inverse, principal-map peak,
    two windowed subtracts per Taylor residual. No convolutions, so the
    twin is bit-exact (modulo the final ROUND)."""
    n, c = _HB_N, _HB_N // 2
    g = f"{_MT_GAIN:.17e}"
    nu = _np.array([_MT_FREQS[i] for i in sorted(_MT_FREQS)])
    nu0 = nu.mean()
    w = (nu - nu0) / nu0
    w2 = w ** 2
    wl = [f"{x:.17e}" for x in w]
    w2l = [f"{x:.17e}" for x in w2]

    def _tsum(col: str, weights: list[str]) -> str:
        # channel-ascending left-associated weighted sum, as numpy's
        # ((w*cube).sum(0)) computes it
        return (f"(({weights[0]} * a.{col} + {weights[1]} * b.{col})"
                f" + {weights[2]} * d.{col})")

    ones = ["1e0", "1e0", "1e0"]
    ctes = [f"""
    mt_cube AS (
      SELECT CAST(ch.range AS INT) AS chan, t.l_idx, t.m_idx,
             {_MT_IMG} AS r, {_MT_PSF} AS p
      FROM ms_lat t, range(3) ch)""", f"""
    mt_r AS (
      SELECT a.l_idx, a.m_idx,
             {_tsum('r', ones)} AS r0, {_tsum('r', wl)} AS r1
      FROM mt_cube a
      JOIN mt_cube b ON b.chan = 1 AND b.l_idx = a.l_idx
                    AND b.m_idx = a.m_idx
      JOIN mt_cube d ON d.chan = 2 AND d.l_idx = a.l_idx
                    AND d.m_idx = a.m_idx
      WHERE a.chan = 0)""", f"""
    mt_p AS (
      SELECT 0 AS q, a.l_idx, a.m_idx, {_tsum('p', ones)} AS v
      FROM mt_cube a
      JOIN mt_cube b ON b.chan = 1 AND b.l_idx = a.l_idx
                    AND b.m_idx = a.m_idx
      JOIN mt_cube d ON d.chan = 2 AND d.l_idx = a.l_idx
                    AND d.m_idx = a.m_idx
      WHERE a.chan = 0
      UNION ALL
      SELECT 1, a.l_idx, a.m_idx, {_tsum('p', wl)}
      FROM mt_cube a
      JOIN mt_cube b ON b.chan = 1 AND b.l_idx = a.l_idx
                    AND b.m_idx = a.m_idx
      JOIN mt_cube d ON d.chan = 2 AND d.l_idx = a.l_idx
                    AND d.m_idx = a.m_idx
      WHERE a.chan = 0
      UNION ALL
      SELECT 2, a.l_idx, a.m_idx, {_tsum('p', w2l)}
      FROM mt_cube a
      JOIN mt_cube b ON b.chan = 1 AND b.l_idx = a.l_idx
                    AND b.m_idx = a.m_idx
      JOIN mt_cube d ON d.chan = 2 AND d.l_idx = a.l_idx
                    AND d.m_idx = a.m_idx
      WHERE a.chan = 0)""", f"""
    mt_inv AS (
      SELECT p2.v / det AS i00, (0e0 - p1.v) / det AS i01,
             p0.v / det AS i11
      FROM (SELECT v FROM mt_p WHERE q = 0 AND l_idx = {c}
            AND m_idx = {c}) p0,
           (SELECT v FROM mt_p WHERE q = 1 AND l_idx = {c}
            AND m_idx = {c}) p1,
           (SELECT v FROM mt_p WHERE q = 2 AND l_idx = {c}
            AND m_idx = {c}) p2,
           (SELECT (SELECT v FROM mt_p WHERE q = 0 AND l_idx = {c}
                    AND m_idx = {c})
                   * (SELECT v FROM mt_p WHERE q = 2 AND l_idx = {c}
                      AND m_idx = {c})
                   - (SELECT v FROM mt_p WHERE q = 1 AND l_idx = {c}
                      AND m_idx = {c})
                   * (SELECT v FROM mt_p WHERE q = 1 AND l_idx = {c}
                      AND m_idx = {c}) AS det))""", f"""
    mt_it0 AS (
      SELECT l_idx, m_idx, r0, r1, 0.0 AS m0, 0.0 AS m1 FROM mt_r)"""]
    for ki in range(_MT_NITER):
        ctes.append(f"""
    mt_pk{ki} AS (
      SELECT l_idx AS pl, m_idx AS pm, r0 AS r0p, r1 AS r1p
      FROM mt_it{ki}, mt_inv
      ORDER BY ABS(i00 * r0 + i01 * r1) DESC,
               l_idx * {n} + m_idx ASC LIMIT 1)""")
        ctes.append(f"""
    mt_cf{ki} AS (
      SELECT p.pl, p.pm,
             {g} * (v.i00 * p.r0p + v.i01 * p.r1p) AS gc0,
             {g} * (v.i01 * p.r0p + v.i11 * p.r1p) AS gc1
      FROM mt_pk{ki} p, mt_inv v)""")
        ctes.append(f"""
    mt_it{ki + 1} AS (
      SELECT ci.l_idx, ci.m_idx,
             ci.r0 - cf.gc0 * COALESCE(pa.v, 0.0)
                   - cf.gc1 * COALESCE(pb.v, 0.0) AS r0,
             ci.r1 - cf.gc0 * COALESCE(pb.v, 0.0)
                   - cf.gc1 * COALESCE(pc.v, 0.0) AS r1,
             ci.m0 + CASE WHEN ci.l_idx = cf.pl AND ci.m_idx = cf.pm
                          THEN cf.gc0 ELSE 0.0 END AS m0,
             ci.m1 + CASE WHEN ci.l_idx = cf.pl AND ci.m_idx = cf.pm
                          THEN cf.gc1 ELSE 0.0 END AS m1
      FROM mt_it{ki} ci CROSS JOIN mt_cf{ki} cf
      LEFT JOIN mt_p pa ON pa.q = 0
                       AND pa.l_idx = {c} + ci.l_idx - cf.pl
                       AND pa.m_idx = {c} + ci.m_idx - cf.pm
      LEFT JOIN mt_p pb ON pb.q = 1
                       AND pb.l_idx = {c} + ci.l_idx - cf.pl
                       AND pb.m_idx = {c} + ci.m_idx - cf.pm
      LEFT JOIN mt_p pc ON pc.q = 2
                       AND pc.l_idx = {c} + ci.l_idx - cf.pl
                       AND pc.m_idx = {c} + ci.m_idx - cf.pm)""")
    return ctes


# fast-resolve twin (deconvolve_fast_resolve): Wiener MAP solve on the
# same img/psf lattices — closed-form, no iteration
_FR_NVAR = 0.25   # image-plane noise variance sigma^2
_FR_PRIOR = 2.5   # flat prior power s; eps = sigma^2/s = 0.1

# wideband spectral-index fit twin (fit_spectral_index): positive
# closed-form 3-chan cube on the MT lattice/frequencies
_FRA_MODEL = ("25e-1 + (((l_idx * 5 + m_idx * 11 + chan * 3) % 17)"
              " / 4e0 - 2e0) / 4e0")


def _fit_alpha_ctes() -> list[str]:
    """Per-pixel power-law LS over the closed-form cube — mirrors
    fit_spectral_index(precise=True) in lockstep: identical injected
    ln(nu) literals, DECIMAL-exact sums (sql_dsum), the same
    (n·Sxy − Sx·Sy)/(n·Sxx − Sx²) arithmetic. The only cross-engine
    drift is LN of the model values (≤1 ulp), truncated at the
    decimal quantum and absorbed by the final ROUND 6."""
    from cngi_prototype_spark.functions.exact import sql_dsum
    import math as _math
    xv = ", ".join(
        f"({c}, {_math.log(float(f)):.17e})"
        for c, f in sorted(_MT_FREQS.items()))
    return [f"""
    fra_x(chan, x) AS (SELECT * FROM (VALUES {xv}))""", f"""
    fra_y AS (
      SELECT t.l_idx, t.m_idx, x.x,
             LN(ABS({_FRA_MODEL.replace('chan', 'CAST(ch.range AS INT)')
                     .replace('l_idx', 't.l_idx')
                     .replace('m_idx', 't.m_idx')})) AS y
      FROM ms_lat t, range(3) ch
      JOIN fra_x x ON x.chan = CAST(ch.range AS INT)
      WHERE ABS({_FRA_MODEL.replace('chan', 'CAST(ch.range AS INT)')
                 .replace('l_idx', 't.l_idx')
                 .replace('m_idx', 't.m_idx')}) > 1e-12)""", f"""
    fra_s AS (
      SELECT l_idx, m_idx, CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('x')} AS sx, {sql_dsum('y')} AS sy,
             {sql_dsum('x * y')} AS sxy, {sql_dsum('x * x')} AS sxx
      FROM fra_y GROUP BY 1, 2)""", """
    fra_o AS (
      SELECT l_idx, m_idx,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS alpha,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS ln_flux
      FROM fra_s
      WHERE n >= 2 AND (n * sxx - sx * sx) <> 0)"""]


def _fastresolve_ctes() -> list[str]:
    """Wiener MAP twin (deconvolve_fast_resolve): full 8×8 DFTs of the
    dirty image and the origin-rolled psf, per-mode
    conj(P)·D/(|P|²+ε) with ε = σ²/s injected as an exact literal,
    inverse DFT for the model, and Σ_k σ²/(|P|²+ε)/N² for the
    stationary posterior variance. The Spark side runs numpy FFTs on
    bit-equal inputs; the only cross-engine drift is FFT-vs-DFT
    accumulation order (~1e-13), absorbed by the final ROUND 6 exactly
    like the imaging_fft 'dirty'/'psf' parts."""
    n, c = _HB_N, _HB_N // 2
    eps = f"{_FR_NVAR / _FR_PRIOR:.17e}"
    nv = f"{_FR_NVAR:.17e}"

    def _dft(src: str) -> str:
        ph = (f"2 * PI() * (mo.j * i.l_idx + mo.k * i.m_idx)"
              f" / {float(n)!r}")
        return f"""(
      SELECT mo.j, mo.k,
             SUM(i.v * COS({ph})) AS re,
             0e0 - SUM(i.v * SIN({ph})) AS im
      FROM fr_mo mo, {src} i GROUP BY 1, 2)"""

    iph = (f"2 * PI() * (m.j * t.l_idx + m.k * t.m_idx)"
           f" / {float(n)!r}")
    return [f"""
    fr_mo AS (SELECT CAST(j.range AS INT) AS j, CAST(k.range AS INT) AS k
              FROM range({n}) j, range({n}) k)""", f"""
    fr_ker AS (
      SELECT t.l_idx, t.m_idx, p.v
      FROM ms_lat t JOIN psf p ON p.l_idx = (t.l_idx + {c}) % {n}
                              AND p.m_idx = (t.m_idx + {c}) % {n})""",
        f"""
    fr_d AS {_dft('img')}""", f"""
    fr_p AS {_dft('fr_ker')}""", f"""
    fr_m AS (
      SELECT d.j, d.k,
             p.re * p.re + p.im * p.im + {eps} AS den,
             (p.re * d.re + p.im * d.im)
               / (p.re * p.re + p.im * p.im + {eps}) AS re,
             (p.re * d.im - p.im * d.re)
               / (p.re * p.re + p.im * p.im + {eps}) AS im
      FROM fr_d d JOIN fr_p p ON p.j = d.j AND p.k = d.k)""", f"""
    fr_out AS (
      SELECT t.l_idx, t.m_idx,
             SUM(m.re * COS({iph}) - m.im * SIN({iph}))
               / {float(n * n)!r} AS v
      FROM ms_lat t, fr_m m GROUP BY 1, 2)""", f"""
    fr_err AS (SELECT SUM({nv} / den) / {float(n * n)!r} AS e
               FROM fr_m)"""]


def _sql_hogbom_small() -> str:
    n, c = _HB_N, _HB_N // 2
    g = f"{_HB_GAIN:.17e}"
    ctes = [f"""
    img AS (
      SELECT CAST(l.range AS INT) AS l_idx, CAST(m.range AS INT) AS m_idx,
             ((l.range * 5 + m.range * 11) % 17) / 4.0 - 2.0 AS v
      FROM range({n}) l, range({n}) m),
    psf AS (
      SELECT CAST(l.range AS INT) AS l_idx, CAST(m.range AS INT) AS m_idx,
             1.0 / (1.0 + (l.range - {c}) * (l.range - {c})
                        + (m.range - {c}) * (m.range - {c})) AS v
      FROM range({n}) l, range({n}) m),
    r0 AS (SELECT l_idx, m_idx, v AS r, 0.0 AS model FROM img)"""]
    for k in range(_HB_NITER):
        ctes.append(f"""
    p{k} AS (SELECT l_idx AS pl, m_idx AS pm, r AS peak FROM r{k}
             ORDER BY ABS(r) DESC, l_idx * {n} + m_idx LIMIT 1)""")
        ctes.append(f"""
    r{k + 1} AS (
      SELECT c.l_idx, c.m_idx,
             c.r - ({g} * p.peak) * COALESCE(ps.v, 0.0) AS r,
             c.model + CASE WHEN c.l_idx = p.pl AND c.m_idx = p.pm
                            THEN {g} * p.peak ELSE 0.0 END AS model
      FROM r{k} c CROSS JOIN p{k} p
      LEFT JOIN psf ps ON ps.l_idx = {c} + c.l_idx - p.pl
                      AND ps.m_idx = {c} + c.m_idx - p.pm)""")
    # Parts off the shared final CTE: the CLEAN planes ('clean'),
    # the iteration-controller criteria ('converged': is_converged.py
    # semantics — one row, l_idx = converged flag, m_idx = niter_done,
    # model = peak residual, residual = cyclethreshold), the
    # auto-threshold deconvolution mask ('mask': make_mask.py semantics
    # at frac 0.5 — model = mask as 0/1), plus the multi-scale
    # ('msclean') and multi-term ('mt0'/'mt1') CLEAN twins built below.
    # Every comparison feeds off bit-exact unrolled arithmetic, so no
    # cross-engine boundary risk (msclean's conv inputs carry ~1e-14
    # FFT-vs-direct drift, absorbed by the final ROUND 6 like
    # synthesis_small).
    ctes += (_msclean_ctes() + _mtmfs_ctes() + _asp_ctes()
             + _rmclean_ctes() + _fastresolve_ctes() + _fit_alpha_ctes())
    return (f"WITH {','.join(ctes)},\n"
            f"    fin AS (SELECT * FROM r{_HB_NITER}),\n"
            f"    pk AS (SELECT MAX(ABS(r)) AS peak FROM fin)\n"
            f"    SELECT 'clean' AS part, l_idx, m_idx, "
            f"(ROUND(model, 6) + 0.0) AS model, "
            f"(ROUND(r, 6) + 0.0) AS residual FROM fin\n"
            f"    UNION ALL\n"
            f"    SELECT 'converged', "
            f"CAST(peak <= {_HB_THR!r} AS INT), {_HB_NITER}, "
            f"(ROUND(peak, 6) + 0.0), "
            f"(ROUND(GREATEST({_HB_THR!r}, {_HB_SIDELOBE!r} * peak), 6) + 0.0) "
            f"FROM pk\n"
            f"    UNION ALL\n"
            f"    SELECT 'mask', f.l_idx, f.m_idx, "
            f"CAST(ABS(f.r) > 5e-1 * p.peak AS INT), 0.0 "
            f"FROM fin f CROSS JOIN pk p\n"
            f"    UNION ALL\n"
            f"    SELECT 'msclean', f.l_idx, f.m_idx, "
            f"(ROUND(f.m0 + e.c1, 6) + 0.0), (ROUND(f.r0, 6) + 0.0) "
            f"FROM ms_it{_MS_NITER} f "
            f"JOIN ms_ev e ON e.l_idx = f.l_idx AND e.m_idx = f.m_idx\n"
            f"    UNION ALL\n"
            f"    SELECT 'mt0', l_idx, m_idx, "
            f"(ROUND(m0, 6) + 0.0), (ROUND(r0, 6) + 0.0) "
            f"FROM mt_it{_MT_NITER}\n"
            f"    UNION ALL\n"
            f"    SELECT 'mt1', l_idx, m_idx, "
            f"(ROUND(m1, 6) + 0.0), (ROUND(r1, 6) + 0.0) "
            f"FROM mt_it{_MT_NITER}\n"
            f"    UNION ALL\n"
            f"    SELECT 'asp', f.l_idx, f.m_idx, "
            f"(ROUND(e.mv, 6) + 0.0), (ROUND(f.r, 6) + 0.0) "
            f"FROM asp_it{_ASP_NITER} f "
            f"JOIN asp_ev e ON e.l_idx = f.l_idx AND e.m_idx = f.m_idx\n"
            f"    UNION ALL\n"
            f"    SELECT 'rmc_re', phi_idx, -1, "
            f"(ROUND(mr, 6) + 0.0), (ROUND(rr, 6) + 0.0) "
            f"FROM rc_it{_RC_NITER}\n"
            f"    UNION ALL\n"
            f"    SELECT 'rmc_im', phi_idx, -1, "
            f"(ROUND(mi, 6) + 0.0), (ROUND(ri, 6) + 0.0) "
            f"FROM rc_it{_RC_NITER}\n"
            f"    UNION ALL\n"
            f"    SELECT 'fastres', f.l_idx, f.m_idx, "
            f"(ROUND(f.v, 6) + 0.0), (ROUND(e.e, 6) + 0.0) "
            f"FROM fr_out f CROSS JOIN fr_err e\n"
            f"    UNION ALL\n"
            f"    SELECT 'fr_alpha', l_idx, m_idx, "
            f"(ROUND(alpha, 6) + 0.0), (ROUND(ln_flux, 6) + 0.0) "
            f"FROM fra_o")


@register("hogbom_small", _materialize_ctes(_sql_hogbom_small()))
def hogbom_small_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    n, cc = _HB_N, _HB_N // 2
    lat = spark.range(n * n).select(
        F.lit(0).alias("chan"), F.lit(0).alias("pol"),
        (F.col("id") / n).cast("int").alias("l_idx"),
        (F.col("id") % n).cast("int").alias("m_idx"))
    img = lat.withColumn(
        "image",
        ((F.col("l_idx") * 5 + F.col("m_idx") * 11) % 17) / F.lit(4.0)
        - F.lit(2.0))
    psf = lat.withColumn(
        "psf",
        F.lit(1.0) / (F.lit(1.0)
                      + (F.col("l_idx") - cc) * (F.col("l_idx") - cc)
                      + (F.col("m_idx") - cc) * (F.col("m_idx") - cc)))
    out = deconvolve_point_clean(img, psf, gain=_HB_GAIN, threshold=0.0,
                                 niter=_HB_NITER)
    clean = out.select(
        F.lit("clean").alias("part"), "l_idx", "m_idx",
        (F.round("model", 6) + F.lit(0.0)).alias("model"),
        (F.round("residual", 6) + F.lit(0.0)).alias("residual"))
    conv = image_is_converged(
        out, niter_done=_HB_NITER, niter=_HB_NITER + 4,
        threshold=_HB_THR, psf_sidelobe_level=_HB_SIDELOBE,
    ).select(
        F.lit("converged").alias("part"),
        F.col("converged").cast("int").alias("l_idx"),
        F.col("niter_done").alias("m_idx"),
        (F.round("peak_residual", 6) + F.lit(0.0)).alias("model"),
        (F.round("cyclethreshold", 6) + F.lit(0.0)).alias("residual"))
    msk = image_make_mask(out, image="residual", frac=0.5).select(
        F.lit("mask").alias("part"), "l_idx", "m_idx",
        F.col("mask").cast("int").cast("double").alias("model"),
        F.lit(0.0).alias("residual"))
    # multi-scale CLEAN on the same plane (scales [0, 2])
    ms = deconvolve_multiterm_clean(
        img, psf, scales=[0.0, _MS_SCALE], gain=_MS_GAIN,
        threshold=0.0, niter=_MS_NITER).select(
        F.lit("msclean").alias("part"), "l_idx", "m_idx",
        (F.round("model", 6) + F.lit(0.0)).alias("model"),
        (F.round("residual", 6) + F.lit(0.0)).alias("residual"))
    # MT-MFS on a 3-channel closed-form cube
    lat3 = spark.range(3 * n * n).select(
        (F.col("id") / (n * n)).cast("int").alias("chan"),
        F.lit(0).alias("pol"),
        ((F.col("id") % (n * n)) / n).cast("int").alias("l_idx"),
        (F.col("id") % n).cast("int").alias("m_idx"))
    img3 = lat3.withColumn("image", F.expr(_MT_IMG))
    psf3 = lat3.withColumn("psf", F.expr(_MT_PSF))
    mt = deconvolve_multiterm_clean(
        img3, psf3, nterms=2, freqs=_MT_FREQS, gain=_MT_GAIN,
        threshold=0.0, niter=_MT_NITER)
    mt0 = mt.filter(F.col("term") == 0).select(
        F.lit("mt0").alias("part"), "l_idx", "m_idx",
        (F.round("model", 6) + F.lit(0.0)).alias("model"),
        (F.round("residual", 6) + F.lit(0.0)).alias("residual"))
    mt1 = mt.filter(F.col("term") == 1).select(
        F.lit("mt1").alias("part"), "l_idx", "m_idx",
        (F.round("model", 6) + F.lit(0.0)).alias("model"),
        (F.round("residual", 6) + F.lit(0.0)).alias("residual"))
    # adaptive-scale-pixel on the same plane
    asp = deconvolve_adaptive_scale_pixel(
        img, psf, widths=_ASP_WIDTHS, gain=_ASP_GAIN,
        threshold=0.0, niter=_ASP_NITER).select(
        F.lit("asp").alias("part"), "l_idx", "m_idx",
        (F.round("model", 6) + F.lit(0.0)).alias("model"),
        (F.round("residual", 6) + F.lit(0.0)).alias("residual"))
    # single-pixel complex RM-CLEAN (precise transform feeds bit-exact
    # spectra into the per-pixel loop; twin unrolls the same 3
    # iterations)
    rc_src = spark.range(4).select(
        F.lit(0).alias("l_idx"), F.lit(0).alias("m_idx"),
        F.col("id").cast("int").alias("chan"),
        (F.lit(1.0) + F.col("id") / F.lit(4.0)).alias("q"),
        (F.lit(0.5) - F.col("id") / F.lit(8.0)).alias("u"))
    rc = deconvolve_rotation_measure_clean(
        rc_src, _RC_FREQS, _RC_PHI, gain=_RC_GAIN, threshold=0.0,
        niter=_RC_NITER, precise=True)
    rc_re = rc.select(F.lit("rmc_re").alias("part"),
                      F.col("phi_idx").alias("l_idx"),
                      F.lit(-1).alias("m_idx"),
                      (F.round("model_re", 6) + F.lit(0.0)).alias("model"),
                      (F.round("resid_re", 6) + F.lit(0.0)).alias("residual"))
    rc_im = rc.select(F.lit("rmc_im").alias("part"),
                      F.col("phi_idx").alias("l_idx"),
                      F.lit(-1).alias("m_idx"),
                      (F.round("model_im", 6) + F.lit(0.0)).alias("model"),
                      (F.round("resid_im", 6) + F.lit(0.0)).alias("residual"))
    # Wiener MAP (deconvolve_fast_resolve) on the same plane
    fres = deconvolve_fast_resolve(
        img, psf, noise_var=_FR_NVAR, prior_power=_FR_PRIOR).select(
        F.lit("fastres").alias("part"), "l_idx", "m_idx",
        (F.round("model", 6) + F.lit(0.0)).alias("model"),
        (F.round("error", 6) + F.lit(0.0)).alias("residual"))
    # wideband spectral-index fit over the closed-form 3-chan cube
    fra = fit_spectral_index(
        lat3.withColumn("model", F.expr(_FRA_MODEL)), _MT_FREQS,
        precise=True).select(
        F.lit("fr_alpha").alias("part"), "l_idx", "m_idx",
        (F.round("alpha", 6) + F.lit(0.0)).alias("model"),
        (F.round("ln_flux", 6) + F.lit(0.0)).alias("residual"))
    return (clean.unionByName(conv).unionByName(msk)
            .unionByName(ms).unionByName(mt0).unionByName(mt1)
            .unionByName(asp).unionByName(rc_re).unionByName(rc_im)
            .unionByName(fres).unionByName(fra))


# ---------------------------------------------------------------------------
# synthesis_small: VALUE evidence for the flagship grid→FFT→CLEAN
# composition (synthesis_imaging_cube below stays rows-only at its
# production shape). Composes the imaging_fft DFT twins (dirty + psf
# planes, unrounded) with the hogbom_small unrolled-iteration CTE per
# (chan, pol) plane. The FFT-vs-DFT drift (~1e-13) feeds the argmax;
# plane peaks on this data are separated by >>1e-6, so peak picks are
# stable and ROUND 6 absorbs the residual drift.
# ---------------------------------------------------------------------------

_SY_NITER = 5
_SY_GAIN = 0.2


def _sql_synthesis_small() -> str:
    n, c = _FFT_CROP, _FFT_CROP // 2
    g = f"{_SY_GAIN:.17e}"
    dirty_sql = _sql_dft_image(
        sql_grid_visibilities(_FGP, _fft_vis_sql("value / 100.0",
                                                 "0.0 - value / 200.0")),
        sql_sum_weight(_FGP, _fft_vis_sql("value / 100.0",
                                          "0.0 - value / 200.0")),
        rounded=False)
    psf_sql = _sql_dft_image(
        sql_grid_visibilities(_FGP, _fft_vis_sql("1.0", "0.0")),
        sql_sum_weight(_FGP, _fft_vis_sql("1.0", "0.0")),
        rounded=False)
    ctes = [f"dimg AS ({dirty_sql})", f"pimg AS ({psf_sql})",
            "r0 AS (SELECT chan, pol, l_idx, m_idx, v AS r, 0.0 AS model"
            " FROM dimg)"]
    for k in range(_SY_NITER):
        ctes.append(f"""
    p{k} AS (
      SELECT chan, pol, l_idx AS pl, m_idx AS pm, r AS peak FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY chan, pol
                  ORDER BY ABS(r) DESC, l_idx * {n} + m_idx) AS rn
        FROM r{k}) WHERE rn = 1)""")
        ctes.append(f"""
    r{k + 1} AS (
      SELECT cr.chan, cr.pol, cr.l_idx, cr.m_idx,
             cr.r - ({g} * p.peak) * COALESCE(ps.v, 0.0) AS r,
             cr.model + CASE WHEN cr.l_idx = p.pl AND cr.m_idx = p.pm
                             THEN {g} * p.peak ELSE 0.0 END AS model
      FROM r{k} cr
      JOIN p{k} p ON cr.chan = p.chan AND cr.pol = p.pol
      LEFT JOIN pimg ps ON ps.chan = cr.chan AND ps.pol = cr.pol
                       AND ps.l_idx = {c} + cr.l_idx - p.pl
                       AND ps.m_idx = {c} + cr.m_idx - p.pm)""")
    return (f"WITH {','.join(ctes)}\n"
            f"    SELECT chan, pol, l_idx, m_idx, (ROUND(model, 6) + 0.0) AS model, "
            f"(ROUND(r, 6) + 0.0) AS residual FROM r{_SY_NITER}")


@register("synthesis_small", _materialize_ctes(_sql_synthesis_small()))
def synthesis_small_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _fft_vis(spark, sf_dir)
    crop = (_FFT_CROP, _FFT_CROP)
    grid, sumw = grid_visibilities(vis, _FGP, weight="weight",
                                   precise=_precise())
    dirty = image_from_grid(grid, sumw, _FGP, image_size=crop, out="image")
    gw, sw2 = grid_visibilities(vis, _FGP, weight="weight", re=None, im=None,
                                precise=_precise())
    psf = image_from_grid(gw, sw2, _FGP, image_size=crop, out="psf")
    out = deconvolve_point_clean(dirty, psf, gain=_SY_GAIN, threshold=0.0,
                                 niter=_SY_NITER)
    return out.select("chan", "pol", "l_idx", "m_idx",
                      (F.round("model", 6) + F.lit(0.0)).alias("model"),
                      (F.round("residual", 6) + F.lit(0.0)).alias("residual"))


@register("synthesis_imaging_cube", None)  # flagship composition
def synthesis_imaging_cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _uv_vis_keyed(spark, sf_dir).withColumn(
        "data_re", F.col("weight") * 0 + 1.0).withColumn("data_im", F.lit(0.0))
    # materialize the weighted vis once: the reference writes
    # IMAGING_WEIGHT back into the vis store before imaging
    # (make_imaging_weight.py), and without it the image+psf branches
    # recompute the scan+briggs pipeline ~4x (plan showed 20 scans,
    # 0 reused exchanges)
    vis = make_imaging_weight(vis, _GP, weighting="briggs", robust=0.5).persist()
    # fused single-pass image+PSF (parity-tested vs the separate
    # passes): one gridding shuffle instead of two, and passing the
    # same DataFrame twice skips the per-pixel image⋈psf join
    fused = make_image_and_psf(vis, _GP, image_size=(48, 48))
    out = deconvolve_point_clean(fused, fused, gain=0.2, threshold=0.1,
                                 niter=20)
    return out.groupBy("chan", "pol").agg(
        F.sum(F.abs(F.col("model"))).alias("model_flux"),
        F.max(F.abs(F.col("residual"))).alias("peak_residual"),
        F.count("*").alias("n_pix"))


# ---------------------------------------------------------------------------
# Image-ops tier (cngi/image parity): mask/region booleans, gaussian beam,
# stokes<->corr basis pivot, stride thinning. image-domain cont_sub shares
# the cont_sub_linear machinery already gated above. smooth is plane-FFT
# (rows-only).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.image_ops import (  # noqa: E402
    corr_to_stokes,
    gaussian_beam,
    mask as image_mask,
    region as image_region,
    smooth as image_smooth,
    sql_gaussian_beam,
    stokes_to_corr,
    thin,
)

_SKY_SQL = sql_sky_image(_SKY_CENTER, _SKY_SIZE, _SKY_CELL)


# beam_models (airy + gaussian + mosaic PB merged gate) is registered
# in the mosaic tier below, where sql_mosaic_pb is in scope


# region/mask merged into the stokes_corr gate below (one tagged-union
# slot for the pixel-selection + polarization-basis tier)
_SQL_REGION_MASK = f"""
    SELECT 'region' AS op, l_idx, m_idx, -1 AS chan, -1 AS pol,
           CAST((right_ascension > 0.7985 AND right_ascension < 0.8015
             AND declination > -0.4018 AND declination < -0.3985)
            OR (l_idx > 50 AND l_idx < 60 AND m_idx > 4 AND m_idx < 12)
            AS DOUBLE) AS image
    FROM ({_SKY_SQL})
    UNION ALL
    SELECT 'mask', l_idx, m_idx, -1, -1,
           CAST((NOT (right_ascension > 0.7985 AND right_ascension < 0.8015
                 AND declination > -0.4018 AND declination < -0.3985)
            AND NOT (l_idx > 50 AND l_idx < 60 AND m_idx > 4 AND m_idx < 12))
            AS DOUBLE)
    FROM ({_SKY_SQL})
    """


def image_region_mask_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sky = make_empty_sky_image(spark, _SKY_CENTER, _SKY_SIZE, _SKY_CELL)
    r = image_region(sky, "region1", ra=(0.7985, 0.8015), dec=(-0.4018, -0.3985),
                     pixels=[[50, 4], [60, 12]])
    m = image_mask(sky, "mask1", ra=(0.7985, 0.8015), dec=(-0.4018, -0.3985),
                   pixels=[[50, 4], [60, 12]])
    pad = lambda df, op, col: df.select(  # noqa: E731
        F.lit(op).alias("op"), "l_idx", "m_idx",
        F.lit(-1).alias("chan"), F.lit(-1).alias("pol"),
        F.col(col).cast("double").alias("image"))
    return pad(r, "region", "region1").unionByName(pad(m, "mask", "mask1"))


_STOKES_SQL = """
    SELECT CAST(range // 16 AS INT) AS l_idx, CAST(range % 16 AS INT) AS m_idx,
           0 AS chan, p.pol AS pol,
           CAST((range * p.pol + range % 7) AS DOUBLE) AS image
    FROM range(256), (VALUES (1), (2), (3), (4)) AS p(pol)
"""


def _stokes_df(spark: SparkSession) -> DataFrame:
    pols = F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("pol")
    return (spark.range(256).select(
        (F.col("id") / 16).cast("int").alias("l_idx"),
        (F.col("id") % 16).cast("int").alias("m_idx"),
        F.lit(0).alias("chan"), F.col("id").alias("_id"), pols)
        .select("l_idx", "m_idx", "chan", "pol",
                (F.col("_id") * F.col("pol") + F.col("_id") % 7).cast("double").alias("image")))


@register(
    "stokes_corr",
    f"""
    WITH s AS ({_STOKES_SQL}),
    p AS (
      SELECT l_idx, m_idx, chan,
             MAX(CASE WHEN pol = 1 THEN image END) AS i,
             MAX(CASE WHEN pol = 2 THEN image END) AS q,
             MAX(CASE WHEN pol = 3 THEN image END) AS u,
             MAX(CASE WHEN pol = 4 THEN image END) AS v
      FROM s GROUP BY 1, 2, 3
    )
    SELECT 'to_corr' AS op, l_idx, m_idx, chan, 9 AS pol, i + q AS image FROM p
    UNION ALL SELECT 'to_corr', l_idx, m_idx, chan, 10, u FROM p
    UNION ALL SELECT 'to_corr', l_idx, m_idx, chan, 11, u FROM p
    UNION ALL SELECT 'to_corr', l_idx, m_idx, chan, 12, i - q FROM p
    UNION ALL
    SELECT 'roundtrip', l_idx, m_idx, chan, pol, image FROM ({_STOKES_SQL})
    WHERE pol IN (1, 2, 3)
    UNION ALL
    SELECT 'roundtrip', l_idx, m_idx, chan, 4 AS pol, 0.0 AS image
    FROM ({_STOKES_SQL}) WHERE pol = 4
    UNION ALL
    {_SQL_REGION_MASK}
    """,
)
def stokes_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # V is lost in the real-image linear basis (reference .imag of real
    # data is 0), so the round trip returns I,Q,U and V=0
    fwd = stokes_to_corr(_stokes_df(spark), basis="linear")
    back = corr_to_stokes(stokes_to_corr(_stokes_df(spark), basis="linear"),
                          basis="linear")
    return (fwd.select(F.lit("to_corr").alias("op"), "*")
            .unionByName(back.select(F.lit("roundtrip").alias("op"), "*"))
            .unionByName(image_region_mask_q(spark, sf_dir)))


@register("image_smooth", None)  # 48^2 production shape: rows-only
def image_smooth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _uv_vis(spark, sf_dir)
    img = make_image(vis, _GP, image_size=(48, 48), weight="weight")
    return image_smooth(img, _SKY_CELL, image_size=(48, 48),
                        size=(60.0, 45.0, 20.0))


# ---------------------------------------------------------------------------
# image_smooth_conv: VALUE evidence for the three FFT-convolution plane
# ops — smooth (smooth.py:97-108), feather (feather.py:20-33), and
# restore_model (restore_model.py:21-48) — as one tagged union.
# Each plane op is an FFT product that at even n equals a centered
# cyclic convolution (identities verified numerically to 1e-14):
#   smooth:  |fftshift(ifft2(fft2(img)·fft2(beam)))|
#          = |Σ img[p,q]·beam[(l+c-p) mod n, (m+c-q) mod n]|
#   feather: Re[ifft2(fft2(low) + (1-FT(beam_sum))·fft2(high))]
#          = low + high − Σ high[p,q]·beam_sum[(l+c-p)%n,(m+c-q)%n]
#   restore: Re[ifft2(fft2(model)·FT(beam_peak))] + residual
#          = Σ model[p,q]·beam_peak[(l+c-p)%n,(m+c-q)%n] + residual
# At 12^2 the oracle can afford the full O(n^4) direct sums; the beams
# are replicated at import with the operators' own formulas and injected
# as exact repr literals.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.image_ops import beam_abc as _beam_abc  # noqa: E402
from cngi_prototype_spark.imaging.restore import (  # noqa: E402
    feather as image_feather,
    is_converged as image_is_converged,
    linear_mosaic as image_linear_mosaic,
    make_mask as image_make_mask,
    restore_model as image_restore_model,
)

_SM_N = 12
_SM_SIZE = (60.0, 45.0, 20.0)
_FE_SIZE = (90.0, 75.0, 10.0)   # feather low-res beam (sum-normalized)
_RS_SIZE = (75.0, 50.0, 20.0)   # restoring beam (unit peak)


def _sm_beam_vals(size=_SM_SIZE, norm: str = "sum") -> "np.ndarray":
    a, b, g = _beam_abc(*size, _SKY_CELL)
    x = (_np.arange(_SM_N) - _SM_N // 2)[:, None]
    y = (_np.arange(_SM_N) - _SM_N // 2)[None, :]
    beam = _np.exp(-(a * x * x + b * x * y + g * y * y))
    return beam / beam.sum() if norm == "sum" else beam


# deterministic pixel lattices (SQL / Spark twin pairs). e-notation
# literals force DOUBLE arithmetic in BOTH engines — `6.0` parses as
# DECIMAL in Spark SQL (and DuckDB), whose truncated-scale division
# diverges from double math (observed: 3.3e-7 on the /6 lattice).
_SM_IMG = "((l_idx * 7 + m_idx * 3) % 11) / 1e1 - 3e-1"
_FE_LOW = "((l_idx * 5 + m_idx * 2) % 13) / 6e0 - 1e0"
_FE_HIGH = "((l_idx * 3 + m_idx * 7) % 11) / 5e0 - 1e0"


def _conv_sql(beam: "np.ndarray", src_cte: str, val: str) -> str:
    """Direct centered cyclic convolution of CTE ``src_cte``(l_idx,
    m_idx, ``val``) with the injected beam, as (l_idx, m_idx, s)."""
    n, c = _SM_N, _SM_N // 2
    beam_vals = ", ".join(f"({i}, {j}, {beam[i, j]:.17e})"
                          for i in range(n) for j in range(n))
    return f"""
      SELECT o.l_idx, o.m_idx, SUM(i.{val} * b.bv) AS s
      FROM {src_cte} o, {src_cte} i
      JOIN (SELECT * FROM (VALUES {beam_vals})) b(bi, bj, bv)
        ON b.bi = ((o.l_idx + {c} - i.l_idx) % {n} + {n}) % {n}
       AND b.bj = ((o.m_idx + {c} - i.m_idx) % {n} + {n}) % {n}
      GROUP BY 1, 2"""


def _sql_image_smooth_conv() -> str:
    n = _SM_N
    lat = (f"SELECT CAST(l.range AS INT) AS l_idx, "
           f"CAST(m.range AS INT) AS m_idx FROM range({n}) l, range({n}) m")
    return f"""
    WITH lat AS ({lat}),
    img AS (SELECT l_idx, m_idx, {_SM_IMG} AS v FROM lat),
    low AS (SELECT l_idx, m_idx, {_FE_LOW} AS v FROM lat),
    high AS (SELECT l_idx, m_idx, {_FE_HIGH} AS v FROM lat),
    sm AS ({_conv_sql(_sm_beam_vals(), 'img', 'v')}),
    fe AS ({_conv_sql(_sm_beam_vals(_FE_SIZE, 'sum'), 'high', 'v')}),
    rs AS ({_conv_sql(_sm_beam_vals(_RS_SIZE, 'peak'), 'img', 'v')})
    SELECT 'smooth' AS part, l_idx, m_idx, (ROUND(ABS(s), 6) + 0.0) AS v
    FROM sm
    UNION ALL
    SELECT 'feather', f.l_idx, f.m_idx,
           (ROUND(l.v + h.v - f.s, 6) + 0.0)
    FROM fe f
    JOIN low l ON l.l_idx = f.l_idx AND l.m_idx = f.m_idx
    JOIN high h ON h.l_idx = f.l_idx AND h.m_idx = f.m_idx
    UNION ALL
    SELECT 'restore', r.l_idx, r.m_idx,
           (ROUND(r.s + h.v, 6) + 0.0)
    FROM rs r
    JOIN high h ON h.l_idx = r.l_idx AND h.m_idx = r.m_idx
    """


def _sm_lattice(spark: SparkSession, expr: str, dv: str) -> DataFrame:
    n = _SM_N
    lat = spark.range(n * n).select(
        F.lit(0).alias("chan"), F.lit(0).alias("pol"),
        (F.col("id") / n).cast("int").alias("l_idx"),
        (F.col("id") % n).cast("int").alias("m_idx"))
    return lat.withColumn(dv, F.expr(expr))


@register("image_smooth_conv", _sql_image_smooth_conv())
def image_smooth_conv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _SM_N
    img = _sm_lattice(spark, _SM_IMG, "image")
    low = _sm_lattice(spark, _FE_LOW, "image")
    high = _sm_lattice(spark, _FE_HIGH, "image")
    sm = image_smooth(img, _SKY_CELL, image_size=(n, n), size=_SM_SIZE)
    fe = image_feather(low, high, _SKY_CELL, image_size=(n, n),
                       low_beam_size=_FE_SIZE)
    rs = image_restore_model(
        img.withColumnRenamed("image", "model"),
        high.withColumnRenamed("image", "residual"),
        _SKY_CELL, image_size=(n, n), beam_size=_RS_SIZE)
    rounded = lambda df, c: (F.round(c, 6) + F.lit(0.0)).alias("v")  # noqa: E731
    return (sm.select(F.lit("smooth").alias("part"), "l_idx", "m_idx",
                      rounded(sm, "image"))
            .unionByName(fe.select(F.lit("feather").alias("part"),
                                   "l_idx", "m_idx", rounded(fe, "image")))
            .unionByName(rs.select(F.lit("restore").alias("part"),
                                   "l_idx", "m_idx", rounded(rs, "restored"))))


# ---------------------------------------------------------------------------
# Ingest + calibration tier: convert_ms-shaped baseline assignment and
# auto/cross split (exact dense_rank twin), MJD time conversion; self_cal
# gain solve (iterative fixed point: rows-only).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.calibration.apply_calibration import (  # noqa: E402
    apply_calibration,
)
from cngi_prototype_spark.calibration.self_cal import self_cal  # noqa: E402
from cngi_prototype_spark.sources.ingest import (  # noqa: E402
    assign_baseline,
    convert_time_mjd,
)


@register(
    "ingest_pivot",
    """
    SELECT event_id,
           CAST(user_id % 6 AS INT) AS ant1,
           CAST(event_id % 6 AS INT) AS ant2,
           CAST(DENSE_RANK() OVER (ORDER BY CAST(user_id % 6 AS INT), CAST(event_id % 6 AS INT)) - 1 AS INT) AS baseline,
           (user_id % 6 = event_id % 6) AS is_auto,
           CAST(((4453401600.0 + CAST(event_id AS DOUBLE)) - 3506716800.0) * 1000000.0 AS BIGINT) AS epoch_us
    FROM events
    """,
)
def ingest_pivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 6).cast("int").alias("ant1"),
        (F.col("event_id") % 6).cast("int").alias("ant2"),
        (F.lit(4453401600.0) + F.col("event_id").cast("double")).alias("mjd_s"),
    )
    out = assign_baseline(ev).withColumn("baseline", F.col("baseline").cast("int"))
    out = out.withColumn("is_auto", F.col("ant1") == F.col("ant2"))
    out = out.withColumn("epoch_us", F.unix_micros(convert_time_mjd(F.col("mjd_s"))))
    return out.select("event_id", "ant1", "ant2", "baseline", "is_auto", "epoch_us")


@register("self_cal_gains", None)  # iterative fixed-point solve: rows-only
def self_cal_gains_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).cast("long").alias("interval"),
        (F.col("user_id") % 6).cast("int").alias("ant1"),
        (F.col("event_id") % 6).cast("int").alias("ant2"),
        (F.col("event_id") % 4).cast("int").alias("chan"),
        F.lit(0).alias("pol"),
        (F.lit(2.0) + F.col("value") / F.lit(1000.0)).alias("data_re"),
        (F.col("value") / F.lit(2000.0)).alias("data_im"),
        F.lit(2.0).alias("model_re"), F.lit(0.0).alias("model_im"),
        F.lit(1.0).alias("weight"), F.lit(False).alias("flag"),
    )
    gains, _ = self_cal(ev, n_ant=6)
    return gains


# ---------------------------------------------------------------------------
# self_cal_small: VALUE evidence for the antsol gain solver via truth
# recovery. The vis table is synthesized from KNOWN gains in closed
# form (V_ij = g_i·conj(g_j)·M, no noise), so the damped fixed point
# converges to the truth to its 1e-12 tolerance — far below the ROUND 6
# quantum — and the oracle is simply the generating closed form: the
# true gains, and corrected data == the model. This checks the solver's
# stationary point, initial-guess path, refant re-phasing, and the
# broadcast gain-apply arithmetic.
# ---------------------------------------------------------------------------

_SC_NANT = 4
_SC_M = (2.0, 0.5)  # constant model visibility


def _sc_gain(i):  # true gains; ant 0 real-positive (refant phase = 0)
    return (1.0 + 0.1 * i, 0.05 * i)


@register(
    "self_cal_small",
    f"""
    WITH ants AS (SELECT CAST(range AS INT) AS a,
                         1.0 + 0.1 * range AS gre, 0.05 * range AS gim
                  FROM range({_SC_NANT})),
    pairs AS (SELECT i.a AS a1, j.a AS a2,
                     i.gre AS g1r, i.gim AS g1i, j.gre AS g2r, j.gim AS g2i
              FROM ants i, ants j WHERE i.a < j.a)
    SELECT 'gains' AS part, a AS k1, -1 AS k2,
           (ROUND(gre, 6) + 0.0) AS re, (ROUND(gim, 6) + 0.0) AS im, 0.0 AS w
    FROM ants
    UNION ALL
    SELECT 'corrected', a1 * {_SC_NANT} + a2, CAST(c.range AS INT),
           {_SC_M[0]!r}, {_SC_M[1]!r},
           (ROUND((1.0 + c.range)
                 * ((g1r*g1r + g1i*g1i) * (g2r*g2r + g2i*g2i)), 6) + 0.0)
    FROM pairs, range(2) c
    UNION ALL
    -- standalone apply_calibration: a DIFFERENT gain set g' applied to
    -- the same synthesized vis; corrected = (G·M)/G' in closed form,
    -- mirroring the engine's V·conj(G')/|G'|² expression order exactly
    SELECT 'applied', a1 * {_SC_NANT} + a2, CAST(c.range AS INT),
           (ROUND((vre * gpr + vim * gpi) / d, 6) + 0.0),
           (ROUND((vim * gpr - vre * gpi) / d, 6) + 0.0),
           (ROUND((1.0 + c.range) * d, 6) + 0.0)
    FROM (
      SELECT a1, a2,
             (gr * {_SC_M[0]!r} - gi * {_SC_M[1]!r}) AS vre,
             (gr * {_SC_M[1]!r} + gi * {_SC_M[0]!r}) AS vim,
             gpr, gpi, (gpr * gpr + gpi * gpi) AS d
      FROM (
        SELECT a1, a2,
               (g1r*g2r + g1i*g2i) AS gr, (g1i*g2r - g1r*g2i) AS gi,
               ((1.0 + 0.07*a1) * (1.0 + 0.07*a2)
                + (-0.03*a1) * (-0.03*a2)) AS gpr,
               ((-0.03*a1) * (1.0 + 0.07*a2)
                - (1.0 + 0.07*a1) * (-0.03*a2)) AS gpi
        FROM pairs)
    ), range(2) c
    """,
)
def self_cal_small_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _SC_NANT
    mre, mim = _SC_M
    pairs = spark.range(n * n).select(
        (F.col("id") / n).cast("int").alias("ant1"),
        (F.col("id") % n).cast("int").alias("ant2"),
    ).filter(F.col("ant1") < F.col("ant2"))
    vis = pairs.crossJoin(spark.range(2).select(F.col("id").cast("int").alias("chan")))

    def gre(a):  # true gain columns, closed form
        return 1.0 + 0.1 * F.col(a).cast("double")

    def gim(a):
        return 0.05 * F.col(a).cast("double")

    # G = g1·conj(g2); V = G·M (complex multiply, explicit re/im)
    Gr = gre("ant1") * gre("ant2") + gim("ant1") * gim("ant2")
    Gi = gim("ant1") * gre("ant2") - gre("ant1") * gim("ant2")
    vis = vis.select(
        F.lit(0).cast("long").alias("interval"), "ant1", "ant2", "chan",
        F.lit(0).alias("pol"),
        (Gr * mre - Gi * mim).alias("data_re"),
        (Gr * mim + Gi * mre).alias("data_im"),
        F.lit(mre).alias("model_re"), F.lit(mim).alias("model_im"),
        (1.0 + F.col("chan").cast("double")).alias("weight"),
        F.lit(False).alias("flag"))
    gains, corrected = self_cal(vis, n_ant=n)
    gout = gains.select(
        F.lit("gains").alias("part"), F.col("ant").cast("int").alias("k1"),
        F.lit(-1).alias("k2"), (F.round("gain_re", 6) + F.lit(0.0)).alias("re"),
        (F.round("gain_im", 6) + F.lit(0.0)).alias("im"), F.lit(0.0).alias("w"))
    cout = corrected.select(
        F.lit("corrected").alias("part"),
        (F.col("ant1") * n + F.col("ant2")).cast("int").alias("k1"),
        F.col("chan").alias("k2"),
        (F.round("corrected_re", 6) + F.lit(0.0)).alias("re"),
        (F.round("corrected_im", 6) + F.lit(0.0)).alias("im"),
        (F.round("corrected_weight", 6) + F.lit(0.0)).alias("w"))
    # standalone apply_calibration with a DIFFERENT (primed) gain set:
    # exercises the named API's join + complex-divide independently of
    # the solve path (reference apply_calibration.py:20-49 contract)
    gains2 = spark.range(n).select(
        F.lit(0).cast("long").alias("interval"), F.lit(0).alias("pol"),
        F.col("id").cast("int").alias("ant"),
        (1.0 + 0.07 * F.col("id").cast("double")).alias("gain_re"),
        (-0.03 * F.col("id").cast("double")).alias("gain_im"))
    applied = apply_calibration(vis, gains2)
    aout = applied.select(
        F.lit("applied").alias("part"),
        (F.col("ant1") * n + F.col("ant2")).cast("int").alias("k1"),
        F.col("chan").alias("k2"),
        (F.round("corrected_re", 6) + F.lit(0.0)).alias("re"),
        (F.round("corrected_im", 6) + F.lit(0.0)).alias("im"),
        (F.round("corrected_weight", 6) + F.lit(0.0)).alias("w"))
    return gout.unionByName(cout).unionByName(aout)


# ---------------------------------------------------------------------------
# Degrid / model prediction (beyond reference: its predict_modelvis_image is
# a stub — SG:433). Exact oracle via the quantized-sum twin.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.degrid import (  # noqa: E402
    degrid_visibilities,
    predict_modelvis_image,
    sql_degrid,
)


def _sql_model_grid_fft() -> str:
    """Forward centered-DFT twin of model_image_to_grid on the _FGP
    lattice: g[u,v] = sum img·corr·exp(-2πi((u-c)(l-c)/n+(v-c)(m-c)/n))
    (== fftshift(fft2(ifftshift(img))) for even n, verified to 1e-14).
    """
    n, c = _FGP.n_u, _FGP.n_u // 2
    corr = _pswf((_np.arange(n) - c) / c)[0]
    corr_vals = ", ".join(f"({i}, {corr[i]:.17e})" for i in range(n))
    ph = (f"-2 * PI() * ((u.range - {c}) * (i.l_idx - {c}) / {float(n)!r}"
          f" + (v.range - {c}) * (i.m_idx - {c}) / {float(n)!r})")
    return f"""
    WITH mim AS (
      SELECT 0 AS chan, CAST(p.range AS INT) AS pol,
             CAST(l.range AS INT) AS l_idx, CAST(m.range AS INT) AS m_idx,
             ((l.range * 3 + m.range * 5 + p.range) % 7) / 3.0 - 1.0 AS mv
      FROM range({n}) l, range({n}) m, range(2) p),
    mcorr(ci, cf) AS (SELECT * FROM (VALUES {corr_vals})),
    i AS (SELECT chan, pol, l_idx, m_idx, mv * cu.cf * cm.cf AS cv2
          FROM mim JOIN mcorr cu ON cu.ci = l_idx
                   JOIN mcorr cm ON cm.ci = m_idx)
    SELECT i.chan, i.pol, CAST(u.range AS INT) AS u_idx,
           CAST(v.range AS INT) AS v_idx,
           SUM(i.cv2 * COS({ph})) AS grid_re,
           SUM(i.cv2 * SIN({ph})) AS grid_im
    FROM i, range({n}) u, range({n}) v
    GROUP BY 1, 2, 3, 4
    """


# Sparse-model twin for the predict_modelvis production shape: a CLEAN
# model is a handful of point components, so the forward transform's
# oracle is a DFT over just those pixels (K x n^2 terms). Exact-binary
# fluxes; the pswf correction folds into the literal coefficient.
_SPARSE_MODEL = [(0, 0, 4, 11, 2.0), (0, 0, 9, 9, 0.75),
                 (0, 1, 12, 5, -1.5), (0, 1, 3, 12, 1.25)]


def _sql_sparse_model_grid_dft() -> str:
    """Forward centered-DFT twin of model_image_to_grid for the SPARSE
    model above (same identity as _sql_model_grid_fft, summed over the
    nonzero pixels only — the CLEAN-model regime)."""
    n, c = _FGP.n_u, _FGP.n_u // 2
    corr = _pswf((_np.arange(n) - c) / c)[0]
    rows = ", ".join(
        f"({ch}, {p}, {l}, {m}, {flux * corr[l] * corr[m]:.17e})"
        for ch, p, l, m, flux in _SPARSE_MODEL)
    ph = (f"-2 * PI() * ((u.range - {c}) * (i.l_idx - {c}) / {float(n)!r}"
          f" + (v.range - {c}) * (i.m_idx - {c}) / {float(n)!r})")
    return f"""
    WITH i(chan, pol, l_idx, m_idx, cv2) AS (SELECT * FROM (VALUES {rows}))
    SELECT i.chan, i.pol, CAST(u.range AS INT) AS u_idx,
           CAST(v.range AS INT) AS v_idx,
           SUM(i.cv2 * COS({ph})) AS grid_re,
           SUM(i.cv2 * SIN({ph})) AS grid_im
    FROM i, range({n}) u, range({n}) v
    GROUP BY 1, 2, 3, 4
    """


# degrid-from-taps + predict-from-model-image share one tagged-union
# slot; the image part value-checks the forward-FFT model_image_to_grid
# path; the sparse part value-checks predict_modelvis_image's
# production regime — a sparse CLEAN-component model — against the
# pixel-sum DFT twin (predict_modelvis below keeps the production
# rows-only shape at _GP).
# FFT-vs-DFT drift (~1e-13) can flip the oracle's 1e-9 quantization on
# isolated taps, so the image and sparse parts round to 6 on both sides.
@register(
    "uv_degrid",
    f"""
    SELECT 'taps' AS part, s.row_id AS event_id, s.model_re, s.model_im
    FROM ({sql_degrid(_GP, _UV_SQL_KEYED.replace("event_id,", "event_id AS row_id,"),
                      sql_grid_visibilities(_GP, _UV_SQL), key="row_id")}) s
    UNION ALL
    SELECT 'image', s.row_id, (ROUND(s.model_re, 6) + 0.0), (ROUND(s.model_im, 6) + 0.0)
    FROM ({sql_degrid(
        _FGP,
        _fft_vis_sql("value / 100.0", "0.0 - value / 200.0").replace(
            "SELECT ", "SELECT event_id AS row_id, ", 1),
        _sql_model_grid_fft(), key="row_id")}) s
    UNION ALL
    SELECT 'sparse', s.row_id, (ROUND(s.model_re, 6) + 0.0), (ROUND(s.model_im, 6) + 0.0)
    FROM ({sql_degrid(
        _FGP,
        _fft_vis_sql("value / 100.0", "0.0 - value / 200.0").replace(
            "SELECT ", "SELECT event_id AS row_id, ", 1),
        _sql_sparse_model_grid_dft(), key="row_id")}) s
    """,
)
def uv_degrid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid, _ = grid_visibilities(_uv_vis(spark, sf_dir), _GP,
                                variant="explode", precise=_precise())
    vis = _uv_vis_keyed(spark, sf_dir).withColumnRenamed("event_id", "row_id")
    out = degrid_visibilities(vis, grid, _GP, precise=_precise())
    taps = out.select(F.lit("taps").alias("part"),
                      F.col("row_id").alias("event_id"),
                      "model_re", "model_im")

    n = _FGP.n_u
    model = spark.range(n * n * 2).select(
        F.lit(0).alias("chan"),
        (F.col("id") % 2).cast("int").alias("pol"),
        ((F.col("id") / 2).cast("long") / n).cast("int").alias("l_idx"),
        ((F.col("id") / 2).cast("long") % n).cast("int").alias("m_idx"),
    ).withColumn(
        "model",
        ((F.col("l_idx") * 3 + F.col("m_idx") * 5 + F.col("pol")) % 7)
        / F.lit(3.0) - F.lit(1.0))
    # keyed variant of _fft_vis (row_id preserved)
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1500)
    fvis = ev.select(
        F.col("event_id").alias("row_id"),
        (((F.col("event_id") * 7919) % 10000) - F.lit(5000.0)).alias("u"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 10000)
         - F.lit(5000.0)).alias("v"),
        F.lit(1.0e9).alias("freq"),
        F.lit(0).alias("chan"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (F.lit(0.0) - F.col("value") / F.lit(200.0)).alias("data_im"),
        (F.lit(1.0) + (F.col("event_id") % 5).cast("double")).alias("weight"),
    )
    pred = predict_modelvis_image(model, fvis, _FGP, precise=_precise())
    img = pred.select(F.lit("image").alias("part"),
                      F.col("row_id").alias("event_id"),
                      (F.round("model_re", 6) + F.lit(0.0)).alias("model_re"),
                      (F.round("model_im", 6) + F.lit(0.0)).alias("model_im"))
    smodel = local_frame(
        spark, _SPARSE_MODEL,
        "chan int, pol int, l_idx int, m_idx int, model double")
    spred = predict_modelvis_image(smodel, fvis, _FGP, precise=_precise())
    sparse = spred.select(
        F.lit("sparse").alias("part"), F.col("row_id").alias("event_id"),
        (F.round("model_re", 6) + F.lit(0.0)).alias("model_re"),
        (F.round("model_im", 6) + F.lit(0.0)).alias("model_im"))
    return taps.unionByName(img).unionByName(sparse)


def uv_degrid_taps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taps-only degrid (bench entry: the original gate scope before the
    image-predict part was merged in)."""
    grid, _ = grid_visibilities(_uv_vis(spark, sf_dir), _GP,
                                variant="explode", precise=_precise())
    vis = _uv_vis_keyed(spark, sf_dir).withColumnRenamed("event_id", "row_id")
    out = degrid_visibilities(vis, grid, _GP, precise=_precise())
    return out.select(F.col("row_id").alias("event_id"), "model_re", "model_im")


@register("uv_degrid_kernel", None)  # production fast path: rows-only
def uv_degrid_kernel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-slab degrid (the cogroup kernel variant) fed by the
    kernel-variant gridder — the all-fast-path major-cycle prediction.
    Value parity with the oracle explode path is unit-tested
    (tests/test_degrid.py kernel-variant parity, incl. slab-halo
    crossings and out-of-bounds NULLs); the explode form stays the
    hash-gated oracle (uv_degrid)."""
    grid, _ = grid_visibilities(_uv_vis(spark, sf_dir), _GP,
                                variant="kernel")
    vis = _uv_vis_keyed(spark, sf_dir).withColumnRenamed("event_id",
                                                         "row_id")
    out = degrid_visibilities(vis, grid, _GP, variant="kernel")
    return out.select(F.col("row_id").alias("event_id"),
                      "model_re", "model_im")


@register("predict_modelvis", None)  # forward FFT at production shape
def predict_modelvis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = local_frame(
        spark, [(c, p, 32, 32, 2.0) for c in range(3) for p in range(2)],
        "chan bigint, pol bigint, l_idx bigint, m_idx bigint, model double")
    vis = _uv_vis_keyed(spark, sf_dir).withColumnRenamed("event_id", "row_id")
    return predict_modelvis_image(model, vis, _GP)


# ---------------------------------------------------------------------------
# Multimodal tier: binary media columns. Metadata is Catalyst-native with a
# value oracle; decode/feature/frame paths run the deterministic stub kernels
# (real codecs are not in this container) and gate rows-only.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.multimodal.media import (  # noqa: E402
    decode_media,
    documents_as_media,
    media_features,
    media_metadata,
    sample_frames,
    synth_bmp,
    synth_jpeg,
    synth_png,
    synth_ppm,
    synth_wav,
)


def media_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_metadata(documents_as_media(_docs(spark, sf_dir)))


def media_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode path: deterministic PPM/BMP/WAV payloads built per
    doc, decoded by the pure-numpy parsers (no fake), reduced to
    dimensions + integer pixel/sample sums with closed-form SQL twins."""
    import pandas as pd  # noqa: PLC0415

    ids = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 150)

    def enc(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                rows += [(d * 4, synth_ppm(d)), (d * 4 + 1, synth_bmp(d)),
                         (d * 4 + 2, synth_wav(d)), (d * 4 + 3, synth_png(d))]
            yield pd.DataFrame(rows, columns=["media_id", "media"])

    blobs = ids.mapInPandas(enc, "media_id long, media binary")
    dec = decode_media(blobs, fake=False)
    return dec.select(
        "media_id", "width", "height",
        F.aggregate("pixels", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("px_sum"))


_N_PPM, _N_BMP, _N_WAV = len(synth_ppm(0)), len(synth_bmp(0)), len(synth_wav(0))


def _sql_media_suite() -> str:
    """Lazy twin (register passes the callable): the 'jpeg' part embeds
    the python-side decode of each self-encoded baseline-JPEG fixture
    as literals — decoded pixels are not closed-form (lossy DCT), but
    encoder and decoder are deterministic, so both engines agree
    bit-for-bit on the integer pixel sums. The 150 encode+decode pairs
    run at oracle-build time, never at import."""
    from cngi_prototype_spark.functions.jpeg import decode_jpeg
    jvals = ", ".join(
        f"({d}, {int(decode_jpeg(synth_jpeg(d)).astype(_np.int64).sum())})"
        for d in range(150))
    return _MEDIA_SUITE_SQL + f"""
    UNION ALL
    -- baseline JPEG (round 12): own Huffman+DCT decoder, 4:2:0
    -- self-encoded fixtures; ids offset to 100000+doc_id so the
    -- legacy 4-format id space (doc_id*4+k) is untouched
    SELECT 'decode', d.doc_id + 100000, -1, '', '', 16, 16,
           CAST(j.px_sum AS BIGINT)
    FROM documents d JOIN (VALUES {jvals}) j(doc_id, px_sum)
      ON j.doc_id = d.doc_id
    WHERE d.doc_id < 150
    """


_MEDIA_SUITE_SQL = f"""
    SELECT 'metadata' AS part, doc_id AS media_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           md5(text) AS blob_md5,
           upper(substr(hex(CAST(text AS BLOB)), 1, 8)) AS magic,
           -1 AS width, -1 AS height, CAST(-1 AS BIGINT) AS px_sum
    FROM documents
    UNION ALL
    SELECT 'decode', doc_id * 4, {_N_PPM}, '', '', 12, 8,
           CAST(SUM((doc_id*7 + i.range*3 + j.range) % 256
                  + (doc_id*11 + i.range) % 256
                  + (doc_id*13 + j.range*5) % 256) AS BIGINT)
    FROM documents, range(8) i, range(12) j
    WHERE doc_id < 150 GROUP BY doc_id
    UNION ALL
    SELECT 'decode', doc_id * 4 + 1, {_N_BMP}, '', '', 8, 6,
           CAST(SUM((doc_id + j.range*9) % 256
                  + (doc_id*3 + i.range) % 256
                  + (doc_id*5 + i.range*7 + j.range*11) % 256) AS BIGINT)
    FROM documents, range(6) i, range(8) j
    WHERE doc_id < 150 GROUP BY doc_id
    UNION ALL
    SELECT 'decode', doc_id * 4 + 2, {_N_WAV}, '', '', 1, 64,
           CAST(SUM((doc_id*17 + t.range*9) % 65536 - 32768) AS BIGINT)
    FROM documents, range(64) t
    WHERE doc_id < 150 GROUP BY doc_id
    UNION ALL
    -- PNG blob length depends on zlib of the seed-varying content, so
    -- n_bytes is -1 on both sides (the metadata part covers n_bytes)
    SELECT 'decode', doc_id * 4 + 3, -1, '', '', 10, 7,
           CAST(SUM((doc_id*3 + i.range*5 + j.range) % 256
                  + (doc_id*7 + j.range*3) % 256
                  + (doc_id + i.range*11 + j.range*7) % 256
                  + (doc_id*9 + i.range + j.range*13) % 256) AS BIGINT)
    FROM documents, range(7) i, range(10) j
    WHERE doc_id < 150 GROUP BY doc_id
    """


def media_suite_bench_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Original (pre-jpeg) gate scope — bench override for
    round-over-round comparability (the r12 'jpeg' part adds 150
    executor-side encode+decode pairs to the gate)."""
    meta = media_metadata_q(spark, sf_dir).select(
        F.lit("metadata").alias("part"), "media_id", "n_bytes", "blob_md5",
        "magic", F.lit(-1).alias("width"), F.lit(-1).alias("height"),
        F.lit(-1).cast("long").alias("px_sum"))
    nbytes = (F.when(F.col("media_id") % 4 == 0, _N_PPM)
              .when(F.col("media_id") % 4 == 1, _N_BMP)
              .when(F.col("media_id") % 4 == 2, _N_WAV)
              .otherwise(-1).cast("long"))  # png: zlib length varies
    dec = media_decode_q(spark, sf_dir).select(
        F.lit("decode").alias("part"), "media_id", nbytes.alias("n_bytes"),
        F.lit("").alias("blob_md5"), F.lit("").alias("magic"),
        "width", "height", "px_sum")
    return meta.unionByName(dec)


@register("media_suite", _sql_media_suite)
def media_suite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415

    base = media_suite_bench_q(spark, sf_dir)
    ids = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 150)

    def enc(batches):
        for pdf in batches:
            rows = [(int(d) + 100000, synth_jpeg(int(d)))
                    for d in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=["media_id", "media"])

    blobs = ids.mapInPandas(enc, "media_id long, media binary")
    jdec = decode_media(blobs, fake=False).select(
        F.lit("decode").alias("part"), "media_id",
        F.lit(-1).cast("long").alias("n_bytes"),
        F.lit("").alias("blob_md5"), F.lit("").alias("magic"),
        "width", "height",
        F.aggregate("pixels", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("px_sum"))
    return base.unionByName(jdec)


@register("media_pixel_features", None)  # md5-seeded fake decoder: rows-only
def media_pixel_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_features(documents_as_media(_docs(spark, sf_dir)), fake=True)


@register("media_frame_sample", None)  # md5-seeded fake decoder: rows-only
def media_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(_docs(spark, sf_dir))
    return sample_frames(media.filter(F.col("media_id") % 10 == 0),
                         every_n=2, fake=True)


# ---------------------------------------------------------------------------
# media_pixels: VALUE evidence for media_features and sample_frames over
# the REAL decoders (the fake-decoder variants above stay rows-only —
# md5->PCG64 pixels have no SQL analog). Same synth-blob pattern as
# media_decode_q: pixel formulas are closed forms, so px_mean/px_std
# and every sampled frame get exact SQL twins. byte_entropy is excluded
# (it mixes header bytes; covered by unit tests).
# ---------------------------------------------------------------------------


@register(
    "media_pixels",
    f"""
    WITH px AS (
      SELECT d.doc_id,
             (d.doc_id * 7 + i.range * 3 + j.range) % 256 AS r,
             (d.doc_id * 11 + i.range) % 256 AS g,
             (d.doc_id * 13 + j.range * 5) % 256 AS b
      FROM documents d, range(8) i, range(12) j WHERE d.doc_id < 150),
    s AS (
      SELECT doc_id, CAST(SUM(r) + SUM(g) + SUM(b) AS DOUBLE) AS s1,
             CAST(SUM(r*r) + SUM(g*g) + SUM(b*b) AS DOUBLE) AS s2
      FROM px GROUP BY doc_id)
    SELECT 'features' AS part, doc_id * 4 AS media_id,
           CAST({_N_PPM} AS BIGINT) AS a,
           (ROUND(s1 / 288.0, 6) + 0.0) AS b,
           (ROUND(SQRT(s2 / 288.0 - (s1 / 288.0) * (s1 / 288.0)), 6) + 0.0) AS c
    FROM s
    UNION ALL
    SELECT 'frames', doc_id * 4 + 2, CAST(t.range AS BIGINT),
           CAST((doc_id * 17 + t.range * 9) % 65536 - 32768 AS DOUBLE), 0.0
    FROM documents, range(0, 64, 2) t WHERE doc_id < 150
    UNION ALL
    -- production media_frame_sample fan-out: fake decode is an 8x8
    -- grid, every_n=2 -> frame_no {{0,2,4,6}}, frame length 8; pixel
    -- VALUES are md5-seeded (no SQL analog) so b carries the size
    SELECT 'fanout', doc_id, CAST(t.range AS BIGINT), 8.0, 0.0
    FROM documents, range(0, 8, 2) t WHERE doc_id % 10 = 0
    """,
)
def media_pixels_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415

    ids = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 150)

    def enc(kind):
        def run(batches):
            for pdf in batches:
                rows = [(int(d) * 4, synth_ppm(int(d))) if kind == "ppm"
                        else (int(d) * 4 + 2, synth_wav(int(d)))
                        for d in pdf["doc_id"]]
                yield pd.DataFrame(rows, columns=["media_id", "media"])
        return run

    ppm = ids.mapInPandas(enc("ppm"), "media_id long, media binary")
    wav = ids.mapInPandas(enc("wav"), "media_id long, media binary")
    feats = media_features(ppm, fake=False).select(
        F.lit("features").alias("part"), "media_id",
        F.col("n_bytes").alias("a"),
        (F.round("px_mean", 6) + F.lit(0.0)).alias("b"), (F.round("px_std", 6) + F.lit(0.0)).alias("c"))
    frames = sample_frames(wav, every_n=2, fake=False).select(
        F.lit("frames").alias("part"), "media_id",
        F.col("frame_no").cast("long").alias("a"),
        F.element_at("frame", 1).cast("double").alias("b"),
        F.lit(0.0).alias("c"))
    # the PRODUCTION media_frame_sample shape (fake decoder over the
    # documents substrate): ids, frame indices and frame sizes are
    # deterministic even though the fake pixels have no SQL analog
    fan = media_frame_sample_q(spark, sf_dir).select(
        F.lit("fanout").alias("part"), "media_id",
        F.col("frame_no").cast("long").alias("a"),
        F.size("frame").cast("double").alias("b"),
        F.lit(0.0).alias("c"))
    return feats.unionByName(frames).unionByName(fan)


# ---------------------------------------------------------------------------
# calc_image_cell_size (ngcasa/imaging/calc_image_cell_size.py:20-80): one
# aggregation + scalar tail; value oracle with rounding (division chains).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.image import calc_image_cell_size  # noqa: E402


@register(
    "image_cell_size",
    f"""
    WITH vis AS ({_UV_SQL}),
    a AS (SELECT max(abs(u)) AS umax, max(abs(v)) AS vmax,
                 min(freq) AS fmin, max(freq) AS fmax FROM vis),
    c AS (SELECT
      CAST({3600.0 * 180.0 / float(__import__('numpy').pi)!r} AS DOUBLE) * (CAST(299792458.0 AS DOUBLE) / (umax * fmax)) / CAST(7.0 AS DOUBLE) AS cu,
      CAST({3600.0 * 180.0 / float(__import__('numpy').pi)!r} AS DOUBLE) * (CAST(299792458.0 AS DOUBLE) / (vmax * fmax)) / CAST(7.0 AS DOUBLE) AS cv,
      CAST({3600.0 * 180.0 / float(__import__('numpy').pi)!r} AS DOUBLE) * (CAST(1.02 AS DOUBLE) * CAST(299792458.0 AS DOUBLE) / (CAST(25.0 AS DOUBLE) * fmin)) AS fwhm
      FROM a),
    e AS (SELECT
      CASE WHEN cu / cv < 1.2 AND cv / cu < 1.2 THEN least(cu, cv) ELSE cu END AS cell_l,
      CASE WHEN cu / cv < 1.2 AND cv / cu < 1.2 THEN least(cu, cv) ELSE cv END AS cell_m,
      fwhm FROM c)
    SELECT (ROUND(cell_l, 6) + 0.0) AS cell_l, (ROUND(cell_m, 6) + 0.0) AS cell_m,
           CAST(ceil(pow(2.0, ceil(log2(greatest(fwhm / cell_l, 1.0) / 10.0))) * 10.0 / 1.2) AS BIGINT) AS imsize_l,
           CAST(ceil(pow(2.0, ceil(log2(greatest(fwhm / cell_m, 1.0) / 10.0))) * 10.0 / 1.2) AS BIGINT) AS imsize_m
    FROM e
    """,
)
def image_cell_size_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = calc_image_cell_size(_uv_vis(spark, sf_dir), dish_diameter_min=25.0)
    return round_doubles(out, only=("cell_l", "cell_m"))


# ---------------------------------------------------------------------------
# Mosaic / heterogeneous-array tier: GCF kernels + phase-gradient gridding
# (rows-only: driver-built FFT kernels), image-domain mosaic PB (value
# oracle via the A&S J1 polynomial twin).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.mosaic import (  # noqa: E402
    make_gridding_convolution_function,
    make_image_with_gcf,
    make_mosaic_pb,
    sql_mosaic_pb,
)

_MOS_OFFSETS = {0: (0.0, 0.0), 1: (8.0e-4, 0.0), 2: (0.0, -6.0e-4)}


def mosaic_pb_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sky = make_empty_sky_image(spark, (0.0, 0.0), (48, 48), (1.0e-4, 1.0e-4))
    pb = make_mosaic_pb(sky, _MOS_OFFSETS, 1.0e9)
    return round_doubles(pb, only=("pb_mosaic",))


# airy primary beam + gaussian restoring beam + image-domain mosaic PB
# share one tagged-union slot (all closed-form beam models over sky
# lattices)
@register(
    "beam_models",
    f"""
    SELECT 'airy' AS part, l_idx, m_idx, chan, freq, (ROUND(pb, 6) + 0.0) AS v
    FROM ({sql_airy_pb((48, 48), (5.0e-6, 5.0e-6), [1.0e9, 1.1e9])})
    UNION ALL
    SELECT 'gauss', l_idx, m_idx, -1, 0.0, (ROUND(beam, 6) + 0.0)
    FROM ({sql_gaussian_beam((42.0, 21.0, 30.0), _SKY_CELL, 64, 64, scale=1.5)})
    UNION ALL
    SELECT 'mosaic', l_idx, m_idx, -1, 1.0e9, (ROUND(pb_mosaic, 6) + 0.0)
    FROM ({sql_mosaic_pb((48, 48), (1.0e-4, 1.0e-4), _MOS_OFFSETS, 1.0e9)})
    UNION ALL
    SELECT 'linmos', l_idx, m_idx, -1, 0.0, (ROUND(s_img / s_pb, 6) + 0.0)
    FROM (
      SELECT fl.l + fl.ol AS l_idx, fl.m + fl.om AS m_idx,
             SUM(fl.pb * fl.sky) AS s_img, SUM(fl.pb) AS s_pb
      FROM (
        SELECT f.ol, f.om, CAST(l.range AS INT) AS l, CAST(m.range AS INT) AS m,
               EXP(0e0 - ((l.range - 8) * (l.range - 8)
                          + (m.range - 8) * (m.range - 8)) / 4e1) + 1e-1 AS pb,
               (((l.range + f.ol) * 3 + (m.range + f.om) * 5) % 7) / 7e0
                 + 5e-1 AS sky
        FROM range(16) l, range(16) m,
             (SELECT * FROM (VALUES (0, 0, 0), (1, 5, 3))) f(field, ol, om)
      ) fl
      GROUP BY 1, 2)
    """,
)
def beam_models_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sky = make_empty_sky_image(spark, (0.0, 0.0), (48, 48), (5.0e-6, 5.0e-6))
    pb = make_pb(sky, [1.0e9, 1.1e9]).select(
        F.lit("airy").alias("part"), "l_idx", "m_idx", "chan", "freq",
        (F.round("pb", 6) + F.lit(0.0)).alias("v"))
    gsky = make_empty_sky_image(spark, _SKY_CENTER, (64, 64), _SKY_CELL)
    gb = gaussian_beam(gsky, (42.0, 21.0, 30.0), _SKY_CELL, scale=1.5).select(
        F.lit("gauss").alias("part"), "l_idx", "m_idx",
        F.lit(-1).alias("chan"), F.lit(0.0).alias("freq"),
        (F.round("beam", 6) + F.lit(0.0)).alias("v"))
    mb = mosaic_pb_q(spark, sf_dir).select(
        F.lit("mosaic").alias("part"), "l_idx", "m_idx",
        F.lit(-1).alias("chan"), F.lit(1.0e9).alias("freq"),
        F.col("pb_mosaic").alias("v"))
    # linear_mosaic (linear_mosaic.py spec): two synthetic gaussian-PB
    # fields, image = pb·sky (flat-noise), offsets (0,0)/(5,3); the
    # combine recovers Σimg/Σpb on the mosaic grid. ≤2 addends per
    # pixel, so Spark's partial-sum order can't shift the double sums.
    fl = spark.range(2 * 16 * 16).select(
        (F.col("id") / 256).cast("int").alias("field"),
        ((F.col("id") % 256) / 16).cast("int").alias("l"),
        (F.col("id") % 16).cast("int").alias("m"))
    fl = (fl.withColumn("ol", F.col("field") * 5)
          .withColumn("om", F.col("field") * 3)
          .withColumn("pb", F.exp(-((F.col("l") - 8) * (F.col("l") - 8)
                                    + (F.col("m") - 8) * (F.col("m") - 8))
                                  / F.lit(40.0)) + F.lit(0.1))
          .withColumn("sky", ((F.col("l") + F.col("ol")) * 3
                              + (F.col("m") + F.col("om")) * 5) % 7
                      / F.lit(7.0) + F.lit(0.5))
          .select("field", F.col("l").alias("l_idx"),
                  F.col("m").alias("m_idx"),
                  (F.col("pb") * F.col("sky")).alias("image"), "pb"))
    lm = image_linear_mosaic(fl, {0: (0, 0), 1: (5, 3)},
                             pb_limit=1e-6).select(
        F.lit("linmos").alias("part"), "l_idx", "m_idx",
        F.lit(-1).alias("chan"), F.lit(0.0).alias("freq"),
        (F.round("image", 6) + F.lit(0.0)).alias("v"))
    return pb.unionByName(gb).unionByName(mb).unionByName(lm)


@register("mosaic_image", None)  # production shape: rows-only (the
# SAME composition — make_image_with_gcf — is value-gated at the small
# shape as the 'mimg' part of mosaic_grid_small, round 12)
def mosaic_image_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    gp = GridParms(n_u=64, n_v=64, cell_u=1.0e-4, cell_v=1.0e-4)
    vis = (_rot_vis(spark, sf_dir)
           .withColumn("chan", (F.col("event_id") % 3).cast("int"))
           .withColumn("pol", (F.col("event_id") % 2).cast("int"))
           .withColumn("weight", F.lit(1.0))
           .withColumn("u", F.col("u") / 25.0)
           .withColumn("v", F.col("v") / 25.0))
    gcf = make_gridding_convolution_function(gp, [1.0e9, 1.001e9, 1.002e9], [25.0],
                                             oversampling=16, max_support=15)
    img = make_image_with_gcf(vis, gcf, gp,
                              field_offsets={0: (0.0, 0.0), 1: (8.0e-4, 0.0),
                                             2: (0.0, -6.0e-4)},
                              image_size=(48, 48))
    return img.filter(F.col("l_idx") % 2 == 0)


# ---------------------------------------------------------------------------
# mosaic_grid_small: VALUE evidence for the aperture (GCF) gridder +
# per-field phase gradient — the mosaic tier's core physics
# (mosaic_image above stays rows-only at its production shape). A small
# GCF (oversampling 4, max_support 5 → 24² kernel) is built at import
# by the SAME code the operator uses and injected into the oracle as
# exact literals, so the SQL twin verifies kernel SELECTION + tap
# indexing + phase rotation + the sum-of-kernel-weights accumulation,
# not the FFT that built the kernel. Double sums are production
# (unquantized) on both sides → ROUND 6; the vis set is one Arrow
# batch (coalesce(1), <10k rows) so Spark's per-batch nonzero-cell
# emission equals the oracle's HAVING-nonzero total.
# ---------------------------------------------------------------------------

_MGP = GridParms(n_u=32, n_v=32, cell_u=1.0e-4, cell_v=1.0e-4)
_MGCF = make_gridding_convolution_function(_MGP, [1.0e9], [25.0],
                                           oversampling=4, max_support=5)


def _sql_mosaic_grid_small() -> str:
    kern = _MGCF.kernels[0, 0]
    S = kern.shape[0]
    ov = _MGCF.oversampling
    hw = int(_MGCF.support[0, 0, 0]) // 2
    n, cgrid = _MGP.n_u, _MGP.n_u // 2
    from cngi_prototype_spark.imaging.grid import C_M_S
    # only indices reachable by S//2 + t*ov + d are needed; inject the
    # full table anyway (it is small) as exact e-notation literals
    kern_vals = ", ".join(f"({i}, {j}, {kern[i, j]:.17e})"
                          for i in range(S) for j in range(S))
    offs = ", ".join(f"({k}, {l:.17e}, {m:.17e})"
                     for k, (l, m) in sorted(_MOS_OFFSETS.items()))
    scale = f"(-(freq * {_MGP.cell_u!r} * {float(n)!r}) / {C_M_S!r})"
    return f"""
    WITH vis AS (
      SELECT event_id,
             ((event_id * 7919) % 2400) - 1200.0 AS u,
             ((event_id * 104729 + user_id) % 2400) - 1200.0 AS v,
             1.0e9 AS freq, 0 AS chan, CAST(user_id % 2 AS INT) AS pol,
             CAST(event_id % 3 AS INT) AS field_id,
             value / 100.0 AS re0, 0.0 - value / 200.0 AS im0,
             1.0 + CAST(event_id % 3 AS DOUBLE) AS w
      FROM events WHERE event_id < 3000),
    foff(fid, lf, mf) AS (SELECT * FROM (VALUES {offs})),
    kern(ki, kj, kv) AS (SELECT * FROM (VALUES {kern_vals})),
    rot AS (
      SELECT v.*,
             re0 * COS(2 * PI() * ((u * freq / {C_M_S!r}) * lf
                                   + (v.v * freq / {C_M_S!r}) * mf))
             - im0 * SIN(2 * PI() * ((u * freq / {C_M_S!r}) * lf
                                     + (v.v * freq / {C_M_S!r}) * mf)) AS re,
             re0 * SIN(2 * PI() * ((u * freq / {C_M_S!r}) * lf
                                   + (v.v * freq / {C_M_S!r}) * mf))
             + im0 * COS(2 * PI() * ((u * freq / {C_M_S!r}) * lf
                                     + (v.v * freq / {C_M_S!r}) * mf)) AS im
      FROM vis v JOIN foff ON foff.fid = v.field_id),
    geom AS (
      SELECT chan, pol, w, re * w AS wre, im * w AS wim,
             CAST(floor((u * {scale} + {float(cgrid)!r}) + 0.5) AS INT) AS uc,
             CAST(floor((v * {scale} + {float(cgrid)!r}) + 0.5) AS INT) AS vc,
             CAST(floor((CAST(floor((u * {scale} + {float(cgrid)!r}) + 0.5) AS INT)
                         - (u * {scale} + {float(cgrid)!r})) * {float(ov)!r} + 0.5) AS INT) AS du,
             CAST(floor((CAST(floor((v * {scale} + {float(cgrid)!r}) + 0.5) AS INT)
                         - (v * {scale} + {float(cgrid)!r})) * {float(ov)!r} + 0.5) AS INT) AS dv
      FROM rot
      WHERE w IS NOT NULL AND w <> 0),
    inb AS (
      SELECT * FROM geom
      WHERE uc >= {hw} AND uc < {n - hw} AND vc >= {hw} AND vc < {n - hw}
        AND NOT (wre = 0 AND wim = 0)),
    taps AS (SELECT tu.t AS tu, tv.t AS tv
             FROM (VALUES {", ".join(f"({t})" for t in range(-hw, hw + 1))}) tu(t),
                  (VALUES {", ".join(f"({t})" for t in range(-hw, hw + 1))}) tv(t)),
    scat AS (
      SELECT g.chan, g.pol, g.uc + t.tu AS u_idx, g.vc + t.tv AS v_idx,
             k.kv * g.wre AS cre, k.kv * g.wim AS cim, g.w * k.kv AS wk
      FROM inb g, taps t
      JOIN kern k ON k.ki = {S // 2} + t.tu * {ov} + g.du
                 AND k.kj = {S // 2} + t.tv * {ov} + g.dv)
    , scat_psf AS (
      -- PSF mode: the weight is the gridded quantity (re=None); rows
      -- with zero data but nonzero weight still contribute, so the
      -- in-bounds filter drops the (wre=0 AND wim=0) condition
      SELECT g.chan, g.pol, g.uc + t.tu AS u_idx, g.vc + t.tv AS v_idx,
             k.kv * g.w AS cre, g.w * k.kv AS wk
      FROM (SELECT * FROM geom
            WHERE uc >= {hw} AND uc < {n - hw}
              AND vc >= {hw} AND vc < {n - hw}) g, taps t
      JOIN kern k ON k.ki = {S // 2} + t.tu * {ov} + g.du
                 AND k.kj = {S // 2} + t.tv * {ov} + g.dv)
    SELECT 'grid' AS part, chan, pol, u_idx, v_idx,
           (ROUND(SUM(cre), 6) + 0.0) AS re, (ROUND(SUM(cim), 6) + 0.0) AS im
    FROM scat GROUP BY 1, 2, 3, 4, 5
    HAVING NOT (SUM(cre) = 0 AND SUM(cim) = 0)
    UNION ALL
    SELECT 'sumw', chan, pol, -1, -1, (ROUND(SUM(wk), 6) + 0.0), 0.0
    FROM scat GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'psf_grid', chan, pol, u_idx, v_idx,
           (ROUND(SUM(cre), 6) + 0.0), 0.0
    FROM scat_psf GROUP BY 1, 2, 3, 4, 5
    HAVING NOT (SUM(cre) = 0)
    UNION ALL
    SELECT 'psf_sumw', chan, pol, -1, -1, (ROUND(SUM(wk), 6) + 0.0), 0.0
    FROM scat_psf GROUP BY 1, 2, 3
    UNION ALL
    -- 'mimg' (round-12): the FULL mosaic_image composition value-gated
    -- at the small shape — make_image_with_gcf = phase gradient → GCF
    -- gridding → plane ifft2 → sum-of-weights normalize (correct_pswf
    -- =False), twinned as the unrolled DFT over the UNROUNDED scat
    -- cells (the imaging_fft 'dirty' pattern; FFT-vs-DFT drift ~1e-13
    -- absorbed by the final ROUND 6)
    SELECT 'mimg', chan, pol, l_idx, m_idx, v, 0.0
    FROM ({_sql_dft_image(
        "SELECT chan, pol, u_idx, v_idx, SUM(cre) AS grid_re, "
        "SUM(cim) AS grid_im FROM scat GROUP BY 1, 2, 3, 4 "
        "HAVING NOT (SUM(cre) = 0 AND SUM(cim) = 0)",
        "SELECT chan, pol, SUM(wk) AS sum_weight FROM scat GROUP BY 1, 2",
        n=_MGP.n_u, crop=12, pswf_correct=False)})
    """


@register("mosaic_grid_small", _sql_mosaic_grid_small())
def mosaic_grid_small_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cngi_prototype_spark.imaging.mosaic import (
        apply_phase_gradient, mosaic_grid_visibilities)
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    vis = ev.select(
        (((F.col("event_id") * 7919) % 2400) - F.lit(1200.0)).alias("u"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 2400)
         - F.lit(1200.0)).alias("v"),
        F.lit(1.0e9).alias("freq"),
        F.lit(0).alias("chan"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("event_id") % 3).cast("int").alias("field_id"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (F.lit(0.0) - F.col("value") / F.lit(200.0)).alias("data_im"),
        (1.0 + (F.col("event_id") % 3).cast("double")).alias("weight"),
    ).coalesce(1)
    vis0 = vis
    vis = apply_phase_gradient(vis, _MOS_OFFSETS, _MGP)
    grid, sumw = mosaic_grid_visibilities(vis, _MGCF, _MGP)
    gout = grid.select(F.lit("grid").alias("part"), "chan", "pol",
                       "u_idx", "v_idx", (F.round("grid_re", 6) + F.lit(0.0)).alias("re"),
                       (F.round("grid_im", 6) + F.lit(0.0)).alias("im"))
    sout = sumw.select(F.lit("sumw").alias("part"), "chan", "pol",
                       F.lit(-1).alias("u_idx"), F.lit(-1).alias("v_idx"),
                       (F.round("sum_weight", 6) + F.lit(0.0)).alias("re"),
                       F.lit(0.0).alias("im"))
    # PSF/weight mode (make_psf_with_gcf's do_psf gridding): weights
    # gridded with the same GCF, no phase gradient
    pgrid, psumw = mosaic_grid_visibilities(vis0, _MGCF, _MGP, re=None)
    pgout = pgrid.select(F.lit("psf_grid").alias("part"), "chan", "pol",
                         "u_idx", "v_idx",
                         (F.round("grid_re", 6) + F.lit(0.0)).alias("re"),
                         (F.round("grid_im", 6) + F.lit(0.0)).alias("im"))
    psout = psumw.select(F.lit("psf_sumw").alias("part"), "chan", "pol",
                         F.lit(-1).alias("u_idx"), F.lit(-1).alias("v_idx"),
                         (F.round("sum_weight", 6) + F.lit(0.0)).alias("re"),
                         F.lit(0.0).alias("im"))
    # 'mimg': the FULL mosaic_image composition (make_image_with_gcf —
    # the function mosaic_image_q runs at production shape) at the
    # small gate shape, against the unrolled-DFT twin (round-12
    # verdict #6: last imaging composition that was rows-only)
    from cngi_prototype_spark.imaging.mosaic import make_image_with_gcf
    img = make_image_with_gcf(vis0, _MGCF, _MGP,
                              field_offsets=_MOS_OFFSETS,
                              image_size=(12, 12))
    mout = img.select(F.lit("mimg").alias("part"), "chan", "pol",
                      F.col("l_idx").alias("u_idx"),
                      F.col("m_idx").alias("v_idx"),
                      (F.round("image", 6) + F.lit(0.0)).alias("re"),
                      F.lit(0.0).alias("im"))
    return (gout.unionByName(sout).unionByName(pgout)
            .unionByName(psout).unionByName(mout))


# ---------------------------------------------------------------------------
# Flagging methods the reference declares but stubs (quack/extend/shadow:
# ngcasa/flagging/{quack,extend,shadow}.py raise NotImplementedError) —
# implemented for real here, value-exact oracles. Component-list model
# prediction likewise (predict_modelvis_component.py stub).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.imaging.degrid import (  # noqa: E402
    predict_modelvis_component,
    sql_predict_component,
)
from cngi_prototype_spark.operators.flags import quack, shadow  # noqa: E402


_SQL_QUACK = """
    WITH v AS ({base}),
    w AS (SELECT *, MIN(tsec) OVER (PARTITION BY scan) AS t0,
                    MAX(tsec) OVER (PARTITION BY scan) AS t1 FROM v)
    SELECT event_id, (flag OR (tsec - t0 < 600.0) OR (t1 - tsec < 600.0)) AS flag
    FROM w
    """.format(base="""
        SELECT event_id, CAST(user_id % 3 AS INT) AS scan,
               CAST(epoch_us(ts) // 1000000 AS DOUBLE) AS tsec,
               value > 550 AS flag
        FROM events""")


def quack_flag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_id",
        (F.col("user_id") % 3).cast("int").alias("scan"),
        F.expr("unix_micros(ts) div 1000000").cast("double").alias("tsec"),
        (F.col("value") > 550).alias("flag"))
    out = quack(ev, 600.0, mode="both", scan="scan", time="tsec")
    return out.select("event_id", "flag")


_SQL_EXTEND = """
    WITH v AS (
      SELECT event_id, CAST(user_id % 20 AS INT) AS baseline,
             CAST(user_id % 2 AS INT) AS pol, 0 AS time,
             CAST(event_id % 64 AS INT) AS chan,
             value > 550 AS flag
      FROM events)
    SELECT event_id,
           (MAX(CAST(flag AS INT)) OVER (PARTITION BY baseline, pol, time
                ORDER BY chan, event_id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) = 1) AS flag
    FROM v
    """


def extend_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 20).cast("int").alias("baseline"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        F.lit(0).alias("time"),
        (F.col("event_id") % 64).cast("int").alias("chan"),
        (F.col("value") > 550).alias("flag"))
    from pyspark.sql.window import Window
    # deterministic tie order: chan duplicates broken by event_id (the
    # oracle window does the same) — use explicit window here
    w = (Window.partitionBy("baseline", "pol", "time")
         .orderBy("chan", "event_id").rowsBetween(-2, 2))
    out = ev.withColumn("flag", F.max(F.col("flag").cast("int")).over(w) == 1)
    return out.select("event_id", "flag")


_SQL_SHADOW = f"""
    SELECT event_id,
           (FALSE OR (sqrt(u * u + v * v) < 25.0 AND w > 0)) AS flag
    FROM ({_ROT_SQL_VIS})
    """


def shadow_flag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = _rot_vis(spark, sf_dir).withColumn("flag", F.lit(False))
    out = shadow(vis, dish_diameter=25.0)
    return out.select("event_id", "flag")


@register(
    "predict_component",
    f"""
    SELECT event_id, (ROUND(model_re, 6) + 0.0) AS model_re, (ROUND(model_im, 6) + 0.0) AS model_im
    FROM ({sql_predict_component([(2.0, 0.0008, 0.0), (0.7, -0.0004, 0.0006)],
                                 _ROT_SQL_VIS, select_cols="event_id,")})
    """,
)
def predict_component_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = predict_modelvis_component(
        _rot_vis(spark, sf_dir),
        [(2.0, 0.0008, 0.0), (0.7, -0.0004, 0.0006)])
    return round_doubles(out.select("event_id", "model_re", "model_im"),
                         only=("model_re", "model_im"))


# ---------------------------------------------------------------------------
# auto_rflag / auto_tfcrop (stubbed in the reference): local-window outlier
# flagging with explicit-moment variance so the window sums are bit-equal
# across engines (identical frame order via tiebreak).
# ---------------------------------------------------------------------------

from cngi_prototype_spark.operators.flags import auto_rflag, auto_tfcrop, auto_uvbin  # noqa: E402

_RFLAG_BASE = """
        SELECT event_id, CAST(user_id % 20 AS INT) AS baseline,
               CAST(user_id % 2 AS INT) AS pol,
               CAST(event_id % 64 AS INT) AS chan,
               CAST(event_id // 64 AS BIGINT) AS time,
               value / 100.0 AS data_re, FALSE AS flag
        FROM events"""


def _rflag_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 20).cast("int").alias("baseline"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("event_id") % 64).cast("int").alias("chan"),
        (F.col("event_id") / 64).cast("bigint").alias("time"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        F.lit(False).alias("flag"))


def _sql_window_flag(base: str, part: str, order: str, k: int, nsig: float) -> str:
    w = (f"PARTITION BY {part} ORDER BY {order} "
         f"ROWS BETWEEN {k} PRECEDING AND {k} FOLLOWING")
    return f"""
    WITH v AS ({base}),
    m AS (SELECT *,
      CAST(COUNT(data_re) OVER ({w}) AS DOUBLE) AS n,
      SUM(data_re) OVER ({w}) AS sx,
      SUM(data_re * data_re) OVER ({w}) AS sxx
      FROM v)
    SELECT event_id,
           (flag OR ((n > 2) AND
            ((data_re - sx / n) * (data_re - sx / n)
             > {float(nsig) ** 2!r} * ((n * sxx - sx * sx) / (n * (n - 1.0)))))) AS flag
    FROM m
    """


_SQL_RFLAG = _sql_window_flag(_RFLAG_BASE, "baseline, chan, pol",
                              "time, event_id", 4, 3.0)


def auto_rflag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = auto_rflag(_rflag_vis(spark, sf_dir), nsigma=3.0, time_window=9,
                     order_tiebreak=("event_id",))
    return out.select("event_id", "flag")


_SQL_TFCROP = _sql_window_flag(_RFLAG_BASE, "baseline, time, pol",
                               "chan, event_id", 5, 3.0)


def auto_tfcrop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = auto_tfcrop(_rflag_vis(spark, sf_dir), nsigma=3.0, chan_window=11,
                      order_tiebreak=("event_id",))
    return out.select("event_id", "flag")


_SQL_UVBIN = f"""
    WITH v AS (
      SELECT event_id, CAST(event_id % 3 AS INT) AS chan,
             CAST(event_id % 2 AS INT) AS pol, u, v, data_re, FALSE AS flag
      FROM ({_ROT_SQL_VIS})
    ),
    b AS (SELECT *, CAST(floor(u / 500.0) AS BIGINT) AS bu,
                    CAST(floor(v / 500.0) AS BIGINT) AS bv FROM v),
    s AS (SELECT chan, pol, bu, bv,
                 CAST(COUNT(data_re) AS DOUBLE) AS n,
                 SUM(data_re) AS sx, SUM(data_re * data_re) AS sxx
          FROM b GROUP BY 1, 2, 3, 4)
    SELECT event_id,
           (flag OR ((n > 2) AND
            ((data_re - sx / n) * (data_re - sx / n)
             > 9.0 * ((n * sxx - sx * sx) / (n * (n - 1.0)))))) AS flag
    FROM b JOIN s USING (chan, pol, bu, bv)
    """


def auto_uvbin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    vis = (_rot_vis(spark, sf_dir)
           .withColumn("chan", (F.col("event_id") % 3).cast("int"))
           .withColumn("pol", (F.col("event_id") % 2).cast("int"))
           .withColumn("flag", F.lit(False)))
    out = auto_uvbin(vis, nsigma=3.0, cell_size=500.0)
    return out.select("event_id", "flag")


# ---------------------------------------------------------------------------
# Merged flag-family gate: every flag operator normalizes to
# (op, event_id, flag), so eight operators share one driver slot while
# every per-row flag value still gets hash-compared. The driver gate
# evaluates only the first 50 registry entries — slots are scarce, and
# a tagged union loses nothing (same rows, same values, one extra
# constant column).
# ---------------------------------------------------------------------------

_FLAG_SUITE = [
    ("auto_clip", auto_clip_q, _SQL_AUTO_CLIP),
    ("manual_flag", manual_flag_q, _SQL_MANUAL_FLAG),
    ("quack", quack_flag_q, _SQL_QUACK),
    ("extend", extend_flags_q, _SQL_EXTEND),
    ("shadow", shadow_flag_q, _SQL_SHADOW),
    ("rflag", auto_rflag_q, _SQL_RFLAG),
    ("tfcrop", auto_tfcrop_q, _SQL_TFCROP),
    ("uvbin", auto_uvbin_q, _SQL_UVBIN),
]


@register(
    "flagging_suite",
    "\nUNION ALL\n".join(
        f"SELECT '{op}' AS op, event_id, flag FROM ({sql})"
        for op, _, sql in _FLAG_SUITE
    ),
)
def flagging_suite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        fn(spark, sf_dir).select(F.lit(op).alias("op"), "event_id", "flag")
        for op, fn, _ in _FLAG_SUITE
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register("flagging_suite_fused", None)  # rows-only: the oracle window
# is full (50/50) and the values are the gated flagging_suite's — the
# fused/unfused row-set identity is unit-tested instead
def flagging_suite_fused_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-scan variant of :func:`flagging_suite_q` (r15, guide
    §2.4/§6): the eight flag operators each derive their base
    projection from the same events table, costing the unfused plan 18
    parquet scans of one source. Here the raw events are materialized
    ONCE (eager localCheckpoint) and every operator reads that
    ExistingRDD — one events scan total (inside the checkpoint job),
    zero in the final plan. Values are identical by construction: the
    checkpoint holds the exact scan output, and each operator applies
    the same expressions to it (fused-vs-unfused row equality is
    pinned by tests/test_flags.py). Opt-in (a separate bench entry and
    a separate registry name): at 100 TB re-scanning a column-pruned
    parquet source 18x and materializing it once are different
    I/O-vs-storage trades — callers pick per deployment."""
    ev = _t(spark, sf_dir, "events").localCheckpoint()
    with _events_source(ev):
        return flagging_suite_q(spark, sf_dir)


# ---------------------------------------------------------------------------
# Flag-version manager (cngi/vis manager_add/list/remove semantics: FLAG_*
# columns) and uv_cont_fit error metrics (uv_cont_fit.py:84-95 rms/min/max
# fit errors) — both pure Catalyst with value oracles.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.operators.flags import manager_add, manager_apply  # noqa: E402


@register(
    "flag_manager_roundtrip",
    """
    SELECT event_id,
           (value > 400 OR event_type = 'error') AS flag,
           (value > 400 OR event_type = 'error') AS FLAG_BACKUP,
           ((value > 400 OR event_type = 'error') OR value > 300) AS FLAG_AGGRESSIVE
    FROM events
    """,
)
def flag_manager_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # save current flags, flag more aggressively, save that version too,
    # then restore the original — the manager_add/apply lifecycle
    base = _events_vis(spark, sf_dir).select("event_id", "flag", "data_re")
    out = manager_add(base, "BACKUP", source_col="flag")
    out = out.withColumn("flag", F.col("flag") | (F.col("data_re") > 300))
    out = manager_add(out, "AGGRESSIVE", source_col="flag")
    out = manager_apply(out, "BACKUP")
    return out.select("event_id", "flag", "FLAG_BACKUP", "FLAG_AGGRESSIVE")


@register(
    "uv_cont_fit",
    f"""
    WITH fitted AS ({_REGISTRY['cont_sub_linear'][1]}),
    base AS ({_LI_SQL_BASE}),
    stats AS (
      -- >2 DISTINCT chans: with duplicates the order-2 system is
      -- singular (kernel pinv least-squares it; a closed form can't),
      -- so the gate compares only the regular spectra
      SELECT bl, MIN(CAST(chan AS DOUBLE)) AS xmin,
             MAX(CAST(chan AS DOUBLE)) AS xmax, COUNT(DISTINCT chan) AS nd
      FROM base GROUP BY bl
    ),
    xx AS (
      -- the kernel's conditioning rescale: x in [-1, 1] per spectrum
      SELECT b.bl, b.chan, b.data_re,
             CASE WHEN s.xmax > s.xmin
                  THEN 2.0 * (CAST(b.chan AS DOUBLE) - s.xmin) / (s.xmax - s.xmin) - 1.0
                  ELSE 2.0 * (CAST(b.chan AS DOUBLE) - s.xmin) END AS x
      FROM base b JOIN stats s USING (bl) WHERE s.nd > 2
    ),
    m AS (
      -- 1e-9-quantized BIGINT sums: bit-equal to the kernel's precise
      -- moment accumulation regardless of evaluation order
      SELECT bl, CAST(COUNT(*) AS DOUBLE) AS m0,
             (SUM(CAST(floor((x) * 1.0e9) AS BIGINT)) / 1.0e9) AS m1,
             (SUM(CAST(floor((x*x) * 1.0e9) AS BIGINT)) / 1.0e9) AS m2,
             (SUM(CAST(floor((x*x*x) * 1.0e9) AS BIGINT)) / 1.0e9) AS m3,
             (SUM(CAST(floor((x*x*x*x) * 1.0e9) AS BIGINT)) / 1.0e9) AS m4,
             (SUM(CAST(floor((data_re) * 1.0e9) AS BIGINT)) / 1.0e9) AS b0,
             (SUM(CAST(floor((x*data_re) * 1.0e9) AS BIGINT)) / 1.0e9) AS b1,
             (SUM(CAST(floor((x*x*data_re) * 1.0e9) AS BIGINT)) / 1.0e9) AS b2
      FROM xx GROUP BY bl
    ),
    c AS (
      SELECT bl,
        (m0*(m2*m4-m3*m3) - m1*(m1*m4-m2*m3) + m2*(m1*m3-m2*m2)) AS det,
        ((m2*m4-m3*m3)*b0 + (m2*m3-m1*m4)*b1 + (m1*m3-m2*m2)*b2) AS a0,
        ((m3*m2-m1*m4)*b0 + (m0*m4-m2*m2)*b1 + (m1*m2-m0*m3)*b2) AS a1,
        ((m1*m3-m2*m2)*b0 + (m2*m1-m0*m3)*b1 + (m0*m2-m1*m1)*b2) AS a2
      FROM m
    )
    SELECT 'fit' AS part, xx.bl, xx.chan,
           c.a0/c.det + (c.a1/c.det)*xx.x + (c.a2/c.det)*xx.x*xx.x AS v1,
           0.0 AS v2, 0.0 AS v3
    FROM xx JOIN c USING (bl)
    -- quantization could in principle zero the determinant even with
    -- >2 distinct chans; such spectra divide-by-zero here while the
    -- kernel pinv least-squares them, so both sides drop det=0
    WHERE c.det <> 0
    UNION ALL
    SELECT 'metrics', bl, -1,
           (ROUND({sql_rms('data_re')}, 6) + 0.0),
           MIN(data_re), MAX(data_re)
    FROM fitted
    GROUP BY bl
    HAVING COUNT(*) > 3
    """,
)
def uv_cont_fit_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged continuum-fit gate: the order-2 mapInPandas fit kernel
    (uv_cont_fit.py:30-96 semantics) value-checked against a closed-form
    normal-equations twin (round-4 absorbs pinv-vs-Cramer ~1e-12
    relative drift), plus the rms/min/max fit metrics
    (uv_cont_fit.py:84-95) from the exact-decimal linear path."""
    fit = uv_cont_fit_q(spark, sf_dir)
    # compare only spectra with >2 distinct chans AND a nonzero
    # closed-form determinant (see oracle comment): the det filter is
    # the oracle's quantized-moment computation replicated in Catalyst
    # — identical integer sums then identical double association, so
    # det is bit-equal across engines and the filter is symmetric.
    base = _lineitem_vis(spark, sf_dir).select("bl", "chan", "data_re")
    stats = (base.groupBy("bl")
             .agg(F.min(F.col("chan").cast("double")).alias("xmin"),
                  F.max(F.col("chan").cast("double")).alias("xmax"),
                  F.countDistinct("chan").alias("nd"))
             .filter(F.col("nd") > 2))
    xx = base.join(stats, "bl").withColumn(
        "x",
        F.when(F.col("xmax") > F.col("xmin"),
               2.0 * (F.col("chan").cast("double") - F.col("xmin"))
               / (F.col("xmax") - F.col("xmin")) - 1.0)
        .otherwise(2.0 * (F.col("chan").cast("double") - F.col("xmin"))))

    def _qsum(e: Column) -> Column:
        return F.sum(F.floor(e * F.lit(1.0e9)).cast("long")) / F.lit(1.0e9)

    x = F.col("x")
    mom = xx.groupBy("bl").agg(
        F.count(F.lit(1)).cast("double").alias("m0"),
        _qsum(x).alias("m1"), _qsum(x * x).alias("m2"),
        _qsum(x * x * x).alias("m3"), _qsum(x * x * x * x).alias("m4"))
    m0, m1, m2, m3, m4 = (F.col(c) for c in ("m0", "m1", "m2", "m3", "m4"))
    det = (m0 * (m2 * m4 - m3 * m3) - m1 * (m1 * m4 - m2 * m3)
           + m2 * (m1 * m3 - m2 * m2))
    dc = mom.filter(det != 0).select("bl")
    fit = (fit.join(dc, "bl")
           .filter(F.col("data_re_cont").isNotNull()
                   & ~F.isnan("data_re_cont"))
           .select(F.lit("fit").alias("part"), "bl", "chan",
                   F.col("data_re_cont").alias("v1"),
                   F.lit(0.0).alias("v2"), F.lit(0.0).alias("v3")))
    met = uv_cont_fit_metrics_q(spark, sf_dir).select(
        F.lit("metrics").alias("part"), "bl", F.lit(-1).alias("chan"),
        F.col("fit_rms_error").alias("v1"),
        F.col("fit_min_error").alias("v2"), F.col("fit_max_error").alias("v3"))
    return fit.unionByName(met)
def uv_cont_fit_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-quality metrics of the continuum fit (uv_cont_fit.py:84-95):
    rms / min / max of the post-subtraction residual per spectrum."""
    fitted = cont_sub_linear(
        _lineitem_vis(spark, sf_dir), group_cols=["bl"], x_col="chan",
        value_cols=["data_re"], precise=_precise())
    # metrics restricted to spectra with >3 samples: shorter ones fit
    # exactly and their ~1e-13 residuals sit below the oracle's decimal
    # quantum where DuckDB's cast mis-rounds (see functions/exact.py)
    out = (fitted.groupBy("bl")
           .agg(exact.rms(F.col("data_re"), precise=_precise()).alias("fit_rms_error"),
                F.min("data_re").alias("fit_min_error"),
                F.max("data_re").alias("fit_max_error"),
                F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > 3).drop("_n"))
    return round_doubles(out, only=("fit_rms_error",))


# ---------------------------------------------------------------------------
# Packed-spectra layout (SURVEY.md §1.5 array-packed form): pack per
# (bl, pol) spectrum into chan-ordered arrays and unpack back — the
# round trip is the identity, value-exact against plain SQL.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.operators.packing import pack_spectra, unpack_spectra  # noqa: E402


# packed layout + unpack roundtrip share one tagged-union slot. The
# packed form is ARRAY-typed and the driver canonicalizer can't sort
# list cells, so the packed part re-explodes WITH POSITION on both
# sides — position order proves the packed arrays are chan-sorted and
# value-aligned, which is the operator's whole contract.
@register(
    "pack_spectra",
    """
    WITH v AS (
      SELECT event_id, CAST(user_id % 20 AS INT) AS bl,
             CAST(user_id % 2 AS INT) AS pol,
             CAST(event_id % 64 AS INT) AS chan,
             value / 100.0 AS data_re, 0.0 - value / 200.0 AS data_im
      FROM events WHERE event_id < 1280
    ),
    p AS (
      SELECT bl, pol,
             list(chan ORDER BY chan, data_re) AS chans,
             list(data_re ORDER BY chan, data_re) AS vals
      FROM v WHERE (event_id // 64) % 11 = 0
      GROUP BY bl, pol
    )
    SELECT 'packed' AS part, bl, pol, CAST(i - 1 AS INT) AS pos,
           chans[i] AS chan, vals[i] AS data_re, 0.0 AS data_im
    FROM p, LATERAL unnest(generate_series(1, len(chans))) AS t(i)
    UNION ALL
    SELECT 'roundtrip', bl, pol, -1, chan, data_re, data_im FROM v
    """,
)
def pack_spectra_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (_t(spark, sf_dir, "events").filter(F.col("event_id") < 1280).select(
        "event_id",
        (F.col("user_id") % 20).cast("int").alias("bl"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("event_id") % 64).cast("int").alias("chan"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (F.lit(0.0) - F.col("value") / F.lit(200.0)).alias("data_im")))
    sub = v.filter((F.col("event_id") / 64).cast("long") % 11 == 0)
    packed = pack_spectra(sub.select("bl", "pol", "chan", "data_re"),
                          keys=("bl", "pol"), values=("data_re",))
    pk = (packed.select(
        "bl", "pol",
        F.posexplode(F.arrays_zip("chans", "data_re")).alias("pos", "z"))
        .select(F.lit("packed").alias("part"), "bl", "pol",
                F.col("pos").cast("int").alias("pos"),
                F.col("z.chans").alias("chan"),
                F.col("z.data_re").alias("data_re"),
                F.lit(0.0).alias("data_im")))
    rt = (unpack_spectra(
        pack_spectra(v.select("bl", "pol", "chan", "data_re", "data_im"),
                     keys=("bl", "pol")),
        keys=("bl", "pol"))
        .select(F.lit("roundtrip").alias("part"), "bl", "pol",
                F.lit(-1).alias("pos"), "chan", "data_re", "data_im"))
    return pk.unionByName(rt)


# ---------------------------------------------------------------------------
# Full spectral reframe (cngi/vis/reframe.py:21-95, cngi/image/reframe.py:
# 21-255): driver-computed TOPO->LSRK velocities (analytic model standing in
# for astropy's ephemeris — documented divergence) + Catalyst-only channel
# re-interpolation over packed spectra.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.operators.reframe import (  # noqa: E402
    reframe_image,
    reframe_vis,
    sql_reframe_spectra,
    topo_to_lsrk_velocity,
)

_RF_FIELDS = {0: (0.52, -0.31), 1: (2.1, 0.45), 2: (4.4, -0.88)}
_RF_DOY = 123.0
_RF = dict(f0=1.0e9, df_hz=1.0e6, out_f0=1.0001e9, out_df=9.9e5,
           out_nchan=30, n_in=32)

# dense (bl, chan) lattice LEFT JOINed with the events aggregate: the
# interpolation twin assumes every input channel exists, which sparse
# small-sf events can't guarantee (at sf0.001 holes made the gate
# diverge) — missing cells take a deterministic closed-form fill
_RF_SRC_SQL = """
    SELECT CAST(l.range // 32 AS INT) AS bl,
           CAST(l.range // 32 AS INT) % 3 AS field_id,
           CAST(l.range % 32 AS INT) AS chan,
           COALESCE(e.mv / 100.0,
                    (l.range // 32) / 16e0 + (l.range % 32) / 64e0) AS data_re
    FROM range(512) l
    LEFT JOIN (
      SELECT CAST(user_id % 16 AS INT) AS bl,
             CAST(event_id % 32 AS INT) AS chan, MAX(value) AS mv
      FROM events GROUP BY 1, 2) e
      ON e.bl = CAST(l.range // 32 AS INT)
     AND e.chan = CAST(l.range % 32 AS INT)
"""


def _rf_vel_case() -> str:
    cases = " ".join(
        f"WHEN field_id = {fid} THEN {topo_to_lsrk_velocity(_RF_DOY, ra, dec):.17e}"
        for fid, (ra, dec) in _RF_FIELDS.items())
    return f"CASE {cases} ELSE 0.0 END"


@register(
    "reframe_vis",
    f"""
    SELECT bl, field_id, chan, freq, (ROUND(data_re, 6) + 0.0) AS data_re
    FROM ({sql_reframe_spectra(_RF_SRC_SQL, keys="bl, field_id",
                               vel_case=_rf_vel_case(), **_RF)})
    """,
)
def reframe_vis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (_t(spark, sf_dir, "events")
           .groupBy((F.col("user_id") % 16).cast("int").alias("bl"),
                    (F.col("event_id") % 32).cast("int").alias("chan"))
           .agg(F.max("value").alias("mv")))
    lat = spark.range(512).select(
        (F.col("id") / 32).cast("int").alias("bl"),
        ((F.col("id") / 32).cast("int") % 3).alias("field_id"),
        (F.col("id") % 32).cast("int").alias("chan"))
    src = (lat.join(agg, on=["bl", "chan"], how="left")
           .select("bl", "field_id", "chan",
                   F.coalesce(F.col("mv") / F.lit(100.0),
                              F.col("bl") / F.lit(16.0)
                              + F.col("chan") / F.lit(64.0))
                   .alias("data_re")))
    out = reframe_vis(
        src, _RF_FIELDS, day_of_year=_RF_DOY, field="field_id",
        keys=("bl",), values=("data_re",), **_RF)
    return round_doubles(out.select("bl", "field_id", "chan", "freq", "data_re"),
                         only=("data_re",))


_RFI = dict(f0=1.4e9, df_hz=5.0e5, n_in=24)
_RFI_VEL = 25000.0

_RFI_SRC_SQL = """
    SELECT CAST(r.range // 192 AS INT) AS l_idx,
           CAST((r.range // 24) % 8 AS INT) AS m_idx,
           CAST(r.range % 24 AS INT) AS chan,
           CAST((r.range * 7 + (r.range // 24) * 3) % 101 AS DOUBLE) / 10.0 AS image
    FROM range(1536) AS r
"""


@register(
    "reframe_image",
    f"""
    SELECT l_idx, m_idx, chan, freq, (ROUND(image, 6) + 0.0) AS image
    FROM ({sql_reframe_spectra(_RFI_SRC_SQL, keys="l_idx, m_idx",
                               vel_case=f"{_RFI_VEL:.17e}",
                               out_f0=_RFI["f0"], out_df=_RFI["df_hz"],
                               out_nchan=_RFI["n_in"], value="image", **_RFI)})
    """,
)
def reframe_image_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cube = spark.range(1536).select(
        (F.col("id") / 192).cast("int").alias("l_idx"),
        ((F.col("id") / 24).cast("long") % 8).cast("int").alias("m_idx"),
        (F.col("id") % 24).cast("int").alias("chan"),
        (((F.col("id") * 7 + (F.col("id") / 24).cast("long") * 3) % 101)
         .cast("double") / F.lit(10.0)).alias("image"))
    out = reframe_image(cube, velocity=_RFI_VEL, keys=("l_idx", "m_idx"),
                        values=("image",), **_RFI)
    return round_doubles(out.select("l_idx", "m_idx", "chan", "freq", "image"),
                         only=("image",))


# ---------------------------------------------------------------------------
# Beam fits: moment-based fit_gaussian (cngi/image/fit_gaussian.py:184-234)
# and contour-ellipse fit_gaussian_rl (cngi/image/fit_gaussian_rl.py:23-163).
# The gate renders known beams, fits them with BOTH methods, and emits
# per-plane accuracy booleans; the oracle is the expected-literal table, so
# any fit regression flips the driver hash.
# ---------------------------------------------------------------------------

from cngi_prototype_spark.operators.fitting import (  # noqa: E402
    fit_gaussian,
    fit_gaussian_rl,
)

_BF_INCR = (4.84813681109536e-6, 4.84813681109536e-6)  # 1 arcsec cells
_BF_BEAMS = {0: (6.0, 3.0, 30.0), 1: (7.5, 5.0, -45.0)}
_SQRT_8LN2 = 2.3548200450309493


def _bf_planes(spark: SparkSession) -> DataFrame:
    sky = make_empty_sky_image(spark, (0.0, 0.0), (64, 64), _BF_INCR)
    planes = None
    for ch, beam in _BF_BEAMS.items():
        p = (gaussian_beam(sky, beam, _BF_INCR)
             .withColumn("chan", F.lit(ch))
             .select("chan", "l_idx", "m_idx", "beam"))
        planes = p if planes is None else planes.unionByName(p)
    return planes


def _bf_ok(rec_maj, rec_min, rec_theta_deg, truth, rel_tol, ang_tol):
    tmaj, tmin, tpa = truth
    ang = F.abs(((rec_theta_deg - F.lit(float(tpa)) + 90.0) % 180.0) - 90.0)
    return [
        (F.abs(rec_maj - tmaj) / tmaj < rel_tol).alias("ok_major"),
        (F.abs(rec_min - tmin) / tmin < rel_tol).alias("ok_minor"),
        (ang < ang_tol).alias("ok_pa"),
    ]


@register(
    "beam_fit",
    """
    SELECT * FROM (VALUES
      ('contour', 0, 1.0, 1.0, 1.0, 0.0),
      ('contour', 1, 1.0, 1.0, 1.0, 0.0),
      ('moment', 0, 1.0, 1.0, 1.0, 0.0),
      ('moment', 1, 1.0, 1.0, 1.0, 0.0)
    ) AS t(method, chan, v1, v2, v3, v4)
    UNION ALL
    -- spec_fit truth-recovery part (its former standalone gate,
    -- merged here for driver-slot economy): exact noise-free
    -- gaussians, so Gauss-Newton converges to the generating
    -- parameters and the oracle is the closed-form truth
    SELECT 'specfit', CAST(range AS INT),
           (ROUND(5.0 + 0.5 * range, 6) + 0.0),
           (ROUND(17.0 + 1.1 * range, 6) + 0.0),
           (ROUND(3.0 + 0.25 * range, 6) + 0.0),
           0.0
    FROM range(5)
    """,
)
def beam_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    planes = _bf_planes(spark)
    mom = fit_gaussian(planes, ["chan"], x_col="l_idx", y_col="m_idx",
                       value_col="beam")
    rl = fit_gaussian_rl(planes, ["chan"], value_col="beam",
                         cell_arcsec=(1.0, 1.0))

    def _vd(cols):  # ok_* booleans ride the union as 1.0/0.0
        return [c.cast("double").alias(f"v{i + 1}")
                for i, c in enumerate(cols)] + [F.lit(0.0).alias("v4")]

    parts = []
    for ch, truth in _BF_BEAMS.items():
        m = mom.filter(F.col("chan") == ch).select(
            F.lit("moment").alias("method"), F.col("chan").cast("int").alias("chan"),
            *_vd(_bf_ok(F.col("major") * _SQRT_8LN2, F.col("minor") * _SQRT_8LN2,
                        F.degrees("theta"), truth, 1.0e-4, 1.0e-4)))
        # fit_gaussian_rl reports PA east-of-north (reference convention)
        # = theta - 90
        r = rl.filter(F.col("chan") == ch).select(
            F.lit("contour").alias("method"), F.col("chan").cast("int").alias("chan"),
            *_vd(_bf_ok(F.col("major"), F.col("minor"), F.col("pa") + F.lit(90.0),
                        truth, 0.06, 2.0)))
        parts += [m, r]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.unionByName(_spec_fit_small_part(spark))
