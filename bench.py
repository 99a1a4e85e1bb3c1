#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Queries run the production fast path (plain double aggregation, no
decimal-exact gate instrumentation). Each query is fully executed via a
noop-format write (all partitions computed, nothing collected to the
driver), which is the honest distributed-throughput measurement.

A run times the per-query tier, `imaging_major_cycle` and the CHILES
tier (its own process, ``--chiles-tier``). The scale ladders and the
recall/serving diagnostics run only on demand, in tools/ladder.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cngi_prototype_spark import queries as Q  # noqa: E402
from cngi_prototype_spark.session import initialize_framework  # noqa: E402

# Benchmark the production double path, not the oracle-gate decimal
# path. Flipped inside the entry points, NOT at import: importing
# bench as a library (tests resolve BENCH_QUERIES through it) must not
# silently re-route every subsequently built gate query.

BENCH_QUERIES = [
    "q1_pricing_summary",
    "describe_partitions",
    "apply_flags",
    "flagging_suite",
    "time_average",
    "chan_average",
    "rebin",
    "statistics",
    "moments",
    "flag_summary",
    "topk_orders",
    # imaging tier
    "uv_grid_explode",
    "uv_grid_kernel",
    "imaging_weights",
    "direction_rotate",
    "dirty_image",
    "uv_degrid",
    "uv_degrid_kernel",
    "predict_component",
    "mosaic_image",
    "synthesis_imaging_cube",
    # deconvolution + single-dish tier (rounds 5-6)
    "msclean_cube",
    "rm_clean",
    "sd_image",
    "fast_resolve",
    # training-data pipeline tier
    "text_features",
    "chunk_documents",
    "token_frequencies",
    "minhash_lsh_candidates",
    "ngram_jaccard",
    "decontaminate",
    "dedup_minhash_verified",
    "simhash",
    "ann_cosine_topk",
    "embedding_neardup_exact",
    "embedding_neardup_lsh",
    "semantic_dedup",
    "media_suite",
    # round-7 additions
    "pii_scrub",
    "winnow_fingerprints",
    "bpe_tokenize",
    "embedding_pool",
    "dedup_corpus",
    "gopher_filter",
    # round-8 additions
    "pack_sequences",
    "corpus_mixture",
    "dedup_spans",
    # round-9: valved hot-slab degrid under centrally-condensed uv
    "uv_degrid_kernel_skew",
    # round-10: PQ/ADC quantized ANN (trained codebooks, Arrow scan)
    # + sign-bit Hamming search (XOR+popcount first pass, pure codegen)
    "ann_pq_topk",
    "ann_hamming_topk",
    "ann_ivfpq_topk",
    # round-12 (late): BM25 inverted-index retrieval + CCNet-style
    # stupid-backoff LM perplexity scoring + hybrid lexical+vector
    # retrieval (BM25 shortlist, embedding cosine re-rank)
    "bm25_topk",
    "lm_perplexity",
    "hybrid_search",
    # round-13: supervised quality/language classifier (multinomial
    # NB, fastText's pipeline role) + DSIR importance resampling.
    # Their composition (curation_pipeline: NB consistency gate ->
    # DSIR select -> pack) is a PIPELINE, not a query — it follows
    # the pipeline_sf1 precedent (tools/ladder.py) and stays out of
    # the per-query window (measured separately: 8.5 s at sf0.1/32c,
    # stage-boundary checkpoint at the classifier->selector diamond)
    "nb_classify",
    "dsir_select",
    # round-15: shared-scan fusion of the 8-operator flag suite (one
    # events materialization, 18 parquet scans -> 0 in the final plan);
    # a NEW entry — `flagging_suite` keeps timing the declared unfused
    # gate form for round-over-round comparability
    "flagging_suite_fused",
]


def _run(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# -Xlog:disable keeps JVM unified-logging (gc,alloc warnings under
# memory pressure) off stdout — the output contract is ONE JSON line,
# and a GC warning printed after it breaks naive tail-parsing
_GC_QUIET = {"spark.driver.extraJavaOptions": "-Xlog:disable"}


def major_cycle(spark, sf_dir: str):
    """BASELINE.md-shaped imaging major cycle: grid -> FFT -> normalize
    at a 512x512 padded grid over 8 chans x 2 pols (the reference's
    headline workload, scaled to the local events table)."""
    from pyspark.sql import functions as F

    from cngi_prototype_spark.imaging.grid import GridParms
    from cngi_prototype_spark.imaging.image import make_image

    gp = GridParms(n_u=512, n_v=512, cell_u=2.5e-6, cell_v=2.5e-6,
                   support=7, oversampling=100)
    # spread the single-file events scan (see chiles_frac note)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")))
    # uv range sized so EVERY sample lands inside the padded grid
    # (u_pos = 256 ± |u|·4.27e-3·(f/1e9); ±58500 m keeps the farthest
    # sample at offset 251.5 < 252 with the 3-cell kernel margin). A
    # wider range silently drops rows at the in-bounds filter and the
    # benchmark stops measuring gridding (round-4 finding: the old
    # ±250 km range gridded only ~24% of the declared rows).
    vis = ev.select(
        ((F.col("event_id") * 7919 % 234000) / F.lit(2.0) - F.lit(58500.0)).alias("u"),
        (((F.col("event_id") * 104729 + F.col("user_id")) % 234000) / F.lit(2.0) - F.lit(58500.0)).alias("v"),
        (F.lit(1.0e9) + (F.col("event_id") % 8) * F.lit(1.0e6)).alias("freq"),
        (F.col("event_id") % 8).cast("int").alias("chan"),
        (F.col("user_id") % 2).cast("int").alias("pol"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (-F.col("value") / F.lit(200.0)).alias("data_im"),
        (F.lit(1.0) + (F.col("event_id") % 5).cast("double")).alias("weight"),
    )
    # dense-planes fast path (same values as explode/cells —
    # parity-tested in tests/test_production_parity.py)
    return make_image(vis, gp, image_size=(400, 400), weight="weight",
                      variant="kernel", n_planes=16, output="planes")


# CHILES throughput constants (BASELINE.md md 9): 727,272 MS rows x
# 30,720 chans x 2 pols gridded with the standard gridder at support 17
# onto a (1000, 1000) image, 45 min on 128 cores for the prototype.
_CHILES_VIS = 727_272 * 30_720 * 2
_CHILES_TAPS = 17 * 17
_CHILES_SEC = 45 * 60
_CHILES_CORES = 128
_CHILES_TAPS_PER_S_CORE = _CHILES_VIS * _CHILES_TAPS / _CHILES_SEC / _CHILES_CORES


def chiles_frac(spark, sf_dir: str, cpus: int, skew: bool = False):
    """CHILES-shaped major cycle at a declared fraction of the 2.5 TB
    workload: standard gridder, support 17 (289 taps/vis), padded grid
    1024x1024, image 1000x1000, 8 chans x 2 pols; the events table
    supplies the visibility rows. Returns (dataframe, n_vis,
    materialize_sec) — the
    caller times a full noop-write execution and converts to
    vis.taps/s/core for comparison against the 45-min/128-core figure.

    ``skew=True`` replaces the uniform synthetic uv coverage with a
    centrally-condensed (Bates/near-Gaussian, sigma ~29% of the half
    span) distribution — real arrays concentrate short baselines, so
    central grid cells go hot and the scatter tier sees realistic
    write contention. Both numbers are reported so the uniform figure
    can't hide a hot-cell cliff."""
    from pyspark.sql import functions as F

    from cngi_prototype_spark.imaging.grid import GridParms
    from cngi_prototype_spark.imaging.image import make_image

    gp = GridParms(n_u=1024, n_v=1024, cell_u=1.25e-6, cell_v=1.25e-6,
                   support=17, oversampling=100)
    # events.parquet is ONE small file -> ONE scan partition; without an
    # explicit spread, the 256x row replication, geometry exprs, and
    # exchange write all run single-threaded and starve the 32-way
    # scatter (round-5 finding: this alone hid ~1.7x of tier
    # throughput). A real MS store arrives chunked (the reference's
    # zarr is); repartitioning the 100k-row seed is the honest analog.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(cpus)
    # replicate each event into REP distinct visibilities (distinct uv
    # sample per replica) so gridding work dominates the fixed per-plane
    # costs (FFT, image materialization) the way it does at full CHILES.
    # rep=512 (round 8; was 256): at 25.6M vis the fixed per-plane tail
    # was still ~15% of the 6.6 s run, overstating vs_baseline against
    # a reference figure that amortizes those costs over 45 min — at
    # 51.2M vis (~0.12% of CHILES) the tail drops below the run-to-run
    # host-steal noise. Same workload shape, larger sample; the
    # declared_fraction field records it.
    rep = int(os.environ.get("SPARK_GRAFT_CHILES_REP", "512"))
    n_vis = ev.count() * rep
    r = F.col("_rep")
    eid = F.col("event_id") * rep + r
    # uv ranges sized so EVERY sample lands inside the padded grid
    # (u_pos = 512 ± |u|·5.98e-3·(f/1.4e9); ±83500 m keeps the farthest
    # sample at offset 501.6 < 503 with the 8-cell kernel margin).
    # Round-4 finding: the old ±500 km range landed only ~2.8% of the
    # declared rows in bounds, so the tier measured row generation, not
    # gridding, and taps/s/core was inflated ~36x. Declared taps are
    # now REAL taps.
    uid = F.col("user_id")
    if skew:
        # Bates(4): mean of four independent uniform hashes — near-
        # Gaussian, sigma ~29% of the half span (sigma_grid ~144 cells),
        # so central cells run ~10x the uniform density: the hot-cell /
        # hot-slab regime real centrally-condensed arrays produce
        u_expr = (((eid * 7919 % 334000) + ((eid * 104729 + uid) % 334000)
                   + (eid * 7 % 334000) + ((eid * 31 + uid) % 334000))
                  / F.lit(8.0) - F.lit(83500.0))
        v_expr = (((eid * 6007 % 334000) + ((eid * 90001 + uid) % 334000)
                   + (eid * 13 % 334000) + ((eid * 57 + uid) % 334000))
                  / F.lit(8.0) - F.lit(83500.0))
    else:
        u_expr = (eid * 7919 % 334000) / F.lit(2.0) - F.lit(83500.0)
        v_expr = ((eid * 104729 + uid) % 334000) / F.lit(2.0) - F.lit(83500.0)
    vis = ev.select(
        "event_id", "user_id", "value",
        F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("_rep"),
    ).select(
        u_expr.alias("u"),
        v_expr.alias("v"),
        (F.lit(1.4e9) + (eid % 8) * F.lit(1.0e6)).alias("freq"),
        (eid % 8).cast("int").alias("chan"),
        ((F.col("user_id") + r) % 2).cast("int").alias("pol"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (-F.col("value") / F.lit(200.0)).alias("data_im"),
        (F.lit(1.0) + (eid % 5).cast("double")).alias("weight"),
    )
    # materialize the synthetic rows once (the reference reads its rows
    # from a real MS store; re-deriving them lazily would both time the
    # generator and — with the skewed 4-term hash exprs — overflow the
    # codegen size limit into interpreted evaluation, which measured as
    # a phantom 6x "skew slowdown" that had nothing to do with gridding).
    # The persist cost is returned so BENCH json can report it and the
    # timed section is provably gridding-only.
    t0 = time.time()
    # default persist = MEMORY_AND_DISK_DESER: already spill-safe (the
    # cache degrades to disk, never OOMs by itself — round 8's heap
    # death was the cache COMPETING with 32 concurrent collect_list
    # buffers in an 8g JVM, fixed by the 32g tier heap + the byte-
    # budgeted fat-row salting). A serialized level was measured here
    # and rejected: every timed run re-pays multi-GB deserialization,
    # +2-5 s/run (vs_baseline 1.16 serialized vs 0.77 deserialized at
    # the same heap).
    vis = vis.persist()
    vis.count()
    mat_sec = round(time.time() - t0, 3)
    # salt_probe: one counting pass over the (persisted) rows at plan
    # build sub-salts heavy (plane, u-slab) groups so centrally-
    # condensed coverage can't make one task the stage straggler
    img = make_image(vis, gp, image_size=(1000, 1000), weight="weight",
                     variant="kernel", n_planes=16, output="planes",
                     salt_probe=True)
    return img, n_vis, mat_sec


def _degrid_skew(spark, sf_dir: str):
    # centrally-condensed (Bates(4), sigma ~29% of the span) uv
    # coverage piles most rows into the central u-slabs — the
    # hot-slab regime the degrid kernel's salt_probe valve exists
    # for. Times the VALVED path (`uv_degrid_kernel_skew`, also a
    # tools/ladder.py rung): per-slab vis counts probe once, hot slabs
    # sub-bucket with the halo-bounded grid slab replicated per
    # sub-bucket.
    from pyspark.sql import functions as F

    from cngi_prototype_spark.imaging.degrid import degrid_visibilities
    from cngi_prototype_spark.imaging.grid import (GridParms,
                                                   grid_visibilities)
    gp = GridParms(n_u=512, n_v=512, cell_u=2.5e-6, cell_v=2.5e-6,
                   support=7, oversampling=100)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")))
    eid, uid = F.col("event_id"), F.col("user_id")
    u = (((eid * 7919 % 40000) + ((eid * 104729 + uid) % 40000)
          + (eid * 7 % 40000) + ((eid * 31 + uid) % 40000))
         / F.lit(4.0) - F.lit(10000.0))
    v = (((eid * 6007 % 40000) + ((eid * 90001 + uid) % 40000)
          + (eid * 13 % 40000) + ((eid * 57 + uid) % 40000))
         / F.lit(4.0) - F.lit(10000.0))
    vis = ev.select(
        eid.alias("row_id"), u.alias("u"), v.alias("v"),
        F.lit(1.0e9).alias("freq"),
        (eid % 4).cast("int").alias("chan"),
        (uid % 2).cast("int").alias("pol"),
        (F.col("value") / F.lit(100.0)).alias("data_re"),
        (F.lit(0.0) - F.col("value") / F.lit(200.0)).alias("data_im"),
        (F.lit(1.0) + (eid % 5).cast("double")).alias("weight"))
    grid, _ = grid_visibilities(vis, gp, variant="kernel")
    return degrid_visibilities(vis, grid, gp, variant="kernel",
                               salt_probe=True)


# round-over-round comparability: some gates grew extra tagged-union
# parts for driver-slot economy; bench times the ORIGINAL scope
BENCH_OVERRIDES = {
    "uv_degrid": Q.uv_degrid_taps_q,       # taps-only (no image part)
    "imaging_weights": Q.imaging_weights_bench_q,  # briggs+uniform only
    "dedup_minhash_verified": Q.dedup_minhash_verified_pairs_q,  # pairs-only
    "rm_clean": Q.rm_clean_bench_q,        # production 48² × 8-chan shape
    "ngram_jaccard": Q.ngram_jaccard_bench_q,  # pairs-only (no contam part)
    "describe_partitions": Q.describe_partitions_bench_q,  # no zarr IO part
    "text_features": Q.text_features_bench_q,  # no PII-scrub part
    "media_suite": Q.media_suite_bench_q,  # no r12 jpeg part
    "bpe_tokenize": Q.bpe_train_encode_q,  # production train+encode
    "uv_degrid_kernel_skew": _degrid_skew,  # skew rung (r9)
}


def entry(name: str):
    """The builder ``(spark, sf_dir) -> DataFrame`` the bench times as
    `name`: `major_cycle` for ``imaging_major_cycle``, else its
    BENCH_OVERRIDES scope, else the registered query, else
    ``queries.<name>_q``. Raises KeyError for a name none of them has."""
    if name == "imaging_major_cycle":
        return major_cycle
    fn = (BENCH_OVERRIDES.get(name) or Q.queries().get(name)
          or getattr(Q, f"{name}_q", None))
    if fn is None:
        raise KeyError(f"no bench builder for {name!r}")
    return fn


def _timed_min(fn, *args, runs: int,
               rs: list[float] | None = None) -> float:
    """Min wall (s) over `runs` full executions of ``fn(*args)``.

    Steal guard: when the runs spread past 2x, the window caught a
    hypervisor-steal burst, not the engine, so two extra runs are taken
    and the min is a steady-state sample. Each run's wall (3 decimals)
    is appended to `rs` when given, for the artifact's adjudication."""
    walls: list[float] = []

    def once() -> None:
        t0 = time.time()
        _run(fn(*args))
        walls.append(round(time.time() - t0, 3))

    for _ in range(runs):
        once()
    # extra runs can only widen the spread, so the guard is one decision
    if min(walls) > 0 and max(walls) / min(walls) > 2.0:
        once()
        once()
    if rs is not None:
        rs.extend(walls)
    return min(walls)


WARM_RUNS = 1  # untimed runs of each query before its timed ones


def _time_tier(spark, sf_dir: str, names: list[str], runs: int):
    """Times each query in `names`: WARM_RUNS untimed runs (codegen,
    broadcast and file-listing warm-up of that query's own plan), then
    `_timed_min` over `runs`. Returns (timings, query_runs, errors);
    query_runs holds the timed walls only.

    A single failing query must never cost the whole artifact (round 8
    shipped NO bench json because one tier crashed the process): its
    error is recorded and the tier keeps going."""
    timings: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in names:
        rs: list[float] = []
        try:
            fn = entry(name)
            for _ in range(WARM_RUNS):
                _run(fn(spark, sf_dir))
            timings[name] = _timed_min(fn, spark, sf_dir, runs=runs, rs=rs)
            query_runs[name] = rs
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:200]
    return timings, query_runs, errors


def main() -> None:
    Q.PRECISE = False
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    spark = initialize_framework(cores=cpus, app_name="bench",
                                 shuffle_partitions=cpus,
                                 extra_conf=_GC_QUIET)

    # JVM/codegen warmup on a trivial plan so q1 doesn't pay startup cost
    _run(spark.read.parquet(f"{sf_dir}/region.parquet"))

    # Per-query noise insurance (round-5 finding: single-shot timings in
    # the shared session are host-steal-dominated — four queries recorded
    # 1.5-2.2x "regressions" with zero code changes, while fresh min-of-3
    # measured 2-6x FASTER than either recorded number). Record min-of-N
    # per query (N=3 default — round 10 showed min-of-2 lets a steal
    # burst spanning both runs survive the >2x-spread guard: 13 queries
    # inflated unflagged; the extra ~1 min wall is cheaper than an
    # unadjudicatable artifact. Raise further via SPARK_GRAFT_BENCH_RUNS
    # when investigating a specific regression), same honesty the
    # CHILES tier already has. All runs land in BENCH_DETAIL's
    # query_runs for adjudication.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings, query_runs, errors = _time_tier(
        spark, sf_dir, BENCH_QUERIES + ["imaging_major_cycle"], runs)

    # Self-adjudication (round-12): every round so far that showed a
    # query >1.5x over its committed-history min under a disturbed
    # window turned out to be hypervisor steal on re-measurement the
    # NEXT round (r9 flagging_suite, r10 time_average, r11 pq/ngram/
    # minhash trio — all code-untouched). Close that loop in-band:
    # when this window is disturbed for such a query, requeue it once
    # at the END of the tier (steady-state min-of-N) and record both
    # sides; only an undisturbed >1.5x jump is left standing as a
    # genuine regression candidate.
    adjudications: dict[str, dict] = {}
    hist: dict[str, float] = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")) as fh:
            _prior = json.load(fh)
        if _prior.get("sf") == sf:  # history only comparable at same sf
            hist = _prior.get("queries") or {}
    except Exception:
        pass
    guard_hits_so_far = sum(1 for rs in query_runs.values()
                            if len(rs) > runs)
    for name in list(timings):
        h, sec = hist.get(name), timings[name]
        if name.startswith("imaging_chiles"):
            continue  # measured in the dedicated subprocess tier
        if not h or h <= 0 or sec <= 1.5 * h:
            continue
        rs = query_runs.get(name) or []
        disturbed = (len(rs) > runs
                     or (rs and min(rs) > 0 and max(rs) / min(rs) > 1.3)
                     or guard_hits_so_far > 0)
        if not disturbed:
            adjudications[name] = {
                "history_min": h, "min": sec, "requeued": False,
                "verdict": "regression_candidate"}
            continue
        try:
            rq: list[float] = []
            # the adjudication min-of-4
            _timed_min(entry(name), spark, sf_dir, runs=max(runs, 4),
                       rs=rq)
            timings[name] = min(sec, min(rq))
            adjudications[name] = {
                "history_min": h, "first_min": sec, "requeued": True,
                "requeue_runs": rq, "final": timings[name],
                "verdict": ("steal_confirmed" if min(rq) <= 1.5 * h
                            else "slow_on_requeue")}
        except Exception as e:
            adjudications[name] = {
                "history_min": h, "first_min": sec, "requeued": True,
                "error": f"{type(e).__name__}: {e}"[:200]}

    # noise indicator: q1 re-measured at the END of the shared session,
    # compared single-shot against q1's LAST single shot at the start
    # (same statistic on both sides — a min-vs-single ratio would read
    # above 1 from ordinary variance alone); drift >> 1 means the
    # session/host degraded while the tier ran and the per-query
    # numbers should be read accordingly
    t0 = time.time()
    _run(entry("q1_pricing_summary")(spark, sf_dir))
    q1_end = round(time.time() - t0, 3)
    q1_last = (query_runs.get("q1_pricing_summary") or [None])[-1]
    noise = {
        "q1_rerun_end_sec": q1_end,
        "q1_drift": round(q1_end / q1_last, 3) if q1_last else None,
        "runs_per_query": runs,
        # untimed runs per query before its timed ones; older
        # BENCH_DETAIL files lack the key: there the first timed run
        # also paid the query's own warm-up
        "warm_runs": WARM_RUNS,
        # how many queries tripped the per-query steal guard (>2x
        # spread -> extra runs); their full run lists are in query_runs
        "steal_guard_hits": sum(1 for rs in query_runs.values()
                                if len(rs) > runs),
    }

    # The baseline-comparison (CHILES) tier runs in its own subprocess
    # (own cold JVM) but AFTER the main query tier (r15; it ran FIRST
    # through r14). Rationale: the r14 driver artifacts show one
    # degraded chiles window can consume the entire outer bench budget
    # before a single per-query number lands (the 8-core run lost the
    # subprocess to its 2400 s timeout and the 32-core run rc=124'd).
    # Running it late trades a slightly warmer machine (a subprocess
    # after the query session measured ~6.9-7.5 s vs 5.8 s standalone
    # on the round-12 tier — well inside the 2x vs_baseline budget)
    # for the guarantee that the high-value per-query tier is always
    # in the artifact; the tier's internal deadline (see _chiles_tier)
    # bounds its worst case either way. Nudge the parent JVM to give
    # heap back before the child starts.
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    chiles, chiles_err = _chiles_in_subprocess(sf_dir, cpus)
    if chiles is None:
        # fallback: measure in-process (degraded but recorded as such).
        # GUARDED: this re-run shares the main session's JVM (heap size
        # fixed at session start), so the exact OOM that killed the
        # subprocess can recur here — round 8's unguarded fallback
        # crashed the process and no bench line printed at all. A dead
        # chiles tier now degrades to chiles: {"error": ...} in the
        # artifact instead of costing the whole round its bench.
        # The fallback REUSES the shared session and never stops it:
        # initialize_framework getOrCreate()-s the same SparkContext in
        # this process, and the r14 8-core driver bench died exactly
        # here — the fallback's session stop tore down the context and
        # every later tier ConnectionRefused'd.
        try:
            spark.catalog.clearCache()
            chiles = _chiles_tier(sf_dir, cpus, spark=spark)
            chiles["in_process_fallback"] = chiles_err
            spark.catalog.clearCache()
        except Exception as e:
            chiles = {"error": f"subprocess: {chiles_err}; in-process "
                               f"{type(e).__name__}: {e}"[:300]}
    # r15+ runs measure after the query session (r12-r14 ran first);
    # the flag keeps their vs_baseline values apart
    chiles["chiles_after_main"] = True
    if "_uniform_sec" in chiles:
        timings["imaging_chiles_frac"] = chiles.pop("_uniform_sec")
        timings["imaging_chiles_frac_skew"] = chiles.pop("_skew_sec")

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "bench_detail",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_runs": query_runs,
        "adjudications": adjudications or None,
        "errors": errors or None,
        "noise": noise,
        "chiles": chiles,
        "sf": sf,
        "cpus": cpus,
    }
    # Full detail goes to a committed file AND an early stdout line.
    # The driver records only the TAIL (~2000 chars) of stdout, so the
    # FINAL printed line must stay small: round 7's detail-rich single
    # line overflowed the window and BENCH_r07 recorded parsed=null.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    print(json.dumps(detail))
    if chiles and "error" in chiles:
        compact_chiles = {"error": str(chiles["error"])[:200]}
    elif chiles:
        compact_chiles = {
            k: chiles.get(k) for k in (
                "vs_baseline", "vs_baseline_skew", "taps_per_s_core",
                "taps_per_s_core_skew", "baseline_taps_per_s_core",
                "n_vis", "steal_suspected")}
    else:
        compact_chiles = None
    summary = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "errors": errors or None,
        "chiles": compact_chiles,
        "noise": {"q1_drift": noise["q1_drift"], "runs_per_query": runs,
                  "steal_guard_hits": noise["steal_guard_hits"],
                  "requeued": sum(1 for a in adjudications.values()
                                  if a.get("requeued"))},
        "sf": sf,
        "cpus": cpus,
        "detail": "BENCH_DETAIL.json",
    }
    # progressive shrink, NEVER overflow the driver's ~2000-char stdout
    # tail window and NEVER crash (an assert here would trade a
    # too-long line for no line at all): drop precision, then optional
    # fields, then the per-query map itself.
    for trim in range(4):
        line = json.dumps(summary, separators=(",", ":"))
        if len(line) < 1750:
            break
        if trim == 0:
            summary["queries"] = {k: round(v, 1)
                                  for k, v in timings.items()}
        elif trim == 1:
            summary.pop("noise", None)
            summary.pop("errors", None)
        else:
            summary["queries"] = {"n_timed": len(timings)}
    print(line)


def _chiles_in_subprocess(sf_dir: str, cpus: int):
    """Run the tier via `bench.py --chiles-tier` in a child process
    (its own JVM); returns (chiles_dict | None, error_str | None)."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--chiles-tier"],
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir,
                 "SPARK_GRAFT_CPUS": str(cpus)},
            # outer cap = the tier's internal deadline (default 900 s,
            # see _chiles_tier) + startup/materialize/teardown margin;
            # the internal deadline is what normally bounds a degraded
            # window — this timeout is the backstop for a hung child
            capture_output=True, text=True,
            timeout=float(os.environ.get(
                "SPARK_GRAFT_CHILES_TIMEOUT",
                str(float(os.environ.get("SPARK_GRAFT_CHILES_DEADLINE",
                                         "900")) + 600))))
        for line in reversed(proc.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                parsed = json.loads(line)
                if "error" in parsed:
                    return None, str(parsed["error"])
                return parsed, None
        return None, f"no JSON in child stdout (rc={proc.returncode})"
    except Exception as e:
        return None, f"{type(e).__name__}: {e}"


def _settled(rs: list[float], window: float = 1.15) -> bool:
    """The best three runs agree within ~15% — the engine's own
    run-to-run variance on this plan; anything wider means steal
    bursts still own the sample."""
    if len(rs) < 3:
        return False
    b = sorted(rs)[:3]
    return b[0] > 0 and b[2] / b[0] <= window


def _interleaved_runs(img_u, img_s, base: int = 6,
                      extra: int = 10,
                      deadline_at: float | None = None,
                      ) -> tuple[list[float], list[float]]:
    """Interleaved uniform/skew timed runs with a settle criterion.

    Interleaving makes the uniform/skew RATIO steal-invariant evidence:
    a hypervisor-steal burst hits whichever runs sit inside it, and
    alternating tiers means a burst can't selectively pollute one tier
    for the whole window (round 9's official artifact had a uniform
    min 2x below its median while the adjacent skew window was tight —
    unfalsifiable with sequential tiers). After ``base`` pairs, extra
    pairs (up to ``extra``) keep coming until BOTH tiers settle — best
    3 runs within ~15% (_settled) — so the reported min rests on
    agreeing samples, not one lucky run. Every run is recorded in the
    artifact either way; ``steal_suspected`` flags max/min > 2."""
    u_runs: list[float] = []
    s_runs: list[float] = []
    # extra default 10 (was 6): a measured heavy-steal window had its
    # first CLEAN samples arrive at pairs 10-12 — the budget must
    # outlast a burst, since the whole point is to settle on calm
    # samples; calm windows still stop at the base 6 pairs.
    for i in range(base + extra):
        if i >= base and _settled(u_runs) and _settled(s_runs):
            break
        # internal deadline (r15): stop STARTING pairs once past it,
        # but always complete at least one timed pair so the tier is
        # never empty — see _chiles_tier
        if i >= 1 and deadline_at is not None and time.time() > deadline_at:
            break
        t0 = time.time()
        _run(img_u)
        u_runs.append(round(time.time() - t0, 3))
        t0 = time.time()
        _run(img_s)
        s_runs.append(round(time.time() - t0, 3))
    return u_runs, s_runs


class _StealMonitor:
    """Samples /proc/stat hypervisor-steal every 5 s in a daemon thread
    so the CHILES artifact carries in-band host evidence. Round-11
    forensics: every flagged window was adjudicated by hand-run
    /proc/stat probes — the counter read ~0 while isolated runs spiked
    4-6x (co-tenant interference the steal counter does not see), so
    the artifact should record both the counter AND the spread instead
    of leaving future rounds to re-derive the distinction. No-op
    (fields None) where /proc/stat is unavailable."""

    def __init__(self, interval: float = 5.0):
        self.interval = interval
        self.samples: list[float] = []
        self._stop = False

    @staticmethod
    def _snap():
        return list(map(int, open("/proc/stat").readline().split()[1:]))

    def start(self) -> None:
        import threading
        try:
            self._snap()
        except Exception:
            return

        def loop():
            prev = self._snap()
            while not self._stop:
                time.sleep(self.interval)
                try:
                    cur = self._snap()
                except Exception:
                    return
                d = [y - x for x, y in zip(prev, cur)]
                prev = cur
                tot = sum(d)
                if tot > 0 and len(d) > 7:
                    self.samples.append(100.0 * d[7] / tot)

        t = threading.Thread(target=loop, daemon=True)
        t.start()

    def stats(self) -> dict:
        self._stop = True
        if not self.samples:
            return {"host_steal_avg_pct": None, "host_steal_max_pct": None}
        return {
            "host_steal_avg_pct": round(sum(self.samples)
                                        / len(self.samples), 2),
            "host_steal_max_pct": round(max(self.samples), 2),
        }


def _chiles_tier(sf_dir: str, cpus: int, spark=None) -> dict:
    """The tier itself (fresh session in THIS process; `--chiles-tier`
    mode calls it from a fresh process). Returns the chiles dict plus
    `_uniform_sec`/`_skew_sec` for the timings table.

    ``spark``: an existing session to REUSE (the in-process fallback
    path). In that mode the session is never stopped here — in local
    mode it is the process-wide SparkContext, and stopping it kills
    every tier that follows (the r14 8-core driver failure).

    The tier carries an internal deadline
    (``SPARK_GRAFT_CHILES_DEADLINE``, seconds, default 900): once
    elapsed tier time passes it, remaining interleaved pairs are
    skipped and the runs recorded so far are emitted (flagged
    ``deadline_hit``). One degraded window can therefore never eat the
    bench's outer budget — the worst measured heavy-steal pair was
    ~85 s, so even a late deadline check strands at most ~2 runs.

    ``SPARK_GRAFT_CHILES_REP`` (default 512: 51.2M vis) scales the
    input; on a host without ~32 GiB for the ``--chiles-tier`` heap,
    ``SPARK_GRAFT_CHILES_REP=128`` (12.8M vis, the same gridder path
    including ``salt_probe``) completes."""
    deadline = float(os.environ.get("SPARK_GRAFT_CHILES_DEADLINE",
                                    "900"))
    t_tier0 = time.time()
    mon = _StealMonitor()
    mon.start()
    own_session = spark is None
    if own_session:
        spark = initialize_framework(cores=cpus, app_name="bench_chiles",
                                     shuffle_partitions=cpus,
                                     extra_conf=_GC_QUIET)
    _run(spark.read.parquet(f"{sf_dir}/region.parquet"))
    # Build and persist BOTH tiers up front (uniform + skewed uv): the
    # timed runs interleave (see _interleaved_runs), so both cached vis
    # tables stay live for the whole window. Columnar cache batches are
    # MEMORY_AND_DISK — the second cache degrades to disk under a tight
    # heap rather than OOMing (verified by `bench.py --smoke` at 8g).
    img, n_vis, mat_sec = chiles_frac(spark, sf_dir, cpus)
    img_s, n_vis_s, mat_sec_s = chiles_frac(spark, sf_dir, cpus, skew=True)
    # TWO untimed priming runs per tier first (round 11; was one): the
    # first execution of each plan pays whole-stage-codegen JIT
    # compilation and python-worker fork+import, and the SECOND still
    # runs partially tiered (C1) plus first-touch on the cache batches
    # — round-11 measurements across six independent sessions had the
    # first TIMED run at ~2x steady state (21.7-24.7 s vs 9-11 s runs
    # 3+) with one priming run, tripping the 2x spread flag on an
    # otherwise calm window. Warm-up is untimed by standard practice
    # and never affects the reported min (the min was never run 1).
    # The reference baseline (45 min / 128 cores) amortizes its
    # numba-jit warmup to ~nothing at full scale; at our 0.12% fraction
    # it would dominate, so the steady-state regime is the comparable
    # one. Then interleaved steal-guarded min-of-N: this box shows
    # bursty CPU disturbance (isolated 4-6x single-run spikes with
    # /proc/stat steal at ~0 — co-tenant interference the guest cannot
    # see directly); the min is the engine's throughput, the max is
    # the host's mood, and interleaving keeps the uniform/skew ratio
    # honest through bursts.
    for i in range(2):
        # at least one priming pair always runs; the second is skipped
        # when the window is so degraded the deadline is already close
        if i and time.time() - t_tier0 > 0.5 * deadline:
            break
        _run(img)
        _run(img_s)
    uniform_runs, skew_runs = _interleaved_runs(
        img, img_s,
        base=int(os.environ.get("SPARK_GRAFT_CHILES_PAIRS", "6")),
        extra=int(os.environ.get("SPARK_GRAFT_CHILES_EXTRA", "10")),
        deadline_at=t_tier0 + deadline)
    deadline_hit = time.time() - t_tier0 > deadline
    chiles_sec = min(uniform_runs)
    taps_per_s_core = n_vis * _CHILES_TAPS / chiles_sec / cpus
    skew_sec = min(skew_runs)
    taps_skew = n_vis_s * _CHILES_TAPS / skew_sec / cpus

    chiles = {
        "declared_fraction": round(n_vis / _CHILES_VIS, 9),
        "n_vis": n_vis,
        "taps_per_vis": _CHILES_TAPS,
        # input materialization (persist+count of the synthetic rows),
        # NOT part of the timed gridding section
        "materialize_sec": mat_sec,
        "materialize_sec_skew": mat_sec_s,
        "taps_per_s_core": round(taps_per_s_core),
        "baseline_taps_per_s_core": round(_CHILES_TAPS_PER_S_CORE),
        # <1.0 means faster than the prototype's per-core throughput
        "vs_baseline": round(_CHILES_TAPS_PER_S_CORE / taps_per_s_core, 3)
        if taps_per_s_core > 0 else None,
        "taps_per_s_core_skew": round(taps_skew),
        "vs_baseline_skew": round(_CHILES_TAPS_PER_S_CORE / taps_skew, 3)
        if taps_skew > 0 else None,
        # full per-run lists: host CPU steal makes single numbers
        # unrepresentative (README round-6 note); the recorded artifact
        # itself now carries the spread, and vs_baseline_runs shows the
        # ratio each run would have produced
        "runs_uniform_sec": uniform_runs,
        "runs_skew_sec": skew_runs,
        "vs_baseline_runs": [
            round(_CHILES_TAPS_PER_S_CORE
                  / (n_vis * _CHILES_TAPS / r / cpus), 3)
            for r in uniform_runs],
        # measurement-protocol evidence (round 10): runs interleave
        # uniform/skew so the tier ratio is steal-invariant; settled =
        # best 3 runs within ~15%; steal_suspected = spread past 2x
        "interleaved": True,
        "settled_uniform": _settled(uniform_runs),
        "settled_skew": _settled(skew_runs),
        "steal_suspected": bool(
            max(uniform_runs) / min(uniform_runs) > 2.0
            or max(skew_runs) / min(skew_runs) > 2.0),
        # True when the internal deadline cut the interleave loop short
        # (the emitted runs are whatever had completed — min still
        # valid, settle flags above say how trustworthy)
        "deadline_hit": deadline_hit,
        **mon.stats(),
        "_uniform_sec": chiles_sec,
        "_skew_sec": skew_sec,
    }
    if own_session:
        spark.stop()
    return chiles


def smoke() -> None:
    """Tight-heap regression check for the round-8 OOM class: run BOTH
    CHILES tiers at full rep=512 under the 8 GiB unit-test-default
    heap (the exact config that crashed the round-8 driver bench) in
    a child process, one timed run each, and exit 0 iff both complete.
    Not part of the per-round artifact — run on demand
    (``python bench.py --smoke``) after touching the dense gridder,
    the salting, or the session memory defaults. The CI-speed sibling
    is tests/test_lowmem_smoke.py (1 GiB, scaled-down shape)."""
    import subprocess

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--chiles-tier"],
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir,
             "SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_MEM": "8g",
             # completion check, not a measurement: one timed pair
             "SPARK_GRAFT_CHILES_PAIRS": "1",
             "SPARK_GRAFT_CHILES_EXTRA": "0"},
        capture_output=True, text=True, timeout=1800)
    ok, err = False, None
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            parsed = json.loads(line)
            ok = "error" not in parsed
            err = parsed.get("error")
            break
    print(json.dumps({"metric": "chiles_8g_smoke",
                      "ok": ok, "error": err,
                      "sec": round(time.time() - t0, 1)}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    if "--smoke" in sys.argv:
        smoke()
    elif "--chiles-tier" in sys.argv:
        Q.PRECISE = False
        # rep=512 (51.2M vis) needs more than the 8g session default:
        # round 8's driver bench OOMed the skew tier (Java heap) at 8g.
        # 32g fits the persisted vis + 32 concurrent fat-row buffers
        # with headroom while staying far from the 64g GC-thrash regime
        # measured on shuffle-heavy queries. Set here so a direct run
        # and bench.py's own subprocess launch run the same
        # configuration; an explicit SPARK_GRAFT_MEM still wins.
        os.environ.setdefault("SPARK_GRAFT_MEM", "32g")
        _sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        _cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        try:
            print(json.dumps(_chiles_tier(_sf, _cpus)))
        except Exception as e:  # parent parses {"error": ...} cleanly
            print(json.dumps(
                {"error": f"{type(e).__name__}: {e}"[:300]}))
            sys.exit(1)
    else:
        try:
            main()
        except Exception as e:
            # last-resort contract keeper: the driver records the tail
            # of stdout as BENCH_r{N}.json — a crash with no JSON line
            # (round 8) is strictly worse than a line that says what
            # died.
            print(json.dumps({
                "metric": "bench_total", "value": -1.0, "unit": "sec",
                "queries": {},
                "error": f"{type(e).__name__}: {e}"[:400],
            }, separators=(",", ":")))
            sys.exit(1)
