#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Queries run the production fast path (plain double aggregation, no
decimal-exact gate instrumentation). Each query is fully executed via a
noop-format write (all partitions computed, nothing collected to the
driver), which is the honest distributed-throughput measurement.
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
    # the pipeline_sf1 precedent and stays out of the per-query
    # window (measured separately: 8.5 s at sf0.1/32c, stage-boundary
    # checkpoint at the classifier->selector diamond)
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


# ---------------------------------------------------------------------------
# Scale-factor ladder: the gates verify correctness at sf0.01 and the
# bench measures sf0.1 — neither catches a partition-count or fat-row
# cliff that only appears at 10x the rows. The ladder replicates the
# big tables 10x (ids shifted so key distributions stay spread, content
# untouched) into a temp "sf1.0-equivalent" dir and times a set of
# CONTENT-INDEPENDENT queries at both scales in one fresh session.
# Pair-forming ops (dedup/jaccard/neardup) are excluded on purpose: a
# replicated corpus is 10x-duplicate by construction, so they would
# measure a different workload, not scaling.
# ---------------------------------------------------------------------------

LADDER_QUERIES = ["q1_pricing_summary", "statistics", "text_features",
                  "ann_cosine_topk", "uv_grid_kernel",
                  # pipeline tier (see the replica-decorrelation note in
                  # _build_ladder_dir: the 10x corpus keeps each shard's
                  # dup structure while shards stay mutually dissimilar,
                  # so pair-forming ops measure scaling, not blowup)
                  "semantic_dedup", "dedup_corpus", "bpe_train_encode",
                  "winnow_fingerprints", "embedding_neardup_lsh",
                  "pack_sequences",
                  # round 9: both new scale claims get measured — the
                  # ExactSubstr fingerprint shuffle (token-count-bound;
                  # the 10x corpus keeps per-shard dup structure while
                  # shards stay decorrelated) and the valved hot-slab
                  # degrid kernel under centrally-condensed uv
                  "dedup_spans", "uv_degrid_kernel_skew",
                  # round 10: the most expensive relational-imaging
                  # query (Briggs density grid + broadcast-back) gets
                  # scale-trend evidence — it sat on the r9 suspected-
                  # regression list with none
                  "imaging_weights",
                  # round 10: the PQ/ADC scan's scale claim — codes,
                  # not floats, are what the corpus scan reads (the
                  # decorrelated replicas keep per-shard geometry; the
                  # per-dir codebooks memoize, so min-of-2 times the
                  # scan, not the trainer)
                  "ann_pq_topk",
                  # round 11: the shuffle-heavy relational ops get 10x
                  # evidence — the reference's own cautionary number is
                  # chunk-sensitivity on exactly this class (BASELINE
                  # 6.7x vs 0.36x). time_average: 10x rows into the
                  # same time bins (events replicate with shifted ids,
                  # timestamps verbatim — heavier per-key agg, the skew
                  # direction). flag_summary: 10x lineitem fact join
                  # against constant orders + grouping-sets rollup.
                  # join_dataset: override below (gate scope reads only
                  # symlinked dims, which would measure nothing).
                  # minhash_lsh_candidates: banded-LSH bucketing over
                  # the decorrelated 10x corpus (within-shard candidate
                  # structure preserved, cross-shard shingle overlap
                  # zero, so candidates scale linearly).
                  "time_average", "flag_summary", "join_dataset",
                  "minhash_lsh_candidates",
                  # round 12 (late): BM25 — tokenize + the postings
                  # groupBy shuffle dominate and both scale with the
                  # corpus; query terms match only the original shard
                  # (replica tokens are suffix-bijected), which is the
                  # honest workload: index build is the scale cost.
                  # lm_perplexity: the two count-table shuffle JOINS
                  # (grams x unigrams, grams x bigrams) — a join-side
                  # scale mechanism no other rung exercises
                  "bm25_topk", "lm_perplexity",
                  # round 13: nb_classify — the broadcast-model size is
                  # the scale risk (replica tokens are suffix-bijected,
                  # so the vocab — and the pivoted model — genuinely
                  # grows ~10x while the label set stays fixed).
                  # dsir_select — bucket tables are size-capped by
                  # construction; the rung measures the feature-stream
                  # groupBy(doc_id) and the TakeOrderedAndProject top-k
                  "nb_classify", "dsir_select"]
_LADDER_REPL = {  # table -> id column to shift (None = replicate as-is)
    "lineitem": None, "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}
_LADDER_LINK = ["region", "nation", "customer", "supplier", "part",
                "orders"]


def _build_ladder_dir(spark, sf_dir: str, mult: int,
                      tables: list[str] | None = None) -> str:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    # `tables` restricts replication to a subset of _LADDER_REPL (the
    # 1000x spans rung needs ONLY documents — replicating lineitem at
    # 1000x would write ~11 GB of parquet nothing reads)
    repl = {t: c for t, c in _LADDER_REPL.items()
            if tables is None or t in tables}
    # cache key = absolute source dir + its tables' mtimes: a different
    # dir with the same basename, or a regenerated fixture, must NOT
    # replay a stale replica (the symlinked side tables would then point
    # at a different corpus than the replicated ones)
    mtimes = "|".join(
        f"{t}:{os.path.getmtime(os.path.join(sf_dir, t + '.parquet'))}"
        for t in sorted(_LADDER_REPL)
        if os.path.exists(os.path.join(sf_dir, t + ".parquet")))
    subset = "" if tables is None else "|" + ",".join(sorted(repl))
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{mult}|{mtimes}|v3{subset}".encode()
    ).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"sparkgraft_ladder_{key}")
    done = os.path.join(out, "_LADDER_OK")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    ks = F.explode(F.array(*[F.lit(i) for i in range(mult)])).alias("_k")
    for table, idcol in repl.items():
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        big = df.select("*", ks)
        if idcol is not None:
            stride = df.agg(F.max(idcol)).collect()[0][0] + 1
            big = big.withColumn(
                idcol, (F.col(idcol) + F.col("_k") * F.lit(stride))
                .cast(dict(df.dtypes)[idcol]))
        # Replica decorrelation, so pair-forming ops (dedup, near-dup,
        # jaccard) measure SCALING rather than a 100x pair blowup from
        # 10 verbatim copies: each replica keeps its INTERNAL duplicate
        # structure but replicas are mutually dissimilar.
        # - documents: a per-replica suffix letter on every token is a
        #   token-level bijection (within-shard shingle equality — and
        #   hence Jaccard/MinHash structure — is preserved exactly),
        #   while cross-shard shingle overlap drops to zero.
        # - embeddings: a per-(replica, dim) sign flip is an orthogonal
        #   transform (within-shard cosines exact), while cross-shard
        #   cosines decay toward 0 (random +/- half the dims).
        # Replica 0 stays verbatim in both cases.
        if table == "documents":
            # mult > 26 (the 100x rung): a single letter would repeat
            # every 26 shards and shards k/k+26 would become VERBATIM
            # duplicates of each other — a quadratic cross-shard pair
            # term that measures the replica construction, not the
            # operator. A second letter (k // 26) keeps the suffix a
            # bijection per shard up to 26^2, a third (k // 676, the
            # 1000x rung) up to 26^3; suffix LENGTH encodes the tier,
            # so shards < 26 keep their single-letter text
            # byte-identical to the 10x rung's and shards < 676 their
            # two-letter text byte-identical to the 100x rung's.
            c1 = F.char(F.lit(97) + F.col("_k") % 26)
            c2 = F.char(F.lit(97) + (F.col("_k") / 26).cast("int") % 26)
            c3 = F.char(F.lit(97) + (F.col("_k") / 676).cast("int") % 26)
            if mult <= 26:
                sfx = c1
            elif mult <= 676:
                sfx = F.when(F.col("_k") < 26, c1).otherwise(
                    F.concat(c1, c2))
            else:
                sfx = (F.when(F.col("_k") < 26, c1)
                       .when(F.col("_k") < 676, F.concat(c1, c2))
                       .otherwise(F.concat(c1, c2, c3)))
            big = big.withColumn(
                "text",
                F.when(F.col("_k") == 0, F.col("text")).otherwise(
                    F.regexp_replace(
                        "text", r"(\S+)",
                        F.concat(F.lit("$1"), sfx))))
        elif table == "embeddings":
            # signed permutation per replica (literals -> codegen):
            # permutation kills correlation through structured heavy
            # dims that a sign flip alone leaves aligned
            import random as _rnd

            dim = len(df.select("embedding").head()[0])

            def _tables(k: int):
                r = _rnd.Random(10_000 + k)
                p = list(range(dim))
                r.shuffle(p)
                return p, [r.choice((-1.0, 1.0)) for _ in range(dim)]

            def _shard(k: int):
                p, s = _tables(k)
                return F.array(*[
                    F.element_at("embedding", p[j] + 1) * F.lit(s[j])
                    for j in range(dim)])

            if mult <= 16:
                pe = F.col("embedding")
                for k in range(1, mult):
                    pe = F.when(F.col("_k") == k, _shard(k)).otherwise(pe)
                big = big.withColumn("embedding", pe)
            else:
                # 100x rung: a mult-deep CASE over dim element_at's
                # blows past the codegen method limit into interpreted
                # eval — vectorize the same tables through one numpy
                # gather per batch instead (identical values: same
                # Random(10_000+k) shuffle-then-choice sequence)
                import numpy as _np2
                import pyspark.sql.types as T

                P = _np2.asarray([_tables(k)[0] if k else list(range(dim))
                                  for k in range(mult)], dtype=_np2.int64)
                S = _np2.asarray([_tables(k)[1] if k else [1.0] * dim
                                  for k in range(mult)])
                bcast = spark.sparkContext.broadcast((P, S))
                sch = T.StructType(
                    [f for f in big.schema.fields if f.name != "embedding"]
                    + [T.StructField("embedding",
                                     T.ArrayType(T.DoubleType()))])
                order = [f.name for f in sch.fields]

                def permute(it):
                    Pb, Sb = bcast.value
                    for pdf in it:
                        if not len(pdf):
                            continue
                        E = _np2.asarray(pdf["embedding"].tolist(),
                                         _np2.float64)
                        kk = pdf["_k"].to_numpy(_np2.int64)
                        out_e = _np2.take_along_axis(
                            E, Pb[kk], axis=1) * Sb[kk]
                        pdf = pdf.drop(columns=["embedding"])
                        pdf["embedding"] = list(out_e)
                        yield pdf[order]

                big = big.mapInPandas(permute, sch)
        big.drop("_k").write.mode("overwrite")             .parquet(f"{out}/{table}.parquet")
    for table in _LADDER_LINK:
        src = f"{sf_dir}/{table}.parquet"
        if os.path.exists(src):
            os.symlink(src, f"{out}/{table}.parquet")
    open(done, "w").close()
    return out


def _ladder_neardup_lsh(spark, sf_dir: str):
    # threshold 0.6 (not the gate's 0.4): heavy-tailed embedding dims
    # leave ~5e-4 of CROSS-shard pairs above cos 0.4 under ANY
    # orthogonal decorrelation (measured; the N(0, 1/sqrt(d)) floor),
    # which at 10x would add a quadratic pair term that measures the
    # synthetic replica construction, not the operator's scaling. At
    # 0.6 (4.8 sigma) cross-shard leakage is ~1e-6.
    from cngi_prototype_spark.similarity.ann import cosine_pairs_lsh
    # vectorize_above=0: both rungs must measure the production BLAS
    # route (the small rung is 2000 rows, under the gate-twin tier cut)
    return cosine_pairs_lsh(Q._t(spark, sf_dir, "embeddings"),
                            threshold=0.6, dim=64, num_bands=4,
                            planes_per_band=6, vectorize_above=0)


_LADDER_SEM_CENTROIDS: dict[str, list] = {}


def _ladder_semantic_dedup(spark, sf_dir: str):
    # same production shape as Q.semantic_dedup_q (train once per
    # corpus, memoized), threshold 0.6 for the cross-shard floor above
    from cngi_prototype_spark.similarity.ann import (
        semantic_dedup, train_ivf_centroids)
    emb = Q._t(spark, sf_dir, "embeddings")
    if sf_dir not in _LADDER_SEM_CENTROIDS:
        _LADDER_SEM_CENTROIDS[sf_dir] = train_ivf_centroids(
            emb, n_centroids=8)
    return semantic_dedup(emb, _LADDER_SEM_CENTROIDS[sf_dir],
                          threshold=0.6, assign_max_codegen_k=0)


def _ladder_degrid_skew(spark, sf_dir: str):
    # centrally-condensed (Bates(4), sigma ~29% of the span) uv
    # coverage piles most rows into the central u-slabs — the
    # hot-slab regime the degrid kernel's salt_probe valve exists
    # for. The rung measures the VALVED path's scaling: per-slab vis
    # counts probe once, hot slabs sub-bucket with the halo-bounded
    # grid slab replicated per sub-bucket.
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


def _ladder_join_dataset(spark, sf_dir: str):
    # gate scope reads customer+orders, which the ladder only symlinks
    # — it would time a constant workload. This rung drives the same
    # operator (surrogate-key catalog union + fact remap join) with the
    # fact side on the REPLICATED lineitem (10x rows) and the dim side
    # constant (dims don't scale with facts in a real catalog): what
    # must scale is the fact-side remap join, which broadcasts the
    # surrogate-key map.
    from pyspark.sql import functions as F

    from cngi_prototype_spark.operators import joins as OJ
    li = Q._t(spark, sf_dir, "lineitem")
    customer = Q._t(spark, sf_dir, "customer")
    dim1 = (customer.filter(F.col("c_custkey") <= 1000)
            .select(F.col("c_custkey").alias("id"), "c_name"))
    dim2 = (customer.filter(F.col("c_custkey") > 800)
            .select((F.col("c_custkey") - 800).alias("id"), "c_name"))
    fact1 = (li.filter(F.col("l_suppkey") <= 1000)
             .select("l_orderkey", F.col("l_suppkey").alias("fk")))
    fact2 = (li.filter(F.col("l_suppkey") > 800)
             .select("l_orderkey", (F.col("l_suppkey") - 800).alias("fk")))
    fact_out, _dim_out = OJ.join_dataset(fact1, dim1, fact2, dim2,
                                         dim_key="id", fact_fk="fk")
    return fact_out.groupBy("fk").agg(F.count(F.lit(1)).alias("n"))


LADDER_OVERRIDES = {
    "join_dataset": _ladder_join_dataset,
    "embedding_neardup_lsh": _ladder_neardup_lsh,
    "semantic_dedup": _ladder_semantic_dedup,
    "uv_degrid_kernel_skew": _ladder_degrid_skew,
    # same scope the bench times (briggs+uniform, no weight-grid part)
    "imaging_weights": Q.imaging_weights_bench_q,
}

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
    "uv_degrid_kernel_skew": _ladder_degrid_skew,  # skew rung (r9)
}


def _ladder_min(fn, spark, d: str,
                runs_out: list[float] | None = None) -> float:
    # min-of-2 with the same >2x-spread steal guard as the query tier:
    # a burst on one scale fakes a ratio; one extra run un-fakes it
    rs: list[float] = [] if runs_out is None else runs_out
    for _ in range(2):
        t0 = time.time()
        _run(fn(spark, d))
        rs.append(time.time() - t0)
    if min(rs) > 0 and max(rs) / min(rs) > 2.0:
        t0 = time.time()
        _run(fn(spark, d))
        rs.append(time.time() - t0)
    return min(rs)


def _pipeline_training_assembly(spark, sf_dir: str):
    """End-to-end training-data assembly as ONE composed plan —
    hygiene filter → near-dup corpus dedup → benchmark
    decontamination → temperature-mixture sampling → chunking →
    sequence packing; every stage is the correspondingly-gated
    operator, so this times COMPOSITION overhead (stage boundaries,
    reused scans, chained shuffles), not new semantics. Returns the
    final aggregate so timing forces the whole pipeline."""
    from pyspark.sql import functions as F

    from cngi_prototype_spark.dedup.dedup import (dedup_corpus,
                                                  ngram_contamination)
    from cngi_prototype_spark.text.analysis import (chunk_documents,
                                                    filter_documents)
    from cngi_prototype_spark.text.training import (mixture_fractions,
                                                    pack_sequences,
                                                    stratified_sample)

    # trim to (id, text): the raw table carries its own n_chars, which
    # would collide with the feature columns the filter annotates
    docs = Q._docs(spark, sf_dir).select("doc_id", "text")
    kept = (filter_documents(docs, min_quality=0.2, min_chars=10)
            .filter("keep").select("doc_id", "text", "lang_pred"))
    dd = dedup_corpus(kept, threshold=0.05, shingle_n=3)
    clean = dd.filter("is_kept").select("doc_id", "text", "lang_pred")
    # eval set bounded by construction (replica 0's first docs): the
    # gram side broadcasts, the corpus side streams
    contam = ngram_contamination(clean, docs.filter("doc_id < 400"),
                                 shingle_n=8, min_overlap=1)
    decon = clean.join(contam.select("doc_id").distinct(),
                       "doc_id", "left_anti")
    # driver traffic bounded by the language-stratum count, not rows
    counts = {r["lang_pred"]: r["n"] for r in
              decon.groupBy("lang_pred")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    fracs = mixture_fractions(counts, temperature=2.0,
                              target_total=sum(counts.values()) * 2 // 3)
    mixed = stratified_sample(decon, fracs, by="lang_pred")
    chunks = chunk_documents(mixed, chunk_tokens=128)
    packed = pack_sequences(
        chunks.select((F.col("doc_id") * F.lit(100_000)
                       + F.col("chunk_id")).alias("doc_id"),
                      F.col("chunk_text").alias("text")),
        seq_len=2048)
    return packed.agg(F.count(F.lit(1)).alias("placements"),
                      (F.max("seq_id") + 1).alias("n_sequences"))


def run_pipeline_sf1(spark, sf_dir: str, mult: int) -> dict:
    """The sf1 composition number (round-11 stretch): the full
    training-data assembly timed on the ladder's 10x-decorrelated
    replica dir (sf0.1 x 10 = sf1-equivalent rows), min-of-2 with the
    ladder's steal guard."""
    big_dir = _build_ladder_dir(spark, sf_dir, mult)
    fn = lambda s, d: _pipeline_training_assembly(s, d)  # noqa: E731
    # the codegen/JIT warm run doubles as the counts collection — a
    # separate post-timing execution just for the 1-row aggregate
    # costs another ~50 s of bench wall at this scale
    row = fn(spark, big_dir).collect()[0]
    sec = _ladder_min(fn, spark, big_dir)
    n_seq = row["n_sequences"]  # max(seq_id)+1 is NULL on empty packs
    return {"sec": round(sec, 3), "mult": mult,
            "placements": int(row["placements"]),
            "n_sequences": int(n_seq) if n_seq is not None else 0}


def run_ivfpq_recall_curve(spark, sf_dir: str, mult: int) -> dict:
    """recall@5 vs nprobe and vs m at the 10x rung (round-12 verdict
    #4): production-shape structures (8 cells, ksub=32) trained on the
    decorrelated replica corpus, Arrow index/scoring tiers, ground
    truth = brute-force cosine over the same 10 queries. Finding that
    sets the gate floor: on near-random 64-d embeddings recall is
    QUANTIZATION-dominated — it saturates by nprobe 2-4 and moves with
    m (subspace count), so the 'floor_ivfpq' gate contract is pinned
    to the measured plateau (0.08 <= flat 0.10-0.12 band at the gate's
    8x16 books), not to an nprobe ramp that does not exist here."""
    from pyspark.sql import functions as F

    from cngi_prototype_spark.similarity.ann import (brute_force_topk,
                                                     ivfpq_topk,
                                                     train_ivfpq)

    big_dir = _build_ladder_dir(spark, sf_dir, mult)
    emb = spark.read.parquet(f"{big_dir}/embeddings.parquet")
    qset = emb.filter(F.col("vec_id") < 10)
    bp = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(emb, qset, k=5).collect()}
    curve: dict[str, dict] = {}
    for m in (4, 8):
        cents, books = train_ivfpq(emb, n_cells=8, m=m, ksub=32)
        per_probe = {}
        for nprobe in (1, 2, 4, 8):
            t0 = time.time()
            vp = {(r.query_id, r.neighbor_id)
                  for r in ivfpq_topk(emb, qset, cents, books, k=5,
                                      nprobe=nprobe).collect()}
            per_probe[str(nprobe)] = {
                "recall_at_5": round(len(vp & bp) / len(bp), 4),
                "sec": round(time.time() - t0, 3)}
        curve[f"m{m}"] = per_probe
    return {"mult": mult, "n_cells": 8, "ksub": 32, "k": 5,
            "n_queries": 10, "curve": curve}


# The recall CONTRACT (round-13, verdict #1): the production re-rank
# paths must clear these floors at the 10x rung — measured curve values
# (ivfpq m16/r50 0.48, hamming r64 0.26 at 600k vectors) with ~1.6x
# headroom for sampling noise (10 queries), not aspirations. A
# regression in the exact-re-rank tier (the standing answer to
# quantization-dominated recall on near-random embeddings) flips
# ok=false in the committed artifact. m=16 IS the production codebook
# since round 13: the same measurement showed it beats m=8 at every
# rerank width (r0 0.14 vs 0.04, r50 0.48 vs 0.22) at equal-or-lower
# latency — quantization bits growing with log(n), the round-12
# curve's own conclusion, realized.
ANN_CONTRACT_FLOORS = {"ivfpq_m16_r50": 0.30, "hamming_r64": 0.15}


def run_ann_recall_contract(spark, sf_dir: str, mult: int) -> dict:
    """recall@5 vs exact-rerank width R at the 10x rung for BOTH
    re-rankable indexes, production shapes: ivfpq (8 cells, ksub=32,
    nprobe=3 — m=8 production plus an m=16 option so quantization bits
    can grow with log(n), the round-12 curve's own conclusion) and
    sign-bit hamming. Ground truth = brute-force cosine over the same
    10 queries; the production widths (ivfpq R=50, hamming R=64) are
    asserted against ANN_CONTRACT_FLOORS."""
    from pyspark.sql import functions as F

    from cngi_prototype_spark.similarity.ann import (brute_force_topk,
                                                     hamming_topk,
                                                     ivfpq_topk,
                                                     train_ivfpq)

    big_dir = _build_ladder_dir(spark, sf_dir, mult)
    emb = spark.read.parquet(f"{big_dir}/embeddings.parquet")
    qset = emb.filter(F.col("vec_id") < 10)
    bp = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(emb, qset, k=5).collect()}

    def _recall(df) -> tuple[float, float]:
        t0 = time.time()
        vp = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return (round(len(vp & bp) / len(bp), 4),
                round(time.time() - t0, 3))

    curves: dict[str, dict] = {}
    for m in (8, 16):
        cents, books = train_ivfpq(emb, n_cells=8, m=m, ksub=32)
        per_r = {}
        for R in (0, 50, 200):
            rec, sec = _recall(ivfpq_topk(emb, qset, cents, books,
                                          k=5, nprobe=3, rerank=R))
            per_r[f"r{R}"] = {"recall_at_5": rec, "sec": sec}
        curves[f"ivfpq_m{m}"] = per_r
    per_r = {}
    for R in (20, 64, 200):
        rec, sec = _recall(hamming_topk(emb, qset, k=5, rerank=R))
        per_r[f"r{R}"] = {"recall_at_5": rec, "sec": sec}
    curves["hamming"] = per_r

    checks = {
        "ivfpq_m16_r50": {
            "floor": ANN_CONTRACT_FLOORS["ivfpq_m16_r50"],
            "measured": curves["ivfpq_m16"]["r50"]["recall_at_5"]},
        "hamming_r64": {
            "floor": ANN_CONTRACT_FLOORS["hamming_r64"],
            "measured": curves["hamming"]["r64"]["recall_at_5"]},
    }
    for c in checks.values():
        c["ok"] = bool(c["measured"] >= c["floor"])
    return {"mult": mult, "k": 5, "n_queries": 10, "nprobe": 3,
            "curves": curves, "contract": checks,
            "ok": all(c["ok"] for c in checks.values())}


def _timed_shuffle(spark, fn, *args) -> tuple[float, float | None]:
    """_ladder_min plus the per-run shuffle-write delta (MB) from the
    AppStatusStore — the byte-level witness next to every wall-clock
    scale number."""
    from cngi_prototype_spark.plans.inspect import shuffle_totals
    rs: list[float] = []
    s0 = shuffle_totals(spark)
    sec = _ladder_min(fn, spark, *args, runs_out=rs)
    s1 = shuffle_totals(spark)
    mb = (round(max(0, s1["write"] - s0["write"]) / len(rs) / 2**20, 2)
          if s0 and s1 else None)
    return sec, mb


def run_store_serving_ladder(spark, sf_dir: str, mult: int) -> dict:
    """Store-served retrieval at the 10x rung (round-12 verdict #5):
    the equal-to-batch properties say the incrementally maintained
    postings store SCORES right; this tier says what serving from it
    COSTS. Builds the store with the production maintainer
    (``stream_bm25_postings``, multi-batch availableNow over the
    rung's documents), then measures ``bm25_topk_from_store`` and
    ``hybrid_search_from_stores`` against their batch twins in the
    same session — wall + shuffle-write bytes + an overhead ratio,
    with a key-set equality spot-check at the rung so the numbers are
    known to price the SAME answer."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cngi_prototype_spark.similarity.ann import (ivf_topk,
                                                     ivf_topk_from_store,
                                                     train_ivf_centroids)
    from cngi_prototype_spark.similarity.hybrid import (
        hybrid_search, hybrid_search_from_stores)
    from cngi_prototype_spark.streaming.stream_ops import (
        stream_bm25_postings, stream_ivf_cells)
    from cngi_prototype_spark.text.retrieval import (bm25_topk,
                                                     bm25_topk_from_store)

    big_dir = _build_ladder_dir(spark, sf_dir, mult)
    docs_path = f"{big_dir}/documents.parquet"
    docs = spark.read.parquet(docs_path)
    n_docs = docs.count()
    work = tempfile.mkdtemp(prefix="sparkgraft_store_serving_")
    post, ck = f"{work}/post", f"{work}/ck"
    try:
        # incremental build: availableNow + maxFilesPerTrigger splits
        # the rung's corpus into real micro-batches through the
        # production maintainer (epoch partitions, dynamic overwrite).
        # The replica dir writes documents as ONE parquet file, and a
        # file source can't split below file granularity (first r13 run
        # measured n_batches=1) — stream from a 4-file copy so the
        # maintainer demonstrably accumulates across micro-batches.
        src = f"{work}/docs_src"
        docs.repartition(4).write.parquet(src)
        n_files = len(glob.glob(f"{src}/*.parquet"))
        per_trigger = max(1, n_files // 4)
        t0 = time.time()
        q = stream_bm25_postings(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(src), post, ck,
        ).trigger(availableNow=True).start()
        q.awaitTermination()
        build_sec = round(time.time() - t0, 3)
        store = spark.read.parquet(post)
        n_batches = store.select("_batch").distinct().count()

        qs = [(0, "scan merge window sort"),
              (1, "customer stream batch data"),
              (2, "spark join filter"), (3, "query group agg"),
              (4, "fast key value"), (5, "table row column")]
        out: dict[str, dict] = {
            "build": {"sec": build_sec, "n_docs": n_docs,
                      "n_batches": n_batches,
                      "docs_per_sec": round(n_docs / build_sec),
                      "store_rows": store.count()}}

        # serving: store-served vs batch twin, same session, same
        # production parameters as the bm25_topk / hybrid_search bench
        # queries
        pairs = {
            "bm25_topk": (
                lambda s, d: bm25_topk(
                    spark.read.parquet(f"{d}/documents.parquet"),
                    qs, top_n=20),
                lambda s, d: bm25_topk_from_store(
                    spark, post, qs, top_n=20)),
        }
        emb = spark.read.parquet(f"{big_dir}/embeddings.parquet")
        qv = (emb.filter(F.col("vec_id") < 6)
              .select(F.col("vec_id").alias("query_id"), "embedding"))
        pairs["hybrid_search"] = (
            lambda s, d: hybrid_search(
                spark.read.parquet(f"{d}/documents.parquet"),
                emb, qs, qv, bm25_n=50, k=10),
            lambda s, d: hybrid_search_from_stores(
                spark, post, emb, qs, qv, bm25_n=50, k=10))

        # the third streaming store: IVF inverted lists, maintained by
        # stream_ivf_cells over the rung's embeddings (recall-contract
        # shape: 8 cells, nprobe=3), priced against the in-plan ivf_topk
        cents = train_ivf_centroids(emb, n_centroids=8)
        emb_src = f"{work}/emb_src"  # 4-file copy: real micro-batches
        emb.repartition(4).write.parquet(emb_src)
        n_efiles = len(glob.glob(f"{emb_src}/*.parquet"))
        cells, ick = f"{work}/cells", f"{work}/ick"
        t0 = time.time()
        q2 = stream_ivf_cells(
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", max(1, n_efiles // 4))
            .parquet(emb_src), cells, ick, centroids=cents,
        ).trigger(availableNow=True).start()
        q2.awaitTermination()
        ivf_build_sec = round(time.time() - t0, 3)
        n_vecs = emb.count()
        out["build_ivf"] = {
            "sec": ivf_build_sec, "n_vecs": n_vecs,
            "vecs_per_sec": round(n_vecs / ivf_build_sec),
            "n_batches": spark.read.parquet(cells)
            .select("_batch").distinct().count()}
        qset = emb.filter(F.col("vec_id") < 10)
        pairs["ivf_topk"] = (
            lambda s, d: ivf_topk(emb, qset, cents, k=5, nprobe=3),
            lambda s, d: ivf_topk_from_store(
                spark, cells, qset, cents, k=5, nprobe=3))

        # the fourth streaming store (r13): NB class-conditional count
        # partials, maintained by stream_nb_counts; priced against the
        # self-training batch classifier — serving from the store
        # skips re-deriving the model counts per call
        from cngi_prototype_spark.streaming.stream_ops import (
            stream_nb_counts)
        from cngi_prototype_spark.text.classifier import (
            nb_classify, nb_classify_from_store)
        nbc, nck = f"{work}/nbc", f"{work}/nck"
        t0 = time.time()
        q3 = stream_nb_counts(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(src), nbc, nck,
        ).trigger(availableNow=True).start()
        q3.awaitTermination()
        nb_build_sec = round(time.time() - t0, 3)
        out["build_nb"] = {
            "sec": nb_build_sec,
            "docs_per_sec": round(n_docs / nb_build_sec),
            "n_batches": spark.read.parquet(nbc)
            .select("_batch").distinct().count()}
        pairs["nb_classify"] = (
            lambda s, d: nb_classify(
                spark.read.parquet(f"{d}/documents.parquet")),
            lambda s, d: nb_classify_from_store(
                spark, nbc,
                spark.read.parquet(f"{d}/documents.parquet")))

        _SPOT_KEYS = {"ivf_topk": ("query_id", "neighbor_id"),
                      "nb_classify": ("doc_id", "label_pred")}
        for name, (batch_fn, store_fn) in pairs.items():
            _run(batch_fn(spark, big_dir))   # codegen/JIT warm
            _run(store_fn(spark, big_dir))
            b_sec, b_mb = _timed_shuffle(spark, batch_fn, big_dir)
            s_sec, s_mb = _timed_shuffle(spark, store_fn, big_dir)
            # same-answer spot-check at the rung (key sets: scores are
            # property-tested equal at small scale; here the question
            # is whether the measured plans return the same rows)
            ka, kb = _SPOT_KEYS.get(name, ("query_id", "doc_id"))
            bk = {(r[ka], r[kb]) for r in
                  batch_fn(spark, big_dir).collect()}
            sk = {(r[ka], r[kb]) for r in
                  store_fn(spark, big_dir).collect()}
            out[name] = {
                "batch_sec": round(b_sec, 3),
                "store_sec": round(s_sec, 3),
                "store_over_batch": round(s_sec / b_sec, 2),
                "batch_shuffle_mb": b_mb,
                "store_shuffle_mb": s_mb,
                "same_topk": bool(bk == sk),
            }
        return {"mult": mult, "queries": out}
    finally:
        shutil.rmtree(work, ignore_errors=True)


# which tables a --decade3 op needs replicated (default: documents);
# everything else is omitted from the replica dir to bound its size
_DECADE3_TABLES = {"ann_ivfpq_topk": ("embeddings",),
                   "ann_pq_topk": ("embeddings",),
                   "ann_hamming_topk": ("embeddings",)}


def run_decade3(spark, sf_dir: str, op_name: str,
                tables: tuple[str, ...] | None = None) -> dict:
    """`bench.py --decade3 <query>`: generic third measured decade —
    100x and 1000x documents-only replica rungs, back-to-back in one
    session, wall + shuffle-write bytes. The spans rung proved the
    pattern pays (its 1000x point refuted a wrong 2-decade story and
    forced a replan); this generalizes it to any documents-shaped
    ladder query. ~10x byte growth over the decade = linear in rows."""
    # per-op defaults apply only when the caller didn't pass tables
    if tables is None:
        tables = _DECADE3_TABLES.get(op_name, ("documents",))
    big100 = _build_ladder_dir(spark, sf_dir, 100, tables=list(tables))
    big1000 = _build_ladder_dir(spark, sf_dir, 1000,
                                tables=list(tables))
    fn = (LADDER_OVERRIDES.get(op_name) or Q.queries().get(op_name)
          or getattr(Q, f"{op_name}_q"))
    _run(fn(spark, big100))  # codegen/JIT warm
    t100, mb100 = _timed_shuffle(spark, fn, big100)
    t1000, mb1000 = _timed_shuffle(spark, fn, big1000)
    out = {
        "op": op_name, "vs_mult": 100, "mult": 1000,
        "big100_sec": round(t100, 3), "big1000_sec": round(t1000, 3),
        "ratio_1000x_over_100x": round(t1000 / t100, 2),
        "scaling_efficiency": round(t1000 / t100 / 10, 3),
        "shuffle_write_mb_100x": mb100,
        "shuffle_write_mb_1000x": mb1000,
    }
    if mb100 and mb1000:
        out["shuffle_growth_1000x_over_100x"] = round(mb1000 / mb100, 2)
    return out


def run_spans_decade3(spark, sf_dir: str) -> dict:
    """`bench.py --spans1000`: third measured decade for the
    ExactSubstr gram-fingerprint shuffle (round-12 verdict #2). The
    100x rung measured shuffle-write growth of ~18.6x over its decade
    and bench.py's saturation analysis predicts fallback to ~10x
    (linear) once map-side combine stops collapsing same-key grams
    within map partitions; this rung (1000x, documents-only replica
    dir) measures that third point. Opt-in — ~15 min of wall — with
    the artifact committed as SPANS_DECADE3 in BENCH_DETAIL's sibling
    file. Measurement protocol delegates to the generic
    :func:`run_decade3`; this wrapper only adds the prediction
    bookkeeping the round-12 verdict asked to confirm."""
    out = run_decade3(spark, sf_dir, "dedup_spans")
    out["predicted_shuffle_growth"] = ("~10x (no-collapse ceiling is "
                                       "linear in rows; bench.py "
                                       "map-side-combine saturation "
                                       "analysis)")
    growth = out.get("shuffle_growth_1000x_over_100x")
    if growth is not None:
        out["prediction_confirmed"] = bool(growth < 13.0)
    return out


def run_pipeline_100x(spark, sf_dir: str) -> dict:
    """`bench.py --pipeline100`: the composed training-data assembly
    (filter → dedup → decontaminate → mixture → chunk → pack) at the
    100x rung (round-12 verdict #3) — the product-story composition
    measured one decade past its 10x number, with shuffle bytes.
    Opt-in; artifact committed next to BENCH_DETAIL."""
    big100 = _build_ladder_dir(spark, sf_dir, 100)
    big10 = _build_ladder_dir(spark, sf_dir, 10)
    fn = lambda s, d: _pipeline_training_assembly(s, d)  # noqa: E731
    # warm run doubles as the result collection (same economics as
    # run_pipeline_sf1)
    row10 = fn(spark, big10).collect()[0]
    t10, mb10 = _timed_shuffle(spark, fn, big10)
    row100 = fn(spark, big100).collect()[0]
    t100, mb100 = _timed_shuffle(spark, fn, big100)
    out = {
        "op": "pipeline_training_assembly", "vs_mult": 10, "mult": 100,
        "big10_sec": round(t10, 3), "big100_sec": round(t100, 3),
        "ratio_100x_over_10x": round(t100 / t10, 2),
        "scaling_efficiency": round(t100 / t10 / 10, 3),
        "shuffle_write_mb_10x": mb10,
        "shuffle_write_mb_100x": mb100,
        "placements_10x": int(row10["placements"]),
        "placements_100x": int(row100["placements"]),
        "n_sequences_100x": int(row100["n_sequences"] or 0),
    }
    if mb10 and mb100:
        out["shuffle_growth_100x_over_10x"] = round(mb100 / mb10, 2)
    return out


def run_ladder(spark, sf_dir: str, mult: int) -> dict:
    qs = Q.queries()
    big_dir = _build_ladder_dir(spark, sf_dir, mult)
    out: dict[str, dict] = {}
    for name in LADDER_QUERIES:
        fn = (LADDER_OVERRIDES.get(name) or qs.get(name)
              or getattr(Q, f"{name}_q"))
        _run(fn(spark, sf_dir))  # codegen/JIT warm at small scale
        t_small = _ladder_min(fn, spark, sf_dir)
        t_big = _ladder_min(fn, spark, big_dir)
        out[name] = {
            "small_sec": round(t_small, 3),
            "big_sec": round(t_big, 3),
            "ratio": round(t_big / t_small, 2),
            # <= ~1.0 means at-or-better-than-linear in rows
            "scaling_efficiency": round(t_big / t_small / mult, 3),
        }
    return {"mult": mult, "queries": out}


LADDER100_QUERIES = ["dedup_corpus", "minhash_lsh_candidates",
                     "pack_sequences", "ann_ivfpq_topk",
                     # round 12 (late): the ExactSubstr gram-
                     # fingerprint shuffle is the one scale mechanism
                     # the first four do not exercise
                     "dedup_spans",
                     # round 13: the broadcast-model classifier (the
                     # suffix-bijected replicas genuinely grow the
                     # vocab — and the pivoted model — ~10x/decade)
                     # and the bucket-capped DSIR selection (count
                     # tables size-capped at B, so the decade should
                     # price only the feature stream + top-k)
                     "nb_classify", "dsir_select"]


def run_ladder_100x(spark, sf_dir: str) -> dict:
    """mult=100 rung for the headline pipeline ops (round-12 verdict
    #1): a second decade of measured scale so the 100 TB design claim
    rests on a TREND, not on one 10x point plus plan shape. Ratios are
    against the same-session 10x rung (``ratio_100x_over_10x`` ~ 10 =
    linear in rows; the reference's cautionary chunk-sensitivity
    number on this op class is 6.7x per decade, BASELINE.md).

    Memory headroom: the 100x corpus is ~150 MB parquet (documents /
    embeddings / events / lineitem replicated 100x, decorrelated per
    shard); every op here streams it through bounded shuffles, so the
    default 8g bench heap holds — recorded post-tier heap use is in
    the ``memory`` block. `imaging_chiles_frac` is EXCLUDED from this
    shared session: its 10x-fraction input cache alone is ~40 GB
    (512M vis), so it runs as the dedicated `--chiles100` tier (own
    process, 96g heap, uniform coverage) and its artifact is committed
    separately (CHILES100_OWNRUN_r12.json)."""
    mult = 100
    big100 = _build_ladder_dir(spark, sf_dir, mult)
    qs = Q.queries()
    out: dict[str, dict] = {}
    big10 = _build_ladder_dir(spark, sf_dir, 10)
    from cngi_prototype_spark.plans.inspect import shuffle_totals
    for name in LADDER100_QUERIES:
        fn = (LADDER_OVERRIDES.get(name) or qs.get(name)
              or getattr(Q, f"{name}_q"))
        # measure BOTH rungs here, back-to-back in the same cache
        # state, rather than reusing the earlier ladder tier's 10x
        # number: round-12 found the reported decade ratio swinging
        # 9.85 <-> 13.17 purely from the denominator being measured
        # minutes earlier under different session state
        _run(fn(spark, big10))  # codegen/JIT warm
        r10: list[float] = []
        s0 = shuffle_totals(spark)
        t10 = _ladder_min(fn, spark, big10, runs_out=r10)
        s1 = shuffle_totals(spark)
        _run(fn(spark, big100))  # warm at the 100x shape
        r100: list[float] = []
        s2 = shuffle_totals(spark)
        t100 = _ladder_min(fn, spark, big100, runs_out=r100)
        s3 = shuffle_totals(spark)
        out[name] = {
            "big10_sec": round(t10, 3),
            "big100_sec": round(t100, 3),
            "ratio_100x_over_10x": round(t100 / t10, 2),
            # <= ~1.0 means at-or-better-than-linear in rows over the
            # second decade
            "scaling_efficiency": round(t100 / t10 / 10, 3),
        }
        # measured shuffle volume per run at each rung: the byte-level
        # witness that "sub-linear time" isn't hiding super-linear
        # shuffle growth (AppStatusStore deltas; wall-time noise-free).
        # Reading the ratios: ~10 = linear in rows; noticeably ABOVE 10
        # demands a diagnosis, not a story — the old span-dedup plan
        # measured 18.6x here and this file first explained it as
        # map-side combine saturating toward a linear no-collapse
        # ceiling; the r13 third-decade rung (--spans1000) REFUTED
        # that (16.3x again over the next decade) and the real cause
        # was the plan shuffling the gram stream twice plus exploding
        # the token stream (fixed in dedup.py — keeper election is now
        # an in-stream window min). ~1 (ann_ivfpq) means the op's
        # joins are broadcast and the shuffle is output-sized.
        if s0 and s1 and s2 and s3:
            w10 = max(0, s1["write"] - s0["write"]) / len(r10)
            w100 = max(0, s3["write"] - s2["write"]) / len(r100)
            out[name]["shuffle_write_mb_10x"] = round(w10 / 2**20, 2)
            out[name]["shuffle_write_mb_100x"] = round(w100 / 2**20, 2)
            if w10 > 0:
                out[name]["shuffle_growth_100x_over_10x"] = round(
                    w100 / w10, 2)
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return {
        "mult": mult, "vs_mult": 10, "queries": out,
        "memory": {
            "jvm_heap_used_gb": round(
                (rt.totalMemory() - rt.freeMemory()) / 2**30, 2),
            "jvm_heap_max_gb": round(rt.maxMemory() / 2**30, 2)},
        "excluded": {
            "imaging_chiles_frac": (
                "dedicated --chiles100 tier (own process, rep=5120 -> "
                "512M vis, ~40 GB input cache needs a 96g heap); "
                "artifacts: CHILES100_OWNRUN_r12.json (clean uniform "
                "0.919), CHILES100_OWNRUN_r13.json (skew rung)")},
    }


def chiles100_tier(skew: bool = False) -> dict:
    """`bench.py --chiles100`: the CHILES-frac tier at 10x the declared
    fraction (rep 512 -> 5120, 512M vis, ~1.2% of the 2.5 TB CHILES
    run). Needs SPARK_GRAFT_MEM=96g (the persisted synthetic input is
    ~40 GB deserialized). Two untimed priming runs then steal-guarded
    min-of-N, same throughput accounting as the main tier.

    ``skew=True`` (`--chiles100 --skew`, round-12 verdict #6) runs the
    centrally-condensed coverage INSTEAD — two 40 GB input caches do
    not co-fit a 96g heap, so the 10x-rung skew ratio is established
    across two single-tier processes (uniform artifact + skew
    artifact), each coverage getting the whole heap; the merge script
    records both and the cross-process caveat."""
    os.environ.setdefault("SPARK_GRAFT_CHILES_REP", "5120")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # shuffle sizing at 10x the rows (the own-guidance rule: partitions
    # must fit executor memory at the target SF): at 512M vis the
    # scatter's collect_list buffers hold ~100 B/row object overhead,
    # so cpus-many reduce tasks would buffer 512M/32 rows EACH
    # concurrently (~50 GB) on top of the ~37 GB input cache — measured
    # Java-heap OOM at 96g. 4x finer reduce tasks cap the concurrent
    # buffer at ~13 GB with identical fat-row content; AQE partition
    # coalescing is pinned off so the sizing sticks.
    shuf = int(os.environ.get("SPARK_GRAFT_CHILES100_SHUFFLE",
                              str(cpus * 4)))
    mon = _StealMonitor()
    mon.start()
    spark = initialize_framework(
        cores=cpus, app_name="bench_chiles100", shuffle_partitions=shuf,
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xlog:disable",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"})
    _run(spark.read.parquet(f"{sf_dir}/region.parquet"))
    img, n_vis, mat_sec = chiles_frac(spark, sf_dir, cpus, skew=skew)
    for _ in range(2):  # untimed priming (JIT + cache first-touch)
        _run(img)
    runs: list[float] = []
    n_timed = int(os.environ.get("SPARK_GRAFT_CHILES100_RUNS", "4"))
    for _ in range(n_timed):
        t0 = time.time()
        _run(img)
        runs.append(round(time.time() - t0, 3))
    for _ in range(2):  # steal guard: >2x spread buys extra runs
        if max(runs) / min(runs) <= 2.0:
            break
        t0 = time.time()
        _run(img)
        runs.append(round(time.time() - t0, 3))
    sec = min(runs)
    tpsc = n_vis * _CHILES_TAPS / sec / cpus
    steal = mon.stats()
    return {
        "tier": "chiles_frac_x10" + ("_skew" if skew else ""),
        "coverage": "skew" if skew else "uniform",
        "declared_fraction": round(n_vis / _CHILES_VIS, 9),
        "n_vis": n_vis,
        "taps_per_vis": _CHILES_TAPS,
        "materialize_sec": mat_sec,
        ("runs_skew_sec" if skew else "runs_uniform_sec"): runs,
        "taps_per_s_core": round(tpsc),
        "baseline_taps_per_s_core": round(_CHILES_TAPS_PER_S_CORE),
        "vs_baseline": round(_CHILES_TAPS_PER_S_CORE / tpsc, 3),
        "steal_suspected": max(runs) / min(runs) > 2.0,
        "protocol_note": ("single-coverage process: two 40 GB input "
                          "caches do not co-fit a 96g heap, so the "
                          "10x-rung skew ratio is established across "
                          "two single-tier processes (round-12 "
                          "verdict #6)"),
        **steal,
        "cpus": cpus,
    }


def main() -> None:
    Q.PRECISE = False
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # -Xlog:disable keeps JVM unified-logging (gc,alloc warnings under
    # memory pressure) off stdout — the driver contract is ONE JSON
    # line, and a GC warning printed after it breaks naive tail-parsing
    gc_quiet = {"spark.driver.extraJavaOptions": "-Xlog:disable",
                # keep every stage in the AppStatusStore so the 100x
                # ladder's shuffle-byte deltas never under-count from
                # eviction (default retention is 1000 stages; a full
                # bench session runs several thousand)
                "spark.ui.retainedStages": "100000"}

    t_bench0 = time.time()
    spark = initialize_framework(cores=cpus, app_name="bench",
                                 shuffle_partitions=cpus,
                                 extra_conf=gc_quiet)
    qs = Q.queries()

    # JVM/codegen warmup on a trivial plan so q1 doesn't pay startup cost
    _run(spark.read.parquet(f"{sf_dir}/region.parquet"))

    timings: dict[str, float] = {}
    overrides = BENCH_OVERRIDES
    # Per-query noise insurance (round-5 finding: single-shot timings in
    # the shared session are host-steal-dominated — four queries recorded
    # 1.5-2.2x "regressions" with zero code changes, while fresh min-of-3
    # measured 2-6x FASTER than either recorded number). Record min-of-N
    # per query (N=3 default — round 10 showed min-of-2 lets a steal
    # burst spanning both runs survive the >2x-spread guard: 13 queries
    # inflated unflagged; the extra ~1 min wall is cheaper than an
    # unadjudicatable artifact. Raise further via SPARK_GRAFT_BENCH_RUNS
    # when investigating a specific regression), same honesty the
    # CHILES tier already has.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    last_run: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {}

    def _timed_min(fn, *args, key: str | None = None) -> float:
        # steal guard (round-10, mirroring the CHILES tier's
        # interleaved-runs guard): when the recorded runs spread past 2x, the
        # window caught a hypervisor-steal burst, not the engine — take
        # up to 2 extra runs so the min is a steady-state sample. All
        # runs land in BENCH_DETAIL's query_runs for adjudication.
        rs: list[float] = []
        for _ in range(runs):
            t0 = time.time()
            _run(fn(*args))
            rs.append(round(time.time() - t0, 3))
        for _ in range(2):
            if len(rs) < 2 or min(rs) <= 0 or max(rs) / min(rs) <= 2.0:
                break
            t0 = time.time()
            _run(fn(*args))
            rs.append(round(time.time() - t0, 3))
        if key is not None:
            last_run[key] = rs[-1]  # final single shot, for drift compare
            query_runs[key] = rs
        return min(rs)

    # a single failing query must never cost the whole artifact (round
    # 8 shipped NO bench json because one tier crashed the process):
    # record the error and keep going — the final line always prints.
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        fn = overrides.get(name) or qs.get(name) or getattr(Q, f"{name}_q", None)
        if fn is None:
            continue
        try:
            timings[name] = _timed_min(fn, spark, sf_dir, key=name)
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:200]

    try:
        timings["imaging_major_cycle"] = _timed_min(major_cycle, spark, sf_dir)
    except Exception as e:
        errors["imaging_major_cycle"] = f"{type(e).__name__}: {e}"[:200]

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
        fn = (major_cycle if name == "imaging_major_cycle"
              else overrides.get(name) or qs.get(name)
              or getattr(Q, f"{name}_q", None))
        if fn is None:
            continue
        try:
            rq: list[float] = []
            for _ in range(max(runs, 4)):  # the adjudication min-of-4
                t0 = time.time()
                _run(fn(spark, sf_dir))
                rq.append(round(time.time() - t0, 3))
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
    _run(qs["q1_pricing_summary"](spark, sf_dir))
    q1_end = round(time.time() - t0, 3)
    noise = {
        "q1_rerun_end_sec": q1_end,
        "q1_drift": round(q1_end / last_run["q1_pricing_summary"], 3)
        if last_run.get("q1_pricing_summary") else None,
        "runs_per_query": runs,
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
        # every later tier (ladder/contract) ConnectionRefused'd.
        try:
            spark.catalog.clearCache()
            chiles = _chiles_tier(sf_dir, cpus, gc_quiet, spark=spark)
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

    # Diagnostic tiers (ladder/recall/store): skip what no longer fits
    # the outer window instead of letting the whole artifact rc=124 —
    # the driver records a skipped tier, not a missing bench. Budget is
    # wall-clock since the main session started, parameterised for
    # slower hosts; the per-query tier and chiles above always run.
    bench_deadline = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE",
                                          "2700"))

    def _over_budget(tier: str):
        elapsed = time.time() - t_bench0
        if elapsed <= bench_deadline:
            return None
        return {"skipped": f"bench deadline: {elapsed:.0f}s elapsed > "
                           f"{bench_deadline:.0f}s budget before {tier}"}

    ladder = None
    ladder_mult = int(os.environ.get("SPARK_GRAFT_LADDER", "10"))
    if ladder_mult > 1:
        try:
            ladder = _over_budget("ladder")
            if ladder is None:
                spark.catalog.clearCache()
                ladder = run_ladder(spark, sf_dir, ladder_mult)
        except Exception as e:  # ladder is diagnostic: never break bench
            ladder = {"error": f"{type(e).__name__}: {e}"}

    pipeline_sf1 = None
    if ladder_mult > 1:
        try:
            pipeline_sf1 = _over_budget("pipeline_sf1")
            if pipeline_sf1 is None:
                spark.catalog.clearCache()
                pipeline_sf1 = run_pipeline_sf1(spark, sf_dir,
                                                ladder_mult)
        except Exception as e:  # diagnostic: never break bench
            pipeline_sf1 = {"error": f"{type(e).__name__}: {e}"}

    ivfpq_curve = None
    if ladder_mult > 1:
        try:
            ivfpq_curve = _over_budget("ivfpq_recall_curve")
            if ivfpq_curve is None:
                spark.catalog.clearCache()
                ivfpq_curve = run_ivfpq_recall_curve(spark, sf_dir,
                                                     ladder_mult)
        except Exception as e:  # diagnostic: never break bench
            ivfpq_curve = {"error": f"{type(e).__name__}: {e}"}

    ann_contract = None
    if ladder_mult > 1:
        try:
            ann_contract = _over_budget("ann_recall_contract")
            if ann_contract is None:
                spark.catalog.clearCache()
                ann_contract = run_ann_recall_contract(spark, sf_dir,
                                                       ladder_mult)
        except Exception as e:  # diagnostic: never break bench
            ann_contract = {"error": f"{type(e).__name__}: {e}"}

    store_serving = None
    if ladder_mult > 1:
        try:
            store_serving = _over_budget("store_serving")
            if store_serving is None:
                spark.catalog.clearCache()
                store_serving = run_store_serving_ladder(spark, sf_dir,
                                                         ladder_mult)
        except Exception as e:  # diagnostic: never break bench
            store_serving = {"error": f"{type(e).__name__}: {e}"}

    ladder_100x = None
    if int(os.environ.get("SPARK_GRAFT_LADDER100", "1")):
        try:
            ladder_100x = _over_budget("ladder_100x")
            if ladder_100x is None:
                spark.catalog.clearCache()
                ladder_100x = run_ladder_100x(spark, sf_dir)
        except Exception as e:  # diagnostic: never break bench
            ladder_100x = {"error": f"{type(e).__name__}: {e}"}

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
        "ladder": ladder,
        "ladder_100x": ladder_100x,
        "pipeline_sf1": pipeline_sf1,
        "ivfpq_recall_curve": ivfpq_curve,
        "ann_recall_contract": ann_contract,
        "store_serving": store_serving,
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
        "pipeline_sf1": (pipeline_sf1 or {}).get("sec"),
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


def _chiles_tier(sf_dir: str, cpus: int, gc_quiet: dict,
                 spark=None) -> dict:
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
                                     extra_conf=gc_quiet)
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
    elif "--chiles100" in sys.argv:
        Q.PRECISE = False
        try:
            print(json.dumps(chiles100_tier(skew="--skew" in sys.argv)))
        except Exception as e:
            print(json.dumps(
                {"error": f"{type(e).__name__}: {e}"[:300]}))
            sys.exit(1)
    elif ("--spans1000" in sys.argv or "--pipeline100" in sys.argv
          or "--decade3" in sys.argv):
        # opt-in third-decade tiers (round-12 verdict #2/#3): own
        # session, one JSON line — the caller commits the artifact.
        # `--decade3 <query>` runs the generic 1000x rung for any
        # documents-shaped ladder query (r13: minhash_lsh_candidates)
        Q.PRECISE = False
        _sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        _cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        _s = initialize_framework(
            cores=_cpus, app_name="bench_decade3",
            shuffle_partitions=_cpus,
            extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable",
                        "spark.ui.retainedStages": "100000"})
        try:
            if "--decade3" in sys.argv:
                _op = sys.argv[sys.argv.index("--decade3") + 1]
                print(json.dumps(run_decade3(_s, _sf, _op)))
            else:
                tier = (run_spans_decade3 if "--spans1000" in sys.argv
                        else run_pipeline_100x)
                print(json.dumps(tier(_s, _sf)))
        except Exception as e:
            print(json.dumps(
                {"error": f"{type(e).__name__}: {e}"[:300]}))
            sys.exit(1)
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
            print(json.dumps(_chiles_tier(
                _sf, _cpus,
                {"spark.driver.extraJavaOptions": "-Xlog:disable"})))
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
