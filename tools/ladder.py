#!/usr/bin/env python
"""Scale ladders and retrieval diagnostics, run on demand (bench.py
times only the product).

Each tier times bench queries on replica corpora built from
$SPARK_GRAFT_SF_DIR (default: bench.py's sf0.1 dir) on
local[$SPARK_GRAFT_CPUS], in one session with the bench's settings
(PRECISE off, noop sink, min-of-2 with the >2x steal guard), and the
tool prints ONE JSON line: {"sf_dir", "cpus", <tier>: {...}, ...}. A
tier that raises is recorded as {"error": ...} and the exit code is 1.

Tiers: ladder (10x rung vs sf_dir), pipeline_sf1 (training-data
assembly at 10x), ivfpq_recall_curve, ann_recall_contract (recall
floors at 10x), store_serving (streaming stores vs batch at 10x),
ladder_100x (100x vs 10x).

Usage: SPARK_GRAFT_SF_DIR=... python tools/ladder.py [tier ...]
(no tier = all six)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _run, _timed_min, entry  # noqa: E402
from cngi_prototype_spark import queries as Q  # noqa: E402

# replica multipliers: the 10x rung is the "sf1-equivalent" of the
# sf0.1 bench corpus; the 100x rung is the second measured decade
LADDER_MULT = 10
LADDER100_MULT = 100

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


def _build_ladder_dir(spark, sf_dir: str, mult: int) -> str:
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    # cache key = absolute source dir + its tables' mtimes: a different
    # dir with the same basename, or a regenerated fixture, must NOT
    # replay a stale replica (the symlinked side tables would then point
    # at a different corpus than the replicated ones)
    mtimes = "|".join(
        f"{t}:{os.path.getmtime(os.path.join(sf_dir, t + '.parquet'))}"
        for t in sorted(_LADDER_REPL)
        if os.path.exists(os.path.join(sf_dir, t + ".parquet")))
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{mult}|{mtimes}|v3".encode()
    ).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"sparkgraft_ladder_{key}")
    done = os.path.join(out, "_LADDER_OK")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    ks = F.explode(F.array(*[F.lit(i) for i in range(mult)])).alias("_k")
    for table, idcol in _LADDER_REPL.items():
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
            # bijection per shard up to 26^2; suffix LENGTH encodes the
            # tier, so shards < 26 keep their single-letter text
            # byte-identical to the 10x rung's.
            c1 = F.char(F.lit(97) + F.col("_k") % 26)
            c2 = F.char(F.lit(97) + (F.col("_k") / 26).cast("int") % 26)
            if mult <= 26:
                sfx = c1
            else:
                sfx = F.when(F.col("_k") < 26, c1).otherwise(
                    F.concat(c1, c2))
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
        big.drop("_k").write.mode("overwrite").parquet(
            f"{out}/{table}.parquet")
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
    # the rung has always timed the gate scope (PII-scrub part
    # included), not the bench's text_features_bench_q
    "text_features": Q.text_features_q,
}


def _entry(name: str):
    """A rung's builder: its LADDER_OVERRIDES scope, else the bench's
    (`bench.entry`)."""
    return LADDER_OVERRIDES.get(name) or entry(name)


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


def run_pipeline_sf1(spark, sf_dir: str) -> dict:
    """The sf1 composition number (round-11 stretch): the full
    training-data assembly timed on the ladder's 10x-decorrelated
    replica dir (sf0.1 x 10 = sf1-equivalent rows), min-of-2 with the
    ladder's steal guard."""
    big_dir = _build_ladder_dir(spark, sf_dir, LADDER_MULT)
    fn = _pipeline_training_assembly
    # the codegen/JIT warm run doubles as the counts collection — a
    # separate post-timing execution just for the 1-row aggregate
    # costs another ~50 s of wall at this scale
    row = fn(spark, big_dir).collect()[0]
    sec = _timed_min(fn, spark, big_dir, runs=2)
    n_seq = row["n_sequences"]  # max(seq_id)+1 is NULL on empty packs
    return {"sec": round(sec, 3), "mult": LADDER_MULT,
            "placements": int(row["placements"]),
            "n_sequences": int(n_seq) if n_seq is not None else 0}


def run_ivfpq_recall_curve(spark, sf_dir: str) -> dict:
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

    big_dir = _build_ladder_dir(spark, sf_dir, LADDER_MULT)
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
    return {"mult": LADDER_MULT, "n_cells": 8, "ksub": 32, "k": 5,
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


def run_ann_recall_contract(spark, sf_dir: str) -> dict:
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

    big_dir = _build_ladder_dir(spark, sf_dir, LADDER_MULT)
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
    return {"mult": LADDER_MULT, "k": 5, "n_queries": 10, "nprobe": 3,
            "curves": curves, "contract": checks,
            "ok": all(c["ok"] for c in checks.values())}


def _timed_shuffle(spark, fn, *args) -> tuple[float, float | None]:
    """Min-of-2 wall plus the per-run shuffle-write delta (MB, None
    when the AppStatusStore has no totals) — the byte-level witness
    next to every wall-clock scale number."""
    from cngi_prototype_spark.plans.inspect import shuffle_totals
    rs: list[float] = []
    s0 = shuffle_totals(spark)
    sec = _timed_min(fn, spark, *args, runs=2, rs=rs)
    s1 = shuffle_totals(spark)
    mb = (max(0, s1["write"] - s0["write"]) / len(rs) / 2**20
          if s0 and s1 else None)
    return sec, mb


def run_store_serving(spark, sf_dir: str) -> dict:
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

    big_dir = _build_ladder_dir(spark, sf_dir, LADDER_MULT)
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
                "batch_shuffle_mb": b_mb and round(b_mb, 2),
                "store_shuffle_mb": s_mb and round(s_mb, 2),
                "same_topk": bool(bk == sk),
            }
        return {"mult": LADDER_MULT, "queries": out}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_ladder(spark, sf_dir: str) -> dict:
    big_dir = _build_ladder_dir(spark, sf_dir, LADDER_MULT)
    out: dict[str, dict] = {}
    for name in LADDER_QUERIES:
        fn = _entry(name)
        _run(fn(spark, sf_dir))  # codegen/JIT warm at small scale
        t_small = _timed_min(fn, spark, sf_dir, runs=2)
        t_big = _timed_min(fn, spark, big_dir, runs=2)
        out[name] = {
            "small_sec": round(t_small, 3),
            "big_sec": round(t_big, 3),
            "ratio": round(t_big / t_small, 2),
            # <= ~1.0 means at-or-better-than-linear in rows
            "scaling_efficiency": round(t_big / t_small / LADDER_MULT, 3),
        }
    return {"mult": LADDER_MULT, "queries": out}


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
    default 8g session heap holds — recorded post-tier heap use is in
    the ``memory`` block. `imaging_chiles_frac` is EXCLUDED from this
    shared session: its 10x-fraction input cache alone is ~40 GB
    (512M vis, 96g heap); its committed artifacts are
    CHILES100_OWNRUN_r12.json and CHILES100_OWNRUN_r13.json."""
    big100 = _build_ladder_dir(spark, sf_dir, LADDER100_MULT)
    big10 = _build_ladder_dir(spark, sf_dir, LADDER_MULT)
    decade = LADDER100_MULT / LADDER_MULT
    out: dict[str, dict] = {}
    for name in LADDER100_QUERIES:
        fn = _entry(name)
        # measure BOTH rungs here, back-to-back in the same cache
        # state, rather than reusing the earlier ladder tier's 10x
        # number: round-12 found the reported decade ratio swinging
        # 9.85 <-> 13.17 purely from the denominator being measured
        # minutes earlier under different session state
        _run(fn(spark, big10))  # codegen/JIT warm
        t10, w10 = _timed_shuffle(spark, fn, big10)
        _run(fn(spark, big100))  # warm at the 100x shape
        t100, w100 = _timed_shuffle(spark, fn, big100)
        out[name] = {
            "big10_sec": round(t10, 3),
            "big100_sec": round(t100, 3),
            "ratio_100x_over_10x": round(t100 / t10, 2),
            # <= ~1.0 means at-or-better-than-linear in rows over the
            # second decade
            "scaling_efficiency": round(t100 / t10 / decade, 3),
        }
        # measured shuffle volume per run at each rung: the byte-level
        # witness that "sub-linear time" isn't hiding super-linear
        # shuffle growth (AppStatusStore deltas; wall-time noise-free).
        # Reading the ratios: ~10 = linear in rows; noticeably ABOVE 10
        # demands a diagnosis, not a story — the old span-dedup plan
        # measured 18.6x here and this file first explained it as
        # map-side combine saturating toward a linear no-collapse
        # ceiling; the r13 third-decade rung (DECADE3_r13.json) REFUTED
        # that (16.3x again over the next decade) and the real cause
        # was the plan shuffling the gram stream twice plus exploding
        # the token stream (fixed in dedup.py — keeper election is now
        # an in-stream window min). ~1 (ann_ivfpq) means the op's
        # joins are broadcast and the shuffle is output-sized.
        if w10 is not None and w100 is not None:
            out[name]["shuffle_write_mb_10x"] = round(w10, 2)
            out[name]["shuffle_write_mb_100x"] = round(w100, 2)
            if w10 > 0:
                out[name]["shuffle_growth_100x_over_10x"] = round(
                    w100 / w10, 2)
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return {
        "mult": LADDER100_MULT, "vs_mult": LADDER_MULT, "queries": out,
        "memory": {
            "jvm_heap_used_gb": round(
                (rt.totalMemory() - rt.freeMemory()) / 2**30, 2),
            "jvm_heap_max_gb": round(rt.maxMemory() / 2**30, 2)},
        "excluded": {
            "imaging_chiles_frac": (
                "own-process 10x-fraction tier (rep=5120 -> 512M vis, "
                "~40 GB input cache needs a 96g heap; runner removed, "
                "git keeps it); artifacts: CHILES100_OWNRUN_r12.json "
                "(clean uniform 0.919), CHILES100_OWNRUN_r13.json "
                "(skew rung)")},
    }


TIERS = {
    "ladder": run_ladder,
    "pipeline_sf1": run_pipeline_sf1,
    "ivfpq_recall_curve": run_ivfpq_recall_curve,
    "ann_recall_contract": run_ann_recall_contract,
    "store_serving": run_store_serving,
    "ladder_100x": run_ladder_100x,
}


def main() -> int:
    names = sys.argv[1:] or list(TIERS)
    unknown = [n for n in names if n not in TIERS]
    if unknown:
        print(f"unknown tier(s) {unknown}; choose from {list(TIERS)}",
              file=sys.stderr)
        return 2
    from cngi_prototype_spark.session import initialize_framework

    Q.PRECISE = False
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = initialize_framework(
        cores=cpus, app_name="ladder", shuffle_partitions=cpus,
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable",
                    # keep every stage in the AppStatusStore so the
                    # shuffle-byte deltas never under-count from
                    # eviction (default retention is 1000 stages)
                    "spark.ui.retainedStages": "100000"})
    _run(spark.read.parquet(f"{sf_dir}/region.parquet"))  # JVM warm
    out: dict = {"sf_dir": sf_dir, "cpus": cpus}
    rc = 0
    for name in names:
        spark.catalog.clearCache()
        try:
            out[name] = TIERS[name](spark, sf_dir)
        except Exception as e:  # record the tier's failure, run the rest
            out[name] = {"error": f"{type(e).__name__}: {e}"}
            rc = 1
    print(json.dumps(out))
    return rc


if __name__ == "__main__":
    sys.exit(main())
