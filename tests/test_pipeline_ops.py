import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from cngi_prototype_spark.dedup.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from cngi_prototype_spark.multimodal.media import (
    decode_media,
    documents_as_media,
    media_features,
    sample_frames,
)
from cngi_prototype_spark.similarity.ann import brute_force_topk, cosine_pairs
from cngi_prototype_spark.text.analysis import text_features


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),  # dup of 0
        (2, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near-dup
        (3, "el perro come la comida de la casa y no quiere salir con nadie", "es"),
        (4, "completely different words entirely unrelated content here now", "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_exact_dedup(docs):
    out = exact_dedup(docs).toPandas()
    assert len(out) == 4  # doc 0 and 1 collapse
    dup = out[out.n_copies == 2]
    assert len(dup) == 1 and dup.iloc[0]["canonical_id"] == 0


def test_minhash_identical_docs_same_signature(docs):
    sigs = minhash_signatures(docs).toPandas().set_index("doc_id")
    assert (sigs.loc[0] == sigs.loc[1]).all()
    # near-dup shares most hashes, unrelated shares none
    shared_near = (sigs.loc[0] == sigs.loc[2]).sum()
    shared_far = (sigs.loc[0] == sigs.loc[4]).sum()
    assert shared_near > shared_far


def test_lsh_candidates_find_dups(docs):
    cands = minhash_lsh_candidates(docs).toPandas()
    pairs = set(map(tuple, cands.values.tolist()))
    assert (0, 1) in pairs


def test_ngram_jaccard(docs):
    out = ngram_jaccard_pairs(docs, threshold=0.3).toPandas()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.itertuples()}
    assert pairs[(0, 1)] == 1.0
    assert 0.3 < pairs[(0, 2)] < 1.0


def test_simhash_hamming(docs):
    fp = simhash_fingerprints(docs).toPandas().set_index("doc_id")["simhash"]
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert ham(fp[0], fp[1]) == 0
    assert ham(fp[0], fp[2]) < ham(fp[0], fp[4])


def test_text_features_langid(docs):
    out = text_features(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "lang_pred"] == "en"
    assert out.loc[3, "lang_pred"] == "es"
    assert out.loc[0, "n_tokens"] == 12
    assert 0.0 <= out["quality"].min() and out["quality"].max() <= 1.0


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(30, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(30), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    out = brute_force_topk(df, df.filter(F.col("vec_id") < 3), k=4).toPandas()
    v = vecs.astype(float)
    sims = v @ v.T / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    for q in range(3):
        s = sims[q].copy()
        s[q] = -np.inf
        exp = np.argsort(-s, kind="stable")[:4]
        got = out[out.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        assert got == exp.tolist()


def test_cosine_pairs_threshold(spark):
    pdf = pd.DataFrame({
        "vec_id": [0, 1, 2],
        "embedding": [[1.0, 0.0], [0.99, 0.14], [0.0, 1.0]],
    })
    out = cosine_pairs(spark.createDataFrame(pdf), threshold=0.9).toPandas()
    assert set(zip(out.id_a, out.id_b)) == {(0, 1)}


def test_multimodal_plumbing(spark, docs):
    media = documents_as_media(docs)
    dec = decode_media(media, fake=True).toPandas()
    assert len(dec) == 5 and (dec.width == 8).all()
    # determinism: identical blobs -> identical pixels
    px = dec.set_index("media_id")["pixels"]
    assert list(px[0]) == list(px[1])
    feats = media_features(media, fake=True).toPandas()
    assert (feats.n_bytes > 0).all() and (feats.byte_entropy > 0).all()
    frames = sample_frames(media, every_n=2, fake=True).toPandas()
    assert len(frames) == 5 * 4  # 8 rows / stride 2 per media
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        decode_media(media, fake=False).collect()


def test_duplicate_clusters_components(spark):
    """Chain a-b-c plus isolated pair d-e: two components, canonical =
    min id; convergence needs >1 label-propagation sweep for the chain."""
    from cngi_prototype_spark.dedup.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 20, 40, 31],
                      "id_b": [20, 30, 50, 10],
                      "jaccard": [0.9, 0.8, 0.7, 0.6]}))
    out = duplicate_clusters(pairs).toPandas().sort_values("doc_id")
    got = dict(zip(out.doc_id, out.canonical_id))
    assert got == {10: 10, 20: 10, 30: 10, 31: 10, 40: 40, 50: 40}


def test_duplicate_clusters_long_chain_converges(spark):
    # a 40-node chain has diameter 39: one-hop propagation would need
    # 39 sweeps, pointer jumping must converge within the default 20
    from cngi_prototype_spark.dedup.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], schema="id_a long, id_b long")
    out = duplicate_clusters(pairs).toPandas()
    assert (out["canonical_id"] == 0).all()
    assert len(out) == 40


def test_ngram_contamination_flags_overlap_and_skips_self(spark):
    from cngi_prototype_spark.dedup.dedup import ngram_contamination
    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a completely different sentence with no overlap here at all"),
        (3, "quick brown fox jumps over something else entirely today"),
        (100, "the quick brown fox jumps over the lazy dog"),  # benchmark
    ], ["doc_id", "text"])
    bench = docs.filter("doc_id >= 100")
    out = ngram_contamination(docs, bench, shingle_n=3,
                              min_overlap=1).toPandas()
    got = {(r.doc_id, r.bench_id): (r.n_overlap, r.doc_ngrams)
           for r in out.itertuples()}
    # doc 1 is an exact copy of the benchmark: all 7 trigrams overlap
    assert got[(1, 100)] == (7, 7)
    # doc 3 shares 'quick brown fox','brown fox jumps','fox jumps over'
    assert got[(3, 100)][0] == 3
    # doc 2 shares nothing; the benchmark doc never flags itself
    assert (2, 100) not in got and (100, 100) not in got
    fr = out.set_index(["doc_id", "bench_id"]).overlap_frac
    assert abs(fr[(1, 100)] - 1.0) < 1e-15
    assert abs(fr[(3, 100)] - 3.0 / 7.0) < 1e-15


def test_ngram_contamination_min_overlap_threshold(spark):
    from cngi_prototype_spark.dedup.dedup import ngram_contamination
    docs = spark.createDataFrame([
        (1, "one two three four five six"),
        (100, "one two three apple banana cherry"),
    ], ["doc_id", "text"])
    bench = docs.filter("doc_id >= 100")
    assert ngram_contamination(docs, bench, shingle_n=3,
                               min_overlap=1).count() == 1
    assert ngram_contamination(docs, bench, shingle_n=3,
                               min_overlap=2).count() == 0


def test_chunk_documents_reconstructs_and_overlaps(spark):
    from cngi_prototype_spark.text.analysis import chunk_documents
    docs = spark.createDataFrame([
        (1, " ".join(f"w{i}" for i in range(13))),
        (2, "short doc"),
        (3, None),
    ], ["doc_id", "text"])
    # no overlap: chunks partition the token sequence exactly
    out = chunk_documents(docs, chunk_tokens=5, overlap=0).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_id")
    assert list(d1.n_chunk_tokens) == [5, 5, 3]
    assert " ".join(d1.chunk_text) == " ".join(f"w{i}" for i in range(13))
    assert list(out[out.doc_id == 2].n_chunk_tokens) == [2]
    assert (out.doc_id != 3).all()  # NULL text -> no rows
    # overlap 2: consecutive chunks share their boundary tokens
    ov = chunk_documents(docs, chunk_tokens=5, overlap=2).toPandas()
    d1 = ov[ov.doc_id == 1].sort_values("chunk_id")
    texts = list(d1.chunk_text)
    for a, b in zip(texts, texts[1:]):
        assert a.split()[-2:] == b.split()[:2]
    # stride=3: starts 0,3,6,9 — ceil((13-2)/3) = 4 chunks, the last
    # covering through token 12 (all tokens appear)
    assert list(d1.n_chunk_tokens) == [5, 5, 5, 4]
    assert texts[-1].split()[-1] == "w12"


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest
    from cngi_prototype_spark.text.analysis import chunk_documents
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_semantic_dedup_groups_within_clusters(spark):
    from cngi_prototype_spark.similarity.ann import semantic_dedup
    # two orthogonal clusters; ids 0,1 near-identical in cluster A,
    # id 2 distinct in A; ids 10,11 near-identical in cluster B
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = [
        (0, [1.0, 0.02, 0.0]), (1, [1.0, 0.021, 0.0]),
        (2, [0.9, -0.4, 0.1]),
        (10, [0.01, 1.0, 0.0]), (11, [0.012, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(df, cents, threshold=0.999).toPandas()
    got = out.set_index("vec_id")
    assert got.loc[0, "cell"] == 0 and got.loc[10, "cell"] == 1
    assert got.loc[1, "canonical_id"] == 0 and not got.loc[1, "is_kept"]
    assert got.loc[11, "canonical_id"] == 10 and not got.loc[11, "is_kept"]
    # singleton keeps itself; cross-cluster near-dups are NOT grouped
    assert got.loc[2, "canonical_id"] == 2 and got.loc[2, "is_kept"]
    assert got.loc[0, "is_kept"] and got.loc[10, "is_kept"]


def test_semantic_dedup_trained_centroids_end_to_end(spark):
    from cngi_prototype_spark.similarity.ann import (
        semantic_dedup, train_ivf_centroids)
    rng = np.random.default_rng(9)
    base = rng.normal(size=(4, 16))
    rows = []
    vid = 0
    for b in base:
        for _ in range(6):  # 6 near-copies of each base vector
            rows.append((vid, (b + 1e-4 * rng.normal(size=16)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_ivf_centroids(df, n_centroids=4, sample=24, iters=5)
    out = semantic_dedup(df, cents, threshold=0.999).toPandas()
    # each 6-copy family collapses to one canonical representative
    assert out.is_kept.sum() == 4
    assert out.groupby("canonical_id").size().tolist() == [6, 6, 6, 6]


def test_semantic_dedup_no_pairs_keeps_everything(spark):
    from cngi_prototype_spark.similarity.ann import semantic_dedup
    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(0, [1.0, 0.1]), (1, [0.1, 1.0]), (2, [0.8, -0.6])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # impossible threshold: zero pairs -> every vector is its own
    # canonical (the empty-component path through duplicate_clusters)
    out = semantic_dedup(df, cents, threshold=1.000001).toPandas()
    assert len(out) == 3 and out.is_kept.all()
    assert (out.vec_id == out.canonical_id).all()


def test_token_frequencies_counts_and_rank(spark):
    from cngi_prototype_spark.text.analysis import token_frequencies
    docs = spark.createDataFrame([
        (1, "a b a c"),
        (2, "a b b"),
    ], ["doc_id", "text"])
    out = token_frequencies(docs).toPandas().set_index("token")
    assert out.loc["a", "n_occurrences"] == 3 and out.loc["a", "n_docs"] == 2
    assert out.loc["b", "n_occurrences"] == 3 and out.loc["b", "n_docs"] == 2
    assert out.loc["c", "n_occurrences"] == 1 and out.loc["c", "n_docs"] == 1
    # total occurrences = total tokens; rank deterministic (count desc,
    # token asc): a(3), b(3), c(1)
    assert out.n_occurrences.sum() == 7
    assert list(out.sort_values("rank").index) == ["a", "b", "c"]
    top = token_frequencies(docs, top_k=2).toPandas()
    assert set(top.token) == {"a", "b"}
    mc = token_frequencies(docs, min_count=2).toPandas()
    assert set(mc.token) == {"a", "b"}


def test_distributed_kmeans_matches_sampled_trainer_semantics(spark):
    from cngi_prototype_spark.similarity.ann import (
        semantic_dedup, train_ivf_centroids, train_kmeans_distributed)
    rng = np.random.default_rng(13)
    base = rng.normal(size=(4, 12))
    rows = []
    vid = 0
    for b in base:
        for _ in range(8):
            rows.append((vid, (b + 1e-4 * rng.normal(size=12)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).persist()
    cd = train_kmeans_distributed(df, n_centroids=4, init_sample=32,
                                  iters=5)
    cs = train_ivf_centroids(df, n_centroids=4, sample=32, iters=5)
    # when the whole corpus fits in the sample, the distributed sweeps
    # see the same data as the driver trainer: identical centroids
    np.testing.assert_allclose(np.asarray(cd), np.asarray(cs), atol=1e-12)
    # and the downstream pipeline collapses the 4 families either way
    out = semantic_dedup(df, cd, threshold=0.999).toPandas()
    df.unpersist()
    assert out.is_kept.sum() == 4
    assert out.groupby("canonical_id").size().tolist() == [8, 8, 8, 8]


def test_arrow_trainer_bit_matches_spark_trainer(spark, tmp_path):
    """train_ivf_centroids_arrow reads the same id-ordered sample from
    parquet and shares the numpy Lloyd core with the Spark-sample
    trainer — the centroids must be BIT-identical (this is what lets
    the static 'semtrained' oracle string embed trained centroids)."""
    from cngi_prototype_spark.similarity.ann import (
        train_ivf_centroids, train_ivf_centroids_arrow)
    rng = np.random.default_rng(7)
    rows = [(int(i), rng.normal(size=16).astype(np.float32).tolist())
            for i in rng.permutation(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "emb.parquet")
    df.coalesce(1).write.parquet(path)
    cs = train_ivf_centroids(df, n_centroids=5, sample=48, iters=6)
    ca = train_ivf_centroids_arrow(path, n_centroids=5, sample=48, iters=6)
    assert np.asarray(cs).tobytes() == np.asarray(ca).tobytes()


def test_arrow_trainer_empty_raises(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from cngi_prototype_spark.similarity.ann import (
        train_ivf_centroids_arrow)
    t = pa.table({"vec_id": pa.array([], pa.int64()),
                  "embedding": pa.array([], pa.list_(pa.float32()))})
    path = str(tmp_path / "empty.parquet")
    pq.write_table(t, path)
    with pytest.raises(ValueError, match="no vectors"):
        train_ivf_centroids_arrow(path)


def test_kmeans_distributed_empty_corpus_raises(spark):
    from cngi_prototype_spark.similarity.ann import (
        train_kmeans_distributed)
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        train_kmeans_distributed(df, n_centroids=4)


def test_large_k_assignment_matches_expression_route(spark):
    """assign_cells / probe_cells above the codegen threshold run a
    broadcast numpy matmul; the chosen cells must equal the unrolled
    expression route (same first-max / dot-desc-cell-asc tie-breaks),
    and the plan must stay O(1) in k (no per-centroid literals)."""
    from cngi_prototype_spark.similarity.ann import (
        assign_cells, probe_cells)
    rng = np.random.default_rng(3)
    cents = [row.tolist() for row in rng.normal(size=(96, 8))]
    rows = [(int(i), rng.normal(size=8).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")

    a_expr = assign_cells(df, cents, vec_col="v", max_codegen_k=1000)
    a_mat = assign_cells(df, cents, vec_col="v", max_codegen_k=64)
    pe = a_expr.toPandas().set_index("vec_id").cell
    pm = a_mat.toPandas().set_index("vec_id").cell
    assert pe.sort_index().tolist() == pm.sort_index().tolist()

    p_expr = probe_cells(df, cents, vec_col="v", nprobe=5,
                         id_cols=["vec_id"], max_codegen_k=1000)
    p_mat = probe_cells(df, cents, vec_col="v", nprobe=5,
                        id_cols=["vec_id"], max_codegen_k=64)
    ge = p_expr.toPandas().groupby("vec_id").cell.apply(list)
    gm = p_mat.toPandas().groupby("vec_id").cell.apply(list)
    for vid in ge.index:
        assert ge[vid] == gm[vid]

    # plan boundedness at production k: the k=4096 assignment plan must
    # not embed per-centroid literal arrays
    big = [row.tolist() for row in rng.normal(size=(4096, 8))]
    plan = assign_cells(df, big, vec_col="v")._jdf.queryExecution() \
        .analyzed().toString()
    assert len(plan) < 20_000
    assert "MapInPandas" in plan


def test_large_k_tie_break_first_max(spark):
    from cngi_prototype_spark.similarity.ann import assign_cells
    # centroids 0 and 70 identical -> first-max picks 0
    c = [[0.0, 1.0]] * 1  + [[1.0, 0.0]] * 69 + [[0.0, 1.0]] * 30
    df = spark.createDataFrame([(1, [0.0, 2.0])],
                               "vec_id long, v array<double>")
    out = assign_cells(df, c, vec_col="v").collect()
    assert out[0].cell == 0


def test_lsh_vectorized_signatures_match_expression_route(spark):
    from cngi_prototype_spark.similarity.ann import cosine_pairs_lsh
    rng = np.random.default_rng(17)
    base = rng.normal(size=(6, 64))
    rows = []
    vid = 0
    for b in base:
        for _ in range(5):
            rows.append((vid, (b + 0.02 * rng.normal(size=64)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.6, dim=64, num_bands=4, planes_per_band=6)
    expr = cosine_pairs_lsh(df, vectorize_above=10 ** 9, **kw)
    vect = cosine_pairs_lsh(df, vectorize_above=0, **kw)
    pe = sorted(map(tuple, expr.collect()))
    pv = sorted(map(tuple, vect.collect()))
    assert pe == pv and len(pe) > 10


def test_scrub_pii_masks_and_counts(spark):
    from cngi_prototype_spark.text.analysis import scrub_pii
    df = spark.createDataFrame(
        [(1, "email a@b.co, ip 10.0.0.1, tel +1 555 123 4567 end"),
         (2, "clean text")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert out[1].text == "email <EMAIL>, ip <IP>, tel <PHONE> end"
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 1)
    assert out[2].text == "clean text" and out[2].n_email == 0
    # kinds subset leaves other spans untouched
    only_mail = scrub_pii(df, kinds=["email"]).collect()[0]
    assert "<EMAIL>" in only_mail.text and "10.0.0.1" in only_mail.text


def test_pool_embeddings_mean_and_max(spark):
    from cngi_prototype_spark.similarity.ann import pool_embeddings
    df = spark.createDataFrame(
        [(0, [1.0, -2.0]), (0, [3.0, 4.0]), (1, [5.0, 6.0])],
        "doc_id long, embedding array<double>")
    mean = {r.doc_id: r for r in pool_embeddings(df).collect()}
    assert mean[0].embedding == [2.0, 1.0] and mean[0].n_pooled == 2
    assert mean[1].embedding == [5.0, 6.0] and mean[1].n_pooled == 1
    mx = {r.doc_id: r for r in
          pool_embeddings(df, method="max").collect()}
    assert mx[0].embedding == [3.0, 4.0]
    with pytest.raises(ValueError, match="mean|max"):
        pool_embeddings(df, method="sum")


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    """Winnowing guarantee: substrings of length >= window+k-1 shared
    between documents produce at least one shared fingerprint; distinct
    texts of length < k produce none."""
    from cngi_prototype_spark.text.analysis import winnow_fingerprints
    df = spark.createDataFrame(
        [(1, "zzz the identical central passage here qqq"),
         (2, "aaa the identical central passage here bbb"),
         (3, "completely different words everywhere now"),
         (4, "ab")],
        ["doc_id", "text"])
    out = winnow_fingerprints(df, k=5, window=4).toPandas()
    fps = {d: set(g.fingerprint) for d, g in out.groupby("doc_id")}
    assert fps[1] & fps[2]  # shared passage -> shared fingerprint
    assert not (fps[1] & fps.get(3, set()) and fps[2] & fps.get(3, set())
                and fps[1] & fps[2] <= fps[3])
    assert 4 not in fps  # too short for any k-gram
    # fingerprints are sparse: far fewer than k-gram count
    n1 = len(df.collect()[0].text)
    assert len(fps[1]) < (n1 - 4) / 2


def test_dedup_corpus_wrapper(spark):
    from cngi_prototype_spark.dedup.dedup import dedup_corpus
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog today"),
         (3, "the quick brown fox jumps over the lazy dog tonight"),
         (4, "entirely different content with no overlap at all")],
        ["doc_id", "text"])
    ex = dedup_corpus(df, method="exact").toPandas().set_index("doc_id")
    assert ex.loc[1].is_kept and not ex.loc[2].is_kept
    assert ex.loc[2].canonical_id == 1
    assert ex.loc[3].is_kept and ex.loc[4].is_kept  # near-dup survives exact
    mh = dedup_corpus(df, method="minhash", threshold=0.5) \
        .toPandas().set_index("doc_id")
    assert mh.loc[1].is_kept and not mh.loc[2].is_kept
    assert not mh.loc[3].is_kept  # near-dup collapses under minhash
    assert mh.loc[3].canonical_id == 1
    assert mh.loc[4].is_kept
    assert len(mh) == 4  # all rows survive with provenance
    with pytest.raises(ValueError, match="exact|minhash"):
        dedup_corpus(df, method="simhash")


def test_filter_documents_funnel(spark):
    from cngi_prototype_spark.text.analysis import (
        filter_documents, filter_report)
    good = ("the quick brown fox jumps over the lazy dog and it is "
            "a fine day for that with plenty of words to say")
    df = spark.createDataFrame(
        [(1, good),
         (2, "too short"),
         (3, good + " contact me a@b.co 10.0.0.1 +1 555 123 4567"),
         (4, "!!!! ???? #### %%%% " * 10)],
        ["doc_id", "text"])
    out = filter_documents(df, min_quality=0.5, max_pii=1,
                           languages=["en", "und"])
    pdf = out.toPandas().set_index("doc_id")
    assert bool(pdf.loc[1].keep)
    assert pdf.loc[2].reason == "length_short"
    assert pdf.loc[3].reason == "pii"
    assert pdf.loc[4].reason == "quality"
    rep = {r.outcome: r.n_docs for r in filter_report(out).collect()}
    assert rep == {"kept": 1, "length_short": 1, "pii": 1,
                   "quality": 1}


def test_winnow_routes_bit_equal(spark):
    from cngi_prototype_spark.text.analysis import winnow_fingerprints
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "héllo wörld ünïcode résumé naïve and ascii mixed in"),
         (3, "xy")],
        ["doc_id", "text"])
    key = ["doc_id", "pos", "fingerprint"]
    a = winnow_fingerprints(df, vectorize_above=10 ** 9) \
        .toPandas().sort_values(key).reset_index(drop=True)
    b = winnow_fingerprints(df, vectorize_above=0) \
        .toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert a.astype("int64").equals(b.astype("int64"))
    with pytest.raises(ValueError, match="k > 7"):
        winnow_fingerprints(df, k=9)


def test_lsh_max_bucket_caps_degenerate_cluster(spark):
    """1000 identical vectors form one degenerate (band, sig) bucket in
    every band: with max_bucket below the cluster size the verify stage
    must skip it (bounded task input — no |bucket|^2 scoring, no
    ~500k output pairs), and cosine_lsh_skipped_vectors must flag every
    member; distinct small clusters still pair normally."""
    from cngi_prototype_spark.similarity.ann import (
        cosine_lsh_skipped_vectors, cosine_pairs_lsh)
    rng = np.random.default_rng(3)
    hot = rng.normal(size=64)
    other = rng.normal(size=64)
    rows = [(i, hot.tolist()) for i in range(1000)]
    rows += [(2000 + j, (other + 1e-3 * rng.normal(size=64)).tolist())
             for j in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=64, num_bands=4, planes_per_band=6,
              n_rows=len(rows), max_bucket=100)
    pairs = cosine_pairs_lsh(df, threshold=0.6, **kw).toPandas()
    # the hot cluster was never scored; the small cluster fully paired
    assert not ((pairs.id_a < 1000) & (pairs.id_b < 1000)).any()
    assert ((pairs.id_a >= 2000) & (pairs.id_b >= 2000)).sum() == 6
    skipped = cosine_lsh_skipped_vectors(df, **kw).toPandas()
    assert set(skipped.vec_id) == set(range(1000))
    assert (skipped.bucket_n == 1000).all()
    # uncapped, the same input yields the quadratic pair set
    kw_open = dict(kw, max_bucket=10 ** 9)
    n_open = cosine_pairs_lsh(df, threshold=0.6, **kw_open).count()
    assert n_open == 1000 * 999 // 2 + 6
    assert cosine_lsh_skipped_vectors(df, **kw_open).count() == 0
    # an n_rows under-estimate (<= max_bucket) only routes the
    # signatures: the cap still holds, and the skipped report still
    # flags the whole 1,000-vector cluster
    kw_under = dict(kw, n_rows=50)
    under = cosine_pairs_lsh(df, threshold=0.6, **kw_under).toPandas()
    assert not ((under.id_a < 1000) & (under.id_b < 1000)).any()
    assert ((under.id_a >= 2000) & (under.id_b >= 2000)).sum() == 6
    skipped = cosine_lsh_skipped_vectors(df, **kw_under).toPandas()
    assert set(skipped.vec_id) == set(range(1000))
    assert (skipped.bucket_n == 1000).all()


def test_lsh_skipped_vectors_same_on_both_signature_routes(spark):
    """The signature route follows a size estimate, so it must not
    change what cosine_lsh_skipped_vectors returns: the fold and the
    vectorized route both emit ``sig`` as the bigint of the band's
    bits, with equal rows."""
    from cngi_prototype_spark.similarity.ann import (
        cosine_lsh_skipped_vectors)
    rng = np.random.default_rng(5)
    hot = rng.normal(size=64)
    rows = [(i, (hot + 1e-6 * rng.normal(size=64)).tolist())
            for i in range(30)]
    rows += [(100 + j, rng.normal(size=64).tolist()) for j in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=64, num_bands=4, planes_per_band=6, max_bucket=5,
              n_rows=len(rows))
    fold = cosine_lsh_skipped_vectors(df, vectorize_above=10 ** 9, **kw)
    vec = cosine_lsh_skipped_vectors(df, vectorize_above=0, **kw)
    assert fold.schema.simpleString() == vec.schema.simpleString()
    assert dict(fold.dtypes)["sig"] == "bigint"
    a, b = sorted(fold.collect()), sorted(vec.collect())
    assert a == b and len(a) >= 30 * 4


def test_tier_routing_n_rows_hint_skips_upstream_eval(spark):
    """With n_rows passed, tier routing must not run ANY job: building
    the plan over a poisoned upstream (raises on execution) succeeds;
    the count() fallback path would detonate it."""
    from cngi_prototype_spark.similarity.ann import cosine_pairs_lsh
    from cngi_prototype_spark.text.analysis import winnow_fingerprints

    docs = spark.createDataFrame([(1, "abcdefghij")], ["doc_id", "text"])

    def boom(_it):
        raise RuntimeError("upstream evaluated during plan construction")
        yield  # pragma: no cover

    poisoned = docs.mapInPandas(boom, docs.schema)
    winnow_fingerprints(poisoned, n_rows=5)            # no job -> no raise
    winnow_fingerprints(poisoned, n_rows=10 ** 6)      # either tier

    emb = spark.createDataFrame([(1, [1.0] * 64)],
                                "vec_id long, embedding array<double>")
    pe = emb.mapInPandas(boom, emb.schema)
    cosine_pairs_lsh(pe, n_rows=5)
    cosine_pairs_lsh(pe, n_rows=10 ** 6)


def test_remove_duplicate_spans_exactsubstr(spark):
    """Token-level duplicate-span removal against a pure-python
    reference: first occurrence survives, later occurrences lose
    exactly their span tokens, overlapping duplicate spans merge via
    the index-set union, short docs pass through untouched."""
    from cngi_prototype_spark.dedup.dedup import remove_duplicate_spans

    boiler = "one two three four five"           # 5-token boilerplate
    docs = [
        (0, f"alpha {boiler} beta"),             # first occurrence: kept
        (1, f"gamma {boiler} delta"),            # dup: span removed
        (2, f"{boiler} {boiler}"),               # two dups, adjacent
        (3, "tiny doc"),                         # shorter than n
        (4, f"eps {boiler} zeta {boiler} eta"),  # two dups in one doc
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           remove_duplicate_spans(df, n=5).collect()}

    def ref():
        toks = {d: [t for t in s.lower().split() if t] for d, s in docs}
        occ = {}
        for d in sorted(toks):
            ts = toks[d]
            for i in range(len(ts) - 4):
                occ.setdefault(tuple(ts[i:i + 5]), []).append((d, i))
        rm = {d: set() for d in toks}
        for g, sites in occ.items():
            for d, i in sites[1:] if len(sites) > 1 else []:
                pass
        for g, sites in occ.items():
            keeper = min(sites)
            for s in sites:
                if s != keeper:
                    rm[s[0]].update(range(s[1], s[1] + 5))
        return {d: " ".join(t for i, t in enumerate(ts)
                            if i not in rm[d])
                for d, ts in toks.items()}

    want = ref()
    for d in want:
        assert out[d].text_dedup == want[d], d
    assert out[0].n_removed == 0
    assert out[1].n_removed == 5
    assert out[2].n_removed >= 5  # at least one whole span gone
    assert out[3].n_removed == 0 and out[3].text_dedup == "tiny doc"
    assert out[4].n_removed == 10


def test_lsh_bucket_cap_prefilters_before_collect(spark):
    """r15 hot-bucket guardrail: when the corpus row estimate exceeds
    ``max_bucket``, the bucket-size filter runs as a window count
    BEFORE collect_list (spillable sort buffer, never an unbounded
    aggregation array), and over-cap buckets' pairs are absent while
    everything else is identical to the uncapped run."""
    from cngi_prototype_spark.plans.inspect import explain_formatted

    rows = ([(i, "the exact same boilerplate text repeated verbatim")
             for i in range(400)]
            + [(1000, "quick brown fox jumps over the lazy dog today"),
               (1001, "quick brown fox jumps over the lazy dog today")])
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = minhash_lsh_candidates(df, max_bucket=100)
    # over-cap (the 400-doc boilerplate bucket) dropped, small pair kept
    got = set(map(tuple, capped.select("id_a", "id_b").collect()))
    assert got == {(1000, 1001)}
    # the guardrail must be a pre-aggregation window count (spillable),
    # not only a post-agg size() filter: Window in the capped plan
    assert "Window" in explain_formatted(capped)

    # uncapped: the boilerplate bucket pairs come back, small pair kept
    # (the window count runs for every max_bucket; test_plan_shapes
    # pins it on a parquet input)
    uncapped = minhash_lsh_candidates(df, max_bucket=10**9)
    all_pairs = set(map(tuple,
                        uncapped.select("id_a", "id_b").collect()))
    assert (1000, 1001) in all_pairs
    assert len(all_pairs) == 400 * 399 // 2 + 1
