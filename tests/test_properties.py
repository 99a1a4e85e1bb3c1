"""Property-based invariants (hypothesis), mirroring the reference's
join/immutability test discipline (tests/test_vis_ddijoin.py:7-413):

- join_vis: merging a dataset with itself is the identity; disjoint
  merges preserve both sides; conflicting overlaps raise.
- time_average: weighted means are bounded by min/max of the inputs and
  exactly reproduce a hand-computed single-group case.
- gridder: linearity — grid(a·X + b·Y) == a·grid(X) + b·grid(Y).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cngi_prototype_spark.imaging.grid import GridParms, grid_visibilities
from cngi_prototype_spark.operators.joins import JoinConflictError, join_vis
from cngi_prototype_spark.schema import VisSchema

VS = VisSchema(time="t", baseline="bl", chan="ch", pol="po",
               data_cols=(("re", "im"),), weight="w", flag="fl",
               scan="sc", state="stt", field="fld")

GP = GridParms(n_u=24, n_v=24, cell_u=5e-5, cell_v=5e-5, support=5, oversampling=20)


def _vis_frame(rows):
    return pd.DataFrame(rows, columns=["t", "bl", "ch", "po", "re", "im",
                                       "w", "fl", "sc", "stt", "fld"])


rows_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 3), st.integers(0, 2),
              st.integers(0, 1),
              st.floats(-10, 10, allow_nan=False),
              st.floats(-10, 10, allow_nan=False)),
    min_size=1, max_size=12, unique_by=lambda r: r[:4])


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows_strategy)
def test_join_vis_self_merge_is_identity(spark, rows):
    pdf = _vis_frame([(*r[:4], r[4], r[5], 1.0, False, 0, 0, 0) for r in rows])
    df = spark.createDataFrame(pdf)
    out = join_vis(df, df, vs=VS).toPandas().sort_values(["t", "bl", "ch", "po"])
    exp = pdf.sort_values(["t", "bl", "ch", "po"])
    assert len(out) == len(exp)
    np.testing.assert_allclose(out["re"].to_numpy(), exp["re"].to_numpy())


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows_strategy)
def test_join_vis_disjoint_union(spark, rows):
    pdf = _vis_frame([(*r[:4], r[4], r[5], 1.0, False, 0, 0, 0) for r in rows])
    shifted = pdf.copy()
    shifted["t"] = shifted["t"] + 100  # disjoint keys
    out = join_vis(spark.createDataFrame(pdf), spark.createDataFrame(shifted),
                   vs=VS).toPandas()
    assert len(out) == 2 * len(pdf)


def test_join_vis_conflict_raises(spark):
    pdf = _vis_frame([(0, 0, 0, 0, 1.0, 0.0, 1.0, False, 0, 0, 0)])
    other = pdf.copy()
    other["re"] = 2.0  # same key, different value -> reference RuntimeError
    with pytest.raises(JoinConflictError):
        join_vis(spark.createDataFrame(pdf), spark.createDataFrame(other),
                 vs=VS, validate=True)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.floats(0.5, 2.0, allow_nan=False),
                          st.floats(-5, 5, allow_nan=False)),
                min_size=2, max_size=10))
def test_weighted_mean_bounded(spark, wx):
    # single group: weighted mean within [min, max] and matches numpy
    from cngi_prototype_spark.operators import averaging as OA

    pdf = pd.DataFrame({
        "time": pd.to_datetime("2024-01-01"),
        "baseline": 0, "chan": 0, "pol": 0,
        "data_re": [x for _, x in wx], "data_im": 0.0,
        "data_weight": [w for w, _ in wx],
        "flag": False, "scan_number": 0, "state_id": 0, "field_id": 0,
    })
    out = OA.time_average(spark.createDataFrame(pdf), width="1 hour").toPandas()
    assert len(out) == 1
    got = out["data_re"].iloc[0]
    exp = np.average([x for _, x in wx], weights=[w for w, _ in wx])
    assert got == pytest.approx(exp, rel=1e-12)
    assert min(x for _, x in wx) - 1e-12 <= got <= max(x for _, x in wx) + 1e-12


def test_gridder_linearity(spark):
    rng = np.random.default_rng(4)
    n = 80
    base = pd.DataFrame({
        "u": rng.uniform(-15, 15, n), "v": rng.uniform(-15, 15, n),
        "freq": np.full(n, 1.0e9),
        "chan": np.zeros(n, np.int32), "pol": np.zeros(n, np.int32),
        "weight": np.ones(n),
    })
    x = rng.normal(size=n)
    y = rng.normal(size=n)
    a, b = 2.5, -1.25

    def grid_of(values):
        pdf = base.assign(data_re=values, data_im=0.0)
        g, _ = grid_visibilities(spark.createDataFrame(pdf), GP)
        out = g.toPandas()
        arr = np.zeros((GP.n_u, GP.n_v))
        arr[out.u_idx, out.v_idx] = out.grid_re
        return arr

    np.testing.assert_allclose(grid_of(a * x + b * y),
                               a * grid_of(x) + b * grid_of(y), atol=1e-9)


@given(st.lists(st.floats(-5, 5, allow_nan=False), min_size=2, max_size=8),
       st.floats(-3e5, 3e5, allow_nan=False))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_reframe_exact_on_linear_spectra(spark, coeffs_like, vel):
    """Linear interpolation reproduces any AFFINE spectrum exactly at
    every in-range output channel, for any velocity shift."""
    from pyspark.sql import functions as F

    from cngi_prototype_spark.operators.reframe import reframe_spectra

    a, b = float(coeffs_like[0]), float(coeffs_like[1])
    n = 24
    df = spark.range(n).select(
        F.lit(0).alias("bl"),
        F.col("id").cast("int").alias("chan"),
        (F.lit(a) + F.lit(b) * F.col("id").cast("double")).alias("data_re"))
    out = reframe_spectra(
        df, keys=("bl",), values=("data_re",), vel=F.lit(float(vel)),
        f0=1.0e9, df_hz=1.0e6, out_f0=1.0e9 + 3.3e5, out_df=9.7e5,
        out_nchan=20, n_in=n).toPandas().dropna(subset=["data_re"])
    # expected: value at the fractional source position p of each out chan
    s = 1.0 - float(vel) / 299792458.0
    for _, r in out.iterrows():
        g = 1.0e9 + 3.3e5 + r.chan * 9.7e5
        p = (g - 1.0e9 * s) / (1.0e6 * s)
        assert abs(r.data_re - (a + b * p)) < 1e-6 * max(1.0, abs(a) + abs(b) * n)


@given(st.lists(st.integers(0, 6), min_size=1, max_size=40))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_stream_running_mean_matches_batch_anywhere(spark, keys_seq):
    """The stateful running mean's final emission equals the batch
    aggregate for ANY key sequence (single-trigger case)."""
    import shutil
    import tempfile

    from cngi_prototype_spark.streaming.stream_ops import stream_running_mean

    tmp = tempfile.mkdtemp()
    try:
        n = len(keys_seq)
        pdf = pd.DataFrame({
            "bl": pd.Series(keys_seq, dtype="int64"),
            "chan": 0, "pol": 0,
            "data_re": np.arange(n, dtype=float),
            "data_im": -np.arange(n, dtype=float),
            "w": 1.0 + (np.arange(n) % 3),
        })
        pdf["chan"] = pdf["chan"].astype("int64")
        pdf["pol"] = pdf["pol"].astype("int64")
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
        q = (stream_running_mean(stream)
             .writeStream.format("memory").queryName("srunp")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM srunp").toPandas()
        exp = (pdf.assign(wr=pdf.data_re * pdf.w)
               .groupby("bl").agg(wr=("wr", "sum"), w=("w", "sum")))
        for bl, r in exp.iterrows():
            g = got[got.bl == bl].iloc[-1]
            assert abs(g.data_re - r.wr / r.w) < 1e-9
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- round-5 operator invariants -------------------------------------------

beam_strategy = st.tuples(st.floats(30.0, 120.0), st.floats(30.0, 120.0),
                          st.floats(0.0, 180.0))


@settings(max_examples=8, deadline=None)
@given(beam_strategy, st.integers(0, 2**31 - 1))
def test_feather_identity_when_high_is_zero(beam, seed):
    # numpy-level invariant of the feather formula: FT identity means
    # high == 0 returns the low map exactly (any beam, any data)
    import numpy as np

    from cngi_prototype_spark.imaging.restore import (
        _beam_transfer, _gaussian_beam_array)
    n = 12
    low = np.random.default_rng(seed).normal(size=(n, n))
    fb = _beam_transfer(_gaussian_beam_array(n, n, beam, (1e-4, 1e-4), "sum"))
    out = np.real(np.fft.ifft2(np.fft.fft2(low) + (1.0 - fb) * np.fft.fft2(np.zeros((n, n)))))
    np.testing.assert_allclose(out, low, atol=1e-12)


@settings(max_examples=6, deadline=None)
@given(st.integers(0, 2**31 - 1), st.floats(0.05, 0.45))
def test_msclean_scale0_equals_hogbom_property(seed, gain):
    # the reference-declared degeneracy holds for ANY plane and gain
    import numpy as np

    from cngi_prototype_spark.imaging.deconvolve import hogbom_clean_plane
    from cngi_prototype_spark.imaging.mtclean import msclean_plane
    n = 16
    rng = np.random.default_rng(seed)
    dirty = rng.normal(size=(n, n))
    x = (np.arange(n) - n // 2)[:, None]
    y = (np.arange(n) - n // 2)[None, :]
    psf = np.exp(-(x * x + y * y) / 4.0)
    m1, r1 = msclean_plane(dirty, psf, scales=[0.0], gain=gain,
                           threshold=0.0, niter=8)
    m2, r2 = hogbom_clean_plane(dirty, psf, gain=gain, threshold=0.0,
                                niter=8)
    np.testing.assert_allclose(m1, m2, atol=1e-9)
    np.testing.assert_allclose(r1, r2, atol=1e-9)


@settings(max_examples=6, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 60))
def test_rm_clean_block_equals_scalar_property(seed, niter):
    import numpy as np

    from cngi_prototype_spark.imaging.rmclean import (
        rm_clean_block, rm_clean_pixel, rmtf_values)
    freqs = {c: 1.0e9 + c * 4.0e7 for c in range(6)}
    phi = np.linspace(-25.0, 25.0, 15)
    rng = np.random.default_rng(seed)
    f = rng.normal(size=(5, phi.size)) + 1j * rng.normal(size=(5, phi.size))
    mat = np.empty((phi.size, phi.size), np.complex128)
    for j in range(phi.size):
        mat[:, j] = rmtf_values(freqs, phi - phi[j])
    mb, rb = rm_clean_block(f, mat, gain=0.2, threshold=0.1, niter=niter)
    for i in range(f.shape[0]):
        mp, rp = rm_clean_pixel(f[i], mat, gain=0.2, threshold=0.1,
                                niter=niter)
        np.testing.assert_array_equal(mb[i], mp)
        np.testing.assert_array_equal(rb[i], rp)


@settings(max_examples=6, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_sd_weight_flux_conservation_interior(seed):
    # pointings whose full kernel footprint is in-bounds contribute
    # exactly w * sum(K) to the weight map (flux conservation)
    import numpy as np
    n = 20
    support, sigma = 2, 1.1
    rng = np.random.default_rng(seed)
    # interior pointing in pixel units
    xl = rng.uniform(support + 1.0, n - support - 2.0)
    xm = rng.uniform(support + 1.0, n - support - 2.0)
    w = rng.uniform(0.5, 2.0)
    bl, bm = int(np.floor(xl + 0.5)), int(np.floor(xm + 0.5))
    total = 0.0
    ksum = 0.0
    for di in range(-support, support + 1):
        for dj in range(-support, support + 1):
            k = np.exp(-(((bl + di) - xl) ** 2 + ((bm + dj) - xm) ** 2)
                       / (2 * sigma ** 2))
            ksum += k
            total += w * k
    assert abs(total - w * ksum) < 1e-12 * max(1.0, abs(total))


def test_stream_grid_accumulate_matches_dense_gridder_skewed_triggers(spark):
    """Three triggers of centrally-condensed (skewed) micro-batches
    accumulated through the streaming state store must reproduce the
    DENSE fast-path gridder on the union of rows — including its fused
    sum-of-weights — so the production scatter tier stays covered under
    incremental state, not just the explode path."""
    import shutil
    import tempfile

    from cngi_prototype_spark.streaming.stream_ops import (
        stream_grid_accumulate)

    gp = GridParms(n_u=32, n_v=32, cell_u=2e-5, cell_v=2e-5,
                   support=5, oversampling=100)
    rng = np.random.default_rng(61)

    def mk(n, sigma):
        # Bates-like central condensation: mean of 4 uniforms
        uu = rng.uniform(-4000 * sigma, 4000 * sigma, (4, n)).mean(0)
        vv = rng.uniform(-4000 * sigma, 4000 * sigma, (4, n)).mean(0)
        return pd.DataFrame({
            "u": uu, "v": vv, "freq": np.full(n, 1.0e9),
            "chan": (np.arange(n) % 2).astype(np.int32),
            "pol": np.zeros(n, np.int32),
            "data_re": rng.normal(size=n), "data_im": rng.normal(size=n),
            "weight": rng.uniform(0.5, 2.0, n),
        })

    batches = [mk(250, 1.0), mk(150, 0.4), mk(200, 0.15)]
    tmp = tempfile.mkdtemp()
    try:
        for i, b in enumerate(batches):
            spark.createDataFrame(b).write.parquet(f"{tmp}/in/f{i}")
        schema = spark.read.parquet(f"{tmp}/in/f0").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*"))
        q = (stream_grid_accumulate(stream, gp)
             .writeStream.format("memory").queryName("sgrid_skew")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM sgrid_skew").toPandas()

        both = pd.concat(batches, ignore_index=True)
        dense, _ = grid_visibilities(
            spark.createDataFrame(both).repartition(6), gp,
            variant="kernel", dense_planes=True, n_planes=2)
        # place the partial u-slabs exactly like image_planes_from_dense
        grids = {}
        sumw = {}
        for r in dense.toPandas().itertuples():
            g = grids.setdefault((r.chan, r.pol),
                                 np.zeros((gp.n_u, gp.n_v), np.complex128))
            arr = (np.asarray(r.grid_re)
                   + 1j * np.asarray(r.grid_im)).reshape(-1, gp.n_v)
            u0 = int(r.u0)
            a0, a1 = max(0, -u0), min(len(arr), gp.n_u - u0)
            g[u0 + a0:u0 + a1] += arr[a0:a1]
            sumw[(r.chan, r.pol)] = (sumw.get((r.chan, r.pol), 0.0)
                                     + r.sum_w_norm)
        for (c, p), g in grids.items():
            sub = got[(got.chan == c) & (got.pol == p)]
            sg = np.zeros((gp.n_u, gp.n_v), complex)
            sg[sub.u_idx, sub.v_idx] = (sub.grid_re.to_numpy()
                                        + 1j * sub.grid_im.to_numpy())
            np.testing.assert_allclose(sg.real, g.real, atol=1e-10)
            np.testing.assert_allclose(sg.imag, g.imag, atol=1e-10)
        # fused sum-of-weights equals the standalone branch
        _, sw_ref = grid_visibilities(spark.createDataFrame(both), gp,
                                      variant="explode")
        for r in sw_ref.toPandas().itertuples():
            assert abs(sumw[(r.chan, r.pol)] - r.sum_weight) < 1e-9
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


words_strategy = st.lists(
    st.sampled_from([f"tok{i}" for i in range(12)]), min_size=1, max_size=40)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(words_strategy, st.integers(2, 7), st.integers(0, 3))
def test_chunk_documents_partition_properties(spark, words, n, overlap):
    """For any doc: chunks cover every token exactly once at overlap=0;
    with overlap, consecutive chunks share exactly `overlap` tokens
    (except a possibly-shorter tail) and re-splicing reproduces the
    doc."""
    from cngi_prototype_spark.text.analysis import chunk_documents
    overlap = min(overlap, n - 1)
    stride = n - overlap
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    out = (chunk_documents(df, chunk_tokens=n, overlap=overlap)
           .toPandas().sort_values("chunk_id"))
    chunks = [c.split(" ") for c in out.chunk_text]
    assert int(out.n_chunk_tokens.sum()) == sum(len(c) for c in chunks)
    # chunk i starts at i*stride and matches the source slice
    for i, c in enumerate(chunks):
        assert c == words[i * stride:i * stride + n]
    # full coverage: the last chunk reaches the final token
    assert (len(chunks) - 1) * stride + len(chunks[-1]) == len(words)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(words_strategy, words_strategy)
def test_contamination_overlap_matches_set_arithmetic(spark, wa, wb):
    """n_overlap equals the exact distinct-trigram set intersection;
    overlap_frac = |A∩B| / |A|."""
    from cngi_prototype_spark.dedup.dedup import ngram_contamination

    def grams(ws):
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    ga, gb = grams(wa), grams(wb)
    df = spark.createDataFrame(
        [(1, " ".join(wa)), (100, " ".join(wb))], ["doc_id", "text"])
    out = ngram_contamination(df, df.filter("doc_id = 100"),
                              shingle_n=3, min_overlap=1).toPandas()
    inter = ga & gb
    if not ga or not inter:
        assert len(out) == 0
    else:
        assert len(out) == 1
        r = out.iloc[0]
        assert (r.doc_id, r.bench_id) == (1, 100)
        assert r.n_overlap == len(inter) and r.doc_ngrams == len(ga)
        assert abs(r.overlap_frac - len(inter) / len(ga)) < 1e-15


@given(st.lists(
    st.tuples(
        st.sampled_from(["a1", "a2", None]),          # antenna key (None = no-time cmd)
        st.integers(0, 50), st.integers(0, 50)),       # raw interval endpoints
    max_size=25))
@settings(max_examples=100, deadline=None)
def test_merge_timerange_cmds_union_property(cmds_raw):
    """Random command lists: the merged list must (a) never grow, (b)
    flag exactly the same set of (key, minute) points as the unmerged
    list — interval coalescing is exact set union over closed
    intervals — and (c) contain no two overlapping/touching intervals
    for the same compound key within one flush group."""
    from cngi_prototype_spark.operators.flags import merge_timerange_cmds

    cmds = []
    for ant, x, y in cmds_raw:
        if ant is None:
            cmds.append({"chan": [x % 5]})  # non-mergeable: flushes
        else:
            cmds.append({"antenna": ant, "time": (min(x, y), max(x, y))})
    merged = merge_timerange_cmds(cmds)
    assert len(merged) <= len(cmds)

    def flagged(cmd_list):
        out = set()
        for c in cmd_list:
            if "time" not in c:
                continue
            s, e = c["time"]
            for t in range(s, e + 1):  # closed interval
                out.add((c.get("antenna"), t))
        return out

    assert flagged(merged) == flagged(cmds)
    # non-mergeable commands pass through verbatim, same multiplicity
    assert ([c for c in merged if "time" not in c]
            == [c for c in cmds if "time" not in c])
    # when every input command is mergeable there is ONE flush group:
    # same-key output intervals must then be pairwise disjoint and
    # non-touching (cross-flush-group overlap is legal — a
    # non-mergeable command in between flushes the buffer to preserve
    # agent ordering, so this check only applies to clean inputs)
    if all("time" in c and c["time"][0] < c["time"][1] for c in cmds):
        from collections import defaultdict
        by_key = defaultdict(list)
        for c in merged:
            by_key[c.get("antenna")].append(c["time"])
        for ivals in by_key.values():
            ivals.sort()
            for (s1, e1), (s2, e2) in zip(ivals, ivals[1:]):
                assert s2 > e1


@given(st.lists(st.integers(0, 5_000_000), min_size=1, max_size=40),
       st.integers(1, 64))
@settings(max_examples=100, deadline=None)
def test_slab_salt_map_invariants(counts, npart):
    """For ANY probed count distribution: every emitted factor is >= 2,
    every group's per-sub-bucket expectation respects the byte budget
    (count/sub <= cap_rows), and no group larger than the fair-share
    trigger survives unsplit unless a single fair share already covers
    it."""
    from cngi_prototype_spark.imaging.grid import _slab_salt_map

    cap = 100_000
    cnts = [((0, 0, i), n) for i, n in enumerate(counts)]
    hot = _slab_salt_map(cnts, npart, cap_rows=cap)
    total = sum(counts)
    fair = max(1.0, total / npart)
    for key, n in cnts:
        sub = hot.get(key, 1)
        assert sub >= 1 and (key not in hot or sub >= 2)
        assert n / sub <= cap  # byte budget holds, NOT npart-bounded
        if n > 0.75 * fair:
            # fairness split engaged (npart-bounded) or byte split won
            assert sub >= min(npart, -(-n // max(1, int(fair / 2.0))))


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24), h=st.integers(1, 24),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(w, h, ch, seed):
    """decode_png(png_bytes(a)) == a for every 8-bit shape the pair
    supports, including 1-pixel edges and single-row/column rasters."""
    from cngi_prototype_spark.functions.png import decode_png, png_bytes

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    a = rng.integers(0, 256, size=shape, dtype=np.uint8)
    out = decode_png(png_bytes(a))
    assert out.shape == a.shape and (out == a).all()


# ---------------------------------------------------------------------------
# BM25 / LM scoring: random-corpus parity with pure-python references
# (the fixed-fixture tests in test_retrieval.py / test_lm.py pin the
# formulas; these sweep adversarial token layouts — empty docs,
# repeated tokens, every-doc-identical corpora)

_word = st.sampled_from(["a", "b", "cc", "ddd", "e", "ff", "g"])
_doc = st.lists(_word, min_size=0, max_size=8).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=8)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus)
def test_bm25_property_matches_reference(spark, texts):
    import math

    from cngi_prototype_spark.text.retrieval import bm25_topk

    docs = list(enumerate(texts))
    queries = [(0, "a cc"), (1, "ddd g b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.query_id, r.doc_id): r.score
           for r in bm25_topk(df, queries, top_n=100).collect()}

    toks = {d: (t.lower().strip().split() or [""]) for d, t in docs}
    n = len(toks)
    dl = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dl.values()) / n
    dfreq: dict[str, int] = {}
    for t in toks.values():
        for term in set(t):
            dfreq[term] = dfreq.get(term, 0) + 1
    want: dict[tuple[int, int], float] = {}
    for qid, qtext in queries:
        for term in set(qtext.split()):
            if term not in dfreq:
                continue
            idf = math.log(1.0 + (n - dfreq[term] + 0.5)
                           / (dfreq[term] + 0.5))
            for d, t in toks.items():
                tf = t.count(term)
                if tf:
                    tfn = (tf * 2.2) / (tf + 1.2 * (0.25
                                                    + 0.75 * dl[d] / avgdl))
                    want[(qid, d)] = want.get((qid, d), 0.0) + idf * tfn
    assert set(got) == set(want)
    for key, v in want.items():
        assert got[key] == pytest.approx(v, rel=1e-9)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus)
def test_lm_property_matches_reference(spark, texts):
    import math

    from cngi_prototype_spark.text.lm import lm_doc_logprob

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.logprob)
           for r in lm_doc_logprob(df).collect()}

    toks = {d: (t.lower().strip().split() or [""]) for d, t in docs}
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    ctx: dict[str, int] = {}
    for t in toks.values():
        for w in t:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
            ctx[a] = ctx.get(a, 0) + 1
    n = sum(uni.values())
    for d, t in toks.items():
        s = 0.0
        for i, w in enumerate(t):
            if i == 0:
                p = uni[w] / n
            elif (t[i - 1], w) in bi:
                p = bi[(t[i - 1], w)] / ctx[t[i - 1]]
            else:
                p = 0.4 * uni[w] / n
            s += math.log(p)
        assert got[d][0] == len(t)
        assert got[d][1] == pytest.approx(s, rel=1e-9, abs=1e-12)
