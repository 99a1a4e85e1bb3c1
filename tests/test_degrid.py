"""Degrid + model-vis prediction: numpy-spec match and FFT round trip."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cngi_prototype_spark.imaging.degrid import (
    degrid_visibilities,
    model_image_to_grid,
    predict_modelvis_image,
)
from cngi_prototype_spark.imaging.grid import C_M_S, GridParms
from cngi_prototype_spark.imaging.image import image_from_grid
from cngi_prototype_spark.imaging.kernels import pswf_kernel_1d

GP = GridParms(n_u=32, n_v=32, cell_u=4.0e-5, cell_v=4.0e-5, support=7, oversampling=100)


def numpy_degrid(vis: pd.DataFrame, grid: dict, gp: GridParms):
    cgk = pswf_kernel_1d(gp.oversampling, gp.support)
    half = gp.half
    out = []
    for r in vis.itertuples():
        u_pos = r.u * (-(r.freq * gp.cell_u * gp.n_u) / C_M_S) + gp.n_u // 2
        v_pos = r.v * (-(r.freq * gp.cell_v * gp.n_v) / C_M_S) + gp.n_v // 2
        u_c, v_c = int(u_pos + 0.5), int(v_pos + 0.5)
        if not (u_c + half < gp.n_u and u_c - half >= 0
                and v_c + half < gp.n_v and v_c - half >= 0):
            out.append(None)
            continue
        du = int(np.floor((u_c - u_pos) * gp.oversampling + 0.5))
        dv = int(np.floor((v_c - v_pos) * gp.oversampling + 0.5))
        g = grid.get((r.chan, r.pol), np.zeros((gp.n_u, gp.n_v), complex))
        acc, norm = 0.0 + 0.0j, 0.0
        for iu in range(-half, gp.support - half):
            cu = cgk[abs(gp.oversampling * iu + du)]
            for iv in range(-half, gp.support - half):
                conv = cu * cgk[abs(gp.oversampling * iv + dv)]
                acc += conv * g[u_c + iu, v_c + iv]
                norm += conv
        out.append(acc / norm if norm > 0 else None)
    return out


@pytest.mark.parametrize("variant", ["explode", "kernel"])
def test_degrid_matches_numpy_spec(spark, variant):
    rng = np.random.default_rng(6)
    grid = {(0, 0): (rng.normal(size=(32, 32)) + 1j * rng.normal(size=(32, 32)))}
    ui, vi = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    grid_pdf = pd.DataFrame({
        "chan": 0, "pol": 0,
        "u_idx": ui.ravel(), "v_idx": vi.ravel(),
        "grid_re": grid[(0, 0)].real.ravel(), "grid_im": grid[(0, 0)].imag.ravel(),
    })
    n = 200
    vis = pd.DataFrame({
        "row_id": np.arange(n),
        "u": rng.uniform(-45, 45, n), "v": rng.uniform(-45, 45, n),
        "freq": np.full(n, 1.0e9), "chan": np.zeros(n, np.int32),
        "pol": np.zeros(n, np.int32),
    })
    out = degrid_visibilities(spark.createDataFrame(vis),
                              spark.createDataFrame(grid_pdf), GP,
                              variant=variant) \
        .toPandas().sort_values("row_id")
    # the kernel path sums the support^2 taps in numpy gather order,
    # not the reference loop order — same terms, looser float bound
    tol = 1e-10 if variant == "explode" else 1e-9
    exp = numpy_degrid(vis, grid, GP)
    for got_re, got_im, e in zip(out.model_re, out.model_im, exp):
        if e is None:
            assert pd.isna(got_re) and pd.isna(got_im)
        else:
            assert got_re == pytest.approx(e.real, abs=tol)
            assert got_im == pytest.approx(e.imag, abs=tol)


def test_model_image_grid_roundtrip(spark):
    rng = np.random.default_rng(12)
    img = np.zeros((32, 32))
    img[10, 20] = 3.0
    img[16, 16] = 1.5
    li, mi = np.nonzero(img)
    pdf = pd.DataFrame({"chan": 0, "pol": 0, "l_idx": li, "m_idx": mi,
                        "model": img[li, mi]})
    grid = model_image_to_grid(spark.createDataFrame(pdf), GP)
    # physical convention: image_from_grid inverts at sum_weight = Npad
    sumw = spark.createDataFrame(pd.DataFrame(
        {"chan": [0], "pol": [0], "sum_weight": [float(32 * 32)]}))
    back = image_from_grid(grid, sumw, GP, out="model").toPandas()
    got = np.zeros((32, 32))
    got[back.l_idx, back.m_idx] = back.model
    np.testing.assert_allclose(got, img, atol=1e-9)


def test_predict_modelvis_point_source_amplitude(spark):
    # a single point source at the phase center produces constant-amplitude
    # model visibilities equal to its flux (within kernel interpolation err)
    pdf = pd.DataFrame({"chan": [0], "pol": [0], "l_idx": [16], "m_idx": [16],
                        "model": [2.0]})
    rng = np.random.default_rng(1)
    n = 50
    vis = pd.DataFrame({
        "row_id": np.arange(n),
        "u": rng.uniform(-30, 30, n), "v": rng.uniform(-30, 30, n),
        "freq": np.full(n, 1.0e9), "chan": np.zeros(n, np.int32),
        "pol": np.zeros(n, np.int32),
    })
    out = predict_modelvis_image(spark.createDataFrame(pdf),
                                 spark.createDataFrame(vis), GP).toPandas()
    amp = np.hypot(out.model_re, out.model_im)
    ok = ~pd.isna(out.model_re)
    assert ok.sum() > 30
    np.testing.assert_allclose(amp[ok], 2.0, rtol=0.05)


@pytest.mark.parametrize("slab_w", [8, 64])
def test_degrid_kernel_variant_matches_explode(spark, slab_w):
    """The dense-slab cogroup path must reproduce the explode path
    (and the numpy spec) for every row, including out-of-bounds NULLs,
    empty-grid-cell regions, multiple planes, and slab-halo crossings
    (slab_w=8 puts kernel footprints across slab boundaries)."""
    rng = np.random.default_rng(13)
    grid = {(c, p): (rng.normal(size=(32, 32))
                     + 1j * rng.normal(size=(32, 32)))
            for c in range(2) for p in range(2)}
    frames = []
    for (c, p), g in grid.items():
        ui, vi = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        keep = rng.random(ui.size) < 0.7  # sparse grid: missing cells
        frames.append(pd.DataFrame({
            "chan": c, "pol": p,
            "u_idx": ui.ravel()[keep], "v_idx": vi.ravel()[keep],
            "grid_re": g.real.ravel()[keep],
            "grid_im": g.imag.ravel()[keep]}))
        g.real.ravel()[~keep] = 0.0  # spec: absent cell == 0
        g.imag.ravel()[~keep] = 0.0
    grid_pdf = pd.concat(frames, ignore_index=True)
    n = 400
    vis = pd.DataFrame({
        "row_id": np.arange(n),
        # +-6000 m maps to u_pos 16 +- 25.6 cells: a real mix of
        # in-bounds rows and out-of-bounds NULLs
        "u": rng.uniform(-6e3, 6e3, n), "v": rng.uniform(-6e3, 6e3, n),
        "freq": np.full(n, 1.0e9),
        "chan": rng.integers(0, 2, n).astype(np.int32),
        "pol": rng.integers(0, 2, n).astype(np.int32),
    })
    vdf = spark.createDataFrame(vis)
    gdf = spark.createDataFrame(grid_pdf)
    key = "row_id"
    a = degrid_visibilities(vdf, gdf, GP, variant="explode").toPandas() \
        .sort_values(key).reset_index(drop=True)
    b = degrid_visibilities(vdf, gdf, GP, variant="kernel",
                            slab_w=slab_w).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) == n
    assert (a.model_re.isna() == b.model_re.isna()).all()
    m = ~a.model_re.isna()
    assert np.allclose(a.model_re[m], b.model_re[m], rtol=0, atol=1e-9)
    assert np.allclose(a.model_im[m], b.model_im[m], rtol=0, atol=1e-9)
    assert m.sum() > 100 and (~m).sum() > 10  # both regimes exercised


@pytest.mark.parametrize("ov", [256, 300])
def test_degrid_kernel_matches_explode_past_255_oversampling(spark, ov):
    """Fractional offsets reach ov//2 + 1: at oversampling 256 and 300
    they pass +-128, and the kernel path still reads the right kernel
    factors (the gridder's reachable-offset LUT)."""
    gp = GridParms(n_u=32, n_v=32, cell_u=4.0e-5, cell_v=4.0e-5,
                   support=7, oversampling=ov)
    rng = np.random.default_rng(ov)
    ui, vi = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    zeros = np.zeros(ui.size, np.int32)
    gdf = spark.createDataFrame(pd.DataFrame({
        "chan": zeros, "pol": zeros,
        "u_idx": ui.ravel().astype(np.int32),
        "v_idx": vi.ravel().astype(np.int32),
        "grid_re": rng.normal(size=ui.size),
        "grid_im": rng.normal(size=ui.size)}))
    n = 300
    vdf = spark.createDataFrame(pd.DataFrame({
        "row_id": np.arange(n),
        "u": rng.uniform(-2.5e3, 2.5e3, n),
        "v": rng.uniform(-2.5e3, 2.5e3, n),
        "freq": np.full(n, 1.0e9), "chan": zeros[:n], "pol": zeros[:n]}))
    a = degrid_visibilities(vdf, gdf, gp, variant="explode").toPandas() \
        .sort_values("row_id").reset_index(drop=True)
    b = degrid_visibilities(vdf, gdf, gp, variant="kernel").toPandas() \
        .sort_values("row_id").reset_index(drop=True)
    assert len(a) == len(b) == n and a.model_re.notna().sum() > 200
    assert (a.model_re.isna() == b.model_re.isna()).all()
    m = a.model_re.notna()
    assert np.allclose(a.model_re[m], b.model_re[m], rtol=0, atol=1e-9)
    assert np.allclose(a.model_im[m], b.model_im[m], rtol=0, atol=1e-9)


def test_degrid_kernel_hot_slab_valve_matches_explode(spark):
    """Centrally-condensed uv (every real array's regime) piles the
    rows into the central slabs; salt_probe must sub-bucket those
    groups (grid slab replicated per sub-bucket) WITHOUT changing any
    value vs the explode oracle — a split group's rows each still see
    the full halo slab, so the gather is bucket-invariant."""
    rng = np.random.default_rng(21)
    g = rng.normal(size=(32, 32)) + 1j * rng.normal(size=(32, 32))
    ui, vi = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    grid_pdf = pd.DataFrame({
        "chan": 0, "pol": 0, "u_idx": ui.ravel(), "v_idx": vi.ravel(),
        "grid_re": g.real.ravel(), "grid_im": g.imag.ravel()})
    n = 600
    # near-Gaussian central condensation: sigma ~12% of the span
    vis = pd.DataFrame({
        "row_id": np.arange(n),
        "u": rng.normal(0, 700, n), "v": rng.normal(0, 700, n),
        "freq": np.full(n, 1.0e9), "chan": np.zeros(n, np.int32),
        "pol": np.zeros(n, np.int32),
    })
    vdf, gdf = spark.createDataFrame(vis), spark.createDataFrame(grid_pdf)
    a = degrid_visibilities(vdf, gdf, GP, variant="explode").toPandas() \
        .sort_values("row_id").reset_index(drop=True)
    b = degrid_visibilities(vdf, gdf, GP, variant="kernel", slab_w=8,
                            salt_probe=True).toPandas() \
        .sort_values("row_id").reset_index(drop=True)
    assert len(a) == len(b) == n
    assert (a.model_re.isna() == b.model_re.isna()).all()
    m = ~a.model_re.isna()
    assert m.sum() > 300
    assert np.allclose(a.model_re[m], b.model_re[m], rtol=0, atol=1e-9)
    assert np.allclose(a.model_im[m], b.model_im[m], rtol=0, atol=1e-9)


def test_degrid_default_routes_to_kernel_and_precise_to_explode(spark):
    """Production callers get the dense-slab cogroup path by default
    (the path you'd run at 100×); precise=True — the quantized oracle
    form, defined on the explode path only — forces explode whatever
    the variant argument says."""
    from cngi_prototype_spark.plans import explain_formatted

    vis = pd.DataFrame({
        "row_id": np.arange(8), "u": np.linspace(-20, 20, 8),
        "v": np.linspace(-20, 20, 8), "freq": np.full(8, 1.0e9),
        "chan": np.zeros(8, np.int32), "pol": np.zeros(8, np.int32)})
    grid_pdf = pd.DataFrame({
        "chan": [0], "pol": [0], "u_idx": [16], "v_idx": [16],
        "grid_re": [1.0], "grid_im": [0.0]})
    vdf, gdf = spark.createDataFrame(vis), spark.createDataFrame(grid_pdf)
    default_plan = explain_formatted(degrid_visibilities(vdf, gdf, GP))
    assert "FlatMapCoGroups" in default_plan
    precise_plan = explain_formatted(
        degrid_visibilities(vdf, gdf, GP, precise=True, variant="kernel"))
    assert "FlatMapCoGroups" not in precise_plan


def test_slab_salt_map_bounds_group_size():
    """The probe splits (a) straggler groups past a core's fair share
    — npart-bounded — and (b) any group whose pandas frame would
    outgrow the byte budget, NOT npart-bounded."""
    from cngi_prototype_spark.imaging.grid import _slab_salt_map

    # fairness: 1 hot group among uniform cold ones
    cnts = [((0, 0, s), 100) for s in range(16)] + [((0, 0, 99), 3200)]
    hot = _slab_salt_map(cnts, npart=8)
    assert set(hot) == {(0, 0, 99)}
    assert 2 <= hot[(0, 0, 99)] <= 8  # npart-bounded
    # every split group's share is now under the fair share
    assert 3200 / hot[(0, 0, 99)] <= sum(n for _, n in cnts) / 8
    # bytes: a single giant group must split past npart if needed
    giant = [((0, 0, 0), 50_000_000)]
    hot = _slab_salt_map(giant, npart=8, cap_rows=1_000_000)
    assert hot[(0, 0, 0)] == 50  # ceil(50M / 1M), ignores npart
    # no splits when groups sit well under the fair share (the normal
    # regime: #slabs > npart, uniform coverage)
    assert _slab_salt_map([((0, 0, s), 100) for s in range(16)], 8) == {}


def test_degrid_kernel_carries_payload_no_rowid_join(spark):
    """r14 plan shape: the kernel path carries the payload THROUGH the
    cogroup and unions the out-of-bounds rows back — no row_id
    re-shuffle (SortMergeJoin/ShuffledHashJoin) anywhere in the plan.
    Payload columns (including a non-numeric one) must survive
    bit-identical next to the models, on both in- and out-of-bounds
    rows."""
    from cngi_prototype_spark.plans import explain_formatted

    rng = np.random.default_rng(7)
    n = 120
    # ±6000 m: a real mix of in-bounds rows and out-of-bounds NULLs
    vis = pd.DataFrame({
        "row_id": np.arange(n),
        "u": rng.uniform(-6e3, 6e3, n), "v": rng.uniform(-6e3, 6e3, n),
        "freq": np.full(n, 1.0e9),
        "chan": np.zeros(n, np.int32), "pol": np.zeros(n, np.int32),
        "data_re": rng.normal(size=n), "data_im": rng.normal(size=n),
        "tag": [f"t{i%5}" for i in range(n)],
    })
    grid_pdf = pd.DataFrame({
        "chan": [0], "pol": [0], "u_idx": [16], "v_idx": [16],
        "grid_re": [1.0], "grid_im": [0.0]})
    vdf, gdf = spark.createDataFrame(vis), spark.createDataFrame(grid_pdf)
    df = degrid_visibilities(vdf, gdf, GP, variant="kernel")
    plan = explain_formatted(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "FlatMapCoGroups" in plan and "Union" in plan
    out = df.toPandas().sort_values("row_id").reset_index(drop=True)
    assert len(out) == n
    assert list(out.columns) == list(vis.columns) + ["model_re", "model_im"]
    for c in ["u", "v", "data_re", "data_im"]:
        np.testing.assert_array_equal(out[c].to_numpy(), vis[c].to_numpy())
    assert (out["tag"] == vis["tag"]).all()
    # both regimes present; OOB rows have NULL models with intact payload
    assert out.model_re.isna().any() and (~out.model_re.isna()).any()


def test_degrid_kernel_payload_lossless_nullable_bigint(spark):
    """ADVICE r14 (high): the pandas cogroup coerced a NULLABLE int64
    payload column to float64 (a NULL forces the dtype), silently
    corrupting values past 2^53. The r15 applyInArrow kernel passes
    payload columns through as raw Arrow arrays — a nullable bigint
    near 2^60 must come back bit-identical, nulls included, on both
    in-bounds and out-of-bounds rows."""
    import pyspark.sql.types as T

    rng = np.random.default_rng(11)
    n = 64
    base = 1 << 60
    big = [None if i % 7 == 0 else base + i * 1_000_003 + 1
           for i in range(n)]
    rows = [
        (i, float(rng.uniform(-6e3, 6e3)), float(rng.uniform(-6e3, 6e3)),
         1.0e9, 0, 0, float(rng.normal()), float(rng.normal()), big[i])
        for i in range(n)
    ]
    schema = T.StructType([
        T.StructField("row_id", T.LongType(), False),
        T.StructField("u", T.DoubleType()), T.StructField("v", T.DoubleType()),
        T.StructField("freq", T.DoubleType()),
        T.StructField("chan", T.IntegerType()),
        T.StructField("pol", T.IntegerType()),
        T.StructField("data_re", T.DoubleType()),
        T.StructField("data_im", T.DoubleType()),
        T.StructField("big_tag", T.LongType(), True),  # nullable bigint
    ])
    vdf = spark.createDataFrame(rows, schema)
    gdf = spark.createDataFrame(
        pd.DataFrame({"chan": [0], "pol": [0], "u_idx": [16],
                      "v_idx": [16], "grid_re": [1.0], "grid_im": [0.0]}))
    out = degrid_visibilities(vdf, gdf, GP, variant="kernel")
    assert dict(out.dtypes)["big_tag"] == "bigint"  # no float64 coercion
    got = {r["row_id"]: r["big_tag"] for r in out.collect()}
    assert len(got) == n
    for i in range(n):
        assert got[i] == big[i], (i, got[i], big[i])
