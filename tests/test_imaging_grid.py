"""Standard gridder: explode and kernel variants vs a direct numpy spec.

The numpy reference below independently implements the semantics of
``_standard_grid_jit`` (SURVEY.md §2.10; reference SG:242-371): PSWF
taps, int(x+0.5) rounding, center-cell bounds check, zero/NaN skip,
``sum_weight += w·Σconv``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cngi_prototype_spark.imaging.grid import C_M_S, GridParms, grid_visibilities
from cngi_prototype_spark.imaging.kernels import pswf_kernel_1d

GP = GridParms(n_u=48, n_v=40, cell_u=2.0e-5, cell_v=2.0e-5, support=7, oversampling=100)


def numpy_grid(pdf: pd.DataFrame, gp: GridParms):
    cgk = pswf_kernel_1d(gp.oversampling, gp.support)
    grids: dict[tuple[int, int], np.ndarray] = {}
    sumw: dict[tuple[int, int], float] = {}
    half = gp.half
    for row in pdf.itertuples():
        u_pos = row.u * (-(row.freq * gp.cell_u * gp.n_u) / C_M_S) + gp.n_u // 2
        v_pos = row.v * (-(row.freq * gp.cell_v * gp.n_v) / C_M_S) + gp.n_v // 2
        u_c, v_c = int(u_pos + 0.5), int(v_pos + 0.5)
        if not (u_c + half < gp.n_u and u_c - half >= 0
                and v_c + half < gp.n_v and v_c - half >= 0):
            continue
        wd = complex(row.data_re, row.data_im) * row.weight
        if np.isnan(wd) or wd == 0:
            continue
        du = int(np.floor((u_c - u_pos) * gp.oversampling + 0.5))
        dv = int(np.floor((v_c - v_pos) * gp.oversampling + 0.5))
        key = (row.chan, row.pol)
        g = grids.setdefault(key, np.zeros((gp.n_u, gp.n_v), np.complex128))
        norm = 0.0
        for iu in range(-half, gp.support - half):
            cu = cgk[abs(gp.oversampling * iu + du)]
            for iv in range(-half, gp.support - half):
                cv = cgk[abs(gp.oversampling * iv + dv)]
                g[u_c + iu, v_c + iv] += cu * cv * wd
                norm += cu * cv
        sumw[key] = sumw.get(key, 0.0) + row.weight * norm
    return grids, sumw


@pytest.fixture(scope="module")
def vis_pdf():
    rng = np.random.default_rng(7)
    n = 600
    pdf = pd.DataFrame({
        "u": rng.uniform(-60, 60, n),          # meters; some out of bounds
        "v": rng.uniform(-55, 55, n),
        "freq": 1.0e9 + rng.integers(0, 3, n) * 1.0e6,
        "chan": rng.integers(0, 3, n).astype(np.int32),
        "pol": rng.integers(0, 2, n).astype(np.int32),
        "data_re": rng.normal(size=n),
        "data_im": rng.normal(size=n),
        "weight": rng.uniform(0.5, 2.0, n),
    })
    pdf.loc[5, "weight"] = 0.0          # zero-weight skip
    pdf.loc[6, "data_re"] = np.nan      # NaN skip
    return pdf


def _collect_grid(grid_df, sumw_df):
    gpdf = grid_df.toPandas()
    spdf = sumw_df.toPandas()
    grids: dict[tuple[int, int], np.ndarray] = {}
    for row in gpdf.itertuples():
        g = grids.setdefault((row.chan, row.pol), np.zeros((GP.n_u, GP.n_v), np.complex128))
        g[row.u_idx, row.v_idx] = complex(row.grid_re, row.grid_im)
    sumw = {(r.chan, r.pol): r.sum_weight for r in spdf.itertuples()}
    return grids, sumw


@pytest.mark.parametrize("variant", ["explode", "kernel"])
def test_gridder_matches_numpy_spec(spark, vis_pdf, variant):
    df = spark.createDataFrame(vis_pdf).repartition(5)
    grid_df, sumw_df = grid_visibilities(df, GP, variant=variant)
    got_grids, got_sumw = _collect_grid(grid_df, sumw_df)
    exp_grids, exp_sumw = numpy_grid(vis_pdf, GP)

    assert set(got_grids) == set(exp_grids)
    for key in exp_grids:
        np.testing.assert_allclose(got_grids[key], exp_grids[key], atol=1e-9)
    assert set(got_sumw) == set(exp_sumw)
    for key in exp_sumw:
        assert got_sumw[key] == pytest.approx(exp_sumw[key], abs=1e-9)


def test_psf_mode_grids_weights(spark, vis_pdf):
    df = spark.createDataFrame(vis_pdf)
    grid_df, _ = grid_visibilities(df, GP, re=None, im=None)
    got = grid_df.toPandas()
    # psf grid is real-valued: imaginary part identically zero
    assert (got["grid_im"] == 0).all()
    # and equals gridding (weight + 0j) as data with weight 1
    wpdf = vis_pdf.assign(data_re=vis_pdf["weight"], data_im=0.0, weight=1.0)
    exp_grids, _ = numpy_grid(wpdf, GP)
    got_grids, _ = _collect_grid(grid_df, grid_df.groupBy("chan", "pol").count()
                                 .withColumnRenamed("count", "sum_weight"))
    for key in exp_grids:
        np.testing.assert_allclose(got_grids[key].real, exp_grids[key].real, atol=1e-9)


@pytest.mark.parametrize("variant", ["explode", "kernel"])
def test_cancelling_taps_still_emit_touched_cells(spark, variant):
    # two identical uv samples with exactly opposite weighted data: every
    # touched cell sums to exactly 0.0. Both variants must still emit the
    # touched cells (as 0.0 rows) — the kernel variant used to drop them,
    # diverging from the explode variant's row set.
    pdf = pd.DataFrame({
        "u": [10.0, 10.0],
        "v": [5.0, 5.0],
        "freq": [1.0e9, 1.0e9],
        "chan": np.array([0, 0], np.int32),
        "pol": np.array([0, 0], np.int32),
        "data_re": [1.0, -1.0],
        "data_im": [0.5, -0.5],
        "weight": [1.0, 1.0],
    })
    df = spark.createDataFrame(pdf).coalesce(1)
    grid_df, _ = grid_visibilities(df, GP, variant=variant)
    got = grid_df.toPandas()
    assert len(got) == GP.support * GP.support
    assert (got["grid_re"] == 0.0).all() and (got["grid_im"] == 0.0).all()


def test_dense_planes_subsalt_parity(spark):
    """Few planes + many input partitions: each fat row holds one input
    partition's rows of its slab (the collect_list aggregate emits more
    rows than there are slabs, none longer than the largest input
    partition); the gridding task's slab sum must make the result
    identical to the explode variant."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from cngi_prototype_spark.imaging.grid import GridParms, grid_visibilities

    rng = np.random.default_rng(4)
    n = 4000
    pdf = pd.DataFrame({
        "u": rng.uniform(-9000, 9000, n), "v": rng.uniform(-9000, 9000, n),
        "freq": np.full(n, 1.0e9),
        "chan": np.zeros(n, np.int32), "pol": np.zeros(n, np.int32),
        "data_re": rng.normal(size=n), "data_im": rng.normal(size=n),
        "weight": rng.uniform(0.5, 2.0, n),
    })
    gp = GridParms(n_u=64, n_v=64, cell_u=2e-5, cell_v=2e-5,
                   support=7, oversampling=100)
    # 1 plane over 64 one-column slabs, 300 input partitions
    df = spark.createDataFrame(pdf).repartition(300)
    fast, _ = grid_visibilities(df, gp, variant="kernel", n_planes=1,
                                dense_planes=True)
    fp = fast.toPandas()
    # the fat rows: the collect_list aggregate the mapInArrow consumes
    agg = fast._jdf.queryExecution().analyzed().children().apply(0)
    fat = DataFrame(spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, agg), spark)
    sizes = fat.select(F.size("_rows").alias("n")).toPandas()["n"]
    largest = df.groupBy(F.spark_partition_id()).count().agg(
        F.max("count")).first()[0]
    assert len(sizes) > 64
    assert sizes.max() <= largest
    assert len(fp) <= 64, "one partial per slab"
    ref, _ = grid_visibilities(spark.createDataFrame(pdf), gp,
                               variant="explode")
    rp = ref.toPandas()
    g = np.zeros((64, 64), complex)
    for r in fp.itertuples():
        arr = (np.asarray(r.grid_re) + 1j * np.asarray(r.grid_im)
               ).reshape(-1, 64)
        u0 = int(r.u0)
        a0, a1 = max(0, -u0), min(len(arr), 64 - u0)
        g[u0 + a0:u0 + a1] += arr[a0:a1]
    gr = np.zeros((64, 64), complex)
    gr[rp.u_idx, rp.v_idx] = rp.grid_re + 1j * rp.grid_im
    assert np.abs(g - gr).max() < 1e-9


def test_pack_bits_widened_past_24_bits():
    """The packed key's limits come from its 63-bit layout (one chan
    bit at least, the widest slab int32-indexable), not a fixed
    ``bu + bv <= 24``: an 8192 x 4096 grid packs, so does the largest
    plane the FFT consumer holds with room for CHILES's 30 720
    channels; oversampling past the du/dv byte does not."""
    from cngi_prototype_spark.imaging.grid import _pack_bits

    def gp(n_u, n_v, ov=100):
        return GridParms(n_u=n_u, n_v=n_v, cell_u=2e-5, cell_v=2e-5,
                         support=7, oversampling=ov)

    assert _pack_bits(gp(8192, 4096)) == (13, 12)
    bu, bv = _pack_bits(gp(16384, 16384))
    assert 63 - (4 + bu + bv + 16) >= 15 and (1 << 15) > 30720
    assert _pack_bits(gp(65536, 65536)) is None  # slab index past int32
    assert _pack_bits(gp(64, 64, ov=254)) is not None
    assert _pack_bits(gp(64, 64, ov=255)) is None


def test_dense_planes_large_grid_parity(spark):
    """A grid past the old 24-bit packing cap runs the packed
    ``mapInArrow`` gridder and matches the explode variant's cells.
    The vis sit near the grid's high u/v edges (chan 3, pol 1), so
    every packed field uses its top bits."""
    from cngi_prototype_spark.plans import explain_formatted

    gp = GridParms(n_u=8192, n_v=4096, cell_u=2e-5, cell_v=2e-5,
                   support=7, oversampling=100)
    rng = np.random.default_rng(8)
    n = 300
    scale_u = -(1.0e9 * gp.cell_u * gp.n_u) / C_M_S
    scale_v = -(1.0e9 * gp.cell_v * gp.n_v) / C_M_S
    pdf = pd.DataFrame({
        "u": (rng.uniform(7900, 8180, n) - gp.n_u // 2) / scale_u,
        "v": (rng.uniform(10, 4080, n) - gp.n_v // 2) / scale_v,
        "freq": np.full(n, 1.0e9),
        "chan": np.full(n, 3, np.int32), "pol": np.full(n, 1, np.int32),
        "data_re": rng.normal(size=n), "data_im": rng.normal(size=n),
        "weight": rng.uniform(0.5, 2.0, n),
    })
    df = spark.createDataFrame(pdf).repartition(3)
    fast, _ = grid_visibilities(df, gp, variant="kernel", n_planes=1,
                                dense_planes=True)
    assert "MapInArrow" in explain_formatted(fast)
    fp = fast.toPandas()
    assert set(zip(fp.chan, fp.pol)) == {(3, 1)}
    rp = grid_visibilities(df, gp, variant="explode")[0].toPandas()
    assert rp.u_idx.min() > 7800
    # place the slabs (the loop of test_dense_planes_subsalt_parity)
    # into the grid's top rows [ulo, n_u); nothing may land below
    ulo = 7800
    g = np.zeros((gp.n_u - ulo, gp.n_v), complex)
    for r in fp.itertuples():
        arr = (np.asarray(r.grid_re) + 1j * np.asarray(r.grid_im)
               ).reshape(-1, gp.n_v)
        u0 = int(r.u0)
        a0, a1 = max(0, ulo - u0), min(len(arr), gp.n_u - u0)
        assert not arr[:a0].any()
        g[u0 + a0 - ulo:u0 + a1 - ulo] += arr[a0:a1]
    gr = np.zeros_like(g)
    gr[rp.u_idx - ulo, rp.v_idx] = rp.grid_re + 1j * rp.grid_im
    assert np.abs(g - gr).max() < 1e-9


def test_dense_planes_unpackable_raises_at_build(spark):
    """Where the key can't pack (oversampling past the du/dv byte),
    ``dense_planes=True`` fails at build — no Spark job — and points
    at the sparse-cell output."""
    from cngi_prototype_spark.plans.inspect import build_jobs

    gp = GridParms(n_u=64, n_v=64, cell_u=2e-5, cell_v=2e-5,
                   support=7, oversampling=255)
    df = spark.createDataFrame(pd.DataFrame({
        "u": [10.0], "v": [20.0], "freq": [1.0e9],
        "chan": np.zeros(1, np.int32), "pol": np.zeros(1, np.int32),
        "data_re": [1.0], "data_im": [0.0], "weight": [1.0]}))

    def build():
        with pytest.raises(ValueError, match="output='cells'"):
            grid_visibilities(df, gp, variant="kernel", n_planes=1,
                              dense_planes=True)

    assert build_jobs(spark, build)[1] == 0


def test_dense_gridder_pol_overflow_raises(spark, vis_pdf):
    """pol must fit the packed key's 4 bits: pol=16 fails the dense
    gridder's run with the message naming the bounds."""
    from pyspark.errors import PySparkException

    from cngi_prototype_spark.imaging.image import make_image

    pdf = vis_pdf.copy()
    pdf.loc[7, "pol"] = 16
    gp = GridParms(n_u=32, n_v=32, cell_u=2.0e-5, cell_v=2.0e-5,
                   support=3, oversampling=10)
    planes = make_image(spark.createDataFrame(pdf), gp, image_size=(16, 16),
                        weight="weight", variant="kernel", n_planes=4,
                        output="planes")
    with pytest.raises(PySparkException,
                       match=r"dense gridder packed key overflow: need "
                             r"0 <= pol < 16 and 0 <= chan <= \d+"):
        planes.collect()


def test_fused_sumw_matches_standalone(spark, vis_pdf):
    """r14: ``fuse_sumw=True`` replaces the standalone sum-of-weights
    pass with per-cell center-tap partials EMBEDDED in the grid rows
    (the dense path's sum_w_norm design). Grid cells must be IDENTICAL
    (same aggregation), the partials non-null (int64 across Arrow in
    precise mode), and the rollup sum_weight bit-identical in precise
    mode (same BIGINT quanta, one final divide) / allclose in double
    mode (association moves from the (du, dv) pre-reduce to per-cell
    partials)."""
    df = spark.createDataFrame(vis_pdf).repartition(5)
    for precise in (True, False):
        g0, s0 = grid_visibilities(df, GP, variant="explode",
                                   precise=precise)
        g1, s1 = grid_visibilities(df, GP, variant="explode",
                                   precise=precise, fuse_sumw=True)
        assert g1.columns == g0.columns + ["_swc"]
        a = {(r.chan, r.pol): r.sum_weight for r in s0.toPandas().itertuples()}
        b = {(r.chan, r.pol): r.sum_weight for r in s1.toPandas().itertuples()}
        assert set(a) == set(b)
        for k in a:
            if precise:
                assert a[k] == b[k], "precise sum_weight must be bit-equal"
            else:
                assert a[k] == pytest.approx(b[k], rel=1e-12)
        key = ["chan", "pol", "u_idx", "v_idx"]
        p0 = g0.toPandas().sort_values(key).reset_index(drop=True)
        p1 = g1.toPandas().sort_values(key).reset_index(drop=True)
        assert len(p0) == len(p1)
        assert (p0[key].to_numpy() == p1[key].to_numpy()).all()
        assert (p0.grid_re.to_numpy() == p1.grid_re.to_numpy()).all()
        assert (p0.grid_im.to_numpy() == p1.grid_im.to_numpy()).all()
        # partials: non-null, exact dtype contract, and their plane sum
        # IS the standalone sum_weight
        swc = p1["_swc"]
        assert not swc.isna().any()
        import pandas.api.types as pt
        assert pt.is_integer_dtype(swc.dtype) == precise
        for k in a:
            mask = (p1.chan == k[0]) & (p1.pol == k[1])
            tot = swc[mask].sum()
            tot = float(int(tot)) / 1.0e9 if precise else float(tot)
            if precise:
                assert tot == a[k]
            else:
                assert tot == pytest.approx(a[k], rel=1e-12)


def test_fused_sumw_with_psf_matches_standalone(spark, vis_pdf):
    """r14: the with_psf fused-gridding path under ``fuse_sumw=True``
    keeps sum_weight AND sum_weight_psf (weight-valid row set) right."""
    df = spark.createDataFrame(vis_pdf)
    g0, s0 = grid_visibilities(df, GP, variant="explode", with_psf=True)
    g1, s1 = grid_visibilities(df, GP, variant="explode", with_psf=True,
                               fuse_sumw=True)
    assert g1.columns == g0.columns + ["_swc", "_swpc"]
    a = {(r.chan, r.pol): (r.sum_weight, r.sum_weight_psf)
         for r in s0.toPandas().itertuples()}
    b = {(r.chan, r.pol): (r.sum_weight, r.sum_weight_psf)
         for r in s1.toPandas().itertuples()}
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == pytest.approx(b[k][0], rel=1e-12)
        assert a[k][1] == pytest.approx(b[k][1], rel=1e-12)


def _sorted_cells(df):
    key = ["chan", "pol", "u_idx", "v_idx"]
    return df.toPandas().sort_values(key).reset_index(drop=True)


def test_kernel_cells_keep_any_integer_id(spark, vis_pdf):
    """chan and pol travel as their own columns through the kernel
    cells pass: negative, past-1e6 and past-int32 ids come back in
    their own planes and types, exactly where the explode variant puts
    them (a packed ``chan * 1e6 + pol`` key mapped (0, -1) to
    (-1, 999999) and (2, 1000001) to (3, 1))."""
    pdf = vis_pdf.assign(
        chan=np.array([0, 2, 1 << 40])[vis_pdf["chan"]],
        pol=np.array([-1, 1000001], np.int32)[vis_pdf["pol"]])
    df = spark.createDataFrame(pdf).repartition(3)
    k, _ = grid_visibilities(df, GP, variant="kernel")
    e, _ = grid_visibilities(df, GP, variant="explode")
    assert k.schema["chan"].dataType == e.schema["chan"].dataType
    assert k.schema["pol"].dataType == e.schema["pol"].dataType
    kp, ep = _sorted_cells(k), _sorted_cells(e)
    assert set(zip(kp.chan, kp.pol)) == {
        (c, p) for c in (0, 2, 1 << 40) for p in (-1, 1000001)}
    key = ["chan", "pol", "u_idx", "v_idx"]
    assert (kp[key].to_numpy() == ep[key].to_numpy()).all()
    np.testing.assert_allclose(kp.grid_re, ep.grid_re, rtol=0, atol=1e-9)
    np.testing.assert_allclose(kp.grid_im, ep.grid_im, rtol=0, atol=1e-9)


def test_precise_kernel_cells_bit_equal_explode(spark, vis_pdf):
    """Precise mode sums the explode/oracle int64 quanta, so the kernel
    cells equal the explode cells bit for bit on a 5-partition input
    spanning 3 chans x 2 pols."""
    df = spark.createDataFrame(vis_pdf).repartition(5)
    kp = _sorted_cells(grid_visibilities(df, GP, variant="kernel",
                                         precise=True)[0])
    ep = _sorted_cells(grid_visibilities(df, GP, variant="explode",
                                         precise=True)[0])
    assert len(set(zip(kp.chan, kp.pol))) == 6
    assert kp.equals(ep)


def test_kernel_cells_match_explode_past_255_oversampling(spark, vis_pdf):
    """The cells pass reads the reachable-offset LUT, so an
    oversampling past the packed planes' byte still grids right."""
    gp = GridParms(n_u=48, n_v=40, cell_u=2.0e-5, cell_v=2.0e-5,
                   support=7, oversampling=300)
    df = spark.createDataFrame(vis_pdf).repartition(3)
    kp = _sorted_cells(grid_visibilities(df, gp, variant="kernel")[0])
    ep = _sorted_cells(grid_visibilities(df, gp, variant="explode")[0])
    key = ["chan", "pol", "u_idx", "v_idx"]
    assert len(kp) > 0 and (kp[key].to_numpy() == ep[key].to_numpy()).all()
    np.testing.assert_allclose(kp.grid_re, ep.grid_re, rtol=0, atol=1e-9)
    np.testing.assert_allclose(kp.grid_im, ep.grid_im, rtol=0, atol=1e-9)


def test_kernel_cells_null_chan_raises(spark, vis_pdf):
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    df = spark.createDataFrame(vis_pdf).withColumn(
        "chan", F.when(F.col("chan") != 1, F.col("chan")))
    grid, _ = grid_visibilities(df, GP, variant="kernel")
    with pytest.raises(PySparkException,
                       match="kernel gridder: null chan or pol id"):
        grid.collect()
