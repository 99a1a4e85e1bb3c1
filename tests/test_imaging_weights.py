"""Imaging weights vs an independent numpy spec of the reference's
1-tap Hermitian weight grid + briggs degrid
(make_imaging_weight.py:100-260, SG:380-560)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cngi_prototype_spark.imaging.grid import C_M_S, GridParms
from cngi_prototype_spark.imaging.weights import make_imaging_weight

GP = GridParms(n_u=32, n_v=32, cell_u=2.0e-5, cell_v=2.0e-5, support=1, oversampling=0)


def numpy_imaging_weight(pdf: pd.DataFrame, gp: GridParms, weighting: str, robust: float):
    grids: dict[tuple[int, int], np.ndarray] = {}
    for r in pdf.itertuples():
        if not r.weight or np.isnan(r.weight):
            continue
        us = r.u * (-(r.freq * gp.cell_u * gp.n_u) / C_M_S)
        vs = r.v * (-(r.freq * gp.cell_v * gp.n_v) / C_M_S)
        g = grids.setdefault((r.chan, r.pol), np.zeros((gp.n_u, gp.n_v)))
        for uu, vv in [(us, vs), (-us, -vs)]:
            ci, cj = int(np.floor(uu + gp.n_u // 2 + 0.5)), int(np.floor(vv + gp.n_v // 2 + 0.5))
            if 0 <= ci < gp.n_u and 0 <= cj < gp.n_v:
                g[ci, cj] += r.weight
    out = []
    for r in pdf.itertuples():
        w = r.weight
        key = (r.chan, r.pol)
        if key in grids and w and not np.isnan(w):
            g = grids[key]
            if weighting == "uniform":
                f1, f2 = 1.0, 0.0
            elif weighting == "briggs_abs":
                f1, f2 = robust ** 2, 2.0
            else:
                f1 = (5.0 * 10.0 ** (-robust)) ** 2 * g.sum() / (g ** 2).sum()
                f2 = 1.0
            us = r.u * (-(r.freq * gp.cell_u * gp.n_u) / C_M_S)
            vs = r.v * (-(r.freq * gp.cell_v * gp.n_v) / C_M_S)
            ci, cj = int(np.floor(us + gp.n_u // 2 + 0.5)), int(np.floor(vs + gp.n_v // 2 + 0.5))
            if 0 <= ci < gp.n_u and 0 <= cj < gp.n_v and g[ci, cj] != 0:
                w = w / (f1 * g[ci, cj] + f2)
        out.append(w)
    return np.array(out)


@pytest.fixture(scope="module")
def vis_pdf():
    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame({
        "rid": np.arange(n),
        "u": rng.uniform(-40, 40, n),
        "v": rng.uniform(-40, 40, n),
        "freq": np.full(n, 1.0e9),
        "chan": rng.integers(0, 2, n).astype(np.int32),
        "pol": rng.integers(0, 2, n).astype(np.int32),
        "weight": rng.integers(1, 6, n).astype(np.float64),
    })
    pdf.loc[3, "weight"] = 0.0
    return pdf


@pytest.mark.parametrize("weighting,robust", [("briggs", 0.5), ("briggs", -1.0), ("uniform", 0.0),
                                              ("briggs_abs", 0.7)])
def test_imaging_weight_matches_spec(spark, vis_pdf, weighting, robust):
    df = spark.createDataFrame(vis_pdf).repartition(4)
    out = make_imaging_weight(df, GP, weighting=weighting, robust=robust)
    got = out.select("rid", "imaging_weight").toPandas().sort_values("rid")
    exp = numpy_imaging_weight(vis_pdf, GP, weighting, robust)
    np.testing.assert_allclose(got["imaging_weight"].to_numpy(), exp, rtol=1e-12)


def test_natural_weight_is_identity(spark, vis_pdf):
    df = spark.createDataFrame(vis_pdf)
    out = make_imaging_weight(df, GP, weighting="natural")
    got = out.select("rid", "imaging_weight").toPandas().sort_values("rid")
    np.testing.assert_array_equal(got["imaging_weight"].to_numpy(), vis_pdf["weight"].to_numpy())


@pytest.mark.parametrize("weighting", ["briggs", "uniform", "briggs_abs"])
def test_imaging_builders_launch_no_jobs(spark, vis_pdf, weighting):
    """make_imaging_weight and the dense-planes make_image only describe
    work: no checkpoint of the weight grid, no partition-count probe of
    the weighted input (which would run its query stages at build)."""
    from cngi_prototype_spark.imaging.image import make_image
    from cngi_prototype_spark.plans import build_jobs

    df = spark.createDataFrame(vis_pdf.assign(
        data_re=1.0, data_im=0.0)).repartition(3)
    weighted, jobs = build_jobs(spark, lambda: make_imaging_weight(
        df, GP, weighting=weighting, robust=0.5))
    assert jobs == 0
    gp = GridParms(n_u=32, n_v=32, cell_u=2.0e-5, cell_v=2.0e-5,
                   support=3, oversampling=10)
    planes, jobs = build_jobs(spark, lambda: make_image(
        weighted, gp, image_size=(16, 16), weight="imaging_weight",
        variant="kernel", n_planes=4, output="planes"))
    assert jobs == 0
    assert len(planes.toPandas()) == 4


def test_unknown_weighting_raises_before_building(spark, vis_pdf):
    from cngi_prototype_spark.plans import build_jobs

    df = spark.createDataFrame(vis_pdf).repartition(3)

    def build():
        with pytest.raises(ValueError, match="unknown weighting"):
            make_imaging_weight(df, GP, weighting="bogus")

    assert build_jobs(spark, build)[1] == 0
