"""Imaging weights vs an independent numpy spec of the reference's
1-tap Hermitian weight grid + briggs degrid
(make_imaging_weight.py:100-260, SG:380-560)."""

from __future__ import annotations

import re

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


# the dense-planes image grid of the builder tests below
GP_IMG = GridParms(n_u=32, n_v=32, cell_u=2.0e-5, cell_v=2.0e-5, support=3,
                   oversampling=10)


def _briggs_planes(df, **names):
    from cngi_prototype_spark.imaging.image import make_image

    weighted = make_imaging_weight(df, GP, weighting="briggs", robust=0.5,
                                   **names)
    u = {"u": names["u"]} if "u" in names else {}
    planes = make_image(weighted, GP_IMG, image_size=(16, 16),
                        weight="imaging_weight", variant="kernel",
                        n_planes=4, output="planes", **u)
    return weighted, planes


def test_imaging_builders_jvm_round_trips(spark, vis_pdf):
    """Briggs weights + the dense-planes image build in at most 1,500
    py4j commands and no Spark job. Spelled as Column operator chains
    (each call wrapped in PySpark's call-site tracking) the same build
    sent about 4,100."""
    from cngi_prototype_spark.plans import build_cost

    df = spark.createDataFrame(vis_pdf.assign(
        data_re=1.0, data_im=0.0)).repartition(3)
    (_, planes), jobs, calls = build_cost(spark, lambda: _briggs_planes(df))
    assert jobs == 0
    assert calls <= 1500, calls
    assert len(planes.toPandas()) == 4


def test_column_names_are_quoted_into_the_builders(spark, vis_pdf):
    """Names reach the builders' SQL text through ``lits.ident``: a u
    column named `` `select` `` (backticks included) and a weight
    named ``w eight`` give the plain-name run's weights and planes."""
    base = vis_pdf.assign(data_re=1.0, data_im=0.0)

    def run(pdf, **names):
        weighted, planes = _briggs_planes(spark.createDataFrame(pdf), **names)
        iw = (weighted.select("rid", "imaging_weight").toPandas()
              .sort_values("rid")["imaging_weight"].to_numpy())
        return iw, planes.toPandas().sort_values(["chan", "pol"])

    iw0, p0 = run(base)
    iw1, p1 = run(base.rename(columns={"u": "`select`", "weight": "w eight"}),
                  u="`select`", weight="w eight")
    np.testing.assert_allclose(iw1, iw0, rtol=1e-12)
    assert len(p1) == len(p0) == 4
    for a, b in zip(p0.image, p1.image):
        np.testing.assert_allclose(b, a, rtol=1e-12, atol=1e-15)


def test_unknown_weighting_raises_before_building(spark, vis_pdf):
    from cngi_prototype_spark.plans import build_jobs

    df = spark.createDataFrame(vis_pdf).repartition(3)

    def build():
        with pytest.raises(ValueError, match="unknown weighting"):
            make_imaging_weight(df, GP, weighting="bogus")

    assert build_jobs(spark, build)[1] == 0


def _join_keys_and_broadcast_bytes(spark, df):
    """Execute ``df``; return its executed joins' ``(left, right)`` key
    lists and the BroadcastExchange ``data size`` SQL metrics, in
    bytes, of that execution."""
    from cngi_prototype_spark.plans import explain_formatted

    df.collect()
    plan = explain_formatted(df)
    joins = re.findall(r"Left keys \[\d+\]: \[([^\]]*)\]\nRight keys \[\d+\]: "
                       r"\[([^\]]*)\]", plan)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    eid = max(execs.apply(i).executionId() for i in range(execs.size()))
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    unit = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30}
    sizes = []
    for k in range(nodes.size()):
        node = nodes.apply(k)
        if not node.name().startswith("BroadcastExchange"):
            continue
        ms = node.metrics()
        for j in range(ms.size()):
            if ms.apply(j).name() == "data size":
                num, u = values.get(ms.apply(j).accumulatorId()).get().split()
                sizes.append(float(num.replace(",", "")) * unit[u])
    return [(a.split(", "), b.split(", ")) for a, b in joins], sizes


def _assert_one_long_key(joins):
    """Every join keys on one LongType attribute (``name#idL``)."""
    assert joins
    for left, right in joins:
        assert len(left) == len(right) == 1, (left, right)
        assert re.fullmatch(r"\w+#\d+L", left[0]), left
        assert re.fullmatch(r"\w+#\d+L", right[0]), right


def test_weights_read_back_joins_on_one_long_key(spark, vis_pdf):
    """The degrid read-back joins on one packed long, so the broadcast
    grid is a LongHashedRelation:
    four int keys build an UnsafeHashedRelation around a whole 64 MiB
    memory page even for a few hundred grid rows."""
    df = spark.createDataFrame(vis_pdf).repartition(4)
    joins, sizes = _join_keys_and_broadcast_bytes(
        spark, make_imaging_weight(df, GP, weighting="briggs", robust=0.5))
    _assert_one_long_key(joins)
    assert sizes and max(sizes) < 16 << 20, sizes


@pytest.mark.parametrize("col,value", [("pol", 16), ("chan", -1)])
def test_ids_outside_the_packed_key_raise(spark, vis_pdf, col, value):
    from pyspark.errors import PySparkException

    pdf = vis_pdf.copy()
    pdf.loc[7, col] = value
    df = spark.createDataFrame(pdf)
    out = make_imaging_weight(df, GP, weighting="uniform")
    with pytest.raises(PySparkException,
                       match=r"need 0 <= pol < 16 and 0 <= chan <= 2147483647"):
        out.collect()


def test_null_ids_and_off_grid_cells_keep_their_weight(spark, vis_pdf):
    pdf = vis_pdf.head(40).astype({"chan": "Int32", "pol": "Int32"})
    pdf.loc[1, "chan"] = pd.NA
    pdf.loc[2, "pol"] = pd.NA
    pdf.loc[4, ["u", "v"]] = 20000.0  # both arms far off the 32-cell grid
    got = (make_imaging_weight(spark.createDataFrame(pdf), GP,
                               weighting="uniform")
           .select("rid", "imaging_weight").toPandas()
           .set_index("rid")["imaging_weight"])
    for rid in (1, 2, 4):
        assert got[rid] == pdf.loc[rid, "weight"]
    rest = pdf.drop(index=[1, 2]).astype({"chan": np.int32, "pol": np.int32})
    np.testing.assert_allclose(got[rest["rid"]].to_numpy(),
                               numpy_imaging_weight(rest, GP, "uniform", 0.0),
                               rtol=1e-12)


def test_imaging_weight_shuffle_branch_matches_spec(spark):
    """A grid above ``_BROADCAST_CELLS`` is not broadcast-hinted. With
    Spark's own size-based broadcast off (this input is tiny), the
    read-back is a shuffled join on the one packed long and matches
    the numpy spec."""
    from cngi_prototype_spark.imaging.weights import _BROADCAST_CELLS

    gp = GridParms(n_u=4096, n_v=2048, cell_u=2.0e-5, cell_v=2.0e-5,
                   support=1, oversampling=0)
    assert gp.n_u * gp.n_v > _BROADCAST_CELLS
    rng = np.random.default_rng(5)
    n = 300
    pdf = pd.DataFrame({
        "rid": np.arange(n),
        "u": rng.uniform(-30, 30, n),
        "v": rng.uniform(-30, 30, n),
        "freq": np.full(n, 1.0e9),
        "chan": rng.integers(0, 2, n).astype(np.int32),
        "pol": np.zeros(n, np.int32),
        "weight": rng.integers(1, 6, n).astype(np.float64),
    })
    df = spark.createDataFrame(pdf).repartition(4)
    out = make_imaging_weight(df, gp, weighting="briggs", robust=0.5)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        joins, sizes = _join_keys_and_broadcast_bytes(spark, out)
        got = (out.select("rid", "imaging_weight").toPandas()
               .sort_values("rid"))
    finally:
        spark.conf.set(key, prev)
    assert not sizes  # no BroadcastExchange: a shuffled join
    _assert_one_long_key(joins)
    exp = numpy_imaging_weight(pdf, gp, "briggs", 0.5)
    np.testing.assert_allclose(got["imaging_weight"].to_numpy(), exp, rtol=1e-12)
