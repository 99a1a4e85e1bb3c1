import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from cngi_prototype_spark.operators import averaging as OA
from tests.fixtures import make_vis_pdf

TOL = 1e-8  # compare_xds tolerance (reference tests/test_ms_conversion.py:11-33)


def _pd_wmean(g: pd.DataFrame, v: str) -> float:
    m = g[v].notna()
    if not m.any():
        return np.nan
    return float((g.loc[m, v] * g.loc[m, "data_weight"]).sum() / g.loc[m, "data_weight"].sum())


def test_chan_average_matches_pandas(vis_df):
    width = 4
    out = OA.chan_average(vis_df, width=width).toPandas()
    pdf = make_vis_pdf()
    pdf["cbin"] = (pdf["chan"] // width) * width
    exp = (
        pdf.groupby(["time", "baseline", "cbin", "pol"])
        .apply(lambda g: _pd_wmean(g, "data_re"), include_groups=False)
        .rename("exp_re")
        .reset_index()
    )
    merged = out.merge(
        exp, left_on=["time", "baseline", "chan", "pol"],
        right_on=["time", "baseline", "cbin", "pol"], how="outer",
    )
    assert len(merged) == len(exp) == len(out)
    d = (merged["data_re"] - merged["exp_re"]).abs().fillna(0)
    assert d.max() < TOL


def test_chan_average_bin_count(vis_df):
    out = OA.chan_average(vis_df, width=4)
    assert out.select("chan").distinct().count() == 2  # 8 chans / 4
    assert out.count() == vis_df.select("time", "baseline", "pol").distinct().count() * 2


def test_time_average_width_matches_pandas(vis_df):
    out = OA.time_average(vis_df, width="40 seconds").toPandas()
    pdf = make_vis_pdf()
    pdf["tbin"] = pdf["time"].dt.floor("40s")
    exp = (
        pdf.groupby(["tbin", "baseline", "chan", "pol"])
        .apply(lambda g: _pd_wmean(g, "data_im"), include_groups=False)
        .rename("exp_im")
        .reset_index()
    )
    merged = out.merge(
        exp, left_on=["time", "baseline", "chan", "pol"],
        right_on=["tbin", "baseline", "chan", "pol"],
    )
    assert len(merged) == len(out) == len(exp)
    d = (merged["data_im"] - merged["exp_im"]).abs().fillna(0)
    assert d.max() < TOL


def test_time_average_bin_span_state(vis_df):
    # bin=3 adjacent times grouped by scan_number: bins never cross scans
    out = OA.time_average(vis_df, bin=3, span="state")
    pairs = out.select("scan_number", "time").distinct().toPandas()
    pdf = make_vis_pdf()
    scan_of_time = pdf.groupby("time")["scan_number"].first()
    # every output bin-start time belongs to its scan
    for _, row in pairs.iterrows():
        assert scan_of_time[row["time"]] == row["scan_number"]
    # 10 times per scan, bin 3 -> ceil(10/3)=4 bins per scan, 2 scans
    assert len(pairs) == 8


def test_time_average_weight_sum(vis_df):
    out = OA.time_average(vis_df, bin=20)  # all times -> one bin
    pdf = make_vis_pdf()
    got = out.agg(F.sum("data_weight")).first()[0]
    # the WEIGHT variable itself has no holes -> plain total, matching the
    # reference's sum() of weights over the cube
    exp = pdf["data_weight"].sum()
    assert abs(got - exp) < 1e-6


def test_rebin(vis_df):
    out = OA.rebin(
        vis_df, axis="chan", factor=2,
        group_cols=["time", "baseline", "chan", "pol"],
        value_cols=["data_re"],
    )
    assert out.select("chan").distinct().count() == 4


def test_time_average_bin_span_none_no_global_sort(vis_df, spark):
    import pandas as pd
    from cngi_prototype_spark.plans import explain_formatted

    out = OA.time_average(vis_df, bin=4, span="none")
    # correctness: bins of 4 adjacent distinct times, labeled by bin-min
    pdf = vis_df.toPandas()
    times = sorted(pdf["time"].unique())
    lut = {t: times[(i // 4) * 4] for i, t in enumerate(times)}
    pdf["tbin"] = pdf["time"].map(lut)
    expect = (pdf.groupby(["tbin", "baseline", "chan", "pol"])
              .size().reset_index(name="n"))
    got = out.toPandas()
    assert len(got) == len(expect)
    merged = got.merge(expect, left_on=["time", "baseline", "chan", "pol"],
                       right_on=["tbin", "baseline", "chan", "pol"])
    assert (merged["n_samples"] == merged["n"]).all()
    # scale: the distinct-time rank must not serialize into one task
    assert "Exchange SinglePartition" not in explain_formatted(out)


def test_distributed_time_rank_splits_hot_buckets(spark):
    """Pathological clustered times (one value bucket holds ~all rows)
    must second-level split: every final bucket stays under the cap
    AND the rank is still the exact global dense rank."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    # 3000 distinct times jammed into [0, 1) s, plus two far outliers —
    # with 4 arithmetic buckets over [0, 1e6], bucket 0 gets ~everything
    clustered = np.unique(rng.uniform(0.0, 1.0, 3200))[:3000]
    times = np.concatenate([clustered, [5.0e5, 1.0e6]])
    dt = spark.createDataFrame(
        pd.DataFrame({"time": pd.to_datetime(times, unit="s")}))

    ranked = OA._distributed_time_rank(
        dt, "time", n_buckets=4, max_bucket_rows=500, keep_bucket=True)
    pdf = ranked.toPandas().sort_values("time").reset_index(drop=True)
    # exact global dense rank
    assert (pdf["__tidx"].to_numpy() == np.arange(len(times))).all()
    # bounded buckets: the hot bucket split into ceil(3000/500)=6 subs;
    # uniform-in-cluster values land well under the cap per sub
    per_bucket = pdf.groupby("__vb").size()
    assert per_bucket.max() <= 500 + 60  # floor-boundary slack
    assert len(per_bucket) >= 6
    # the refine table is a LocalRelation, not a Python-serialized RDD
    import re
    plan = ranked._jdf.queryExecution().analyzed().toString()
    assert re.search(r"LocalRelation \[__vb#\d+, __k#", plan), plan
    # uniform data keeps the single-probe path and stays exact
    uni = spark.createDataFrame(pd.DataFrame(
        {"time": pd.to_datetime(np.arange(200) * 7.0, unit="s")}))
    r2 = OA._distributed_time_rank(uni, "time", n_buckets=4,
                                   max_bucket_rows=500)
    p2 = r2.toPandas().sort_values("time")
    assert (p2["__tidx"].to_numpy() == np.arange(200)).all()
    assert "__vb" not in p2.columns
