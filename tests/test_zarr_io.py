"""zarr v2 store + Spark bridge round-trips.

The comparator semantics follow the reference's conversion test
(`/root/reference/tests/test_ms_conversion.py:11-33`: converted values
equal within 1e-8 of the source) — our round-trips are in fact
bit-exact, so the assertions use exact equality where types allow.
"""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cngi_prototype_spark.sources import zarr_store as zs
from cngi_prototype_spark.sources.zarr_io import (
    describe_zarr_store,
    read_image_zarr,
    read_vis_zarr,
    read_zarr_xds,
    write_image_zarr,
    write_vis_zarr,
)


# ---------------------------------------------------------------- store


@pytest.mark.parametrize("compressor", [None, {"id": "zlib", "level": 4},
                                        {"id": "bz2", "level": 1},
                                        {"id": "lzma"}])
def test_array_roundtrip_codecs(tmp_path, compressor):
    a = np.arange(60, dtype=np.float64).reshape(6, 10) * 1.5
    arr = zs.ZarrArray.create(str(tmp_path / "a"), a.shape, (4, 3),
                              a.dtype, compressor=compressor)
    arr.write_full(a)
    back = zs.ZarrArray.open(str(tmp_path / "a"))
    assert back.read_full().tobytes() == a.tobytes()


def test_array_complex_fill_and_missing_chunks(tmp_path):
    arr = zs.ZarrArray.create(str(tmp_path / "c"), (4, 4), (2, 2), "<c16",
                              fill_value=complex(np.nan, np.nan))
    arr.write_chunk((0, 0), np.full((2, 2), 1 + 2j))
    full = arr.read_full()
    assert np.all(full[:2, :2] == 1 + 2j)
    assert np.all(np.isnan(full[2:, 2:].real))
    # fill survives the JSON metadata round-trip
    meta = json.load(open(tmp_path / "c" / ".zarray"))
    assert meta["fill_value"] == ["NaN", "NaN"]
    assert np.isnan(zs.ZarrArray.open(str(tmp_path / "c")).fill_value.real)


def test_array_edge_chunks_and_region(tmp_path):
    a = (np.arange(35, dtype=np.int32) * 7).reshape(5, 7)
    arr = zs.ZarrArray.create(str(tmp_path / "e"), a.shape, (2, 3), a.dtype)
    arr.write_full(a)
    back = zs.ZarrArray.open(str(tmp_path / "e"))
    np.testing.assert_array_equal(back.read_region((slice(1, 4),
                                                    slice(2, 7))),
                                  a[1:4, 2:7])
    # edge chunk files hold the padded chunk shape (v2 spec)
    raw = zs._decompress(open(tmp_path / "e" / "2.2", "rb").read(),
                         back.compressor)
    assert len(raw) == 2 * 3 * 4


def test_datetime_dtype_roundtrip(tmp_path):
    t = np.array(["2021-01-01T00:00:00.25", "2021-01-01T00:00:01.5"],
                 dtype="datetime64[ns]")
    arr = zs.ZarrArray.create(str(tmp_path / "t"), t.shape, (2,), t.dtype)
    arr.write_full(t)
    back = zs.ZarrArray.open(str(tmp_path / "t")).read_full()
    assert back.dtype == t.dtype and np.all(back == t)


def test_unknown_codec_clear_error(tmp_path):
    arr = zs.ZarrArray.create(str(tmp_path / "b"), (2,), (2,), "<f8",
                              compressor={"id": "blosc", "cname": "zstd"})
    with pytest.raises(NotImplementedError, match="blosc"):
        arr.write_full(np.ones(2))


def test_consolidated_metadata(tmp_path):
    root = str(tmp_path / "store")
    zs.create_group(root)
    zs.create_group(os.path.join(root, "xds0"), attrs={"ddi": 0})
    arr = zs.ZarrArray.create(os.path.join(root, "xds0", "DATA"),
                              (4,), (2,), "<f8",
                              attrs={"_ARRAY_DIMENSIONS": ["time"]})
    arr.write_full(np.arange(4.0))
    zs.consolidate_metadata(root)
    cons = zs.read_consolidated(root)
    assert cons["xds0/.zgroup"]["zarr_format"] == 2
    assert cons["xds0/.zattrs"]["ddi"] == 0
    opened = zs.open_array(root, "xds0/DATA", consolidated=cons)
    assert opened.attrs["_ARRAY_DIMENSIONS"] == ["time"]
    np.testing.assert_array_equal(opened.read_full(), np.arange(4.0))


# ------------------------------------------------------------- bridge


def _vis_df(spark, nt=6, nb=3, nc=4, npol=2, drop_every=7):
    rows = []
    i = 0
    for t in range(nt):
        for b in range(nb):
            for c in range(nc):
                for p in range(npol):
                    i += 1
                    if i % drop_every == 0:
                        continue  # sparse long form: absent cells
                    rows.append((
                        (pd.Timestamp("2021-03-01") + pd.Timedelta(
                            seconds=10 * t + 0.5)).to_pydatetime(),
                        b, c, p,
                        float(np.sin(i)), float(np.cos(i)),
                        1.0 + 0.25 * (i % 5), i % 3 == 0,
                        100 + t // 2, t % 2, 1))
    return spark.createDataFrame(
        rows, "time timestamp, baseline int, chan int, pol int, "
              "data_re double, data_im double, data_weight double, "
              "flag boolean, scan_number int, state_id int, field_id int")


def _assert_same_rows(src, back):
    """``back`` (a read-back) holds exactly ``src``'s rows and values."""
    key = ["time", "baseline", "chan", "pol"]
    a = src.withColumn("flag", F.col("flag").cast("int")) \
        .orderBy(*key).toPandas()
    b = back.select(*a.columns).orderBy(*key).toPandas()
    assert len(a) == len(b)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            assert np.array_equal(a[c].to_numpy(), b[c].to_numpy()), c
        else:
            assert a[c].tolist() == b[c].tolist(), c


def _newest_execution(spark) -> int:
    """Id of the newest SQL execution (-1 when none ran)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    status = spark._jsparkSession.sharedState().statusStore()
    n = status.executionsCount()
    return status.executionsList(n - 1, 1).apply(0).executionId() \
        if n else -1


def _executions_since(spark, last: int) -> list:
    """The SQL executions (status-store records) after id ``last``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    status = spark._jsparkSession.sharedState().statusStore()
    n = status.executionsCount()
    tail = status.executionsList(max(n - 32, 0), 32)
    return [tail.apply(i) for i in range(tail.size())
            if tail.apply(i).executionId() > last]


def _scan_rows(spark, executions, prefix: str) -> int:
    """Rows emitted by the ``prefix`` scan nodes of ``executions``."""
    status = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in executions:
        values, it = {}, status.executionMetrics(e.executionId()).iterator()
        while it.hasNext():
            t = it.next()
            values[int(t._1())] = t._2()
        nodes = status.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not node.name().startswith(prefix):
                continue
            ms = node.metrics()
            for m in range(ms.size()):
                pm = ms.apply(m)
                if pm.name() == "number of output rows":
                    total += int(values.get(int(pm.accumulatorId()), "0")
                                 .replace(",", ""))
    return total


def _pinned(spark) -> tuple[int, int]:
    """(cached plans, persisted RDDs) held by the session right now."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    if cm.numCachedEntries() == 0:
        assert cm.isEmpty()
    if rdds.size() == 0:
        assert rdds.isEmpty()
    return cm.numCachedEntries(), rdds.size()


def test_vis_zarr_roundtrip_exact(spark, tmp_path):
    store = str(tmp_path / "vis.zarr")
    src = _vis_df(spark)
    info = write_vis_zarr(src, store, "xds0", time_chunk=2,
                          attrs={"origin": "test"})
    assert info["rows"] == src.count()
    _assert_same_rows(src, read_vis_zarr(spark, store, "xds0"))


def test_vis_zarr_store_is_spec_shaped(spark, tmp_path):
    """The written store is plain zarr v2 + xarray conventions — the
    shape zarr-python/xarray would open."""
    store = str(tmp_path / "vis.zarr")
    write_vis_zarr(_vis_df(spark), store, "xds0", time_chunk=2)
    meta = json.load(open(os.path.join(store, ".zmetadata")))
    md = meta["metadata"]
    assert meta["zarr_consolidated_format"] == 1
    assert md["xds0/DATA/.zarray"]["dtype"] == "<c16"
    assert md["xds0/DATA/.zattrs"]["_ARRAY_DIMENSIONS"] == [
        "time", "baseline", "chan", "pol"]
    assert md["xds0/DATA/.zarray"]["chunks"] == [2, 3, 4, 2]
    assert md["xds0/SCAN_NUMBER/.zattrs"]["_ARRAY_DIMENSIONS"] == [
        "time", "baseline"]
    # chunk files exist under the "." separator naming
    assert os.path.exists(os.path.join(store, "xds0", "DATA", "0.0.0.0"))
    assert os.path.exists(os.path.join(store, "xds0", "SCAN_NUMBER", "0.0"))


def test_vis_zarr_column_pruning_reads_subset(spark, tmp_path):
    store = str(tmp_path / "vis.zarr")
    write_vis_zarr(_vis_df(spark), store, "xds0", time_chunk=2)
    cols = read_vis_zarr(spark, store, "xds0",
                         data_vars=["DATA", "WEIGHT"]).columns
    assert "data_weight" in cols and "flag" not in cols


def test_vis_zarr_subset_scalars_broadcast(spark, tmp_path):
    store = str(tmp_path / "vis.zarr")
    src = _vis_df(spark)
    write_vis_zarr(src, store, "xds0", time_chunk=3)
    back = read_vis_zarr(spark, store, "xds0")
    chk = back.groupBy("time", "baseline") \
        .agg(F.countDistinct("scan_number").alias("n")).collect()
    assert all(r.n == 1 for r in chk)


def test_image_zarr_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(5)
    rows = [(c, p, l, m, float(rng.normal()), float(rng.normal()))
            for c in range(3) for p in range(2)
            for l in range(8) for m in range(8)]
    df = spark.createDataFrame(
        rows, "chan int, pol int, l_idx int, m_idx int, "
              "image double, psf double")
    store = str(tmp_path / "img.zarr")
    write_image_zarr(df, store, "image", chan_chunk=2)
    back = read_image_zarr(spark, store, "image")
    key = ["chan", "pol", "l_idx", "m_idx"]
    a = df.orderBy(*key).toPandas()
    b = back.select(*a.columns).orderBy(*key).toPandas()
    assert np.array_equal(a["image"].to_numpy(), b["image"].to_numpy())
    assert np.array_equal(a["psf"].to_numpy(), b["psf"].to_numpy())


def test_describe_zarr_store(spark, tmp_path):
    store = str(tmp_path / "vis.zarr")
    write_vis_zarr(_vis_df(spark), store, "xds0", time_chunk=2)
    write_vis_zarr(_vis_df(spark, nt=2, drop_every=10 ** 9), store, "xds1")
    desc = describe_zarr_store(spark, store)
    assert desc._jdf.queryExecution().analyzed().getClass() \
        .getSimpleName() == "LocalRelation"
    d = {r.partition: r for r in desc.collect()}
    assert d["xds0"].shape == [6, 3, 4, 2]
    assert d["xds0"].chunks == [2, 3, 4, 2]
    assert d["xds1"].shape == [2, 3, 4, 2]
    assert d["xds0"].n_vars >= 3


def test_read_zarr_generic_extra_dim_unrolled(spark, tmp_path):
    """A (time, uvw:3) variable unrolls to uvw_0..2 columns — the UVW
    convention of the reference's vis stores."""
    root = str(tmp_path / "s")
    zs.create_group(root)
    g = os.path.join(root, "x")
    zs.create_group(g)
    tvals = np.arange(4, dtype=np.int64)
    ca = zs.ZarrArray.create(os.path.join(g, "time"), (4,), (4,), "<i8",
                             attrs={"_ARRAY_DIMENSIONS": ["time"]})
    ca.write_full(tvals)
    cc = zs.ZarrArray.create(os.path.join(g, "chan"), (2,), (2,), "<i8",
                             attrs={"_ARRAY_DIMENSIONS": ["chan"]})
    cc.write_full(np.arange(2, dtype=np.int64))
    data = np.arange(8, dtype=np.float64).reshape(4, 2)
    da = zs.ZarrArray.create(os.path.join(g, "DATA"), (4, 2), (2, 2),
                             "<f8", attrs={"_ARRAY_DIMENSIONS":
                                           ["time", "chan"]})
    da.write_full(data)
    uvw = np.arange(12, dtype=np.float64).reshape(4, 3)
    ua = zs.ZarrArray.create(os.path.join(g, "UVW"), (4, 3), (2, 3),
                             "<f8", attrs={"_ARRAY_DIMENSIONS":
                                           ["time", "uvw_index"]})
    ua.write_full(uvw)
    zs.consolidate_metadata(root)
    out = read_zarr_xds(spark, root, "x").orderBy("time_idx", "chan_idx")
    pdf = out.toPandas()
    assert list(pdf.columns) == ["time_idx", "chan_idx", "time", "chan",
                                 "data", "uvw_0", "uvw_1", "uvw_2"]
    assert pdf.data.tolist() == data.reshape(-1).tolist()
    # uvw broadcasts along chan
    assert pdf.uvw_0.tolist() == np.repeat(uvw[:, 0], 2).tolist()


def test_append_zarr_vars(spark, tmp_path):
    """append_xds parity: add MODEL_DATA to an existing store on the
    existing chunk grid, originals untouched."""
    import pytest
    from cngi_prototype_spark.sources.zarr_io import (
        VarSpec, append_zarr_vars)
    store = str(tmp_path / "vis.zarr")
    src = _vis_df(spark)
    write_vis_zarr(src, store, "xds0", time_chunk=2)
    model = src.select("time", "baseline", "chan", "pol",
                       (F.col("data_re") * 2).alias("model_re"),
                       (F.col("data_im") * 2).alias("model_im"))
    info = append_zarr_vars(
        model, store, "xds0",
        var_specs=[VarSpec("MODEL_DATA",
                           ("time", "baseline", "chan", "pol"),
                           ("model_re", "model_im"), "<c16",
                           complex(np.nan, np.nan))])
    assert info["appended"] == ["MODEL_DATA"]
    back = read_vis_zarr(spark, store, "xds0")
    pdf = back.orderBy("time", "baseline", "chan", "pol").toPandas()
    assert np.allclose(pdf.model_data_re, 2 * pdf.data_re)
    # appending the same name again refuses
    with pytest.raises(ValueError, match="already exists"):
        append_zarr_vars(model, store, "xds0", var_specs=[
            VarSpec("MODEL_DATA", ("time", "baseline", "chan", "pol"),
                    ("model_re", "model_im"), "<c16",
                    complex(np.nan, np.nan))])
    # out-of-coordinate rows refuse (append cannot grow dims) — the
    # guard rides the write job, on an unchunked dim (baseline) and on
    # a chunked one (time, whose chunk key comes from a join)
    from pyspark.errors import PythonException, SparkRuntimeException
    for bad in (model.withColumn("baseline", F.col("baseline") + 100),
                model.withColumn("time", F.col("time")
                                 + F.expr("INTERVAL 1 DAY"))):
        with pytest.raises((PythonException, SparkRuntimeException),
                           match="cannot grow"):
            append_zarr_vars(bad, store, "xds0", var_specs=[
                VarSpec("X", ("time", "baseline", "chan", "pol"),
                        ("model_re", "model_im"), "<c16",
                        complex(np.nan, np.nan))])


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    ndim=st.integers(1, 3),
    data=st.data(),
    dtype=st.sampled_from(["<f8", "<f4", "<i4", "<i8", "<c16", "|u1"]),
    codec=st.sampled_from([None, {"id": "zlib", "level": 1}]),
)
def test_zarr_array_roundtrip_property(tmp_path_factory, ndim, data,
                                       dtype, codec):
    """Any shape/chunking/dtype round-trips bit-exactly, including
    edge chunks and regions."""
    shape = tuple(data.draw(st.integers(1, 9)) for _ in range(ndim))
    chunks = tuple(data.draw(st.integers(1, s)) for s in shape)
    rng = np.random.default_rng(data.draw(st.integers(0, 2 ** 31)))
    if dtype == "<c16":
        a = (rng.normal(size=shape) + 1j * rng.normal(size=shape)
             ).astype(dtype)
    elif dtype in ("<i4", "<i8", "|u1"):
        a = rng.integers(0, 100, size=shape).astype(dtype)
    else:
        a = rng.normal(size=shape).astype(dtype)
    path = str(tmp_path_factory.mktemp("zs") / "arr")
    arr = zs.ZarrArray.create(path, shape, chunks, a.dtype,
                              compressor=codec)
    arr.write_full(a)
    back = zs.ZarrArray.open(path)
    assert back.read_full().tobytes() == a.tobytes()
    region = tuple(
        slice(lo, data.draw(st.integers(lo + 1, s)))
        for s, lo in ((s, data.draw(st.integers(0, s - 1)))
                      for s in shape))
    assert back.read_region(region).tobytes() == a[region].tobytes()


def test_vis_zarr_flag_only_read_keeps_rows(spark, tmp_path):
    """Pruning to a variable that isn't a NaN marker must not drop
    every row (regression: keep started all-False)."""
    store = str(tmp_path / "vis.zarr")
    write_vis_zarr(_vis_df(spark), store, "xds0", time_chunk=2)
    flags = read_vis_zarr(spark, store, "xds0", data_vars=["FLAG"])
    assert flags.count() == 6 * 3 * 4 * 2  # full dense grid, no marker


def test_write_zarr_empty_input_raises(spark, tmp_path):
    import pytest
    store = str(tmp_path / "vis.zarr")
    empty = _vis_df(spark).filter("baseline > 99")
    with pytest.raises(ValueError, match="no rows"):
        write_vis_zarr(empty, store, "xds0")


def test_write_zarr_null_dim_raises_before_writing(spark, tmp_path):
    """A null dim value is no coordinate: it raises, naming the dim,
    before any array file exists (it used to count as an extra chan
    and leave a store read_vis_zarr could not open)."""
    store = str(tmp_path / "vis.zarr")
    src = _vis_df(spark, nc=2).withColumn(
        "chan", F.when((F.col("baseline") == 0) & (F.col("chan") == 1),
                       None).otherwise(F.col("chan")))
    with pytest.raises(ValueError, match="chan"):
        write_vis_zarr(src, store, "xds0")
    assert not os.path.exists(store)


@pytest.mark.parametrize("time_chunk", [2, 100])
def test_vis_zarr_time_axis_ignores_local_zone(spark, tmp_path,
                                               time_chunk):
    """The stored and read-back time axis is the input's instants under
    a non-UTC process zone, with time chunked (chunk keys joined) and
    unchunked (chunk key 0)."""
    import time as _time
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        store = str(tmp_path / "vis.zarr")
        src = _vis_df(spark)
        want = sorted(r[0] for r in src.select(F.unix_micros("time"))
                      .distinct().collect())
        info = write_vis_zarr(src, store, "xds0", time_chunk=time_chunk)
        assert info["rows"] == src.count()
        stored = zs.ZarrArray.open(os.path.join(store, "xds0", "time"))
        assert stored.read_full().astype("datetime64[us]").astype(
            np.int64).tolist() == want
        back = read_vis_zarr(spark, store, "xds0")
        key = [F.unix_micros("time").alias("t"), "baseline", "chan", "pol"]
        a = src.select(*key, "data_re").orderBy("t", "baseline", "chan",
                                                "pol").collect()
        b = back.select(*key, "data_re").orderBy("t", "baseline", "chan",
                                                 "pol").collect()
        assert a == b
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()


def test_write_vis_zarr_runs_two_sql_executions(spark, tmp_path):
    """Writing one dim group over a filtered, aggregated input runs one
    coordinate aggregate plus one write — not a distinct per dim, each
    re-running the input."""
    src = (_vis_df(spark).filter(~F.col("flag"))
           .groupBy("time", "baseline", "chan", "pol")
           .agg(F.avg("data_re").alias("data_re"),
                F.avg("data_im").alias("data_im")))
    last = _newest_execution(spark)
    info = write_vis_zarr(src, str(tmp_path / "vis.zarr"), "xds0")
    assert len(_executions_since(spark, last)) == 2
    assert info["rows"] == src.count()


def test_write_vis_zarr_leaves_nothing_cached(spark, tmp_path):
    """The input is cached for the call only: no cached plan and no
    persisted RDD outlives write_vis_zarr, whether it returns or raises
    (no rows, a null dim)."""
    before = _pinned(spark)
    src = _vis_df(spark)
    write_vis_zarr(src, str(tmp_path / "ok.zarr"), "xds0", time_chunk=2)
    assert _pinned(spark) == before
    with pytest.raises(ValueError, match="no rows"):
        write_vis_zarr(src.filter("baseline > 99"),
                       str(tmp_path / "empty.zarr"), "xds0")
    assert _pinned(spark) == before
    nulled = src.withColumn(
        "chan", F.when(F.col("chan") == 1, None).otherwise(F.col("chan")))
    with pytest.raises(ValueError, match="chan"):
        write_vis_zarr(nulled, str(tmp_path / "null.zarr"), "xds0")
    assert _pinned(spark) == before


def test_write_keeps_a_callers_cache(spark, tmp_path):
    """An input the caller cached is used as is and stays cached."""
    from pyspark import StorageLevel
    from cngi_prototype_spark.sources.zarr_io import (
        write_vis_zarr_partitions)
    src = _vis_df(spark, nt=2).withColumn("ddi", F.lit(0)).cache()
    try:
        src.count()
        before = _pinned(spark)
        info = write_vis_zarr_partitions(src, str(tmp_path / "vis.zarr"))
        assert info["xds0"]["rows"] == src.count()
        assert src.storageLevel != StorageLevel.NONE
        assert _pinned(spark) == before
    finally:
        src.unpersist(blocking=True)


def test_chunked_two_dims_edge_chunks_roundtrip(spark, tmp_path):
    """A grid chunked on time AND chan with ragged edge chunks (5 times
    in chunks of 2, 4 chans in chunks of 3) round-trips exactly, and
    each chunked dim's (key -> chunk) lookup is a LocalTableScan in the
    write's plan."""
    store = str(tmp_path / "vis.zarr")
    src = _vis_df(spark, nt=5, nc=4)
    last = _newest_execution(spark)
    info = write_vis_zarr(src, store, "xds0", time_chunk=2, chan_chunk=3)
    writes = _executions_since(spark, last)
    assert info["chunks"] == {"time": 2, "baseline": 3, "chan": 3, "pol": 2}
    assert info["rows"] == src.count()
    # the full-dim write (the second execution) joins both lookups
    plan = writes[1].physicalPlanDescription()
    assert plan.count("LocalTableScan") >= 2, plan
    assert os.path.exists(os.path.join(store, "xds0", "DATA", "2.0.1.0"))
    _assert_same_rows(src, read_vis_zarr(spark, store, "xds0"))


def test_read_vis_zarr_plan_has_no_exchange_or_rdd_scan(spark, tmp_path):
    """The read manifest is a JVM range: no shuffle and no Python-
    serialized RDD below the chunk decoder, and every chunk is read."""
    store = str(tmp_path / "vis.zarr")
    src = _vis_df(spark, nt=5, nc=4)
    write_vis_zarr(src, store, "xds0", time_chunk=2, chan_chunk=3)
    back = read_vis_zarr(spark, store, "xds0")
    assert len(back.collect()) == src.count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Range" in plan, plan
    assert "Exchange" not in plan and "ExistingRDD" not in plan, plan


def test_read_zarr_permuted_var_dims_raise(spark, tmp_path):
    """A variable stored with dims permuted against the anchor raises
    instead of silently transposing (regression)."""
    import pytest
    root = str(tmp_path / "s")
    zs.create_group(root)
    g = os.path.join(root, "x")
    zs.create_group(g)
    for d, n in (("time", 3), ("chan", 3)):
        ca = zs.ZarrArray.create(os.path.join(g, d), (n,), (n,), "<i8",
                                 attrs={"_ARRAY_DIMENSIONS": [d]})
        ca.write_full(np.arange(n, dtype=np.int64))
    da = zs.ZarrArray.create(os.path.join(g, "DATA"), (3, 3), (3, 3),
                             "<f8", attrs={"_ARRAY_DIMENSIONS":
                                           ["time", "chan"]})
    da.write_full(np.arange(9, dtype=np.float64).reshape(3, 3))
    wa = zs.ZarrArray.create(os.path.join(g, "W"), (3, 3), (3, 3),
                             "<f8", attrs={"_ARRAY_DIMENSIONS":
                                           ["chan", "time"]})
    wa.write_full(np.arange(9, dtype=np.float64).reshape(3, 3))
    zs.consolidate_metadata(root)
    with pytest.raises(Exception, match="not alignable"):
        read_zarr_xds(spark, root, "x", anchor="DATA").collect()


@pytest.mark.parametrize("grid", [(3, 1, 4), (5,), (), (0, 2)])
def test_manifest_is_ndindex_order(spark, grid):
    """The JVM-built read manifest lists every chunk of the grid once,
    in np.ndindex (C) order, including 0-d and empty grids."""
    from cngi_prototype_spark.sources.zarr_io import _manifest
    got = [tuple(r.cid) for r in _manifest(spark, grid).collect()]
    assert got == list(np.ndindex(*grid))


def test_write_vis_zarr_partitions_scan_source_once(spark, tmp_path):
    """The partition scan and every partition's write read the source
    once between them: its parquet scan emits each row exactly once."""
    from cngi_prototype_spark.sources.zarr_io import (
        write_vis_zarr_partitions)
    path = str(tmp_path / "src.parquet")
    _vis_df(spark, nt=4).withColumn("ddi", F.col("baseline") % 2) \
        .write.parquet(path)
    src = spark.read.parquet(path)
    n = src.count()
    before = _pinned(spark)
    last = _newest_execution(spark)
    info = write_vis_zarr_partitions(src, str(tmp_path / "vis.zarr"),
                                     time_chunk=2)
    assert set(info) == {"xds0", "xds1"}
    assert sum(i["rows"] for i in info.values()) == n
    assert _scan_rows(spark, _executions_since(spark, last),
                      "Scan parquet") == n
    assert _pinned(spark) == before


def test_write_vis_zarr_partitions_mxds(spark, tmp_path):
    from cngi_prototype_spark.sources.zarr_io import (
        write_vis_zarr_partitions)
    store = str(tmp_path / "vis.zarr")
    src = (_vis_df(spark, nt=4).withColumn(
        "ddi", (F.col("baseline") % 2)))
    info = write_vis_zarr_partitions(src, store, time_chunk=2)
    assert set(info) == {"xds0", "xds1"}
    d = {r.partition: r for r in
         describe_zarr_store(spark, store).collect()}
    assert set(d) == {"xds0", "xds1"}
    back0 = read_vis_zarr(spark, store, "xds0")
    assert back0.select("baseline").distinct().count() == 2  # bl 0, 2
    a = src.filter("ddi = 0").count()
    assert back0.count() == a


# ------------------------------------------------- object-store (S3) paths


def test_object_store_url_roundtrip_distributed(spark, tmp_path):
    """Full distributed write -> read -> append over a mock object
    store (PrefixMappedFS maps mock-s3:// onto a local root): every
    chunk read/write in executor tasks goes through the FS object
    shipped in the pickled ZarrArray, exactly the s3:// flow with
    fsspec — the filesystem-mocked S3 round-trip. Content must be
    bit-identical to a local-path store."""
    root = str(tmp_path / "bucketroot")
    os.makedirs(root)
    zs.register_filesystem("mock-s3", zs.PrefixMappedFS("mock-s3", root))
    try:
        store = "mock-s3://bucket/vis.zarr"
        src = _vis_df(spark)
        info = write_vis_zarr(src, store, "xds0", time_chunk=2)
        assert info["rows"] == src.count()
        # the store physically landed under the mapped root, zarr-shaped
        assert os.path.exists(
            os.path.join(root, "bucket/vis.zarr/.zmetadata"))
        _assert_same_rows(src, read_vis_zarr(spark, store, "xds0"))
        assert describe_zarr_store(spark, store).count() == 1
    finally:
        zs._FS_FACTORIES.pop("mock-s3", None)


def test_s3_scheme_without_fsspec_names_the_fix(tmp_path):
    """No fsspec in this sandbox: an s3:// store must fail with the
    actionable error, not a random FileNotFoundError."""
    has_fsspec = True
    try:
        import fsspec  # noqa: F401
    except ImportError:
        has_fsspec = False
    if has_fsspec:
        pytest.skip("fsspec installed; the lazy-import error is dormant")
    fs = zs.filesystem_for("s3://bucket/store")
    assert isinstance(fs, zs.FsspecFS)
    with pytest.raises(NotImplementedError, match="fsspec|s3fs"):
        fs.exists("s3://bucket/store/.zmetadata")


def test_fsspec_fs_pickles_without_client():
    import pickle

    fs = zs.FsspecFS("s3", {"anon": True})
    fs._client = object()  # unpicklable stand-in for a live client
    fs2 = pickle.loads(pickle.dumps(fs))
    assert fs2.protocol == "s3"
    assert fs2.storage_options == {"anon": True}
    assert fs2._client is None


def test_file_url_and_plain_path_are_same_store(tmp_path):
    arr = zs.ZarrArray.create(str(tmp_path / "a"), (4,), (2,), "f8")
    arr.write_full(np.arange(4.0))
    via_url = zs.ZarrArray.open("file://" + str(tmp_path / "a"))
    assert np.array_equal(via_url.read_full(), np.arange(4.0))
