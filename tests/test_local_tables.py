"""Every small table an imaging builder makes from a Python list plans
as a LocalRelation (``lits.local_frame``), never a LogicalRDD: a
LogicalRDD costs a Python-worker stage on every execution that reads
it. Inputs here come from ``spark.range``, so any LocalRelation in a
plan is a builder's own table."""

from __future__ import annotations

from pyspark.sql import functions as F

from cngi_prototype_spark.imaging.grid import GridParms

GP = GridParms(n_u=64, n_v=64, cell_u=2e-5, cell_v=2e-5, support=7,
               oversampling=100)
FREQS = {0: 0.9e9, 1: 1.0e9, 2: 1.1e9}


def _assert_local(df):
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan, plan
    assert "LocalRelation" in plan, plan


def _cube(spark, value: str):
    """3 chans x 1 pol x 4x4 pixels, ``value`` = 1.0 everywhere."""
    return spark.range(48).select(
        (F.col("id") % 3).cast("int").alias("chan"),
        F.lit(0).alias("pol"),
        (F.col("id") / 3 % 4).cast("int").alias("l_idx"),
        (F.col("id") / 12).cast("int").alias("m_idx"),
        F.lit(1.0).alias(value))


def _vis(spark, n=200):
    """Visibilities on one small patch of the uv plane (one hot slab)."""
    return spark.range(n).select(
        F.col("id").alias("rid"),
        (F.lit(10.0) + F.col("id") * 1e-3).alias("u"),
        (F.lit(20.0) - F.col("id") * 1e-3).alias("v"),
        F.lit(0.0).alias("w"),
        F.lit(1.0e9).alias("freq"),
        F.lit(0).alias("chan"), F.lit(0).alias("pol"),
        (F.col("id") % 3).cast("int").alias("field_id"),
        F.lit(1.0).alias("data_re"), F.lit(0.5).alias("data_im"),
        F.lit(1.0).alias("weight"))


def test_mtclean_tables_are_local(spark):
    from cngi_prototype_spark.imaging.mtclean import (
        deconvolve_multiterm_clean, evaluate_taylor_to_cube)

    _assert_local(deconvolve_multiterm_clean(
        _cube(spark, "image"), _cube(spark, "psf"), nterms=2, freqs=FREQS))
    taylor = spark.range(32).select(
        (F.col("id") % 2).cast("int").alias("term"), F.lit(0).alias("pol"),
        (F.col("id") / 2 % 4).cast("int").alias("l_idx"),
        (F.col("id") / 8).cast("int").alias("m_idx"),
        F.lit(1.0).alias("model"))
    _assert_local(evaluate_taylor_to_cube(taylor, FREQS))


def test_rmclean_tables_are_local(spark):
    from cngi_prototype_spark.imaging.rmclean import faraday_depth_transform

    vis = _cube(spark, "q").withColumn("u", F.lit(-0.5))
    _assert_local(faraday_depth_transform(vis, FREQS, [-5.0, 0.0, 5.0]))


def test_mosaic_field_table_is_local(spark):
    from cngi_prototype_spark.imaging.mosaic import apply_phase_gradient

    # past 64 fields the offsets join as a table, not MAP literals
    offsets = {k: (1e-6 * k, -1e-6 * k) for k in range(70)}
    out = apply_phase_gradient(_vis(spark), offsets, GP)
    _assert_local(out)
    assert out.schema["data_re"].dataType.simpleString() == "double"


def test_gridder_and_degridder_salt_tables_are_local(spark):
    from cngi_prototype_spark.imaging.degrid import degrid_visibilities
    from cngi_prototype_spark.imaging.grid import grid_visibilities

    vis = _vis(spark)
    planes, _ = grid_visibilities(vis, GP, variant="kernel", n_planes=1,
                                  dense_planes=True, salt_probe=True)
    _assert_local(planes)
    cells = spark.range(64 * 64).select(
        F.lit(0).alias("chan"), F.lit(0).alias("pol"),
        (F.col("id") / 64).cast("int").alias("u_idx"),
        (F.col("id") % 64).cast("int").alias("v_idx"),
        F.lit(1.0).alias("grid_re"), F.lit(0.0).alias("grid_im"))
    _assert_local(degrid_visibilities(vis, cells, GP, row_id="rid",
                                      variant="kernel", salt_probe=True))


def test_sd_restore_fastresolve_rotate_tables_are_local(spark):
    from cngi_prototype_spark.imaging.fastresolve import fit_spectral_index
    from cngi_prototype_spark.imaging.restore import linear_mosaic
    from cngi_prototype_spark.imaging.rotate import direction_rotate
    from cngi_prototype_spark.imaging.sd import make_sd_psf

    _assert_local(make_sd_psf(spark, [1.0e9, 1.1e9], 8, 8, 1e-3, 1e-3))
    fields = spark.range(32).select(
        (F.col("id") % 2).cast("int").alias("field"),
        (F.col("id") / 2 % 4).cast("int").alias("l_idx"),
        (F.col("id") / 8).cast("int").alias("m_idx"),
        F.lit(0.5).alias("image"), F.lit(1.0).alias("pb"))
    _assert_local(linear_mosaic(fields, {0: (0, 0), 1: (2, 1)}))
    _assert_local(fit_spectral_index(_cube(spark, "model"), FREQS))
    centers = {0: (0.5, -0.3), 1: (0.52, -0.28), 2: (0.48, -0.32)}
    _assert_local(direction_rotate(_vis(spark), centers, (0.51, -0.29)))


def test_query_model_tables_are_local(spark):
    """The model images queries.py builds from Python lists:
    uv_degrid's sparse CLEAN model and predict_modelvis's point
    sources (the queries read parquet, so the model is the
    LocalRelation with image-index columns)."""
    import cngi_prototype_spark.queries as Q
    from tests.test_plan_shapes import SF

    for name in ("uv_degrid", "predict_modelvis"):
        df = Q.queries()[name](spark, SF)
        _assert_local(df)
        plan = df._jdf.queryExecution().analyzed().toString()
        assert any("LocalRelation" in line and "l_idx" in line
                   for line in plan.splitlines()), plan
