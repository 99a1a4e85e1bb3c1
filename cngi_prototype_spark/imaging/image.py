"""Dirty-image / PSF formation and sky-image frames, Spark-first.

Reference parity:

- ``make_image`` (``/root/reference/ngcasa/imaging/make_image.py:80-160``):
  grid → ``fftshift(ifft2(ifftshift(grid)))`` per (chan, pol) plane →
  crop padding → ``·Npad_u·Npad_v`` → ``/sum_weight`` (0→1 guard)
  → ``/PSWF correcting image``.
- ``make_psf`` (``make_psf.py:95-160``): same pipeline over gridded
  *weights* (real grid).
- ``make_pb`` airy disk (``make_pb.py`` +
  ``_imaging_utils/_make_pb_symmetric.py:25-80``).
- ``make_empty_sky_image`` (``cngi/image/make_empty_sky_image.py:18-90``):
  l/m direction-cosine coordinates and inverse-SIN-projection world
  coordinates — here pure column expressions over a distributed
  ``spark.range`` lattice (no astropy, no driver-side meshgrid).

Physical shape: the FFT is inherently a whole-plane operation, so each
(chan, pol) plane is one ``applyInPandas`` group — exactly the
reference's constraint that l,m are never chunked
(``deconvolve_point_clean.py:93-96``). Everything before (gridding) and
after (statistics, moments) stays relational; plane count (chan × pol)
is the parallelism unit, matching cube imaging at scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cngi_prototype_spark.imaging.grid import GridParms, grid_visibilities
from cngi_prototype_spark.imaging.kernels import airy_disk, pswf

C_M_S = 299792458.0


def _embedded_sumw(pdf: pd.DataFrame, col: str) -> float:
    """Plane normalizer from fused per-cell partials
    (``grid_visibilities(fuse_sumw=True)``): int64 partials are the
    precise-mode 1e-9 BIGINT quanta (exact integer sum, ONE final
    divide — bit-identical to the standalone sum-of-weights branch);
    float64 partials are production mode (plain sum)."""
    s = pdf[col].sum()
    if pd.api.types.is_integer_dtype(pdf[col].dtype):
        # long→double cast BEFORE the divide, exactly like the
        # standalone branch's F.sum(quanta)/1e9 (a direct int/1e9
        # true-division rounds the quotient instead and can differ in
        # the last ulp once the sum passes 2^53)
        return float(int(s)) / 1.0e9
    return float(s)


def image_from_grid(
    grid_df: DataFrame,
    sumw_df: DataFrame | None,
    gp: GridParms,
    *,
    image_size: tuple[int, int] | None = None,
    chan: str = "chan",
    pol: str = "pol",
    out: str = "image",
    correct_pswf: bool = True,
) -> DataFrame:
    """Sparse uv grid → corrected image planes.

    Output rows: ``(chan, pol, l_idx, m_idx, <out>)`` with the plane
    cropped from the padded ``(gp.n_u, gp.n_v)`` to ``image_size``.

    ``sumw_df=None`` requires a grid carrying the fused per-cell
    normalizer partials (``grid_visibilities(fuse_sumw=True)``'s
    ``_swc`` column): the plane kernel sums them in-plane instead of
    broadcast-joining a standalone sum-of-weights table — same design
    as ``image_planes_from_dense``'s embedded ``sum_w_norm``.
    """
    n_u, n_v = gp.n_u, gp.n_v
    crop = image_size or (n_u, n_v)
    schema = T.StructType([
        T.StructField(chan, T.IntegerType()),
        T.StructField(pol, T.IntegerType()),
        T.StructField("l_idx", T.IntegerType()),
        T.StructField("m_idx", T.IntegerType()),
        T.StructField(out, T.DoubleType()),
    ])

    embedded_sw = sumw_df is None
    if embedded_sw:
        if "_swc" not in grid_df.columns:
            raise ValueError(
                "image_from_grid needs either a sumw_df or a grid "
                "carrying the fused _swc partials (fuse_sumw=True)")
        joined = grid_df
    else:
        joined = grid_df.join(F.broadcast(sumw_df), on=[chan, pol],
                              how="left")

    def plane(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        g = np.zeros((n_u, n_v), np.complex128)
        g[pdf["u_idx"].to_numpy(int), pdf["v_idx"].to_numpy(int)] = (
            pdf["grid_re"].to_numpy(float) + 1j * pdf["grid_im"].to_numpy(float))
        img = np.fft.fftshift(np.fft.ifft2(np.fft.ifftshift(g)))
        lo_u, lo_v = n_u // 2 - crop[0] // 2, n_v // 2 - crop[1] // 2
        img = img[lo_u:lo_u + crop[0], lo_v:lo_v + crop[1]].real * (n_u * n_v)
        if embedded_sw:
            sw = _embedded_sumw(pdf, "_swc")
        else:
            sw = pdf["sum_weight"].iloc[0]
        if sw is None or pd.isna(sw) or sw == 0:
            sw = 1.0
        img = img / sw
        if correct_pswf:
            cu = pswf((np.arange(n_u) - n_u // 2) / (n_u // 2))[0][lo_u:lo_u + crop[0]]
            cv = pswf((np.arange(n_v) - n_v // 2) / (n_v // 2))[0][lo_v:lo_v + crop[1]]
            img = img / np.outer(cu, cv)
        li, mi = np.meshgrid(np.arange(crop[0]), np.arange(crop[1]), indexing="ij")
        return pd.DataFrame({
            chan: np.full(img.size, key[0], np.int32),
            pol: np.full(img.size, key[1], np.int32),
            "l_idx": li.ravel().astype(np.int32),
            "m_idx": mi.ravel().astype(np.int32),
            out: img.ravel(),
        })

    return joined.groupBy(chan, pol).applyInPandas(plane, schema)


def image_planes_from_dense(
    partials_df: DataFrame,
    gp: GridParms,
    *,
    image_size: tuple[int, int] | None = None,
    chan: str = "chan",
    pol: str = "pol",
    out: str = "image",
    correct_pswf: bool = True,
) -> DataFrame:
    """Dense partial planes (grid_visibilities ``dense_planes=True``) →
    corrected image, ONE ROW PER PLANE with the image as a flat l-major
    array. This is the cube-imaging fast path: no per-cell or per-pixel
    row explosion anywhere — partial grids shuffle as whole arrays and
    the written representation is the dense plane, exactly like the
    reference's zarr image arrays (make_image.py:104-130). Each plane
    normalizes by the sum of its partials' ``sum_w_norm`` (the
    gridder's fused sum-of-weights), so there is no sumw join and the
    visibilities are scanned once."""
    n_u, n_v = gp.n_u, gp.n_v
    crop = image_size or (n_u, n_v)
    schema = T.StructType([
        T.StructField(chan, T.IntegerType()),
        T.StructField(pol, T.IntegerType()),
        T.StructField(out, T.ArrayType(T.DoubleType())),
    ])
    if correct_pswf:
        cu_full = pswf((np.arange(n_u) - n_u // 2) / (n_u // 2))[0]
        cv_full = pswf((np.arange(n_v) - n_v // 2) / (n_v // 2))[0]

    def plane(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        g = np.zeros((n_u, n_v), np.complex128)
        for r in pdf.itertuples():
            # partials are u-slabs [u0, u0 + len/n_v) of the grid
            # (grid.py dense_planes emission); u0 may poke past the
            # edges by the kernel half-width — clip on placement
            arr = (np.asarray(r.grid_re) + 1j * np.asarray(r.grid_im)
                   ).reshape(-1, n_v)
            u0 = int(r.u0)
            a0, a1 = max(0, -u0), min(len(arr), n_u - u0)
            g[u0 + a0:u0 + a1] += arr[a0:a1]
        img = np.fft.fftshift(np.fft.ifft2(np.fft.ifftshift(g)))
        lo_u, lo_v = n_u // 2 - crop[0] // 2, n_v // 2 - crop[1] // 2
        img = img[lo_u:lo_u + crop[0], lo_v:lo_v + crop[1]].real * (n_u * n_v)
        sw = pdf["sum_w_norm"].sum()
        if sw is None or pd.isna(sw) or sw == 0:
            sw = 1.0
        img = img / sw
        if correct_pswf:
            img = img / np.outer(cu_full[lo_u:lo_u + crop[0]],
                                 cv_full[lo_v:lo_v + crop[1]])
        return pd.DataFrame({chan: [key[0]], pol: [key[1]],
                             out: [img.ravel()]})

    return partials_df.groupBy(chan, pol).applyInPandas(plane, schema)


def make_image(vis_df: DataFrame, gp: GridParms, *,
               image_size: tuple[int, int] | None = None,
               weight: str = "imaging_weight", variant: str = "explode",
               output: str = "cells",
               data_group: str | dict | None = None, **cols) -> DataFrame:
    """Dirty image from visibilities (make_image.py:104-130).

    ``output="cells"`` emits (chan, pol, l_idx, m_idx, image) rows;
    ``output="planes"`` (kernel variant only) keeps the whole pipeline
    dense — partial grids and the image travel as flat plane arrays.
    ``data_group`` picks which complex data variable to image via the
    data_groups registry (ngcasa's sel_parms['data_group_in'] —
    operators/data_groups.py): its data pair becomes the re/im
    columns unless explicitly overridden in ``cols``."""
    if data_group is not None:
        from cngi_prototype_spark.operators.data_groups import (
            resolve_data_group,
        )
        g = resolve_data_group(vis_df, data_group)
        cols.setdefault("re", g.data_cols[0][0])
        cols.setdefault("im", g.data_cols[0][1])
    if output == "planes":
        if variant != "kernel":
            raise ValueError("output='planes' requires variant='kernel'")
        partials, _ = grid_visibilities(vis_df, gp, weight=weight,
                                        variant=variant,
                                        dense_planes=True, **cols)
        return image_planes_from_dense(partials, gp,
                                       image_size=image_size, out="image")
    fused = variant == "explode"
    grid, sumw = grid_visibilities(vis_df, gp, weight=weight,
                                   variant=variant,
                                   fuse_sumw=fused, **cols)
    return image_from_grid(grid, None if fused else sumw, gp,
                           image_size=image_size, out="image")


def make_grid(vis_df: DataFrame, gp: GridParms, *,
              weight: str = "imaging_weight", variant: str = "explode",
              **cols) -> tuple[DataFrame, DataFrame]:
    """Gridded visibilities WITHOUT the FFT — the reference's named
    ``make_grid`` surface (make_grid.py:100-143: ``_graph_standard_grid``
    with ``do_psf=False``, the GRID and SUM_WEIGHT data variables
    written back with no image step). Returns ``(grid_df,
    sum_weight_df)`` in the same cell/weight contract every imaging
    consumer here uses; functionally ``grid_visibilities`` under the
    reference's name and default kernel parameters."""
    return grid_visibilities(vis_df, gp, weight=weight, variant=variant,
                             **cols)


# Padded-grid cropping convention: every image consumer here slices the
# centered (image_size) window out of the padded (n_u, n_v) plane with
# lo = n_pad//2 - crop//2 — the reference's ``_remove_padding``
# (ngcasa/imaging/_imaging_utils/_remove_padding.py:20-32), inlined at
# each FFT consumer because the plane is already in numpy at that point.


def make_image_and_psf(vis_df: DataFrame, gp: GridParms, *,
                       image_size: tuple[int, int] | None = None,
                       weight: str = "imaging_weight",
                       **cols) -> DataFrame:
    """Dirty image AND its PSF from ONE gridding pass →
    ``(chan, pol, l_idx, m_idx, image, psf)``.

    A CLEAN setup needs both; gridding them separately scans and
    shuffles the visibilities twice and then joins the two cubes per
    pixel. The fused form adds the weight-sampling (``psf_re``) column
    to the image gridder's aggregation (grid.py ``with_psf``) and runs
    both FFTs inside one per-plane task, so no second pass, no
    image⋈psf join, and the output feeds ``deconvolve_point_clean``
    directly (pass it as BOTH arguments — the join is skipped for the
    same DataFrame). Parity with make_image + make_psf is unit-tested,
    including rows with valid weight but zero/null data: the PSF
    normalizes by its own ``sum_weight_psf`` (the weight-valid row
    set), the image by ``sum_weight`` (the data-valid subset), exactly
    as the separate passes do.
    """
    grid, _sumw = grid_visibilities(vis_df, gp, weight=weight,
                                    variant="explode", with_psf=True,
                                    fuse_sumw=True, **cols)
    n_u, n_v = gp.n_u, gp.n_v
    crop = image_size or (n_u, n_v)
    chan, pol = cols.get("chan", "chan"), cols.get("pol", "pol")
    schema = T.StructType([
        T.StructField(chan, T.IntegerType()),
        T.StructField(pol, T.IntegerType()),
        T.StructField("l_idx", T.IntegerType()),
        T.StructField("m_idx", T.IntegerType()),
        T.StructField("image", T.DoubleType()),
        T.StructField("psf", T.DoubleType()),
    ])
    # no sumw broadcast join: the fused grid carries the per-cell
    # normalizer partials (_swc / _swpc) and the plane kernel sums them
    joined = grid

    def plane(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ui = pdf["u_idx"].to_numpy(int)
        vi = pdf["v_idx"].to_numpy(int)

        def _sw(col: str) -> float:
            v = _embedded_sumw(pdf, col)
            return 1.0 if (v is None or pd.isna(v) or v == 0) else v

        lo_u, lo_v = n_u // 2 - crop[0] // 2, n_v // 2 - crop[1] // 2
        cu = pswf((np.arange(n_u) - n_u // 2)
                  / (n_u // 2))[0][lo_u:lo_u + crop[0]]
        cv = pswf((np.arange(n_v) - n_v // 2)
                  / (n_v // 2))[0][lo_v:lo_v + crop[1]]
        corr = np.outer(cu, cv)
        outs = []
        for re_col, im_col, sw in (
                ("grid_re", "grid_im", _sw("_swc")),
                ("psf_re", None, _sw("_swpc"))):
            g = np.zeros((n_u, n_v), np.complex128)
            vals = pdf[re_col].to_numpy(float).astype(np.complex128)
            if im_col is not None:
                vals = vals + 1j * pdf[im_col].to_numpy(float)
            g[ui, vi] = vals
            img = np.fft.fftshift(np.fft.ifft2(np.fft.ifftshift(g)))
            img = img[lo_u:lo_u + crop[0],
                      lo_v:lo_v + crop[1]].real * (n_u * n_v)
            outs.append(img / sw / corr)
        li, mi = np.meshgrid(np.arange(crop[0]), np.arange(crop[1]),
                             indexing="ij")
        return pd.DataFrame({
            chan: np.full(outs[0].size, key[0], np.int32),
            pol: np.full(outs[0].size, key[1], np.int32),
            "l_idx": li.ravel().astype(np.int32),
            "m_idx": mi.ravel().astype(np.int32),
            "image": outs[0].ravel(),
            "psf": outs[1].ravel(),
        })

    return joined.groupBy(chan, pol).applyInPandas(plane, schema)


def make_psf(vis_df: DataFrame, gp: GridParms, *,
             image_size: tuple[int, int] | None = None,
             weight: str = "imaging_weight", variant: str = "explode",
             **cols) -> DataFrame:
    """PSF = imaged weight-sampling function (make_psf.py:113-131)."""
    cols.pop("re", None), cols.pop("im", None)
    fused = variant == "explode"
    grid, sumw = grid_visibilities(vis_df, gp, weight=weight, re=None, im=None,
                                   variant=variant,
                                   fuse_sumw=fused, **cols)
    return image_from_grid(grid, None if fused else sumw, gp,
                           image_size=image_size, out="psf")


def make_empty_sky_image(
    spark: SparkSession,
    phase_center: tuple[float, float],
    image_size: tuple[int, int],
    cell_size: tuple[float, float],
) -> DataFrame:
    """Distributed sky-frame lattice with inverse-SIN world coordinates.

    One row per (l_idx, m_idx): direction cosines ``l = (i - n//2)·Δl``,
    ``m = (j - n//2)·Δm`` and FK5 ra/dec via the orthographic (SIN)
    de-projection the reference gets from astropy WCS
    (make_empty_sky_image.py:56-66) — here as asin/atan2 column exprs.
    """
    n_l, n_m = image_size
    ra0, dec0 = phase_center
    base = spark.range(n_l * n_m).select(
        (F.col("id") / n_m).cast("int").alias("l_idx"),
        (F.col("id") % n_m).cast("int").alias("m_idx"),
    )
    l = (F.col("l_idx") - F.lit(n_l // 2)) * F.lit(float(cell_size[0]))
    m = (F.col("m_idx") - F.lit(n_m // 2)) * F.lit(float(cell_size[1]))
    rho2 = l * l + m * m
    z = F.sqrt(F.lit(1.0) - rho2)  # NULL (NaN) outside the unit sphere
    sd, cd = float(np.sin(dec0)), float(np.cos(dec0))
    dec = F.asin(m * F.lit(cd) + z * F.lit(sd))
    ra = F.lit(ra0) + F.atan2(l, F.lit(cd) * z - m * F.lit(sd))
    return base.select(
        "l_idx", "m_idx", l.alias("l"), m.alias("m"),
        ra.alias("right_ascension"), dec.alias("declination"),
    )


def make_pb(
    sky_df: DataFrame,
    freq_chan: list[float],
    *,
    pb_name: str = "pb",
    dish_diameter: float = 25.0,
    blockage_diameter: float = 0.0,
    ipower: int = 2,
) -> DataFrame:
    """Airy-disk primary beam over a sky frame × channel list
    (_make_pb_symmetric.py:25-80): ``r = √(l²+m²)·k·D/2`` with
    ``k = 2πf/c``; center pixel forced to 1. The Bessel-J1 evaluation is
    a vectorized Arrow pandas UDF (no JVM builtin exists)."""
    from pyspark.sql.functions import pandas_udf

    ratio = blockage_diameter / dish_diameter if blockage_diameter else 0.0

    @pandas_udf("double")
    def _airy(r: pd.Series) -> pd.Series:
        return pd.Series(airy_disk(r.to_numpy(np.float64), ratio, ipower))

    chans = F.explode(
        F.array(*[F.struct(F.lit(i).alias("chan"), F.lit(float(f)).alias("freq"))
                  for i, f in enumerate(freq_chan)])).alias("_ch")
    k = F.lit(2.0 * np.pi) * F.col("_ch.freq") / F.lit(C_M_S)
    r = F.sqrt(F.col("l") * F.col("l") + F.col("m") * F.col("m")) * k * F.lit(dish_diameter / 2.0)
    return (sky_df.select("l_idx", "m_idx", "l", "m", chans)
            .select("l_idx", "m_idx", "l", "m",
                    F.col("_ch.chan").alias("chan"),
                    F.col("_ch.freq").alias("freq"),
                    _airy(r).alias(pb_name)))


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

def _dlit(x) -> str:
    return f"CAST({float(x)!r} AS DOUBLE)"


def sql_sky_image(phase_center: tuple[float, float],
                  image_size: tuple[int, int],
                  cell_size: tuple[float, float]) -> str:
    """Twin of make_empty_sky_image over DuckDB range(); ra/dec rounded by
    the caller (libm asin/atan2 engine differences)."""
    n_l, n_m = image_size
    ra0, dec0 = phase_center
    # DuckDB parses plain decimal literals as DECIMAL; force DOUBLE so
    # arithmetic matches Spark's float64 bit-for-bit
    sd, cd = _dlit(np.sin(dec0)), _dlit(np.cos(dec0))
    return f"""
    WITH base AS (
      SELECT CAST(range // {n_m} AS INT) AS l_idx,
             CAST(range % {n_m} AS INT) AS m_idx
      FROM range({n_l * n_m})
    ),
    lm AS (
      SELECT l_idx, m_idx,
             (l_idx - {n_l // 2}) * {_dlit(cell_size[0])} AS l,
             (m_idx - {n_m // 2}) * {_dlit(cell_size[1])} AS m
      FROM base
    )
    SELECT l_idx, m_idx, l, m,
           {_dlit(ra0)} + atan2(l, {cd} * sqrt(1.0 - (l * l + m * m)) - m * {sd}) AS right_ascension,
           asin(m * {cd} + sqrt(1.0 - (l * l + m * m)) * {sd}) AS declination
    FROM lm
    """


def sql_airy_pb(image_size: tuple[int, int], cell_size: tuple[float, float],
                freq_chan: list[float], dish_diameter: float = 25.0) -> str:
    """Twin of make_pb (blockage 0, ipower 2): A&S 9.4.4/9.4.6 J1
    polynomials written out as SQL; outputs rounded by the caller."""
    n_l, n_m = image_size
    chans = " UNION ALL ".join(
        f"SELECT {i} AS chan, {float(f)!r} AS freq" for i, f in enumerate(freq_chan))
    return f"""
    WITH base AS (
      SELECT CAST(range // {n_m} AS INT) AS l_idx,
             CAST(range % {n_m} AS INT) AS m_idx
      FROM range({n_l * n_m})
    ),
    lm AS (
      SELECT l_idx, m_idx,
             (l_idx - {n_l // 2}) * {_dlit(cell_size[0])} AS l,
             (m_idx - {n_m // 2}) * {_dlit(cell_size[1])} AS m
      FROM base
    ),
    r AS (
      SELECT l_idx, m_idx, l, m, chan, freq,
             sqrt(l * l + m * m) * (2.0 * {_dlit(np.pi)} * freq / {_dlit(C_M_S)})
               * {_dlit(dish_diameter / 2.0)} AS rr
      FROM lm, ({chans})
    ),
    j AS (
      SELECT *,
             CASE WHEN rr = 0.0 THEN 1.0
                  WHEN rr < 3.0 THEN
                    2.0 * (rr * (0.5 - 0.56249985 * ((rr/3.0)*(rr/3.0))
                         + 0.21093573 * pow((rr/3.0)*(rr/3.0), 2)
                         - 0.03954289 * pow((rr/3.0)*(rr/3.0), 3)
                         + 0.00443319 * pow((rr/3.0)*(rr/3.0), 4)
                         - 0.00031761 * pow((rr/3.0)*(rr/3.0), 5)
                         + 0.00001109 * pow((rr/3.0)*(rr/3.0), 6))) / rr
                  ELSE
                    2.0 * ((0.79788456 + 0.00000156 * (3.0/rr)
                          + 0.01659667 * pow(3.0/rr, 2) + 0.00017105 * pow(3.0/rr, 3)
                          - 0.00249511 * pow(3.0/rr, 4) + 0.00113653 * pow(3.0/rr, 5)
                          - 0.00020033 * pow(3.0/rr, 6))
                      * cos(rr - 2.35619449 + 0.12499612 * (3.0/rr) + 0.0000565 * pow(3.0/rr, 2)
                          - 0.00637879 * pow(3.0/rr, 3) + 0.00074348 * pow(3.0/rr, 4)
                          + 0.00079824 * pow(3.0/rr, 5) - 0.00029166 * pow(3.0/rr, 6))
                      / sqrt(rr)) / rr
             END AS vp
      FROM r
    )
    SELECT l_idx, m_idx, chan, freq, vp * vp AS pb FROM j
    """


def calc_image_cell_size(vis_df: DataFrame, *, dish_diameter_min: float,
                         pixels_per_beam: int = 7,
                         u: str = "u", v: str = "v", freq: str = "freq") -> DataFrame:
    """Cell/image-size recommendation from uv coverage
    (``ngcasa/imaging/calc_image_cell_size.py:20-80``): cell =
    c/(uv_max·f_max)/ppb arcsec per axis (equalized when within 20%),
    image size from the perfectly-illuminated-aperture FWHM rounded to
    (2^n·10)/1.2. ONE aggregation; the scalar tail is plain column math
    on the single aggregate row."""
    rad_to_arc = 3600.0 * 180.0 / float(np.pi)
    agg = vis_df.agg(
        F.max(F.abs(F.col(u))).alias("_umax"),
        F.max(F.abs(F.col(v))).alias("_vmax"),
        F.min(freq).alias("_fmin"),
        F.max(freq).alias("_fmax"))
    cell_u = F.lit(rad_to_arc) * (F.lit(C_M_S) / (F.col("_umax") * F.col("_fmax"))) / F.lit(float(pixels_per_beam))
    cell_v = F.lit(rad_to_arc) * (F.lit(C_M_S) / (F.col("_vmax") * F.col("_fmax"))) / F.lit(float(pixels_per_beam))
    close = (cell_u / cell_v < 1.2) & (cell_v / cell_u < 1.2)
    cu = F.when(close, F.least(cell_u, cell_v)).otherwise(cell_u)
    cv = F.when(close, F.least(cell_u, cell_v)).otherwise(cell_v)
    fwhm = F.lit(rad_to_arc) * (F.lit(1.02) * F.lit(C_M_S) / (F.lit(float(dish_diameter_min)) * F.col("_fmin")))

    def imsize(cell):
        raw = F.greatest(fwhm / cell, F.lit(1.0))
        npow = F.ceil(F.log2(raw / F.lit(10.0)))
        return F.ceil(F.pow(F.lit(2.0), npow) * F.lit(10.0) / F.lit(1.2)).cast("long")

    return agg.select(cu.alias("cell_l"), cv.alias("cell_m"),
                      imsize(cu).alias("imsize_l"), imsize(cv).alias("imsize_m"))
