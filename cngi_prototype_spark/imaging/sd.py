"""Single-dish (total-power) imaging: gridded observing pattern, image,
and effective beam.

Reference parity — specified stubs
(``/root/reference/ngcasa/imaging/make_sd_image.py:21-29``,
``make_sd_psf.py:21-29``, ``make_sd_weight_image.py:21-29``): construct,
from single-dish pointed samples, (a) the observed image cube, (b) the
effective SD beam per frequency, and (c) the weight map that illustrates
the mosaic's observing pattern. The classic SD imaging equations
(gridded convolutional resampling):

    weight[p]  = Σ_s  w_s · K(p − x_s)          (make_sd_weight_image)
    image[p]   = Σ_s  w_s · d_s · K(p − x_s) / weight[p]   (make_sd_image)
    psf(ν)     = unit-peak gaussian of FWHM 1.02·λ/D        (make_sd_psf)

with ``x_s`` the pointing direction of sample ``s`` in image-pixel
coordinates and ``K`` a truncated gaussian gridding kernel.

Spark shape — pure Catalyst, zero Python UDFs: the kernel is evaluated
*continuously* per tap with ``F.exp`` (no oversampled LUT — exp is one
codegen intrinsic, cheaper than an array lookup at these supports), taps
come from a 2-D ``explode(sequence(...))``, and both accumulations run
in ONE partial/final aggregation on the grid cell — map-side combine
collapses each executor's taps before the single shuffle on
(chan, pol, l_idx, m_idx). At 100 TB this behaves exactly like the uv
gridder's explode variant: shuffle volume is bounded by touched cells ×
partitions, not by sample count, and there is no skew cliff because a
hot pointing only deepens map-side partials. ``precise=True`` switches
the tap sums to the DECIMAL(38,12) order-independent accumulator
(functions/exact.py) for hash-exact oracle comparison.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cngi_prototype_spark.functions.exact import dsum, sql_dsum
from cngi_prototype_spark.functions.lits import local_frame

C_M_S = 299792458.0
_FWHM_TO_SIGMA = 1.0 / (2.0 * math.sqrt(2.0 * math.log(2.0)))


def _sd_taps(
    vis: DataFrame,
    n_l: int,
    n_m: int,
    cell_l: float,
    cell_m: float,
    *,
    support: int,
    sigma_px: float,
    l: str = "l",
    m: str = "m",
) -> DataFrame:
    """Explode each pointed sample into its (2·support+1)² kernel taps
    and keep the in-bounds ones. Adds ``l_idx``, ``m_idx``, ``kern``."""
    xl = F.col(l) / F.lit(float(cell_l)) + F.lit(n_l / 2.0)
    xm = F.col(m) / F.lit(float(cell_m)) + F.lit(n_m / 2.0)
    taps = (vis
            .withColumn("_xl", xl).withColumn("_xm", xm)
            .withColumn("_bl", F.floor(F.col("_xl") + F.lit(0.5)))
            .withColumn("_bm", F.floor(F.col("_xm") + F.lit(0.5)))
            .withColumn("_di", F.explode(F.sequence(F.lit(-support),
                                                    F.lit(support))))
            .withColumn("_dj", F.explode(F.sequence(F.lit(-support),
                                                    F.lit(support))))
            .withColumn("l_idx", (F.col("_bl") + F.col("_di")).cast("int"))
            .withColumn("m_idx", (F.col("_bm") + F.col("_dj")).cast("int"))
            .filter((F.col("l_idx") >= 0) & (F.col("l_idx") < n_l)
                    & (F.col("m_idx") >= 0) & (F.col("m_idx") < n_m)))
    du = F.col("l_idx") - F.col("_xl")
    dv = F.col("m_idx") - F.col("_xm")
    two_s2 = 2.0 * float(sigma_px) ** 2
    return taps.withColumn(
        "kern", F.exp(-(du * du + dv * dv) / F.lit(two_s2)))


def make_sd_weight_image(
    vis: DataFrame,
    n_l: int,
    n_m: int,
    cell_l: float,
    cell_m: float,
    *,
    support: int = 3,
    sigma_px: float = 1.2,
    l: str = "l",
    m: str = "m",
    weight: str = "weight",
    chan: str = "chan",
    pol: str = "pol",
    precise: bool = False,
) -> DataFrame:
    """Observing-pattern weight map: ``Σ w·K`` per grid cell."""
    taps = _sd_taps(vis, n_l, n_m, cell_l, cell_m, support=support,
                    sigma_px=sigma_px, l=l, m=m)
    wk = F.col(weight) * F.col("kern")
    s = dsum(wk) if precise else F.sum(wk)
    return (taps.groupBy(chan, pol, "l_idx", "m_idx")
            .agg(s.alias("sd_weight")))


def make_sd_image(
    vis: DataFrame,
    n_l: int,
    n_m: int,
    cell_l: float,
    cell_m: float,
    *,
    support: int = 3,
    sigma_px: float = 1.2,
    l: str = "l",
    m: str = "m",
    data: str = "data",
    weight: str = "weight",
    chan: str = "chan",
    pol: str = "pol",
    precise: bool = False,
) -> DataFrame:
    """Observed SD image cube: ``Σ w·d·K / Σ w·K`` per grid cell (the
    weight map rides along as ``sd_weight`` — both sums come out of the
    same single aggregation, so asking for image+weights costs one
    shuffle, not two)."""
    taps = _sd_taps(vis, n_l, n_m, cell_l, cell_m, support=support,
                    sigma_px=sigma_px, l=l, m=m)
    wk = F.col(weight) * F.col("kern")
    dwk = F.col(data) * wk
    s = (lambda c: dsum(c)) if precise else (lambda c: F.sum(c))
    agg = (taps.groupBy(chan, pol, "l_idx", "m_idx")
           .agg(s(dwk).alias("_s_dwk"), s(wk).alias("sd_weight")))
    return (agg.filter(F.col("sd_weight") != 0.0)
            .select(chan, pol, "l_idx", "m_idx",
                    (F.col("_s_dwk") / F.col("sd_weight")).alias("sd_image"),
                    "sd_weight"))


def make_sd_psf(
    spark_or_df,
    freq_chan: list[float],
    n_l: int,
    n_m: int,
    cell_l: float,
    cell_m: float,
    *,
    dish_diameter: float = 25.0,
) -> DataFrame:
    """Effective SD beam per frequency: a unit-peak gaussian of FWHM
    ``1.02·λ/D`` (the same dish response family as make_pb /
    calc_image_cell_size) evaluated on the image lattice — one plane per
    channel. Pure Catalyst over a generated lattice."""
    spark = getattr(spark_or_df, "sparkSession", spark_or_df)
    lat = spark.range(n_l * n_m).select(
        (F.col("id") / n_m).cast("int").alias("l_idx"),
        (F.col("id") % n_m).cast("int").alias("m_idx"))
    chans = local_frame(spark, [(i, float(f)) for i, f in enumerate(freq_chan)],
                        "chan int, freq double")
    cl, cm = n_l // 2, n_m // 2
    out = lat.crossJoin(F.broadcast(chans))
    fwhm = F.lit(1.02 * C_M_S / dish_diameter) / F.col("freq")
    sig_l = fwhm * F.lit(_FWHM_TO_SIGMA / cell_l)   # sigma in l-pixels
    sig_m = fwhm * F.lit(_FWHM_TO_SIGMA / cell_m)
    dl = F.col("l_idx") - F.lit(cl)
    dm = F.col("m_idx") - F.lit(cm)
    return out.select(
        "chan", "freq", "l_idx", "m_idx",
        F.exp(-(dl * dl / (F.lit(2.0) * sig_l * sig_l)
                + dm * dm / (F.lit(2.0) * sig_m * sig_m))).alias("sd_psf"))


# --- SQL-text twins (DuckDB oracle; keep in lockstep) ----------------------

def sql_sd_taps(vis_sql: str, n_l: int, n_m: int, cell_l: float,
                cell_m: float, *, support: int, sigma_px: float) -> str:
    two_s2 = 2.0 * float(sigma_px) ** 2
    return f"""
      SELECT t.*,
             CAST(t._bl + d.di AS INT) AS l_idx,
             CAST(t._bm + d.dj AS INT) AS m_idx,
             EXP(0e0 - ((t._bl + d.di - t._xl) * (t._bl + d.di - t._xl)
                        + (t._bm + d.dj - t._xm) * (t._bm + d.dj - t._xm))
                 / {two_s2!r}) AS kern
      FROM (
        SELECT v.*,
               v.l / {float(cell_l)!r} + {n_l / 2.0!r} AS _xl,
               v.m / {float(cell_m)!r} + {n_m / 2.0!r} AS _xm,
               FLOOR(v.l / {float(cell_l)!r} + {n_l / 2.0!r} + 0.5) AS _bl,
               FLOOR(v.m / {float(cell_m)!r} + {n_m / 2.0!r} + 0.5) AS _bm
        FROM ({vis_sql}) v) t,
        (SELECT di.range AS di, dj.range AS dj
         FROM range({-support}, {support + 1}) di,
              range({-support}, {support + 1}) dj) d
      WHERE t._bl + d.di >= 0 AND t._bl + d.di < {n_l}
        AND t._bm + d.dj >= 0 AND t._bm + d.dj < {n_m}"""


def sql_make_sd_image(vis_sql: str, n_l: int, n_m: int, cell_l: float,
                      cell_m: float, *, support: int,
                      sigma_px: float) -> str:
    taps = sql_sd_taps(vis_sql, n_l, n_m, cell_l, cell_m,
                       support=support, sigma_px=sigma_px)
    s_dwk = sql_dsum("tp.data * tp.weight * tp.kern")
    s_wk = sql_dsum("tp.weight * tp.kern")
    return f"""
      SELECT chan, pol, l_idx, m_idx,
             (s_dwk / sd_weight) AS sd_image, sd_weight
      FROM (
        SELECT tp.chan, tp.pol, tp.l_idx, tp.m_idx,
               {s_dwk} AS s_dwk, {s_wk} AS sd_weight
        FROM ({taps}) tp
        GROUP BY 1, 2, 3, 4)
      WHERE sd_weight <> 0.0"""


def sql_make_sd_psf(freq_chan: list[float], n_l: int, n_m: int,
                    cell_l: float, cell_m: float, *,
                    dish_diameter: float = 25.0) -> str:
    chans = ", ".join(f"({i}, {float(f)!r})" for i, f in enumerate(freq_chan))
    cl, cm = n_l // 2, n_m // 2
    k = 1.02 * C_M_S / dish_diameter
    return f"""
      SELECT c.chan, c.freq, CAST(l.range AS INT) AS l_idx,
             CAST(m.range AS INT) AS m_idx,
             EXP(0e0 - ((l.range - {cl}) * (l.range - {cl})
                        / (2e0 * ({k!r} / c.freq * {_FWHM_TO_SIGMA / cell_l!r})
                               * ({k!r} / c.freq * {_FWHM_TO_SIGMA / cell_l!r}))
                        + (m.range - {cm}) * (m.range - {cm})
                        / (2e0 * ({k!r} / c.freq * {_FWHM_TO_SIGMA / cell_m!r})
                               * ({k!r} / c.freq * {_FWHM_TO_SIGMA / cell_m!r}))))
               AS sd_psf
      FROM range({n_l}) l, range({n_m}) m,
           (SELECT * FROM (VALUES {chans})) c(chan, freq)"""
