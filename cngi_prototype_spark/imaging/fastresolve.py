"""Bayesian MAP deconvolution (``deconvolve_fast_resolve``).

Reference parity: ``deconvolve_fast_resolve``
(``/root/reference/ngcasa/deconvolution/deconvolve_fast_resolve.py:20-37``)
is a pure ``.. todo::`` stub — "Bayesian formulation that includes
constraints on the flux distribution and wideband support. Input —
cube (+psf); Output — cube model image, error map" — with NO algorithm
specified. The formulation here is therefore chosen from public
literature and documented: the linear/Gaussian (Wiener) core of the
RESOLVE family (Junklewitz et al. 2016, A&A 586 A76 "RESOLVE";
Arras et al. / Roth et al. 2024 "fast-resolve"), which is the
closed-form special case every resolve variant iterates around.

Per (chan, pol) plane, MAP under a Gaussian likelihood and a
stationary Gaussian prior on the sky:

- model:  ``d = psf ⊛ m + n`` (cyclic convolution),
  ``n ~ N(0, σ²I)``, ``m ~ N(0, S)`` with flat prior power ``s``
  over Fourier modes (``S = s·I`` in the Fourier basis).
- posterior mean, diagonal per Fourier mode ``k``::

    m̂(k) = conj(P(k)) · D(k) / (|P(k)|² + σ²/s)

  with ``P = FFT2(psf rolled to the origin)``, ``D = FFT2(d)`` —
  the classic Wiener deconvolution.
- error map: the posterior pixel variance.  The operator is
  stationary, so the pixel-space diagonal is constant::

    var = (1/Npix) · Σ_k σ² / (|P(k)|² + σ²/s)

  emitted as a per-pixel ``error`` column (uniform within a plane —
  the honest closed-form answer, not a per-pixel approximation).

The stub's "wideband support" (spectral index map) is
:func:`fit_spectral_index`: run the Wiener solve per channel, then a
per-pixel power-law least-squares fit over the channel models — pure
Catalyst (one broadcast chan → ln ν table + one partial/final groupBy),
so the cube never crosses into Python at all for the wideband step.

Spark shape: the solve is closed-form per plane (two FFTs + a
pointwise divide), so one ``applyInPandas`` group per (chan, pol)
plane — bounded by image size, planes parallel across executors, the
same scale rule as ``deconvolve_point_clean``.  No iteration, no
driver loop, no cube ever crosses into one task.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cngi_prototype_spark.imaging.planes import plane_arrays

from cngi_prototype_spark.functions.exact import dsum
from cngi_prototype_spark.functions.lits import local_frame


def fast_resolve_plane(dirty: np.ndarray, psf: np.ndarray, *,
                       noise_var: float, prior_power: float
                       ) -> tuple[np.ndarray, float]:
    """Single-plane Wiener MAP solve → (model image, posterior pixel
    variance). ``psf`` is centered (peak at ``(n//2, n//2)``, the
    make_psf layout); it is rolled to the origin so the Fourier
    eigenvalues line up with the cyclic convolution."""
    n_x, n_y = dirty.shape
    ker = np.roll(psf, (-(n_x // 2), -(n_y // 2)), (0, 1))
    P = np.fft.fft2(ker)
    D = np.fft.fft2(dirty)
    denom = (P.real * P.real + P.imag * P.imag) + noise_var / prior_power
    M = np.conj(P) * D / denom
    model = np.fft.ifft2(M).real
    error = float((noise_var / denom).mean())
    return model, error


def deconvolve_fast_resolve(
    image_df: DataFrame,
    psf_df: DataFrame,
    *,
    noise_var: float = 0.25,
    prior_power: float = 2.5,
    chan: str = "chan",
    pol: str = "pol",
    image: str = "image",
    psf: str = "psf",
) -> DataFrame:
    """Wiener/MAP-deconvolve every (chan, pol) plane →
    ``(chan, pol, l_idx, m_idx, model, error)``.

    ``noise_var`` is σ² of the image-plane noise; ``prior_power`` is
    the flat prior power ``s`` (their ratio is the regularizer — the
    only knob, as in any Wiener filter). ``psf_df`` shares the plane
    keys and pixel layout of ``image_df`` (the make_psf output).
    """
    schema = T.StructType([
        T.StructField(chan, T.IntegerType()),
        T.StructField(pol, T.IntegerType()),
        T.StructField("l_idx", T.IntegerType()),
        T.StructField("m_idx", T.IntegerType()),
        T.StructField("model", T.DoubleType()),
        T.StructField("error", T.DoubleType()),
    ])

    if psf_df is image_df:
        # fused make_image_and_psf output: both cubes already share the
        # rows — skip the per-pixel join (and the duplicated grid
        # build) entirely, as deconvolve_point_clean does
        both = image_df.select(chan, pol, "l_idx", "m_idx", image, psf)
    else:
        both = image_df.select(chan, pol, "l_idx", "m_idx", image).join(
            psf_df.select(chan, pol, "l_idx", "m_idx", psf),
            on=[chan, pol, "l_idx", "m_idx"], how="inner")

    def plane(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        li, mi, (dirty, psf_a) = plane_arrays(pdf, image, psf)
        model, error = fast_resolve_plane(
            dirty, psf_a, noise_var=noise_var, prior_power=prior_power)
        return pd.DataFrame({
            chan: np.full(li.size, key[0], np.int32),
            pol: np.full(li.size, key[1], np.int32),
            "l_idx": li.astype(np.int32),
            "m_idx": mi.astype(np.int32),
            "model": model[li, mi],
            "error": np.full(li.size, error),
        })

    return both.groupBy(chan, pol).applyInPandas(plane, schema)


def fit_spectral_index(
    model_df: DataFrame,
    freqs: dict[int, float],
    *,
    chan: str = "chan",
    pol: str = "pol",
    model: str = "model",
    eps: float = 1e-12,
    precise: bool = False,
) -> DataFrame:
    """Per-pixel power-law fit over a cube of channel models:
    ``ln|m_c| = ln_flux + alpha * ln(nu_c)`` least-squares →
    ``(pol, l_idx, m_idx, alpha, ln_flux)``.

    The wideband companion to :func:`deconvolve_fast_resolve` — the
    reference stub names "Error map (Spectral index map)" as the
    output; run the Wiener solve per channel, then fit alpha here (the
    same composition MT-MFS uses for its "Spectral Index + Evaluation"
    step). Pure Catalyst: one broadcast of the chan → ln(nu) table and
    one partial/final groupBy over pixels — the cube never leaves the
    JVM, so the fit scales with image size x channels like any
    aggregate. Channels with ``|m_c| <= eps`` are excluded per pixel
    (log-domain guard); pixels left with <2 channels, or with a
    singular normal matrix, are dropped. ``precise`` routes the four
    sums through the DECIMAL-exact accumulator for the oracle twin.
    """
    spark = model_df.sparkSession
    xdf = local_frame(
        spark, [(int(c), math.log(float(f))) for c, f in sorted(freqs.items())],
        f"{chan} int, _x double")
    # LEFT join + raise on a missing frequency: an inner join would
    # silently drop data channels absent from freqs and fit alpha from
    # a partial cube (same contract as deconvolve_multiterm_clean's
    # Taylor reduction — mtclean.py keeps the cube path's raise)
    j = (model_df.join(F.broadcast(xdf), on=chan, how="left")
         .withColumn("_x", F.when(
             F.col("_x").isNotNull(), F.col("_x")).otherwise(
             F.raise_error(F.concat(
                 F.lit("fit_spectral_index: data channel missing "
                       "from freqs: "), F.col(chan).cast("string")))))
         .filter(F.abs(F.col(model)) > F.lit(eps))
         .withColumn("_y", F.log(F.abs(F.col(model)))))
    s = dsum if precise else F.sum
    g = j.groupBy(pol, "l_idx", "m_idx").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        s(F.col("_x")).alias("_sx"), s(F.col("_y")).alias("_sy"),
        s(F.col("_x") * F.col("_y")).alias("_sxy"),
        s(F.col("_x") * F.col("_x")).alias("_sxx"))
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    alpha = (F.col("_n") * F.col("_sxy")
             - F.col("_sx") * F.col("_sy")) / den
    return (g.filter((F.col("_n") >= 2) & (den != 0))
            .select(pol, "l_idx", "m_idx", alpha.alias("alpha"),
                    ((F.col("_sy") - alpha * F.col("_sx")) / F.col("_n"))
                    .alias("ln_flux")))
