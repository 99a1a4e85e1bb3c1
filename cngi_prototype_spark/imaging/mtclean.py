"""Multi-scale / multi-term (MT-MFS) CLEAN.

Reference parity: ``deconvolve_multiterm_clean``
(``/root/reference/ngcasa/deconvolution/deconvolve_multiterm_clean.py:21-54``
— specified stub): "Sky model — a (multi-term) linear combination of
basis functions. Multi-scale: basis functions are inverted tapered
paraboloids. Multi-scale MFS: basis functions are Taylor polynomials in
frequency. MS-Clean (nterms=1) takes a cube in and produces a cube
model; MT-MFS solves for Taylor coefficient maps + spectral index."
The ``nscales=1, nterms=1`` special case degenerates to
``deconvolve_point_clean``, which this module preserves (scale-0-only
runs the same peak/subtract arithmetic).

Algorithms (compact, textbook forms):

MS-Clean (Cornwell 2008): per plane, smooth the residual with each
scale function ``S_s`` (inverted tapered paraboloid, unit volume);
iterate — pick ``argmax_s,p bias_s · |R_s[p]|``, add
``α = gain·R_s*[p*] / peak(psf ⊛ S_s* ⊛ S_s*)`` to the scale-s* model
at p*, subtract ``α · (psf ⊛ S_s* ⊛ S_s)`` (windowed, edge-clipped —
the hogbom subtract convention) from every scale residual. The model
image is ``Σ_s m_s ⊛ S_s``; the full-resolution residual is ``R_0``.

MT-MFS (Rau & Cornwell 2011, nterms=2): Taylor-weighted residuals
``R_t = Σ_c ω_c^t r_c`` and psf moments ``P_q = Σ_c ω_c^q psf_c`` with
``ω_c = (ν_c − ν₀)/ν₀``; per iteration solve the 2×2 peak Hessian
``A = [[p0,p1],[p1,p2]]`` (``p_q = P_q`` at center) at the peak of the
principal map ``(A⁻¹R)_0``, update both Taylor models and subtract
``gain·(c_0·P_t + c_1·P_{t+1})`` from each ``R_t``. Outputs Taylor
coefficient maps (term 0 = intensity, term 1 ≈ I·α).

All convolutions are LINEAR (zero-padded FFT, edge-clipped subtracts),
not cyclic — matching deconvolve_point_clean's windowed subtraction and
keeping the O(n⁴) direct-sum oracle twin free of modular indexing.

Spark shape: MS-Clean iterates within one (chan, pol) plane → one
``applyInPandas`` group per plane (the deconvolve_point_clean rule).
MT-MFS couples channels only through the Taylor-weighted reductions
``R_t = Σ_c ω_c^t r_c`` and ``P_q = Σ_c ω_c^q psf_c`` — LINEAR in the
channel axis — so those run as a Catalyst partial/final
``groupBy(pol, l_idx, m_idx)`` aggregation BEFORE any Python boundary
(map-side combine; the shuffle moves 2·nterms+1 doubles per pixel, not
the channel cube). The per-pol ``applyInPandas`` group then holds only
the 2·nterms+1 = 5 maps (bounded by image size, like every other
deconvolver here), never the nchan cube. In ``precise`` mode the
channel reduction is a channel-ascending left-associated fold over a
sorted ``collect_list`` — bit-identical to numpy's
``((ω**t)[:,None,None] * cube).sum(0)`` regardless of partitioning; the
production path uses plain SUM (order-free doubles, map-side partials).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cngi_prototype_spark.functions.lits import local_frame
from cngi_prototype_spark.imaging.planes import plane_arrays


def scale_kernel(n_x: int, n_y: int, size_px: float) -> np.ndarray:
    """Inverted tapered paraboloid scale function, centered, unit
    volume. ``size_px == 0`` → delta (point scale)."""
    k = np.zeros((n_x, n_y))
    cx, cy = n_x // 2, n_y // 2
    if size_px <= 0:
        k[cx, cy] = 1.0
        return k
    x = (np.arange(n_x) - cx)[:, None]
    y = (np.arange(n_y) - cy)[None, :]
    r2 = (x * x + y * y) / float(size_px) ** 2
    k = np.where(r2 < 1.0, 1.0 - r2, 0.0)
    return k / k.sum()


def _lin_conv(a: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Linear (zero-padded) convolution with the centered kernel,
    cropped to ``a``'s shape:
    ``out[x,y] = Σ_{p,q} a[p,q] · k[x+cx-p, y+cy-q]`` (k zero outside).
    """
    n_x, n_y = a.shape
    cx, cy = k.shape[0] // 2, k.shape[1] // 2
    m_x, m_y = n_x + k.shape[0], n_y + k.shape[1]
    full = np.fft.irfft2(np.fft.rfft2(a, (m_x, m_y))
                         * np.fft.rfft2(k, (m_x, m_y)), (m_x, m_y))
    return full[cx:cx + n_x, cy:cy + n_y]


def _shift_window(shape: tuple[int, int], px: int, py: int
                  ) -> tuple[slice, slice, slice, slice]:
    """Index pairs (target slices, kernel slices) for the edge-clipped
    overlap of a same-shape centered kernel recentred at (px, py) — the
    single source of truth for the clip geometry shared by the
    subtract side below and Asp's amp-fit read side (the χ²-optimal
    ``amp = ⟨R,B⟩/⟨B,B⟩`` only holds when both use the SAME window)."""
    n_x, n_y = shape
    cx, cy = n_x // 2, n_y // 2
    x0, x1 = max(px - cx, 0), min(px + (n_x - cx), n_x)
    y0, y1 = max(py - cy, 0), min(py + (n_y - cy), n_y)
    return (slice(x0, x1), slice(y0, y1),
            slice(cx - (px - x0), cx + (x1 - px)),
            slice(cy - (py - y0), cy + (y1 - py)))


def _window_subtract(target: np.ndarray, kern: np.ndarray,
                     px: int, py: int, amp: float) -> None:
    """``target -= amp · kern`` recentered at (px, py), edge-clipped —
    identical bookkeeping to hogbom_clean_plane."""
    n_x, n_y = target.shape
    p_x, p_y = kern.shape
    pc_x, pc_y = p_x // 2, p_y // 2
    x0, x1 = max(px - pc_x, 0), min(px + (p_x - pc_x), n_x)
    y0, y1 = max(py - pc_y, 0), min(py + (p_y - pc_y), n_y)
    target[x0:x1, y0:y1] -= amp * kern[pc_x - (px - x0): pc_x + (x1 - px),
                                       pc_y - (py - y0): pc_y + (y1 - py)]


def msclean_plane(dirty: np.ndarray, psf: np.ndarray, *,
                  scales: list[float], gain: float, threshold: float,
                  niter: int, bias_slope: float = 0.6,
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Single-plane multi-scale CLEAN → (evaluated model image,
    full-resolution residual)."""
    n_x, n_y = dirty.shape
    smax = max(max(scales), 1.0)
    S = [scale_kernel(n_x, n_y, s) for s in scales]
    bias = [1.0 - bias_slope * s / smax for s in scales]
    # psf ⊛ S_s ⊛ S_t for every pair; A_s = center peak of P[s][s]
    psf_s = [_lin_conv(psf, Ss) for Ss in S]
    P = [[_lin_conv(ps, St) for St in S] for ps in psf_s]
    A = [P[s][s][n_x // 2, n_y // 2] for s in range(len(S))]
    R = [_lin_conv(dirty, Ss) for Ss in S]
    models = [np.zeros((n_x, n_y)) for _ in S]

    peak0 = float(np.max([np.max(np.abs(r)) for r in R]))
    if not np.isfinite(peak0) or peak0 == 0.0:
        return np.zeros((n_x, n_y)), dirty.copy()
    stop = threshold * peak0

    for _ in range(niter):
        best_s, best_val, best_pos = -1, 0.0, (0, 0)
        for s, r in enumerate(R):
            flat = np.argmax(np.abs(r))
            px, py = np.unravel_index(flat, r.shape)
            v = bias[s] * abs(r[px, py])
            if v > best_val:
                best_s, best_val, best_pos = s, v, (px, py)
        if best_s < 0:
            break
        px, py = best_pos
        rv = R[best_s][px, py]
        if abs(rv) <= stop or A[best_s] == 0.0:
            break
        alpha = gain * rv / A[best_s]
        models[best_s][px, py] += alpha
        for s in range(len(S)):
            _window_subtract(R[s], P[best_s][s], px, py, alpha)

    model_eval = np.zeros((n_x, n_y))
    for m, Ss in zip(models, S):
        if np.any(m):
            model_eval += _lin_conv(m, Ss)
    return model_eval, R[0]


def mtmfs_cube(res_cube: np.ndarray, psf_cube: np.ndarray,
               freqs: np.ndarray, *, gain: float, threshold: float,
               niter: int) -> tuple[np.ndarray, np.ndarray]:
    """nterms=2 MT-MFS over one (chan, l, m) cube → (models[2],
    taylor_residuals[2]). Reduces the Taylor sums in-process, then
    defers to :func:`mtmfs_maps` — the distributed path computes the
    same reductions in Catalyst and never holds this cube."""
    nu0 = float(freqs.mean())
    w = (freqs - nu0) / nu0
    R = np.stack([((w ** t)[:, None, None] * res_cube).sum(0)
                  for t in range(2)])
    P = np.stack([((w ** q)[:, None, None] * psf_cube).sum(0)
                  for q in range(3)])
    return mtmfs_maps(R, P, gain=gain, threshold=threshold, niter=niter)


def mtmfs_maps(R: np.ndarray, P: np.ndarray, *, gain: float,
               threshold: float, niter: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """nterms=2 MT-MFS iteration over pre-reduced Taylor residual maps
    ``R[2, nx, ny]`` and psf moment maps ``P[3, nx, ny]`` → (models[2],
    taylor_residuals[2]). ``R``/``P`` are mutated in place (``R`` is
    the returned residual)."""
    n_x, n_y = R.shape[1:]
    cx, cy = n_x // 2, n_y // 2
    # closed-form 2x2 inverse with explicit scalar arithmetic (no
    # LAPACK/BLAS) so an unrolled SQL oracle twin reproduces every
    # operation in the same order
    p0, p1, p2 = P[0, cx, cy], P[1, cx, cy], P[2, cx, cy]
    det = p0 * p2 - p1 * p1
    models = np.zeros_like(R)
    if det == 0.0:  # degenerate Hessian (e.g. all channels equal) —
        return models, R  # guard BEFORE the divides
    i00, i01, i11 = p2 / det, -p1 / det, p0 / det

    princ = i00 * R[0] + i01 * R[1]
    peak0 = float(np.abs(princ).max())
    if not np.isfinite(peak0) or peak0 == 0.0:
        return models, R
    stop = threshold * peak0

    for _ in range(niter):
        princ = i00 * R[0] + i01 * R[1]
        flat = np.argmax(np.abs(princ))
        px, py = np.unravel_index(flat, princ.shape)
        r0p, r1p = R[0, px, py], R[1, px, py]
        if abs(princ[px, py]) <= stop:
            break
        c0 = i00 * r0p + i01 * r1p
        c1 = i01 * r0p + i11 * r1p
        models[0, px, py] += gain * c0
        models[1, px, py] += gain * c1
        for t in range(2):
            _window_subtract(R[t], P[t], px, py, gain * c0)
            _window_subtract(R[t], P[t + 1], px, py, gain * c1)
    return models, R


def deconvolve_multiterm_clean(
    image_df: DataFrame,
    psf_df: DataFrame,
    *,
    scales: list[float] | None = None,
    nterms: int = 1,
    freqs: dict[int, float] | None = None,
    gain: float = 0.1,
    threshold: float = 0.0,
    niter: int = 20,
    chan: str = "chan",
    pol: str = "pol",
    image: str = "image",
    psf: str = "psf",
    precise: bool = True,
) -> DataFrame:
    """MS-Clean (``nterms=1``; per-(chan, pol)-plane groups) or MT-MFS
    (``nterms=2``; per-pol cube groups, ``freqs`` maps chan → ν).

    nterms=1 → ``(chan, pol, l_idx, m_idx, model, residual)`` with
    ``model`` the evaluated (scale-convolved) model image.
    nterms=2 → ``(term, pol, l_idx, m_idx, model, residual)`` Taylor
    coefficient + Taylor residual maps (term 0 intensity, term 1 I·α).
    ``precise`` (nterms=2 only) picks the deterministic sorted-fold
    channel reduction (gate/oracle mode) over plain partial/final SUM.
    """
    scales = scales if scales is not None else [0.0, 2.0, 4.0]

    if psf_df is image_df:
        # fused make_image_and_psf output: both cubes already share the
        # rows — skip the per-pixel join (and the duplicated grid
        # build) entirely, as deconvolve_point_clean does
        both = image_df.select(chan, pol, "l_idx", "m_idx", image, psf)
    else:
        both = image_df.select(chan, pol, "l_idx", "m_idx", image).join(
            psf_df.select(chan, pol, "l_idx", "m_idx", psf),
            on=[chan, pol, "l_idx", "m_idx"], how="inner")

    if nterms == 1:
        schema = T.StructType([
            T.StructField(chan, T.IntegerType()),
            T.StructField(pol, T.IntegerType()),
            T.StructField("l_idx", T.IntegerType()),
            T.StructField("m_idx", T.IntegerType()),
            T.StructField("model", T.DoubleType()),
            T.StructField("residual", T.DoubleType()),
        ])

        def plane(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            li, mi, (dirty, psf_a) = plane_arrays(pdf, image, psf)
            model, resid = msclean_plane(
                dirty, psf_a, scales=scales, gain=gain,
                threshold=threshold, niter=niter)
            return pd.DataFrame({
                chan: np.full(li.size, key[0], np.int32),
                pol: np.full(li.size, key[1], np.int32),
                "l_idx": li.astype(np.int32), "m_idx": mi.astype(np.int32),
                "model": model[li, mi], "residual": resid[li, mi],
            })

        return both.groupBy(chan, pol).applyInPandas(plane, schema)

    if nterms != 2:
        raise ValueError("nterms must be 1 (MS-Clean) or 2 (MT-MFS)")
    if freqs is None:
        raise ValueError("MT-MFS needs freqs={chan: nu_hz}")
    freq_items = sorted(freqs.items())
    nu = np.array([f for _, f in freq_items])
    nu0 = float(nu.mean())

    # Taylor-weighted channel reductions R_t = Σ_c ω_c^t r_c and psf
    # moments P_q = Σ_c ω_c^q psf_c are LINEAR in the channel axis, so
    # they run as a Catalyst groupBy(pol, l, m) aggregation — the
    # shuffle carries 5 doubles per pixel instead of the nchan cube,
    # and no task ever materializes more than 5 image planes.
    spark = image_df.sparkSession
    wdf = local_frame(
        spark, [(int(c), (float(f) - nu0) / nu0) for c, f in freq_items],
        f"{chan} int, _w double")
    # LEFT join + raise on a missing weight: an inner join would
    # silently drop data channels absent from freqs and return Taylor
    # maps computed from a partial cube (the pre-refactor cube path
    # raised on the unmapped channel — keep that contract)
    j = both.join(F.broadcast(wdf), on=chan, how="left").withColumn(
        "_w", F.when(F.col("_w").isNotNull(), F.col("_w")).otherwise(
            F.raise_error(F.concat(
                F.lit("MT-MFS: data channel missing from freqs: "),
                F.col(chan).cast("string")))))
    key = [pol, "l_idx", "m_idx"]
    if precise:
        # channel-ascending left-associated fold over the sorted
        # per-pixel channel list: bit-identical to numpy's
        # ((w**t)[:,None,None] * cube).sum(0) regardless of
        # partitioning (sort_array orders struct rows by chan first)
        xs = j.groupBy(*key).agg(
            F.sort_array(F.collect_list(F.struct(
                F.col(chan).alias("c"), F.col(image).alias("r"),
                F.col(psf).alias("p"), F.col("_w").alias("w"),
            ))).alias("xs"))

        def _fold(term):
            return F.aggregate("xs", F.lit(0.0),
                               lambda acc, x: acc + term(x))

        agg = xs.select(
            *key,
            _fold(lambda x: x["r"]).alias("r0"),
            _fold(lambda x: x["w"] * x["r"]).alias("r1"),
            _fold(lambda x: x["p"]).alias("p0"),
            _fold(lambda x: x["w"] * x["p"]).alias("p1"),
            _fold(lambda x: x["w"] * x["w"] * x["p"]).alias("p2"))
    else:
        agg = j.groupBy(*key).agg(
            F.sum(F.col(image)).alias("r0"),
            F.sum(F.col("_w") * F.col(image)).alias("r1"),
            F.sum(F.col(psf)).alias("p0"),
            F.sum(F.col("_w") * F.col(psf)).alias("p1"),
            F.sum(F.col("_w") * F.col("_w") * F.col(psf)).alias("p2"))

    schema = T.StructType([
        T.StructField("term", T.IntegerType()),
        T.StructField(pol, T.IntegerType()),
        T.StructField("l_idx", T.IntegerType()),
        T.StructField("m_idx", T.IntegerType()),
        T.StructField("model", T.DoubleType()),
        T.StructField("residual", T.DoubleType()),
    ])

    def maps(key_: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        li, mi, (r0, r1, p0, p1, p2) = plane_arrays(
            pdf, "r0", "r1", "p0", "p1", "p2")
        R = np.stack([r0, r1])
        P = np.stack([p0, p1, p2])
        models, R = mtmfs_maps(R, P, gain=gain, threshold=threshold,
                               niter=niter)
        n_x, n_y = r0.shape
        lat_l = np.repeat(np.arange(n_x, dtype=np.int32), n_y)
        lat_m = np.tile(np.arange(n_y, dtype=np.int32), n_x)
        frames = []
        for t in range(2):
            frames.append(pd.DataFrame({
                "term": np.full(lat_l.size, t, np.int32),
                pol: np.full(lat_l.size, key_[0], np.int32),
                "l_idx": lat_l, "m_idx": lat_m,
                "model": models[t, lat_l, lat_m],
                "residual": R[t, lat_l, lat_m],
            }))
        return pd.concat(frames, ignore_index=True)

    return agg.groupBy(pol).applyInPandas(maps, schema)


def spectral_index_map(taylor_df: DataFrame, *, pol: str = "pol",
                       eps: float = 1e-8) -> DataFrame:
    """α = model₁ / model₀ where |model₀| > eps (the reference's
    "Spectral Index + Evaluation" output)."""
    t0 = (taylor_df.filter(F.col("term") == 0)
          .select(pol, "l_idx", "m_idx", F.col("model").alias("_m0")))
    t1 = (taylor_df.filter(F.col("term") == 1)
          .select(pol, "l_idx", "m_idx", F.col("model").alias("_m1")))
    return (t0.join(t1, on=[pol, "l_idx", "m_idx"])
            .filter(F.abs(F.col("_m0")) > eps)
            .select(pol, "l_idx", "m_idx",
                    (F.col("_m1") / F.col("_m0")).alias("alpha")))


def evaluate_taylor_to_cube(taylor_df: DataFrame, freqs: dict[int, float],
                            *, pol: str = "pol") -> DataFrame:
    """Evaluate Taylor coefficient maps to a cube model:
    ``model_c = m₀ + ω_c · m₁`` (reference Step 3, mfs_to_cube)."""
    spark = taylor_df.sparkSession
    # channel-sorted mean, matching mtmfs_cube's nu0 bit-for-bit (dict
    # insertion order would shift the sum by an ulp)
    nu0 = float(np.array([freqs[c] for c in sorted(freqs)]).mean())
    chans = local_frame(
        spark,
        [(int(c), (float(f) - nu0) / nu0) for c, f in sorted(freqs.items())],
        "chan int, omega double")
    t0 = (taylor_df.filter(F.col("term") == 0)
          .select(pol, "l_idx", "m_idx", F.col("model").alias("_m0")))
    t1 = (taylor_df.filter(F.col("term") == 1)
          .select(pol, "l_idx", "m_idx", F.col("model").alias("_m1")))
    return (t0.join(t1, on=[pol, "l_idx", "m_idx"])
            .crossJoin(F.broadcast(chans))
            .select("chan", pol, "l_idx", "m_idx",
                    (F.col("_m0") + F.col("omega") * F.col("_m1"))
                    .alias("model")))
