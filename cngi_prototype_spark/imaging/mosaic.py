"""Mosaic / heterogeneous-array imaging: GCF kernels, phase-gradient
gridding, mosaic primary beam.

Reference parity (simplified but semantically faithful):

- ``make_gridding_convolution_function``
  (``/root/reference/ngcasa/imaging/make_gridding_convolution_function.py:36-260``):
  per unique dish-pair ("baseline type") and PB-frequency group, the
  gridding kernel is the Fourier transform of the baseline's primary-
  beam voltage pattern (×PSWF when ps_term) — built here driver-side
  with a zero-padded FFT for oversampling, support clipped at
  ``support_cut_level`` of the kernel peak, plus the baseline→type and
  chan→group maps. Kernels are small (support·oversampling squared) and
  ship to executors in the task closure.
- per-field **phase gradient** (``:262-300`` PHASE_GRADIENT): applying
  ``exp(2πi·(u·l_f + v·m_f))`` to the *kernel* is identical to applying
  it to the *visibility* for every tap (the gradient is linear in uv);
  we apply it vis-side as pure column expressions before gridding —
  zero UDF cost and exactly the mosaic alignment semantics.
- ``make_mosaic_pb`` (``make_mosaic_pb.py``): the weighted mosaic sense
  pattern; built image-domain (the reference's own "Option 1: evaluate
  models directly onto the image") as Σ_f w_f·PB²(l−l_f, m−m_f)
  normalized — explode fields × pixel lattice, groupBy pixel.
- ``make_image_with_gcf`` (``make_image_with_gcf.py``): mosaic gridding
  + FFT + normalization, composed from the pieces above.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cngi_prototype_spark.functions.lits import local_frame
from cngi_prototype_spark.imaging.grid import C_M_S, GridParms, _scaled_pos
from cngi_prototype_spark.imaging.image import image_from_grid
from cngi_prototype_spark.imaging.kernels import airy_disk, pswf


@dataclass
class GCF:
    """Gridding-convolution-function set (the reference's gcf_dataset)."""

    kernels: np.ndarray          # (n_types, n_freq_groups, S, S) oversampled
    support: np.ndarray          # (n_types, n_freq_groups, 2)
    oversampling: int
    cf_baseline_map: dict        # (dish_a, dish_b) sorted -> type index
    cf_chan_map: np.ndarray      # chan index -> freq group
    pb_freqs: np.ndarray


# parameter-tuple -> GCF memo (see make_gridding_convolution_function)
_GCF_MEMO: dict[tuple, GCF] = {}


def make_gridding_convolution_function(
    gp: GridParms,
    freq_chan: list[float],
    dish_diameters: list[float],
    *,
    oversampling: int = 16,
    max_support: int = 15,
    support_cut_level: float = 0.025,
    chan_tolerance_factor: float = 0.005,
    pb_npix: int = 128,
    ps_term: bool = False,
) -> GCF:
    """Build the kernel cube driver-side (kernels are KBs; the reference
    also materializes them eagerly per chunk).

    r14: memoized on the full parameter tuple — the kernel cube is a
    pure function of grid/antenna CONFIGURATION (no input data ever
    flows in), and rebuilding it costs ~1 s of driver-side FFT per
    query construction (guide §4.5 heavyweight-init-once). The cached
    arrays are marked read-only so an accidental caller mutation
    raises instead of corrupting later builds.
    """
    key = (gp.n_u, gp.n_v, float(gp.cell_u), float(gp.cell_v),
           tuple(float(f) for f in freq_chan),
           tuple(sorted(float(d) for d in dish_diameters)),
           oversampling, max_support, support_cut_level,
           chan_tolerance_factor, pb_npix, ps_term)
    hit = _GCF_MEMO.get(key)
    if hit is not None:
        return hit
    # chan -> pb freq groups within tolerance (create_cf_chan_map)
    freq = np.asarray(freq_chan, dtype=float)
    groups: list[float] = []
    cf_chan_map = np.zeros(len(freq), dtype=int)
    for i, f in enumerate(freq):
        for gi, gf in enumerate(groups):
            if abs(f - gf) / gf <= chan_tolerance_factor:
                cf_chan_map[i] = gi
                break
        else:
            groups.append(f)
            cf_chan_map[i] = len(groups) - 1
    pb_freqs = np.asarray(groups)

    dishes = sorted(set(float(d) for d in dish_diameters))
    pairs = [(a, b) for i, a in enumerate(dishes) for b in dishes[i:]]
    cf_baseline_map = {p: i for i, p in enumerate(pairs)}

    # resize_conv_size = (max_support+1)*oversampling (reference :141):
    # the extra oversampling band keeps tap*ov + frac_offset indexable at
    # the outermost support cell
    S = (max_support + 1) * oversampling
    kernels = np.zeros((len(pairs), len(pb_freqs), S, S))
    support = np.zeros((len(pairs), len(pb_freqs), 2), dtype=int)

    # image-domain lattice for the PB patterns (padded FFT -> oversampled
    # uv kernel: pad factor == oversampling)
    x = (np.arange(pb_npix) - pb_npix // 2)
    ll = x[:, None] * gp.cell_u
    mm = x[None, :] * gp.cell_v
    r_base = np.sqrt(ll ** 2 + mm ** 2)
    ps_img = 1.0
    if ps_term:
        cu = pswf(x / (pb_npix // 2))[0]
        ps_img = np.outer(cu, cu)

    big = pb_npix * oversampling
    for ti, (da_, db_) in enumerate(pairs):
        for fi, f in enumerate(pb_freqs):
            k = 2 * np.pi * f / C_M_S
            vp = (airy_disk(r_base * k * (da_ / 2), 0.0, 1)
                  * airy_disk(r_base * k * (db_ / 2), 0.0, 1)) * ps_img
            padded = np.zeros((big, big))
            lo = big // 2 - pb_npix // 2
            padded[lo:lo + pb_npix, lo:lo + pb_npix] = np.fft.fftshift(
                np.fft.ifftshift(vp))  # keep centered embedding
            kern = np.fft.fftshift(np.fft.fft2(np.fft.ifftshift(padded))).real
            c = big // 2
            win = kern[c - S // 2: c + (S + 1) // 2, c - S // 2: c + (S + 1) // 2]
            win = win / win[S // 2, S // 2]
            kernels[ti, fi] = win
            # support: smallest half-width (in full cells) containing
            # everything above cut level (resize_and_calc_support)
            above = np.argwhere(np.abs(win) > support_cut_level)
            if len(above):
                half_cells = int(np.ceil(
                    np.max(np.abs(above - S // 2)) / oversampling))
            else:
                half_cells = 1
            hw = min(max(half_cells, 1), (max_support - 1) // 2)
            support[ti, fi] = (2 * hw + 1, 2 * hw + 1)
    gcf = GCF(kernels, support, oversampling, cf_baseline_map,
              cf_chan_map, pb_freqs)
    if len(_GCF_MEMO) < 16:  # a session sees a handful of configs
        for arr in (kernels, support, cf_chan_map, pb_freqs):
            arr.setflags(write=False)
        _GCF_MEMO[key] = gcf
    return gcf


def apply_phase_gradient(
    vis_df: DataFrame,
    field_offsets: dict[int, tuple[float, float]],
    gp: GridParms,
    *,
    field: str = "field_id",
    u: str = "u", v: str = "v", freq: str = "freq",
    data: tuple[str, str] = ("data_re", "data_im"),
) -> DataFrame:
    """Mosaic alignment: multiply each field's visibilities by
    ``exp(2πi·(u_λ·l_f + v_λ·m_f))`` (uv in wavelengths) — the vis-side
    equivalent of the reference's per-field kernel PHASE_GRADIENT."""
    if len(field_offsets) <= 64:
        # r14: the field table is a handful of rows — two literal MAP
        # lookups replace the createDataFrame + BroadcastExchange +
        # join (one driver round-trip and one stage per bench run, and
        # a whole broadcast build at scale). element_at yields NULL on
        # a missing field, exactly the old left-join; the coalesce
        # below handles both identically. Same double literals → same
        # arithmetic bit-for-bit.
        items = sorted(field_offsets.items())
        lmap = F.create_map(*[F.lit(x) for k, (l_, _) in items
                              for x in (int(k), float(l_))])
        mmap = F.create_map(*[F.lit(x) for k, (_, m_) in items
                              for x in (int(k), float(m_))])
        j = (vis_df.withColumn("_lf", F.element_at(lmap, F.col(field)))
             .withColumn("_mf", F.element_at(mmap, F.col(field))))
    else:
        spark = vis_df.sparkSession
        lut = F.broadcast(local_frame(
            spark,
            [(int(k), float(l), float(m)) for k, (l, m) in sorted(field_offsets.items())],
            T.StructType([T.StructField(field, T.LongType()),
                          T.StructField("_lf", T.DoubleType()),
                          T.StructField("_mf", T.DoubleType())])))
        j = vis_df.join(lut, field, "left")
    u_l = F.col(u) * F.col(freq) / F.lit(C_M_S)
    v_l = F.col(v) * F.col(freq) / F.lit(C_M_S)
    arg = F.lit(2.0 * np.pi) * (u_l * F.coalesce(F.col("_lf"), F.lit(0.0))
                                + v_l * F.coalesce(F.col("_mf"), F.lit(0.0)))
    re, im = data
    cr, sr = F.cos(arg), F.sin(arg)
    nre = F.col(re) * cr - F.col(im) * sr
    nim = F.col(re) * sr + F.col(im) * cr
    return (j.withColumn("_nre", nre).withColumn("_nim", nim)
            .withColumn(re, F.col("_nre")).withColumn(im, F.col("_nim"))
            .drop("_nre", "_nim", "_lf", "_mf"))


def mosaic_grid_visibilities(
    vis_df: DataFrame,
    gcf: GCF,
    gp: GridParms,
    *,
    baseline_dish: dict[int, tuple[float, float]] | None = None,
    baseline: str = "baseline",
    u: str = "u", v: str = "v", freq: str = "freq",
    weight: str = "weight",
    re: str | None = "data_re", im: str = "data_im",
    chan: str = "chan", pol: str = "pol",
) -> tuple[DataFrame, DataFrame]:
    """Grid with per-row GCF selection — the aperture gridder
    (``_aperture_grid.py:25-80``) as a partition kernel: vectorized
    numpy scatter-add per Arrow batch, per-row kernel chosen by
    (baseline type, chan group), sparse partial cells combined by the
    usual groupBy sum. ``baseline_dish`` maps baseline id -> the dish
    pair; default: homogeneous (single type).

    ``re=None`` grids the weights themselves (PSF mode — the
    ``do_psf=True`` branch of the reference aperture gridder,
    ``make_psf_with_gcf.py:126-131``); the gridded quantity is real,
    so rows with zero data but nonzero weight still contribute."""
    n_u, n_v = gp.n_u, gp.n_v
    ov = gcf.oversampling
    S = gcf.kernels.shape[-1]
    kernels = gcf.kernels
    supports = gcf.support
    cf_chan = gcf.cf_chan_map
    if baseline_dish is None:
        bl_type = None
    else:
        bl_type = {int(b): gcf.cf_baseline_map[tuple(sorted(p))]
                   for b, p in baseline_dish.items()}

    out_schema = T.StructType([
        T.StructField(chan, T.IntegerType()),
        T.StructField(pol, T.IntegerType()),
        T.StructField("u_idx", T.IntegerType()),
        T.StructField("v_idx", T.IntegerType()),
        T.StructField("grid_re", T.DoubleType()),
        T.StructField("grid_im", T.DoubleType()),
        T.StructField("sw", T.DoubleType()),
    ])

    u_pos, v_pos = _scaled_pos(gp, u, v, freq)
    if baseline not in vis_df.columns:
        vis_df = vis_df.withColumn(baseline, F.lit(0))
    if re is None:  # PSF mode: the weight IS the gridded quantity
        wre_col, wim_col = F.col(weight), F.lit(0.0)
    else:
        wre_col = F.col(re) * F.col(weight)
        wim_col = F.col(im) * F.col(weight)
    prepared = (vis_df
                .withColumns({"_up": F.expr(u_pos), "_vp": F.expr(v_pos)})
                .select(baseline, chan, pol, "_up", "_vp",
                        F.col(weight).alias("_w"),
                        wre_col.alias("_wre"), wim_col.alias("_wim"))
                .filter(F.col("_w").isNotNull() & (F.col("_w") != 0)))

    def grid_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            up = pdf["_up"].to_numpy(float)
            vp = pdf["_vp"].to_numpy(float)
            ch = pdf[chan].to_numpy(int)
            po = pdf[pol].to_numpy(int)
            bl = pdf[baseline].to_numpy(int)
            wre = pdf["_wre"].to_numpy(float)
            wim = pdf["_wim"].to_numpy(float)
            w = pdf["_w"].to_numpy(float)
            uc = np.floor(up + 0.5).astype(int)
            vc = np.floor(vp + 0.5).astype(int)
            du = np.floor((uc - up) * ov + 0.5).astype(int)
            dv = np.floor((vc - vp) * ov + 0.5).astype(int)
            types = (np.zeros(len(pdf), int) if bl_type is None
                     else np.vectorize(bl_type.get)(bl))
            fgrp = cf_chan[ch]
            acc: dict[tuple[int, int], np.ndarray] = {}
            sumw: dict[tuple[int, int], float] = {}
            wd = wre + 1j * wim
            hw_all = supports[types, fgrp, 0] // 2
            plane_key = ch.astype(np.int64) * 1_000_000 + po
            # vectorize per (plane, kernel, support) group: build the
            # (n, k, k) window stack by fancy indexing and scatter-add
            # with np.add.at — no per-row Python
            group = (plane_key * 1_000_000 + types * 1_000 + fgrp)
            for gkey in np.unique(group):
                sel = np.nonzero(group == gkey)[0]
                t0, f0 = types[sel[0]], fgrp[sel[0]]
                hw = int(hw_all[sel[0]])
                ok = ((uc[sel] >= hw) & (uc[sel] < n_u - hw)
                      & (vc[sel] >= hw) & (vc[sel] < n_v - hw)
                      & (wd[sel] != 0))
                sel = sel[ok]
                if not len(sel):
                    continue
                kern = kernels[t0, f0]
                taps = np.arange(-hw, hw + 1)
                idx_u = S // 2 + taps[None, :] * ov + du[sel][:, None]
                idx_v = S // 2 + taps[None, :] * ov + dv[sel][:, None]
                kwin = kern[idx_u[:, :, None], idx_v[:, None, :]]  # (n,k,k)
                vals = kwin * wd[sel][:, None, None]
                cell_u = (uc[sel][:, None] + taps[None, :])[:, :, None]
                cell_v = (vc[sel][:, None] + taps[None, :])[:, None, :]
                flat = (cell_u * n_v + cell_v).reshape(len(sel), -1)
                key = (int(ch[sel[0]]), int(po[sel[0]]))
                g = acc.setdefault(key, np.zeros((n_u, n_v), np.complex128))
                np.add.at(g.reshape(-1), flat.ravel(), vals.reshape(len(sel), -1).ravel())
                sumw[key] = sumw.get(key, 0.0) + float(
                    (w[sel] * kwin.sum(axis=(1, 2))).sum())
            rows = []
            for key, g in acc.items():
                ui, vi = np.nonzero(g)
                rows.append(pd.DataFrame({
                    chan: np.full(len(ui), key[0], np.int32),
                    pol: np.full(len(ui), key[1], np.int32),
                    "u_idx": ui.astype(np.int32), "v_idx": vi.astype(np.int32),
                    "grid_re": g[ui, vi].real, "grid_im": g[ui, vi].imag,
                    "sw": np.zeros(len(ui)),
                }))
                rows.append(pd.DataFrame({
                    chan: [np.int32(key[0])], pol: [np.int32(key[1])],
                    "u_idx": [np.int32(-1)], "v_idx": [np.int32(-1)],
                    "grid_re": [0.0], "grid_im": [0.0],
                    "sw": [sumw[key]],
                }))
            if rows:
                yield pd.concat(rows, ignore_index=True)

    partials = prepared.mapInPandas(grid_batches, out_schema)
    combined = partials.groupBy(chan, pol, "u_idx", "v_idx").agg(
        F.sum("grid_re").alias("grid_re"), F.sum("grid_im").alias("grid_im"),
        F.sum("sw").alias("sw"))
    # r14: grid and sum_weight are BOTH consumed by every caller
    # (image_from_grid broadcast-joins sumw onto grid), and without a
    # materialization Catalyst re-runs the whole scan + mapInPandas
    # gridding pipeline once per branch. The combined table is bounded
    # by touched cells (≤ n_u·n_v + 1 rows per plane), so an eager
    # localCheckpoint (the dedup.py convention — the gridding job runs
    # at plan build) makes both branches read the one materialized
    # aggregate. Values unchanged: same rows, same sums.
    combined = combined.localCheckpoint()
    grid = combined.filter(F.col("u_idx") >= 0).drop("sw")
    sum_weight = (combined.filter(F.col("u_idx") < 0)
                  .groupBy(chan, pol).agg(F.sum("sw").alias("sum_weight")))
    return grid, sum_weight


def make_image_with_gcf(
    vis_df: DataFrame,
    gcf: GCF,
    gp: GridParms,
    field_offsets: dict[int, tuple[float, float]] | None = None,
    *,
    image_size: tuple[int, int] | None = None,
    **cols,
) -> DataFrame:
    """Mosaic dirty image: phase-gradient alignment → GCF gridding →
    plane FFT + normalization (make_image_with_gcf.py surface)."""
    if field_offsets:
        vis_df = apply_phase_gradient(vis_df, field_offsets, gp)
    grid, sumw = mosaic_grid_visibilities(vis_df, gcf, gp, **cols)
    return image_from_grid(grid, sumw, gp, image_size=image_size,
                           out="image", correct_pswf=False)


def make_psf_with_gcf(
    vis_df: DataFrame,
    gcf: GCF,
    gp: GridParms,
    *,
    image_size: tuple[int, int] | None = None,
    **cols,
) -> DataFrame:
    """Mosaic PSF: grid the imaging WEIGHTS with the GCF, FFT, then
    peak-normalize at the image center (``make_psf_with_gcf.py:126-140``
    — real reference code, not a stub: ``do_psf=True`` gridding followed
    by ``normalized_image / normalized_image[image_center]``).

    No phase gradient is applied: the gridded quantity is the real
    weight, and a per-field gradient would only shift the PSF in the
    image domain. The center-peak divide is a broadcast join of the
    per-(chan, pol) peak — one tiny dim against the pixel fact."""
    grid, sumw = mosaic_grid_visibilities(vis_df, gcf, gp, re=None, **cols)
    psf = image_from_grid(grid, sumw, gp, image_size=image_size,
                          out="psf", correct_pswf=False)
    crop = image_size or (gp.n_u, gp.n_v)
    chan = cols.get("chan", "chan")
    pol = cols.get("pol", "pol")
    center = (psf.filter((F.col("l_idx") == crop[0] // 2)
                         & (F.col("m_idx") == crop[1] // 2))
              .select(chan, pol, F.col("psf").alias("_peak")))
    return (psf.join(F.broadcast(center), [chan, pol], "left")
            .withColumn("psf", F.col("psf") / F.col("_peak"))
            .drop("_peak"))


def make_mosaic_pb(
    sky_df: DataFrame,
    field_offsets: dict[int, tuple[float, float]],
    freq: float,
    *,
    dish_diameter: float = 25.0,
    field_weights: dict[int, float] | None = None,
) -> DataFrame:
    """Image-domain weighted mosaic sense pattern:
    ``PB_mos(l,m) = Σ_f w_f·PB(l−l_f, m−m_f) / Σ_f w_f``."""
    from pyspark.sql.functions import pandas_udf

    w = field_weights or {f: 1.0 for f in field_offsets}
    total = sum(w.values())
    fields = F.explode(F.array(*[
        F.struct(F.lit(float(l)).alias("lf"), F.lit(float(m)).alias("mf"),
                 F.lit(float(w[fid]) / total).alias("wf"))
        for fid, (l, m) in sorted(field_offsets.items())])).alias("_f")
    k = 2.0 * np.pi * freq / C_M_S

    @pandas_udf("double")
    def _pb(r: pd.Series) -> pd.Series:
        return pd.Series(airy_disk(r.to_numpy(np.float64), 0.0, 2))

    dl = F.col("l") - F.col("_f.lf")
    dm = F.col("m") - F.col("_f.mf")
    r = F.sqrt(dl * dl + dm * dm) * F.lit(k * dish_diameter / 2.0)
    per = (sky_df.select("l_idx", "m_idx", "l", "m", fields)
           .select("l_idx", "m_idx", (F.col("_f.wf") * _pb(r)).alias("_c")))
    return per.groupBy("l_idx", "m_idx").agg(F.sum("_c").alias("pb_mosaic"))


def sql_mosaic_pb(image_size: tuple[int, int], cell_size: tuple[float, float],
                  field_offsets: dict[int, tuple[float, float]], freq: float,
                  dish_diameter: float = 25.0) -> str:
    """DuckDB twin of make_mosaic_pb (airy power pattern per shifted
    field, weighted mean) — A&S J1 polynomial inline; caller rounds."""
    n_l, n_m = image_size
    n_f = len(field_offsets)
    fields = ", ".join(
        f"({float(l)!r}, {float(m)!r}, {1.0 / n_f!r})"
        for _, (l, m) in sorted(field_offsets.items()))
    kd = 2.0 * np.pi * freq / C_M_S * (dish_diameter / 2.0)

    def j1pb(rr: str) -> str:
        t = f"(({rr})/3.0)*(({rr})/3.0)"
        q = f"3.0/({rr})"
        small = (f"2.0 * (({rr}) * (0.5 - 0.56249985 * {t}"
                 f" + 0.21093573 * pow({t}, 2) - 0.03954289 * pow({t}, 3)"
                 f" + 0.00443319 * pow({t}, 4) - 0.00031761 * pow({t}, 5)"
                 f" + 0.00001109 * pow({t}, 6))) / ({rr})")
        big = (f"2.0 * ((0.79788456 + 0.00000156 * {q} + 0.01659667 * pow({q}, 2)"
               f" + 0.00017105 * pow({q}, 3) - 0.00249511 * pow({q}, 4)"
               f" + 0.00113653 * pow({q}, 5) - 0.00020033 * pow({q}, 6))"
               f" * cos(({rr}) - 2.35619449 + 0.12499612 * {q} + 0.0000565 * pow({q}, 2)"
               f" - 0.00637879 * pow({q}, 3) + 0.00074348 * pow({q}, 4)"
               f" + 0.00079824 * pow({q}, 5) - 0.00029166 * pow({q}, 6))"
               f" / sqrt({rr})) / ({rr})")
        return (f"pow(CASE WHEN ({rr}) = 0.0 THEN 1.0"
                f" WHEN ({rr}) < 3.0 THEN {small} ELSE {big} END, 2)")

    rr = (f"sqrt(((l_idx - {n_l // 2}) * CAST({float(cell_size[0])!r} AS DOUBLE) - f.lf)"
          f" * ((l_idx - {n_l // 2}) * CAST({float(cell_size[0])!r} AS DOUBLE) - f.lf)"
          f" + ((m_idx - {n_m // 2}) * CAST({float(cell_size[1])!r} AS DOUBLE) - f.mf)"
          f" * ((m_idx - {n_m // 2}) * CAST({float(cell_size[1])!r} AS DOUBLE) - f.mf))"
          f" * CAST({kd!r} AS DOUBLE)")
    return f"""
    WITH base AS (
      SELECT CAST(range // {n_m} AS INT) AS l_idx,
             CAST(range % {n_m} AS INT) AS m_idx
      FROM range({n_l * n_m})
    )
    SELECT l_idx, m_idx, SUM(f.wf * {j1pb(rr)}) AS pb_mosaic
    FROM base, (VALUES {fields}) AS f(lf, mf, wf)
    GROUP BY 1, 2
    """
