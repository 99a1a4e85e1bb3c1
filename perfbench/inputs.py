"""Seeded input generation and numpy reference answers.

Everything here runs before Spark is timed: inputs are written as
parquet stores with pyarrow, and each generator also returns the answer
the pipeline must reproduce, computed by an independent numpy/pandas
path (no Spark, no engine code: the gridding kernel and taper below are
evaluated here from Schwab's published spheroidal approximation, not
imported from the engine).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

C_M_S = 299792458.0


def _write_store(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """One parquet file per slice, so the scan has ``n_files`` splits."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# a (time, baseline, chan, pol) cube with holes and flags (vis_reduce),
# or a clean staged store and its dirty-image plane sums (image_cycle)


@dataclass(frozen=True)
class CubeSpec:
    n_time: int
    n_ant: int
    n_chan: int
    n_pol: int = 2
    times_per_scan: int = 8  # 10 s integrations
    time_bin_s: int = 40  # 4 integrations; scans start on a bin edge
    chan_bin: int = 4
    absent_frac: float = 0.03
    clip_max: float = 6.0
    # imaging: 512^2 padded grid, 7x7 PSWF kernel, 400^2 image, briggs 0.5
    n_u: int = 512
    cell: float = 2.5e-6
    support: int = 7
    oversampling: int = 100
    image: int = 400
    robust: float = 0.5

    @property
    def n_baseline(self) -> int:
        return self.n_ant * (self.n_ant - 1) // 2


def cube_inputs(rng: np.random.Generator, spec: CubeSpec, path: str,
                n_files: int, clean: bool = False) -> pd.DataFrame:
    """Long-form cube: ~3% absent samples, flags clustered in
    (time-range x baseline) blocks and a persistent RFI channel range,
    rare high-amplitude spikes for the clipper, and uv tracks that
    rotate with time inside a 55 km radius (at 1.000-1.031 GHz every
    sample and its 7x7 kernel stay on the 512^2 grid).

    ``clean`` gives a staged, already reduced store for imaging instead:
    every sample present, unflagged and carrying data."""
    t_n, b_n, c_n, p_n = spec.n_time, spec.n_baseline, spec.n_chan, spec.n_pol
    ti, bi, ci, pi = (a.ravel() for a in np.meshgrid(
        np.arange(t_n), np.arange(b_n), np.arange(c_n), np.arange(p_n),
        indexing="ij"))
    if not clean:
        keep = rng.random(ti.size) >= spec.absent_frac
        ti, bi, ci, pi = ti[keep], bi[keep], ci[keep], pi[keep]
    n = ti.size
    re = rng.normal(1.0, 1.0, n)
    im = rng.normal(0.0, 1.0, n)
    flag = np.zeros(n, bool)
    if not clean:
        spike = rng.random(n) < 0.005
        re[spike] *= 25.0
        for _ in range(max(1, b_n // 8)):  # (time-range x baseline) blocks
            b0 = rng.integers(0, b_n)
            t0 = rng.integers(0, t_n)
            flag |= (bi == b0) & (ti >= t0) & (ti < t0 + rng.integers(2, 9))
        rfi = rng.integers(0, max(1, c_n - 3))
        flag |= (ci >= rfi) & (ci < rfi + 3) & (rng.random(n) < 0.5)
    radius = 55000.0 * np.sqrt(rng.random(b_n))
    phase = rng.uniform(0.0, 2 * np.pi, b_n)
    angle = phase[bi] + ti * 0.01
    t0 = np.datetime64("2021-03-01T00:00:00", "us")
    pdf = pd.DataFrame({
        "time": pd.to_datetime(t0 + (ti * 10_000_000).astype("timedelta64[us]"),
                               utc=True),
        "baseline": bi.astype(np.int32),
        "chan": ci.astype(np.int32),
        "pol": pi.astype(np.int32),
        "data_re": re,
        "data_im": im,
        "data_weight": rng.uniform(0.5, 2.0, n),
        "flag": flag,
        "scan_number": (ti // spec.times_per_scan).astype(np.int32),
        "u": radius[bi] * np.cos(angle),
        "v": radius[bi] * np.sin(angle),
        "freq": 1.0e9 + ci * 1.0e6,
    })
    _write_store(pdf, path, n_files)
    return pdf


def reduce_expected(pdf: pd.DataFrame, spec: CubeSpec) -> pd.DataFrame:
    """clip -> flag -> time average (fixed-width bins) -> chan average,
    in pandas: data means weighted over unflagged samples, weights
    summed over all samples, u/v/freq plain means, flag = every input
    sample flagged."""
    amp = np.sqrt(pdf.data_re ** 2 + pdf.data_im ** 2)
    ok = ~(pdf.flag.to_numpy() | (amp > spec.clip_max).to_numpy())
    d = pdf.assign(tbin=pdf.time.dt.floor(f"{spec.time_bin_s}s"))

    def wmean(df, keys, re, im, w, has):
        """Weighted means over rows with data, summed weights, means."""
        g = pd.DataFrame({
            **{k: df[k] for k in keys},
            "wre": np.where(has, re * w, 0.0), "wim": np.where(has, im * w, 0.0),
            "wok": np.where(has, w, 0.0), "nok": has.astype(np.int64), "w": w,
            "u": df.u, "v": df.v, "freq": df.freq,
        }).groupby(keys, as_index=False).agg(
            wre=("wre", "sum"), wim=("wim", "sum"), wok=("wok", "sum"),
            nok=("nok", "sum"), data_weight=("w", "sum"), u=("u", "mean"),
            v=("v", "mean"), freq=("freq", "mean"))
        has = g.nok.to_numpy() > 0
        g["data_re"] = np.where(has, g.wre / g.wok, np.nan)
        g["data_im"] = np.where(has, g.wim / g.wok, np.nan)
        return g

    t = wmean(d, ["tbin", "baseline", "chan", "pol"], pdf.data_re.to_numpy(),
              pdf.data_im.to_numpy(), d.data_weight.to_numpy(), ok)
    t = t.rename(columns={"tbin": "time"})
    t["chan"] = (t.chan // spec.chan_bin) * spec.chan_bin
    c = wmean(t, ["time", "baseline", "chan", "pol"], t.data_re.to_numpy(),
              t.data_im.to_numpy(), t.data_weight.to_numpy(),
              ~np.isnan(t.data_re.to_numpy()))
    c["flag"] = c.nok == 0
    return c[["time", "baseline", "chan", "pol", "data_re", "data_im",
              "data_weight", "flag", "u", "v", "freq"]]


# Schwab (1984) rational approximation of the m=6, alpha=1 prolate
# spheroidal function, split at |nu| = 0.75: numerator, denominator
# coefficients in powers of nu^2 - nu_edge^2
_SPHEROIDAL = (
    (0.75, (8.203343e-2, -3.644705e-1, 6.278660e-1, -5.335581e-1, 2.312756e-1),
     (1.0, 8.212018e-1, 2.078043e-1)),
    (1.0, (4.028559e-3, -3.697768e-2, 1.021332e-1, -1.201436e-1, 6.412774e-2),
     (1.0, 9.599102e-1, 2.918724e-1)),
)


def spheroidal(nu: np.ndarray) -> np.ndarray:
    """psi(nu) for |nu| <= 1, 0 beyond."""
    nu = np.abs(np.asarray(nu, dtype=np.float64))
    out = np.zeros_like(nu)
    lo = 0.0
    for edge, p, q in _SPHEROIDAL:
        sel = (nu >= lo) & (nu < edge) if edge < 1.0 else (nu >= lo) & (nu <= 1.0)
        d = nu[sel] ** 2 - edge ** 2
        out[sel] = (sum(c * d ** k for k, c in enumerate(p))
                    / sum(c * d ** k for k, c in enumerate(q)))
        lo = edge
    return out


def image_plane_sums(vis: pd.DataFrame, spec: CubeSpec) -> dict:
    """Reference dirty-image plane sums: briggs imaging weights from a
    1-tap Hermitian weight grid (every weighted sample, with or without
    data), PSWF-kernel gridding of the samples with data, inverse FFT,
    normalization by the kernel-weighted sum of weights, crop and PSWF
    taper correction -- all in numpy, per (chan, pol) plane."""
    n, ov, half = spec.n_u, spec.oversampling, spec.support // 2
    # gridding kernel (1 - nu^2) psi(nu), tabulated at ``ov`` steps per
    # cell out to the support edge (0 at and beyond it)
    nu = np.arange(ov * (half + 1)) / (half * ov)
    cgk = np.where(nu < 1.0, (1.0 - nu * nu) * spheroidal(nu), 0.0)
    taper = spheroidal((np.arange(n) - n // 2) / (n // 2))
    lo = n // 2 - spec.image // 2
    corr = np.outer(taper[lo:lo + spec.image], taper[lo:lo + spec.image])
    f1_scale = (5.0 * 10.0 ** (-spec.robust)) ** 2
    sums = {}
    for (c, p), g in vis.groupby(["chan", "pol"]):
        u, v, f = g.u.to_numpy(), g.v.to_numpy(), g.freq.to_numpy()
        w = g.data_weight.to_numpy()
        # briggs weights (1-tap grid, both Hermitian arms)
        us = u * (-(f * spec.cell * float(n)) / C_M_S)
        vs = v * (-(f * spec.cell * float(n)) / C_M_S)
        cu = np.floor(us + float(n // 2) + 0.5).astype(np.int64)
        cv = np.floor(vs + float(n // 2) + 0.5).astype(np.int64)
        ccu = np.floor(-us + float(n // 2) + 0.5).astype(np.int64)
        ccv = np.floor(-vs + float(n // 2) + 0.5).astype(np.int64)
        wg = np.bincount(cu * n + cv, w, n * n) + np.bincount(ccu * n + ccv, w, n * n)
        f1 = f1_scale * wg.sum() / (wg * wg).sum()
        iw = w / (f1 * wg[cu * n + cv] + 1.0)
        # PSWF gridding of the weighted visibilities that carry data
        has = ~np.isnan(g.data_re.to_numpy())
        u, v, f, iw = u[has], v[has], f[has], iw[has]
        u_pos = u * (-(f * spec.cell * float(n)) / C_M_S) + float(n // 2)
        v_pos = v * (-(f * spec.cell * float(n)) / C_M_S) + float(n // 2)
        uc = np.floor(u_pos + 0.5).astype(np.int64)
        vc = np.floor(v_pos + 0.5).astype(np.int64)
        du = np.floor((uc - u_pos) * ov + 0.5).astype(np.int64)
        dv = np.floor((vc - v_pos) * ov + 0.5).astype(np.int64)
        wd = (g.data_re.to_numpy()[has] + 1j * g.data_im.to_numpy()[has]) * iw
        taps = np.arange(-half, spec.support - half)
        ku = cgk[np.abs(ov * taps[:, None] + du)]  # (support, n_vis)
        kv = cgk[np.abs(ov * taps[:, None] + dv)]
        k = ku[:, None, :] * kv[None, :, :]  # (support, support, n_vis)
        cell = ((uc + taps[:, None])[:, None, :] * n
                + (vc + taps[:, None])[None, :, :]).ravel()
        val = (k * wd).ravel()
        grid = (np.bincount(cell, val.real, n * n)
                + 1j * np.bincount(cell, val.imag, n * n))
        sw = float((iw * k.sum(axis=(0, 1))).sum())
        img = np.fft.fftshift(np.fft.ifft2(np.fft.ifftshift(grid.reshape(n, n))))
        img = img[lo:lo + spec.image, lo:lo + spec.image].real * (n * n) / sw
        sums[(int(c), int(p))] = float((img / corr).sum())
    return sums
