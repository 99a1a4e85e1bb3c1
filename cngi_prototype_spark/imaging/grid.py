"""Standard (prolate-spheroidal) uv gridder, Spark-first.

Reference parity: ``_standard_grid_jit``
(``/root/reference/ngcasa/imaging/_imaging_utils/_standard_grid.py:242-371``):
each visibility is convolved onto the padded uv grid with a separable
oversampled PSWF kernel of ``support²`` taps; per-(chan,pol) sum of
weights accumulates ``weight · Σtaps(conv)``; out-of-bounds and
zero/NaN-weighted samples are skipped.

Two physical strategies, same semantics:

1. ``variant="explode"`` — pure Catalyst. Each vis row is exploded into
   its ``support²`` kernel taps; the grid is a
   ``groupBy(chan, pol, u_idx, v_idx)`` sum. The 49× row multiplication
   never reaches the shuffle at scale: Spark's partial (map-side) hash
   aggregation collapses each task's taps to at most the number of
   distinct touched grid cells, so shuffle volume is bounded by
   ``touched_cells × n_partitions`` regardless of row count — the same
   shape as the reference's per-chunk partial grids + tree sum
   (SG:58-120), but chosen adaptively by AQE instead of hand-built.
   Whole-stage codegen keeps the kernel-weight arithmetic JVM-side.

2. ``variant="kernel"`` — numpy scatter in Python workers, two outputs:

   - sparse cells (the default, and the ``precise`` gate mode):
     ``mapInPandas`` builds a partial dense grid per partition, emits
     its touched cells and combines them by the same final ``groupBy``
     sum (``_kernel_variant``);
   - dense planes (``dense_planes=True``, used by
     ``make_image(output="planes")``): the six small geometry integers
     pack into one int64 key, rows group JVM-side into one fat
     ``collect_list(struct)`` row per (chan, pol, u-slab) and input
     partition behind one exchange, and each ``mapInArrow`` task sums
     its slabs into L2-resident arrays emitted WHOLE — one row per
     plane-slab, no per-cell row explosion; the FFT consumer places
     and sums slabs directly (``_dense_planes_arrow``). At the CHILES
     shape (support 17, 1024² padded grid) this matches-or-beats the
     reference prototype's per-core gridding throughput (vs_baseline
     0.92-1.08 across bench runs; see bench.py imaging_chiles_frac)
     where sparse-cell emission was ~10x off and the earlier
     row-at-a-time Arrow feed ~3x off. Packing needs oversampling ≤
     254 and a grid whose widest slab flat-indexes in int32 (every
     grid up to 32768², see ``_pack_bits``); other shapes raise and
     take ``output="cells"``.

The per-visibility kernel normalization is separable
(``Σ_{u,v} conv_u·conv_v = (Σ conv_u)(Σ conv_v)``), so the
sum-of-weights aggregate needs no tap explosion at all — it is a plain
single-pass ``groupBy(chan, pol)`` over the input.

The ``sum_weight`` definition follows the reference exactly: the weight
enters multiplied by the *kernel* norm of taps actually applied.
"""

from __future__ import annotations

from collections.abc import Hashable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cngi_prototype_spark.imaging.kernels import pswf_kernel_1d

C_M_S = 299792458.0


@dataclass(frozen=True)
class GridParms:
    """Reference grid_parms (make_image.py:105-115): padded image size,
    cell size (radians, per axis), PSWF support and oversampling.

    The reference validates/defaults these through dict-checking
    helpers (``_check_imaging_parms.py``, ``_check_calibration_parms.py``);
    a frozen dataclass with typed defaults is the Python-native form of
    the same contract (unknown keys are TypeErrors at construction).
    ``_standard_grid_bu.py`` is a superseded duplicate of the gridder
    this module re-expresses."""

    n_u: int
    n_v: int
    cell_u: float
    cell_v: float
    support: int = 7
    oversampling: int = 100

    @property
    def half(self) -> int:
        return self.support // 2

    def taps(self) -> list[tuple[int, int]]:
        lo, hi = -self.half, self.support - self.half
        return [(iu, iv) for iu in range(lo, hi) for iv in range(lo, hi)]

    def kernel_1d(self) -> np.ndarray:
        return pswf_kernel_1d(self.oversampling, self.support)


def _scaled_pos(gp: GridParms, u: Column, v: Column, freq: Column) -> tuple[Column, Column]:
    # SG:274-276 — uv in meters × (-freq·cell·n/c), shifted to grid center
    u_pos = u * (-(freq * F.lit(gp.cell_u) * F.lit(float(gp.n_u))) / F.lit(C_M_S)) + F.lit(float(gp.n_u // 2))
    v_pos = v * (-(freq * F.lit(gp.cell_v) * F.lit(float(gp.n_v))) / F.lit(C_M_S)) + F.lit(float(gp.n_v // 2))
    return u_pos, v_pos


def _prepare(df: DataFrame, gp: GridParms, u: str, v: str, freq: str,
             weight: str, re: str | None, im: str | None,
             nonzero: bool = True) -> DataFrame:
    """Common per-visibility geometry: center cell, fractional-offset
    index, in-bounds + nonzero filters (SG:300-343). ``nonzero=False``
    skips the data-nonzero filter (the fused image+PSF path applies
    its own per-aggregate masks instead — see ``with_psf``)."""
    u_pos, v_pos = _scaled_pos(gp, F.col(u), F.col(v), F.col(freq))
    out = (
        df.withColumn("_u_c", F.floor(u_pos + F.lit(0.5)).cast("int"))
        .withColumn("_v_c", F.floor(v_pos + F.lit(0.5)).cast("int"))
        .withColumn("_du", F.floor((F.col("_u_c") - u_pos) * F.lit(float(gp.oversampling)) + F.lit(0.5)).cast("int"))
        .withColumn("_dv", F.floor((F.col("_v_c") - v_pos) * F.lit(float(gp.oversampling)) + F.lit(0.5)).cast("int"))
    )
    half = gp.half
    out = out.filter(
        (F.col("_u_c") + half < gp.n_u) & (F.col("_u_c") - half >= 0)
        & (F.col("_v_c") + half < gp.n_v) & (F.col("_v_c") - half >= 0)
    )
    if re is None:  # psf / weight gridding: weighted data IS the weight
        out = out.withColumn("_wd_re", F.col(weight)).withColumn("_wd_im", F.lit(0.0))
    else:
        out = out.withColumn("_wd_re", F.col(re) * F.col(weight)).withColumn(
            "_wd_im", F.col(im) * F.col(weight))
    if not nonzero:
        return out
    return out.filter(
        F.col("_wd_re").isNotNull() & F.col("_wd_im").isNotNull()
        & ((F.col("_wd_re") != 0) | (F.col("_wd_im") != 0))
    )


# one-py4j-call array literals — shared with the ANN tier; see
# functions/lits.py for the build-cost and value-exactness notes
from cngi_prototype_spark.functions.lits import flit_arr as _flit_arr  # noqa: E402


def _tap_explode(sup: int, lo: int, alias: str = "_ti") -> Column:
    """Tap-index explode: ``sequence(0, sup²-1)`` instead of a literal
    array of sup² (iu, iv) structs — the struct form costs ~3·sup²
    py4j calls per build (289 structs at CHILES support 17). The
    (iu, iv) pair derives from the index in-row (div/mod, two codegen
    int ops); enumeration order is identical to ``GridParms.taps()``
    (iu-major), so per-partition addend order is unchanged."""
    return F.explode(F.sequence(F.lit(0), F.lit(sup * sup - 1))).alias(alias)


def _tap_iu_iv(sup: int, lo: int, idx: str = "_ti") -> tuple[Column, Column]:
    iu = (F.expr(f"{idx} div {sup}") + F.lit(lo)).cast("int")
    iv = (F.pmod(F.col(idx), F.lit(sup)) + F.lit(lo)).cast("int")
    return iu, iv


def _cgk_at(cgk_lit: Column, ov: int, tap: int, off: Column) -> Column:
    # kernel lookup cgk[abs(oversampling·i_tap + frac_idx)] (SG:345-355)
    return F.element_at(cgk_lit, F.abs(F.lit(ov * tap) + off) + 1)


def grid_visibilities(
    df: DataFrame,
    gp: GridParms,
    *,
    u: str = "u",
    v: str = "v",
    freq: str = "freq",
    weight: str = "weight",
    re: str | None = "data_re",
    im: str | None = "data_im",
    chan: str = "chan",
    pol: str = "pol",
    variant: str = "explode",
    precise: bool = False,
    n_planes: int | None = None,
    dense_planes: bool = False,
    salt_probe: bool = False,
    with_psf: bool = False,
    fuse_sumw: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Grid visibilities → ``(grid_df, sum_weight_df)``.

    grid_df: one row per touched cell ``(chan, pol, u_idx, v_idx,
    grid_re, grid_im)``; sum_weight_df: ``(chan, pol, sum_weight)``.
    ``re=None`` grids the weights themselves (PSF mode, SG:62-67).

    ``dense_planes=True`` (kernel variant, production mode only)
    replaces grid_df with dense partial planes: one row per
    (chan, pol, u-slab) partial ``(chan, pol, u0, grid_re, grid_im,
    sum_w_norm)`` — the flat (slab height × n_v) re/im slab starting
    at grid row ``u0`` and the slab's share of the sum of weights —
    placed and summed per plane by ``image_planes_from_dense``.
    ``n_planes`` (the caller's plane count) sizes the u-slabs so
    every core gets work; ``salt_probe=True`` adds one counting job
    at build that sub-buckets hot slabs (``_dense_planes_arrow``).
    Grids ``_pack_bits`` cannot pack raise ``ValueError`` at build.

    ``with_psf=True`` (explode variant) adds a ``psf_re`` column —
    the weight-sampling grid — to the SAME aggregation, so a CLEAN
    setup's image+PSF pair costs one gridding pass instead of two,
    and ``sum_weight_df`` gains a ``sum_weight_psf`` column (the
    PSF-mode normalizer). PSF semantics match a standalone
    ``make_psf`` exactly, including rows whose weighted DATA is
    zero/null but whose weight is valid: the fused path keeps every
    weight-valid row and masks the data terms to 0.0 for the
    data-invalid ones (the data row set is a subset of the weight
    row set — null/zero weight zeroes the weighted data — so the
    image aggregation sees only exact +0.0 extra terms).

    ``fuse_sumw=True`` (explode variant only) removes the standalone
    sum-of-weights subtree — the second full pass over the
    visibilities that callers consuming BOTH outputs otherwise pay:
    each row's normalizer term ``w·(nu·nv)`` rides the CENTER tap
    ((0, 0) is always in ``gp.taps()``) into the cell aggregation and
    the grid keeps the per-cell partials as an extra ``_swc`` column
    (``_swpc`` for the PSF normalizer under ``with_psf``) — the
    dense-planes path's embedded ``sum_w_norm`` design. The per-plane
    image kernels sum the partials in-plane, so there is no sumw
    broadcast join and no materialization barrier (an earlier
    ``localCheckpoint`` diamond variant measured 2-8x SLOWER than the
    unfused plan: fresh-RDD materialization overhead plus losing AQE
    over the truncated lineage). The returned ``sum_weight`` is the
    plane rollup of the partials, for parity/back-compat only —
    consuming it alongside the grid re-runs the subtree once.
    In ``precise`` mode the 1e-9 quanta stay BIGINT through both
    aggregation levels (int64 across the Arrow boundary), so the
    rollup is bit-identical to the standalone branch (sum of the same
    integers, one final divide). In production (double) mode the
    association changes (per-cell partials instead of the (du, dv)
    pre-reduce) — last-ulp only, and every fused caller is a rows-only
    surface.
    """
    psf_fused = with_psf and variant == "explode"
    prepared = _prepare(df, gp, u, v, freq, weight, re, im,
                        nonzero=not psf_fused)
    if psf_fused:
        data_ok = (F.col("_wd_re").isNotNull() & F.col("_wd_im").isNotNull()
                   & ((F.col("_wd_re") != 0) | (F.col("_wd_im") != 0)))
        psf_ok = F.col(weight).isNotNull() & (F.col(weight) != 0)
        prepared = (
            prepared
            .withColumn("_data_ok", data_ok)
            .filter(F.col("_data_ok") | psf_ok)
            .withColumn("_wd_re", F.when(F.col("_data_ok"),
                                         F.col("_wd_re")).otherwise(0.0))
            .withColumn("_wd_im", F.when(F.col("_data_ok"),
                                         F.col("_wd_im")).otherwise(0.0))
            # masked weights: _w_img normalizes the image (data rows
            # only, as the unfused image path does), _w_psf feeds the
            # PSF terms + normalizer (every weight-valid row, as
            # make_psf's re=None _prepare does)
            .withColumn("_w_img", F.when(F.col("_data_ok"),
                                         F.col(weight)).otherwise(0.0))
            .withColumn("_w_psf", F.coalesce(F.col(weight), F.lit(0.0))))
    cgk = gp.kernel_1d()
    cgk_lit = _flit_arr(cgk)

    def agg(c: Column) -> Column:
        if not precise:
            return F.sum(c)
        # Gate-comparison hygiene: quantize each addend to 1e-9 via
        # floor(x*1e9) — a pure double->bigint op with identical
        # bits on Spark and DuckDB — then sum exactly as BIGINT. The
        # string-mediated decimal path (functions.exact.dsum) is NOT
        # cross-engine-stable here: Java 17's Double.toString is not
        # shortest-repr for all doubles and DuckDB mis-rounds
        # sub-quantum e-notation strings, and the gridder's kernel-edge
        # taps generate exactly those magnitudes. Quantization error
        # (<=0.5e-9 per term) is far below the reference's own 1e-8
        # comparison tolerance (tests/test_ms_conversion.py:11-33).
        q = F.floor(c * F.lit(1.0e9)).cast("long")
        return (F.sum(q) / F.lit(1.0e9))

    # --- sum of weights: separable norm, no explode (SG:358-360).
    # The 1-D norm Σ_t cgk[|ov·t + off|] has only oversampling+1
    # distinct inputs (off = du or dv ∈ [-ov/2, ov/2]), so precompute
    # it into a small array literal and index with ONE element_at per
    # axis. Inlining the sum as 2·support chained element_at calls per
    # row (the old form) cost ~110 s on the CHILES tier vs ~2 s for the
    # whole agg; a broadcast-join LUT was no better (the join kicked
    # the geometry expressions out of whole-stage codegen, ~95 s); the
    # array-literal index stays fully in codegen (~4.6 s). LUT values
    # accumulate left-to-right in Python — bit-identical to both the
    # previous Catalyst chain and the SQL twin's `+` chain. ---
    # reachable offset range: _du = floor((u_c - u_pos)·ov + 0.5) with
    # (u_c - u_pos) ∈ (-0.5, 0.5], so |_du| can reach ov//2 + 1 when
    # oversampling is odd — size the LUT over the full reachable range
    # (the extra cgk indices stay within the table: ov·half + ov//2 + 1
    # ≤ ov·(half+1) for ov ≥ 2)
    half_ov = gp.oversampling // 2 + 1
    norm_vals = []
    for off in range(-half_ov, half_ov + 1):
        terms = [float(cgk[i]) if (i := abs(gp.oversampling * t + off)) < len(cgk) else 0.0
                 for t in range(-gp.half, gp.support - gp.half)]
        acc = terms[0]
        for x in terms[1:]:
            acc = acc + x
        norm_vals.append(acc)
    norm_arr = _flit_arr(norm_vals)
    nu = F.element_at(norm_arr, F.col("_du") + F.lit(half_ov + 1))
    nv = F.element_at(norm_arr, F.col("_dv") + F.lit(half_ov + 1))
    w_img = F.col("_w_img") if psf_fused else F.col(weight)
    if precise:
        # gate mode: per-row quantized terms, row order can't matter —
        # the SQL twin mirrors this association exactly
        sw_aggs = [agg(w_img * (nu * nv)).alias("sum_weight")]
        if psf_fused:
            sw_aggs.append(agg(F.col("_w_psf") * (nu * nv))
                           .alias("sum_weight_psf"))
        sum_weight = prepared.groupBy(chan, pol).agg(*sw_aggs)
    else:
        # production mode: pre-reduce by the LUT key first. There are
        # at most (oversampling+1)^2 distinct (du, dv) pairs per plane,
        # so the per-row stage is a plain codegen hash agg on int keys
        # and the array lookup touches only the reduced rows. (Applying
        # element_at per input row can push the combined expression past
        # the codegen size limit when the uv exprs are large; the
        # interpreted fallback rebuilds the 101-element array literal
        # per row — measured 95 s vs 5 s on the skewed CHILES tier.)
        pre_aggs = [F.sum(w_img).alias("_w")]
        fin_aggs = [F.sum(F.col("_w") * (nu * nv)).alias("sum_weight")]
        if psf_fused:
            pre_aggs.append(F.sum(F.col("_w_psf")).alias("_wp"))
            fin_aggs.append(F.sum(F.col("_wp") * (nu * nv))
                            .alias("sum_weight_psf"))
        pre = (prepared.groupBy(chan, pol, "_du", "_dv").agg(*pre_aggs))
        sum_weight = pre.groupBy(chan, pol).agg(*fin_aggs)

    if variant == "explode":
        sel = [chan, pol, "_u_c", "_v_c", "_du", "_dv", "_wd_re",
               "_wd_im"]
        if with_psf:
            sel.append("_w_psf")
        if fuse_sumw:
            # only the RAW weight column rides the explode; the
            # normalizer term is evaluated inside the aggregate input
            # below. Computing w·(nu·nv) here, pre-explode, looks
            # cheaper (once per row, not per tap) but adds two
            # element_at LUT lookups to the geometry projection and
            # pushes it past the codegen threshold — the interpreted
            # fallback rebuilds the norm array literal per row
            # (measured 2.3 s -> 38.7 s on dirty_image at sf0.1).
            sel.append("_w_img" if psf_fused else weight)
        # tap indices from ONE exploded sequence (r15; was a literal
        # array of support² structs — ~3·support² py4j calls per query
        # build): same enumeration order as gp.taps(), two int ops per
        # exploded row in codegen
        sup, lo = gp.support, -gp.half
        tiu, tiv = _tap_iu_iv(sup, lo)
        e = (prepared.select(*sel, _tap_explode(sup, lo))
             .select(*sel, tiu.alias("_tiu"), tiv.alias("_tiv")))
        conv = (
            _cgk_at(cgk_lit, gp.oversampling, 0, F.col("_tiu") * gp.oversampling + F.col("_du"))
            * _cgk_at(cgk_lit, gp.oversampling, 0, F.col("_tiv") * gp.oversampling + F.col("_dv"))
        )
        aggs = [agg(conv * F.col("_wd_re")).alias("grid_re"),
                agg(conv * F.col("_wd_im")).alias("grid_im")]
        if with_psf:
            aggs.append(agg(conv * F.col("_w_psf")).alias("psf_re"))
        if fuse_sumw:
            # normalizer terms on the CENTER tap only, evaluated in the
            # aggregate input where conv's array indexing is already in
            # codegen (nu/nv reference _du/_dv, which survive into e);
            # in precise mode quantize per row so the exact same BIGINT
            # quanta the standalone branch would sum flow through both
            # aggregation levels
            center = (F.col("_tiu") == 0) & (F.col("_tiv") == 0)
            swt = (F.col("_w_img") if psf_fused else F.col(weight)) * (nu * nv)
            swpt = F.col("_w_psf") * (nu * nv) if psf_fused else None
            if precise:
                swt = F.floor(swt * F.lit(1.0e9)).cast("long")
                if swpt is not None:
                    swpt = F.floor(swpt * F.lit(1.0e9)).cast("long")
            aggs.append(F.sum(F.when(center, swt)).alias("_swc"))
            if psf_fused:
                aggs.append(F.sum(F.when(center, swpt)).alias("_swpc"))
        grid = (
            e.groupBy(
                chan, pol,
                (F.col("_u_c") + F.col("_tiu")).alias("u_idx"),
                (F.col("_v_c") + F.col("_tiv")).alias("v_idx"),
            )
            .agg(*aggs)
        )
        if fuse_sumw:
            # the partials STAY in the grid rows (the dense-planes
            # sum_w_norm design): the per-plane image kernel sums them
            # itself, so neither a second visibilities pass nor a sumw
            # broadcast join nor a materialization barrier exists. A
            # cell no center tap landed on coalesces to an exact zero —
            # also keeping precise-mode partials non-null so they cross
            # the Arrow boundary as int64 (a nullable long column
            # arrives in pandas as float64 and loses BIGINT exactness
            # past 2^53).
            zero = F.lit(0).cast("long") if precise else F.lit(0.0)
            grid = grid.withColumn("_swc", F.coalesce("_swc", zero))
            if psf_fused:
                grid = grid.withColumn("_swpc", F.coalesce("_swpc", zero))

            def _plane(col: str) -> Column:
                return (F.sum(col) / F.lit(1.0e9)) if precise else F.sum(col)

            # back-compat/parity surface: the rollup of the embedded
            # partials. Callers consuming BOTH outputs separately would
            # re-run the gridding subtree once for it — the fused
            # consumers (make_image / make_psf / make_image_and_psf)
            # read only the grid and normalize from _swc in-plane.
            sw_cols = [_plane("_swc").alias("sum_weight")]
            if psf_fused:
                sw_cols.append(_plane("_swpc").alias("sum_weight_psf"))
            sum_weight = grid.groupBy(chan, pol).agg(*sw_cols)
        return grid, sum_weight

    if variant == "kernel":
        if not dense_planes:
            return _kernel_variant(prepared, gp, cgk, chan=chan, pol=pol,
                                   precise=precise), sum_weight
        if precise:
            raise ValueError("dense_planes is the production fast path; "
                             "precise gate mode emits sparse cells")
        if _pack_bits(gp) is None:
            raise ValueError(
                f"dense_planes cannot pack oversampling={gp.oversampling} "
                f"on a {gp.n_u}x{gp.n_v} grid (needs oversampling <= 254 "
                f"and an int32-indexable slab); use output='cells'")
        # the standalone sum_weight branch stays lazily available;
        # make_image's planes path normalizes from the embedded
        # per-slab sums (wn reuses the codegen norm LUT above) and never
        # executes it
        grid = _dense_planes_arrow(prepared, gp, cgk, chan=chan, pol=pol,
                                   n_planes=n_planes,
                                   wn_col=F.col(weight) * (nu * nv),
                                   salt_probe=salt_probe)
        return grid, sum_weight

    raise ValueError(f"unknown gridder variant: {variant}")


def _pack_bits(gp: GridParms) -> tuple[int, int] | None:
    """Bit budget for the packed-key dense fast path: returns
    ``(bu, bv)`` (bits for u_c / v_c) or None when the grid shape can't
    pack. Layout (low→high, sign bit clear): dv+128 (8) | du+128 (8) |
    v_c (bv) | u_c (bu) | pol (4) | chan (the remaining 43-bu-bv).
    Preconditions: oversampling ≤ 254 (|du| ≤ ov/2 + 1 < 128), at
    least one chan bit, and the widest slab — 2^bu rows plus the kernel
    halo — flat-indexes in int32, the scatter's index type. Any grid
    whose plane the FFT consumer can hold (≤ 16384², 4 GiB complex)
    packs with ≥ 15 chan bits (CHILES: 30 720 chans); per-row chan
    and pol overflow is checked at run time."""
    if gp.oversampling > 254:
        return None
    bu = max(1, int(np.ceil(np.log2(gp.n_u))))
    bv = max(1, int(np.ceil(np.log2(gp.n_v))))
    widest_slab = ((1 << bu) + 2 * gp.half) * gp.n_v
    if 16 + bv + bu + 4 >= 63 or widest_slab >= 1 << 31:
        return None
    return bu, bv


def _chan_pol_key(chan: str, pol: str, low_bits: int,
                  what: str) -> tuple[Column, Column, Column]:
    """High fields of a packed int64 key ``chan | pol (4) | low_bits``
    and their id range, shared by the dense gridder and the imaging
    weights read-back. Returns ``(prefix, ids_ok, overflow)``: the two
    shifted fields, the per-row range test and a ``raise_error``
    naming the bounds. pol has 4 bits and chan the rest below the sign
    bit, at most 31; an out-of-range (or negative) id would silently
    bleed into its neighboring field and alias another plane's cell."""
    chan_max = (1 << min(64 - 1 - 4 - low_bits, 31)) - 1
    ids_ok = ((F.col(pol) >= 0) & (F.col(pol) < 16)
              & (F.col(chan) >= 0) & (F.col(chan) <= chan_max))
    prefix = (F.shiftleft(F.col(chan).cast("long"), 4 + low_bits)
              .bitwiseOR(F.shiftleft(F.col(pol).cast("long"), low_bits)))
    overflow = F.raise_error(F.lit(
        f"{what} packed key overflow: need 0 <= pol < 16 and "
        f"0 <= chan <= {chan_max}"))
    return prefix, ids_ok, overflow


def _slab_salt_map(cnts: list[tuple[Hashable, int]], npart: int,
                   cap_rows: int = (64 << 20) // 56,
                   ) -> dict[Hashable, int]:
    """Sub-bucket factors for hot slab groups, from probed per-group
    row counts — the one salt planner of the dense gridder's and the
    degridder's ``salt_probe`` valves. A group splits when it exceeds
    a core's fair share (wall-clock: the stage runs at ~max(total /
    npart, max_group), so splitting smaller groups buys nothing) or
    when it holds more than ``cap_rows`` rows (memory: the consumer
    materializes the whole group, so the caller sizes ``cap_rows`` as
    ~64 MB over its row width). The fairness factor is npart-bounded;
    the byte factor is not — memory correctness beats scheduling
    granularity. Groups that need no split are absent from the map."""
    if not cnts:
        return {}
    total = sum(n for _, n in cnts)
    fair = max(1.0, total / max(1, npart))
    out: dict[Hashable, int] = {}
    for key, n in cnts:
        sub_f = (min(npart, -(-n // max(1, int(fair / 2.0))))
                 if n > 0.75 * fair else 1)
        sub_b = -(-n // cap_rows)
        sub = max(sub_f, sub_b)
        if sub > 1:
            out[key] = int(sub)
    return out


def _dense_planes_arrow(prepared: DataFrame, gp: GridParms, cgk: np.ndarray,
                        *, chan: str, pol: str,
                        n_planes: int | None,
                        wn_col: Column,
                        salt_probe: bool = False) -> DataFrame:
    """The dense-planes gridder, cut for throughput (the CHILES tier):

    - the six small integers (chan, pol, u_c, v_c, du, dv) are packed
      into ONE int64 JVM-side (``_pack_bits`` layout), so the
      pre-scatter shuffle moves one key column instead of six, and the
      group key (chan, pol, u-slab) is a single shift of that key because
      slabs are power-of-2 wide;
    - the rows cross the Python boundary as ~n_planes·n_slabs·n_inputs
      FAT rows (``collect_list(struct(k, wr, wi))`` per slab group and
      input partition), not as 25M scalar rows: PySpark's row-at-a-time
      Arrow feed costs ~8 µs of JVM CPU per row at this scale
      (measured: a 25.6M-row ``mapInArrow`` passthrough burns every
      core for ~7 s even from a trivial ``spark.range`` source, while
      the same bytes as 128 array-cells feed in ~0.3 s);
    - ``mapInArrow`` hands the struct-list children straight to numpy
      (zero-copy), sums a slab's fat rows into one partial plane and
      emits the partials as Arrow ListArrays;
    - the per-row 1-D kernel factors come from a (256, support) LUT
      indexed by the packed du byte — one fancy-index gather per axis
      replaces per-tap ``cgk[|ov·iu + du|]`` gathers — and the scatter
      is one complex ``np.add.at`` over ~1k-row chunks whose tap-value
      and index temporaries stay cache-resident (int32 indices).
      Measured at 32-way load: a per-tap bincount loop collapses from
      112M taps/s/core single-thread to ~20M (the materialized (chunk,
      support²) arrays plus per-call O(slab) zeroing saturate DRAM);
      the add.at/small-chunk form holds ~50M.

    ``wn_col`` (weight·norm_u·norm_v) is summed per fat row inside the
    same aggregate, so each partial carries its ``sum_w_norm`` and the
    consumer needs no second pass over the visibilities.

    Output: one row per (chan, pol, u-slab) partial with ``u0`` and
    the flat (h × n_v) re/im slab, placed and summed by
    ``image_planes_from_dense``.
    """
    import pyarrow as pa

    bits = _pack_bits(gp)
    assert bits is not None
    bu, bv = bits
    n_u, n_v, ov = gp.n_u, gp.n_v, gp.oversampling
    half, support = gp.half, gp.support

    spark = prepared.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want_salt = max(1, -(-16 * p // max(1, int(n_planes or 1))))
    slab_log = max(0, int(np.ceil(np.log2(max(1, -(-n_u // want_salt))))))
    slab_w = 1 << slab_log
    shift_group = 16 + bv + slab_log  # (chan, pol, u_slab) id
    slab_mask = (1 << (bu - slab_log)) - 1  # slab_w <= 2^bu, so >= 0

    # fail fast on ids the bit layout can't hold (``_chan_pol_key``).
    # _u_c/_v_c are bounded by the in-bounds filter; du/dv by the
    # oversampling<=254 precondition of _pack_bits.
    k, ids_ok, overflow = _chan_pol_key(chan, pol, bu + bv + 16,
                                        "dense gridder")
    k = (k.bitwiseOR(F.shiftleft(F.col("_u_c").cast("long"), bv + 16))
         .bitwiseOR(F.shiftleft(F.col("_v_c").cast("long"), 16))
         .bitwiseOR(F.shiftleft((F.col("_du") + F.lit(128)).cast("long"), 8))
         .bitwiseOR((F.col("_dv") + F.lit(128)).cast("long")))
    k = F.when(ids_ok, k).otherwise(overflow)
    # Fused sum-of-weights (wn_col = weight·norm_u·norm_v, the codegen
    # LUT expression from grid_visibilities): summed map-side inside the
    # SAME groupBy that builds the fat rows, so the separate full-scan
    # sum_weight pass (measured ~2 s of the CHILES tier: it re-ran the
    # geometry exprs over 25.6M persisted rows) disappears. The struct
    # shipped through the shuffle is unchanged — only tiny per-group
    # partial sums ride along.
    src = prepared.select(k.alias("_k"), F.col("_wd_re").alias("_wr"),
                          F.col("_wd_im").alias("_wi"), wn_col.alias("_wn"))
    shipped = src.columns
    # one fat row per (chan, pol, u-slab) and INPUT PARTITION: the
    # group id and spark_partition_id() are computed before the one
    # exchange, which hash-partitions on the group id alone with an
    # explicit count (so the groupBy reuses it, and AQE cannot coalesce
    # the gridding stage below p tasks). collect_list(struct) keeps
    # k/wr/wi index-aligned.
    # Scale safety valve: a fat row therefore holds at most one input
    # partition's rows of its slab, for any input and with no partition
    # count probed at build; every fat row of a group meets in one task,
    # which sums them into one slab partial before emitting.
    n_groups = max(1, int(n_planes or 1)) * max(1, n_u >> slab_log)
    gkey = F.shiftrightunsigned(F.col("_k"), shift_group)
    # Skew insurance (opt-in: one counting pass over the input at plan
    # build — cheap when the caller has the rows persisted, a full
    # recompute otherwise, hence not the default). Centrally-condensed
    # uv coverage concentrates taps in few (plane, u-slab) groups;
    # each group is one task's serial unit, so the heaviest group sets
    # the stage's wall-clock. Probe the per-group row counts and
    # sub-salt ONLY groups that exceed a task's fair share (rules in
    # ``_slab_salt_map``): splitting anything smaller (the old
    # 1.5x-mean trigger: round-7's vs_baseline_skew regression) pays
    # the per-row value-hash + broadcast-join toll on EVERY row for zero
    # wall-clock gain. The byte budget is a MEMORY bound (round-8 driver
    # bench OOM): a collect_list element is a 32 B UnsafeRow
    # struct(long, double, double) plus buffer slack — ~48 B/row, so no
    # sub-bucket's list grows past ~64 MB. This is stats-driven
    # re-planning in the AQE spirit, done where AQE can't see (skew
    # inside a single aggregate's groups).
    hot: dict[int, int] = {}
    if salt_probe and n_groups <= 65536:
        cnts = [(int(r["_g"]), int(r["count"]))
                for r in src.groupBy(gkey.alias("_g")).count().collect()]
        hot = _slab_salt_map(cnts, p, cap_rows=(64 << 20) // 48)
    if hot:
        # per-group salt factor via a BROADCAST join, never an inline
        # CASE chain: a 100+-branch conditional on the key expression
        # falls out of whole-stage codegen into interpreted eval
        # (measured 6x slower on the skewed CHILES tier — the exact
        # cliff this valve exists to prevent)
        hot_df = spark.createDataFrame(list(hot.items()),
                                       schema="_hg bigint, _hsub int")
        src = (src.withColumn("_g0", gkey)
               .join(F.broadcast(hot_df),
                     F.col("_g0") == F.col("_hg"), "left"))
        # hash the VALUES along with the key: rows of one hot uv cell
        # share _k, so a key-only hash would put the whole cell in one
        # sub-bucket and the straggler would survive salting; value
        # bits spread it (the consumer sums partial slabs, so a cell
        # split across partials is exact by construction). Cold rows
        # skip the 3-column hash entirely (lazy CASE branch) — with a
        # handful of hot groups the toll must not land on every row.
        gkey = (F.col("_g0") * F.lit(max(hot.values()))
                + F.when(F.col("_hsub").isNotNull(),
                         F.pmod(F.xxhash64("_k", "_wr", "_wi"),
                                F.col("_hsub")))
                .otherwise(F.lit(0).cast("long")))
    src = (src.select(*shipped, gkey.alias("_g"),
                      F.spark_partition_id().alias("_pid"))
           .repartition(p, "_g")
           .groupBy("_g", "_pid")
           .agg(F.collect_list(F.struct("_k", "_wr", "_wi")).alias("_rows"),
                F.sum("_wn").alias("_wn")))

    # (256, support) LUT over the packed du byte; indices past the
    # half-kernel table are unreachable for valid data — zero them
    ius = np.arange(-half, support - half)
    didx = np.arange(256)
    raw = np.abs(ov * ius[None, :] + (didx[:, None] - 128))
    lut = np.where(raw < len(cgk), cgk[np.minimum(raw, len(cgk) - 1)], 0.0)
    off = (ius[:, None] * n_v + ius[None, :]).ravel().astype(np.int32)
    h = slab_w + 2 * half
    m = h * n_v
    arrow_schema = pa.schema([
        pa.field(chan, pa.int32()), pa.field(pol, pa.int32()),
        pa.field("u0", pa.int32()),
        pa.field("grid_re", pa.list_(pa.float64())),
        pa.field("grid_im", pa.list_(pa.float64())),
        pa.field("sum_w_norm", pa.float64()),
    ])
    chunk = 1024

    def grid_arrow(batches):
        # ONE complex128 add.at instead of two float64 ones: the re/im
        # component adds land in the same order with the same operands
        # (complex multiply by a real factor is componentwise), so the
        # result is BIT-IDENTICAL to the split form, and the single
        # indexed pass runs ~1.55x faster (175 vs 113 Mtaps/s
        # single-thread) because the index decode + gather loop is paid
        # once for both components.
        cw_b = np.empty((chunk, support), np.complex128)
        vz_b = np.empty((chunk, support, support), np.complex128)
        idx_b = np.empty((chunk, support * support), np.int32)
        # one slab partial per group: the task holds every fat row of
        # its groups (one per input partition), summed in place
        acc: dict[int, np.ndarray] = {}
        acc_wn: dict[int, float] = {}
        for b in batches:
            for ri in range(b.num_rows):
                rows = b.column(2)[ri].values    # struct children, zero-copy
                kseg = rows.field(0).to_numpy(zero_copy_only=False)
                wre = rows.field(1).to_numpy(zero_copy_only=False)
                wim = rows.field(2).to_numpy(zero_copy_only=False)
                if not len(kseg):
                    continue
                # No cell-sort: the scatter target is one slab
                # (~0.8 MB complex), cache-resident regardless of
                # arrival order, and the 800k-row argsort + 3-array
                # gather measured SLOWER than the locality it bought
                # (1.67 s vs 1.48 s single-thread on the tier's slab
                # shape). add.at accumulation order changes, which is
                # fine on this production (tolerance-parity) path.
                w = wre + 1j * wim
                duix = (kseg >> 8) & 255
                dvix = kseg & 255
                v_c = (kseg >> 16) & ((1 << bv) - 1)
                u_c = (kseg >> (16 + bv)) & ((1 << bu) - 1)
                g = int(kseg[0] >> shift_group)
                u0 = (g & slab_mask) * slab_w - half
                base = ((u_c - u0) * n_v + v_c).astype(np.int32)
                fg = acc.get(g)
                if fg is None:
                    fg = acc[g] = np.zeros(m, np.complex128)
                cu = lut[duix]          # (n, support)
                cv = lut[dvix]
                for c0 in range(0, len(kseg), chunk):
                    c1 = min(c0 + chunk, len(kseg))
                    nc = c1 - c0
                    cw = np.multiply(cu[c0:c1], w[c0:c1, None],
                                     out=cw_b[:nc])
                    vz = np.multiply(cw[:, :, None], cv[c0:c1, None, :],
                                     out=vz_b[:nc])
                    idx = np.add(base[c0:c1, None], off[None, :],
                                 out=idx_b[:nc])
                    np.add.at(fg, idx.reshape(-1), vz.reshape(-1))
                acc_wn[g] = acc_wn.get(g, 0.0) + (
                    b.column(3)[ri].as_py() or 0.0)
        if not acc:
            return
        gs = np.fromiter(acc, np.int64, len(acc))
        # int32 list offsets: overflow raises rather than wraps
        offs = pa.array(np.arange(len(acc) + 1, dtype=np.int64) * m,
                        pa.int32())
        arrays = [
            pa.array((gs >> (4 + bu - slab_log)).astype(np.int32)),
            pa.array(((gs >> (bu - slab_log)) & 15).astype(np.int32)),
            pa.array(((gs & slab_mask) * slab_w - half).astype(np.int32)),
            pa.ListArray.from_arrays(offs, pa.array(np.concatenate(
                [fg.real for fg in acc.values()]))),
            pa.ListArray.from_arrays(offs, pa.array(np.concatenate(
                [fg.imag for fg in acc.values()]))),
            pa.array([acc_wn[g] for g in acc], pa.float64()),
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    import pyspark.sql.types as T

    return src.mapInArrow(grid_arrow, T.StructType([
        T.StructField(chan, T.IntegerType()),
        T.StructField(pol, T.IntegerType()),
        T.StructField("u0", T.IntegerType()),
        T.StructField("grid_re", T.ArrayType(T.DoubleType())),
        T.StructField("grid_im", T.ArrayType(T.DoubleType())),
        T.StructField("sum_w_norm", T.DoubleType()),
    ]))


def _kernel_variant(prepared: DataFrame, gp: GridParms, cgk: np.ndarray,
                    *, chan: str, pol: str, precise: bool = False) -> DataFrame:
    """Sparse-cell kernel gridder: a partial dense grid per input
    partition via vectorized numpy scatter-add, its touched cells out,
    final combine by groupBy sum — the reference's per-chunk grid +
    tree-sum (SG:58-120) with Spark's partial/final aggregation as the
    tree. (Dense-plane output is ``_dense_planes_arrow``.)

    ``precise`` quantizes each per-tap term with floor(x·1e9) and
    accumulates BIGINT partial grids — integer addition is associative,
    so the partition split cannot shift the result and the output is
    bit-equal to the explode variant's precise path (same oracle twin).
    A touch-count grid makes zero-sum touched cells emit rows exactly
    like a groupBy over exploded taps would."""
    import pyspark.sql.types as T

    val_t = T.LongType() if precise else T.DoubleType()
    out_schema = T.StructType([
        T.StructField(chan, T.IntegerType()),
        T.StructField(pol, T.IntegerType()),
        T.StructField("u_idx", T.IntegerType()),
        T.StructField("v_idx", T.IntegerType()),
        T.StructField("grid_re", val_t),
        T.StructField("grid_im", val_t),
    ])
    n_u, n_v, ov, half, support = gp.n_u, gp.n_v, gp.oversampling, gp.half, gp.support
    cgk_arr = cgk  # closure capture; broadcast with the task closure
    cols = [chan, pol, "_u_c", "_v_c", "_du", "_dv", "_wd_re", "_wd_im"]

    def _scatter(uu, vv, duu, dvv, wre, wim):
        # per-tap 1-D loop: the u-axis kernel factor (and its product
        # with the weighted data) is computed ONCE per iu and reused
        # across the iv taps — half the gathers of the 2-D
        # (rows x taps) form, and every temporary is a cache-resident
        # 1-D array; scatter target is the (n_u, n_v) grid flattened
        fre = np.zeros(n_u * n_v)
        fim = np.zeros(n_u * n_v)
        # touched-cell mask (sparse emission parity with the explode
        # variant, which emits a 0.0 row for taps that exactly cancel);
        # a plain boolean store per tap, far cheaper than a 3rd bincount
        tou = np.zeros(n_u * n_v, bool)
        idx_base = uu * n_v + vv
        for iu in range(-half, support - half):
            cu = cgk_arr[np.abs(ov * iu + duu)]
            cur, cui = cu * wre, cu * wim
            base_u = idx_base + iu * n_v
            for iv in range(-half, support - half):
                cv = cgk_arr[np.abs(ov * iv + dvv)]
                idx = base_u + iv
                fre += np.bincount(idx, cv * cur, minlength=n_u * n_v)
                fim += np.bincount(idx, cv * cui, minlength=n_u * n_v)
                tou[idx] = True
        return fre, fim, tou

    def grid_batches(batches):
        if precise:
            yield from _precise_batches(batches)
            return
        # production path: ONE pass over the whole partition. Arrow
        # hands ~10k-row batches; concatenating first lets every
        # bincount call scatter tens of millions of updates, so the
        # O(grid) zeroing of the bincount result is amortized to noise
        # (per-batch bincounts spend more time zeroing than adding).
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        key = (pdf[chan].to_numpy(np.int64) * 1_000_000
               + pdf[pol].to_numpy(np.int64))
        u_c = pdf["_u_c"].to_numpy(np.int64)
        v_c = pdf["_v_c"].to_numpy(np.int64)
        du = pdf["_du"].to_numpy(np.int64)
        dv = pdf["_dv"].to_numpy(np.int64)
        w_re = pdf["_wd_re"].to_numpy(np.float64)
        w_im = pdf["_wd_im"].to_numpy(np.float64)
        rows = []
        for k in np.unique(key):
            sel = key == k
            # sort by cell: quasi-sequential scatter targets keep the
            # bincount adds cache-resident (~1.5x)
            order = np.argsort(u_c[sel] * n_v + v_c[sel], kind="stable")
            uu, vv = u_c[sel][order], v_c[sel][order]
            duu, dvv = du[sel][order], dv[sel][order]
            wre, wim = w_re[sel][order], w_im[sel][order]
            fre, fim, tou = _scatter(uu, vv, duu, dvv, wre, wim)
            flat = np.nonzero(tou)[0]
            ui, vi = flat // n_v, flat % n_v
            rows.append(pd.DataFrame({
                chan: np.full(len(ui), k // 1_000_000, np.int32),
                pol: np.full(len(ui), k % 1_000_000, np.int32),
                "u_idx": ui.astype(np.int32),
                "v_idx": vi.astype(np.int32),
                "grid_re": fre[flat],
                "grid_im": fim[flat],
            }))
        if rows:
            yield pd.concat(rows, ignore_index=True)

    def _precise_batches(batches):
        # gate path: quantized int64 partials, accumulated across
        # batches, emitted once per partition
        acc: dict[int, tuple] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            key = (pdf[chan].to_numpy(np.int64) * 1_000_000
                   + pdf[pol].to_numpy(np.int64))
            u_c = pdf["_u_c"].to_numpy(np.int64)
            v_c = pdf["_v_c"].to_numpy(np.int64)
            du = pdf["_du"].to_numpy(np.int64)
            dv = pdf["_dv"].to_numpy(np.int64)
            w_re = pdf["_wd_re"].to_numpy(np.float64)
            w_im = pdf["_wd_im"].to_numpy(np.float64)
            for k in np.unique(key):
                sel = key == k
                gre, gim, tou = acc.setdefault(int(k), (
                    np.zeros((n_u, n_v), np.int64),
                    np.zeros((n_u, n_v), np.int64),
                    np.zeros((n_u, n_v), np.int64)))
                uu, vv, duu, dvv = u_c[sel], v_c[sel], du[sel], dv[sel]
                wre, wim = w_re[sel], w_im[sel]
                for iu in range(-half, support - half):
                    cu = cgk_arr[np.abs(ov * iu + duu)]
                    for iv in range(-half, support - half):
                        cv = cgk_arr[np.abs(ov * iv + dvv)]
                        conv = cu * cv
                        # same association as the explode/oracle
                        # expression: floor((conv*wd)*1e9)
                        np.add.at(gre, (uu + iu, vv + iv),
                                  np.floor(conv * wre * 1.0e9).astype(np.int64))
                        np.add.at(gim, (uu + iu, vv + iv),
                                  np.floor(conv * wim * 1.0e9).astype(np.int64))
                        np.add.at(tou, (uu + iu, vv + iv), 1)
        rows = []
        for k, (gre, gim, tou) in acc.items():
            ui, vi = np.nonzero(tou)
            rows.append(pd.DataFrame({
                chan: np.full(len(ui), k // 1_000_000, np.int32),
                pol: np.full(len(ui), k % 1_000_000, np.int32),
                "u_idx": ui.astype(np.int32),
                "v_idx": vi.astype(np.int32),
                "grid_re": gre[ui, vi],
                "grid_im": gim[ui, vi],
            }))
        if rows:
            yield pd.concat(rows, ignore_index=True)

    partials = prepared.select(*cols).mapInPandas(grid_batches, out_schema)
    fin = (lambda c: F.sum(c) / F.lit(1.0e9)) if precise else F.sum
    return partials.groupBy(chan, pol, "u_idx", "v_idx").agg(
        fin(F.col("grid_re")).alias("grid_re"),
        fin(F.col("grid_im")).alias("grid_im"))


# ---------------------------------------------------------------------------
# Oracle-SQL twin (DuckDB) for the explode gridder — inlines the kernel
# lookup table as a list literal and mirrors every expression verbatim so
# per-row double products are bit-identical across engines.
# ---------------------------------------------------------------------------

def _sql_flit(x) -> str:
    # e-notation parses as DOUBLE in DuckDB; bare decimals parse as
    # DECIMAL whose ->DOUBLE cast is not correctly rounded (1-ulp loss
    # on 17-digit kernel values)
    return f"{float(x):.17e}"


def _sql_geom(gp: GridParms, vis_sql: str, keep: str = "") -> str:
    """Shared geometry CTEs mirroring :func:`_prepare` bit-for-bit."""
    cgk = ", ".join(_sql_flit(x) for x in gp.kernel_1d())
    ov = gp.oversampling
    half = gp.half

    def pos(axis: str, cell: float, n: int) -> str:
        return (f"{axis} * (-(freq * {cell!r} * {float(n)!r}) / {C_M_S!r})"
                f" + {float(n // 2)!r}")

    u_pos, v_pos = pos("u", gp.cell_u, gp.n_u), pos("v", gp.cell_v, gp.n_v)
    return f"""
    WITH cgk AS (SELECT [{cgk}] AS t),
    vis AS ({vis_sql}),
    geom AS (
      SELECT chan, pol,{keep}
             CAST(floor(({u_pos}) + 0.5) AS INT) AS u_c,
             CAST(floor(({v_pos}) + 0.5) AS INT) AS v_c,
             CAST(floor((CAST(floor(({u_pos}) + 0.5) AS INT) - ({u_pos})) * {float(ov)!r} + 0.5) AS INT) AS du,
             CAST(floor((CAST(floor(({v_pos}) + 0.5) AS INT) - ({v_pos})) * {float(ov)!r} + 0.5) AS INT) AS dv,
             data_re * weight AS wd_re, data_im * weight AS wd_im
      FROM vis
      WHERE u_c + {half} < {gp.n_u} AND u_c - {half} >= 0
        AND v_c + {half} < {gp.n_v} AND v_c - {half} >= 0
        AND wd_re IS NOT NULL AND wd_im IS NOT NULL
        AND (wd_re <> 0 OR wd_im <> 0)
    )"""


def _sql_guarded_dsum(expr: str) -> str:
    # Twin of the precise agg() above: 1e-9 integer quantization, exact
    # BIGINT sum, then one double division.
    return f"(SUM(CAST(floor(({expr}) * 1.0e9) AS BIGINT)) / 1.0e9)"


def sql_grid_visibilities(gp: GridParms, vis_sql: str, *, agg=None) -> str:
    """Complete DuckDB twin of the explode-variant grid output."""
    agg = agg or _sql_guarded_dsum
    ov = gp.oversampling
    taps = ", ".join(f"({iu}, {iv})" for iu, iv in gp.taps())
    conv = (f"(t[abs({ov} * tap.iu + g.du) + 1]"
            f" * t[abs({ov} * tap.iv + g.dv) + 1])")
    return f"""{_sql_geom(gp, vis_sql)}
    SELECT g.chan AS chan, g.pol AS pol,
           g.u_c + tap.iu AS u_idx, g.v_c + tap.iv AS v_idx,
           {agg(f'{conv} * g.wd_re')} AS grid_re,
           {agg(f'{conv} * g.wd_im')} AS grid_im
    FROM geom g, (VALUES {taps}) AS tap(iu, iv), cgk
    GROUP BY 1, 2, 3, 4
    """


def sql_sum_weight(gp: GridParms, vis_sql: str, *, agg=None) -> str:
    agg = agg or _sql_guarded_dsum
    ov = gp.oversampling
    norm_u = " + ".join(
        f"t[abs({ov * i} + du) + 1]" for i in range(-gp.half, gp.support - gp.half))
    norm_v = " + ".join(
        f"t[abs({ov * i} + dv) + 1]" for i in range(-gp.half, gp.support - gp.half))
    return f"""{_sql_geom(gp, vis_sql, keep=" weight,")}
    SELECT chan, pol,
           {agg(f'weight * (({norm_u}) * ({norm_v}))')} AS sum_weight
    FROM geom, cgk
    GROUP BY 1, 2
    """
