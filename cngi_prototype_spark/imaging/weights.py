"""Imaging-weight computation (natural / uniform / briggs / briggs_abs).

Reference parity: ``make_imaging_weight``
(``/root/reference/ngcasa/imaging/make_imaging_weight.py:100-260``) and the
1-tap weight grid / degrid pair
(``/root/reference/ngcasa/imaging/_imaging_utils/_standard_grid.py:380-560``):

1. grid the (imaging) weights onto the uv plane with a single-tap kernel,
   scattering each sample into BOTH its cell and the conjugate cell
   (Hermitian symmetry of the sampling function);
2. per (chan, pol): ``briggs f1 = (5·10^-robust)² · sum_weight / Σg²``
   with additive ``f2 = 1`` (uniform: ``f1=1, f2=0``; briggs_abs:
   ``f1=robust², f2=2·noise²``);
3. "degrid": each visibility reads back the gridded weight at its center
   cell and divides: ``iw = w / (f1·g + f2)`` (weight left unchanged when
   the sample or cell is empty/NaN).

Spark-first shape: step 1 is a one-pass Hermitian explode + groupBy
sum (map-side combine bounds the shuffle at touched-cells × partitions);
step 2 is window sums over the grid (``Window.partitionBy(chan, pol)``:
Σgrid_w and Σgrid_w²), so every grid row carries its plane's
``(f1, f2)`` in the one broadcast; step 3 is a single left equi-join of
the vis facts against that grid — broadcast when the grid is small
(``n_u·n_v`` bounded), shuffle-hash on the cell key otherwise. The
grid has one consumer, so nothing is checkpointed or cached and the
builder launches no Spark job. No UDFs anywhere; the whole plan stays
in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cngi_prototype_spark.imaging.grid import C_M_S, GridParms

# grid side is broadcast when the padded uv-plane cell count is below this
_BROADCAST_CELLS = 4_000_000


def _cell_cols(gp: GridParms, u: Column, v: Column, freq: Column):
    """Center cell and conjugate cell for a 1-tap (support=1) kernel
    (SG:488-497: int(pos + 0.5), conjugate at -scaled + center)."""
    u_s = u * (-(freq * F.lit(gp.cell_u) * F.lit(float(gp.n_u))) / F.lit(C_M_S))
    v_s = v * (-(freq * F.lit(gp.cell_v) * F.lit(float(gp.n_v))) / F.lit(C_M_S))
    cu = F.floor(u_s + F.lit(float(gp.n_u // 2)) + F.lit(0.5)).cast("int")
    cv = F.floor(v_s + F.lit(float(gp.n_v // 2)) + F.lit(0.5)).cast("int")
    ccu = F.floor(-u_s + F.lit(float(gp.n_u // 2)) + F.lit(0.5)).cast("int")
    ccv = F.floor(-v_s + F.lit(float(gp.n_v // 2)) + F.lit(0.5)).cast("int")
    return cu, cv, ccu, ccv


def _in_bounds(gp: GridParms, cu: Column, cv: Column) -> Column:
    return (cu >= 0) & (cu < gp.n_u) & (cv >= 0) & (cv < gp.n_v)


def grid_weights(df: DataFrame, gp: GridParms, *, u: str = "u", v: str = "v",
                 freq: str = "freq", weight: str = "weight",
                 chan: str = "chan", pol: str = "pol") -> DataFrame:
    """1-tap Hermitian weight grid: ``(chan, pol, u_idx, v_idx, grid_w)``.

    r14: both Hermitian arms explode from ONE pass over the rows (the
    old two-select ``unionAll`` scanned and re-projected the visibility
    table twice per grid build); the in-bounds filter, group keys and
    sums see the identical multiset, so ``grid_w`` is bit-identical.
    """
    cu, cv, ccu, ccv = _cell_cols(gp, F.col(u), F.col(v), F.col(freq))
    base = df.filter(F.col(weight).isNotNull() & (F.col(weight) != 0))
    arms = base.select(
        F.col(chan), F.col(pol), F.col(weight).alias("_w"),
        F.explode(F.array(
            F.struct(cu.alias("u_idx"), cv.alias("v_idx")),
            F.struct(ccu.alias("u_idx"), ccv.alias("v_idx")))).alias("_c"))
    return (arms.select(chan, pol, F.col("_c.u_idx").alias("u_idx"),
                        F.col("_c.v_idx").alias("v_idx"), "_w")
            .filter(_in_bounds(gp, F.col("u_idx"), F.col("v_idx")))
            .groupBy(chan, pol, "u_idx", "v_idx")
            .agg(F.sum("_w").alias("grid_w")))


def _factors(weighting: str, robust: float, briggs_abs_noise: float,
             sum_w: Column, sum_sq: Column) -> tuple[Column, Column]:
    """Per-(chan,pol) ``(f1, f2)`` (make_imaging_weight.py:199-213) from
    the plane's ``Σ grid_w`` and ``Σ grid_w²``; raises on an unknown
    weighting before anything is built.

    ``sum_weight`` for the 1-tap imaging-weight grid is ``2·Σw``, which
    equals ``Σ_cells grid_w`` — both scatter arms land in bounds for any
    uv point whose conjugate is also on the grid, matching the reference
    double-accumulation (SG:358-366 with do_imaging_weight).
    """
    if weighting == "briggs":
        f1 = F.lit(float(5.0 * 10.0 ** (-robust)) ** 2) * sum_w / sum_sq
        return f1, F.lit(1.0)
    if weighting == "briggs_abs":
        return (F.lit(float(robust) ** 2),
                F.lit(2.0 * float(briggs_abs_noise) ** 2))
    if weighting == "uniform":
        return F.lit(1.0), F.lit(0.0)
    raise ValueError(f"unknown weighting: {weighting}")


def make_imaging_weight(
    df: DataFrame,
    gp: GridParms,
    *,
    weighting: str = "briggs",
    robust: float = 0.5,
    briggs_abs_noise: float = 1.0,
    u: str = "u",
    v: str = "v",
    freq: str = "freq",
    weight: str = "weight",
    chan: str = "chan",
    pol: str = "pol",
    out: str = "imaging_weight",
) -> DataFrame:
    """Append an ``imaging_weight`` column.

    natural → the input weight is the imaging weight
    (make_imaging_weight.py:96-104); otherwise grid/factor/degrid.
    """
    if weighting == "natural":
        return df.withColumn(out, F.col(weight))

    plane = Window.partitionBy(chan, pol)
    f1, f2 = _factors(weighting, robust, briggs_abs_noise,
                      F.sum("grid_w").over(plane),
                      F.sum(F.col("grid_w") * F.col("grid_w")).over(plane))
    # alias the grid's key columns so the equi-join condition can't
    # collapse onto the shared lineage (chan==chan would be trivially
    # true and silently degrade to a cross join filter) — after the
    # window, so its shuffle carries each key once; f1/f2 are literals
    # for uniform/briggs_abs, so only briggs plans the window
    g = (grid_weights(df, gp, u=u, v=v, freq=freq, weight=weight, chan=chan,
                      pol=pol)
         .select(chan, pol, "u_idx", "v_idx", "grid_w",
                 f1.alias("f1"), f2.alias("f2"))
         .select(F.col(chan).alias("_gchan"), F.col(pol).alias("_gpol"),
                 "u_idx", "v_idx", "grid_w", "f1", "f2"))
    if gp.n_u * gp.n_v <= _BROADCAST_CELLS:
        g = F.broadcast(g)

    cu, cv, _, _ = _cell_cols(gp, F.col(u), F.col(v), F.col(freq))
    vis = df.withColumn("_cu", cu).withColumn("_cv", cv)
    joined = (
        vis.join(g, on=[F.col(chan) == F.col("_gchan"),
                        F.col(pol) == F.col("_gpol"),
                        F.col("_cu") == F.col("u_idx"),
                        F.col("_cv") == F.col("v_idx")],
                 how="left")
        .drop("_gchan", "_gpol", "u_idx", "v_idx")
    )
    # degrid read-back (SG:530-546): empty/NaN sample or cell -> weight;
    # f1/f2 are null exactly where grid_w is, so they are never read
    # outside a matched cell
    usable = (F.col(weight).isNotNull() & (F.col(weight) != 0)
              & F.col("grid_w").isNotNull() & (F.col("grid_w") != 0)
              & _in_bounds(gp, F.col("_cu"), F.col("_cv")))
    iw = F.when(usable, F.col(weight) / (F.col("f1") * F.col("grid_w") + F.col("f2"))) \
          .otherwise(F.col(weight))
    return joined.withColumn(out, iw).drop("_cu", "_cv", "grid_w", "f1", "f2")


# ---------------------------------------------------------------------------
# DuckDB oracle twins (exact when weights are integer-valued: every sum is
# an exact float64 integer accumulation, order-independent).
# ---------------------------------------------------------------------------

def _sql_cells(gp: GridParms) -> dict[str, str]:
    def s(axis: str, cell: float, n: int) -> str:
        return f"{axis} * (-(freq * {cell!r} * {float(n)!r}) / {C_M_S!r})"

    us, vs = s("u", gp.cell_u, gp.n_u), s("v", gp.cell_v, gp.n_v)
    return {
        "cu": f"CAST(floor(({us}) + {float(gp.n_u // 2)!r} + 0.5) AS INT)",
        "cv": f"CAST(floor(({vs}) + {float(gp.n_v // 2)!r} + 0.5) AS INT)",
        "ccu": f"CAST(floor(-({us}) + {float(gp.n_u // 2)!r} + 0.5) AS INT)",
        "ccv": f"CAST(floor(-({vs}) + {float(gp.n_v // 2)!r} + 0.5) AS INT)",
    }


def sql_grid_weights(gp: GridParms, vis_sql: str) -> str:
    c = _sql_cells(gp)
    return f"""
    WITH vis AS ({vis_sql}),
    arms AS (
      SELECT chan, pol, {c['cu']} AS u_idx, {c['cv']} AS v_idx, weight AS w
      FROM vis WHERE weight IS NOT NULL AND weight <> 0
      UNION ALL
      SELECT chan, pol, {c['ccu']} AS u_idx, {c['ccv']} AS v_idx, weight AS w
      FROM vis WHERE weight IS NOT NULL AND weight <> 0
    )
    SELECT chan, pol, u_idx, v_idx, SUM(w) AS grid_w
    FROM arms
    WHERE u_idx >= 0 AND u_idx < {gp.n_u} AND v_idx >= 0 AND v_idx < {gp.n_v}
    GROUP BY 1, 2, 3, 4
    """


def sql_imaging_weight(gp: GridParms, vis_sql: str, *, weighting: str = "briggs",
                       robust: float = 0.5, key_cols: str = "") -> str:
    c = _sql_cells(gp)
    if weighting == "briggs":
        f1 = f"{float(5.0 * 10.0 ** (-robust)) ** 2!r} * _sw / _sq"
        f2 = "1.0"
    elif weighting == "uniform":
        f1, f2 = "1.0", "0.0"
    else:
        raise ValueError(weighting)
    return f"""
    WITH vis AS ({vis_sql}),
    g AS ({sql_grid_weights(gp, vis_sql)}),
    f AS (
      SELECT chan, pol, {f1} AS f1, {f2} AS f2
      FROM (SELECT chan, pol, SUM(grid_w * grid_w) AS _sq, SUM(grid_w) AS _sw
            FROM g GROUP BY 1, 2)
    ),
    cells AS (
      SELECT vis.*, {c['cu']} AS _cu, {c['cv']} AS _cv FROM vis
    )
    SELECT {key_cols} cells.chan AS chan, cells.pol AS pol,
           CASE WHEN cells.weight IS NOT NULL AND cells.weight <> 0
                     AND g.grid_w IS NOT NULL AND g.grid_w <> 0
                     AND _cu >= 0 AND _cu < {gp.n_u} AND _cv >= 0 AND _cv < {gp.n_v}
                THEN cells.weight / (f.f1 * g.grid_w + f.f2)
                ELSE cells.weight END AS imaging_weight
    FROM cells
    LEFT JOIN g ON g.chan = cells.chan AND g.pol = cells.pol
               AND g.u_idx = _cu AND g.v_idx = _cv
    LEFT JOIN f ON f.chan = cells.chan AND f.pol = cells.pol
    """
