"""Phase-center rotation (mosaic/joint imaging prep), Spark-first.

Reference parity: ``direction_rotate``
(``/root/reference/ngcasa/imaging/direction_rotate.py:90-260``):

- per *field*, a 3×3 uvw rotation matrix and a 3-vector phase gradient are
  computed on the driver from the field phase center and the new phase
  center (eagerly, like the reference — n_fields is tiny);
- per *visibility row*: ``uvw' = uvw·M_field`` and
  ``data' = data·exp(2πi·(uvw'[:k]·Δ_field)·freq/c)`` with ``k=2`` under
  common-tangent reprojection, ``k=3`` otherwise.

Spark shape: the per-field matrices become a 12-column lookup DataFrame
broadcast-joined on ``field_id``; the matmul, dot product and phasor are
plain column expressions (complex multiply over re/im pairs) — fully
inside whole-stage codegen, no UDF, no shuffle beyond the broadcast.

Euler conventions follow scipy's intrinsic upper-case ``from_euler`` used
by the reference (:129, :160): ``'XZ',[a,b] → Rx(a)@Rz(b)``;
``'ZX',[a,b] → Rz(a)@Rx(b)``; right-handed active rotations.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cngi_prototype_spark.functions.lits import local_frame

C_M_S = 299792458.0


def _rx(t: float) -> np.ndarray:
    c, s = np.cos(t), np.sin(t)
    return np.array([[1.0, 0.0, 0.0], [0.0, c, -s], [0.0, s, c]])


def _rz(t: float) -> np.ndarray:
    c, s = np.cos(t), np.sin(t)
    return np.array([[c, -s, 0.0], [s, c, 0.0], [0.0, 0.0, 1.0]])


def _directional_cosine(ra: float, dec: float) -> np.ndarray:
    # reference _directional_cosine (:178-186); eq. 160 of the measurement
    # equation paper the reference cites
    return np.array([np.cos(ra) * np.cos(dec),
                     np.sin(ra) * np.cos(dec),
                     np.sin(dec)])


def rotation_parms(
    field_centers: dict[int, tuple[float, float]],
    new_phase_center: tuple[float, float],
    common_tangent_reprojection: bool = True,
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Per-field ``(uvw_rotmat 3×3, phase_rotation 3)`` (:128-172)."""
    ra_i, dec_i = new_phase_center
    rot_new = _rx(np.pi / 2 - dec_i) @ _rz(-ra_i + np.pi / 2)
    cos_new = _directional_cosine(ra_i, dec_i)
    out: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for fid, (ra_f, dec_f) in field_centers.items():
        rot_field = _rz(-np.pi / 2 + ra_f) @ _rx(dec_f - np.pi / 2)
        m = (rot_new @ rot_field).T
        if common_tangent_reprojection:
            m = m.copy()
            m[2, 0:2] = 0.0  # FTMachine::girarUVW common-tangent trim (:169)
        delta = rot_new @ (cos_new - _directional_cosine(ra_f, dec_f))
        out[fid] = (m, delta)
    return out


def _parms_rows(parms: dict[int, tuple[np.ndarray, np.ndarray]]) -> list[tuple]:
    rows = []
    for fid, (m, d) in sorted(parms.items()):
        rows.append((fid, *[float(x) for x in m.flat], *[float(x) for x in d]))
    return rows


_PARM_COLS = ["field_id",
              "m00", "m01", "m02", "m10", "m11", "m12", "m20", "m21", "m22",
              "p0", "p1", "p2"]
_PARM_SCHEMA = ", ".join(["field_id bigint", *(f"{c} double" for c in _PARM_COLS[1:])])


def direction_rotate(
    df: DataFrame,
    field_centers: dict[int, tuple[float, float]],
    new_phase_center: tuple[float, float],
    *,
    common_tangent_reprojection: bool = True,
    field: str = "field_id",
    u: str = "u", v: str = "v", w: str = "w",
    freq: str = "freq",
    data_re: str = "data_re", data_im: str = "data_im",
) -> DataFrame:
    """Rotate uvw + phase-shift data to ``new_phase_center`` in place
    (columns are replaced, like the reference's data_group_out)."""
    spark = SparkSession.getActiveSession()
    parms = rotation_parms(field_centers, new_phase_center,
                           common_tangent_reprojection)
    lut = F.broadcast(local_frame(spark, _parms_rows(parms), _PARM_SCHEMA))

    j = df.join(lut, on=df[field] == lut["field_id"], how="inner").drop(lut["field_id"])
    cu, cv, cw = F.col(u), F.col(v), F.col(w)
    ru = cu * F.col("m00") + cv * F.col("m10") + cw * F.col("m20")
    rv = cu * F.col("m01") + cv * F.col("m11") + cw * F.col("m21")
    rw = cu * F.col("m02") + cv * F.col("m12") + cw * F.col("m22")
    j = (j.withColumn("_ru", ru).withColumn("_rv", rv).withColumn("_rw", rw))

    phase = F.col("_ru") * F.col("p0") + F.col("_rv") * F.col("p1")
    if not common_tangent_reprojection:
        phase = phase + F.col("_rw") * F.col("p2")
    arg = F.lit(2.0 * np.pi) * phase * F.col(freq) / F.lit(C_M_S)
    ph_re, ph_im = F.cos(arg), F.sin(arg)
    new_re = F.col(data_re) * ph_re - F.col(data_im) * ph_im
    new_im = F.col(data_re) * ph_im + F.col(data_im) * ph_re

    # materialize both outputs before overwriting inputs (withColumn
    # rebinding would otherwise feed the rotated re into the im formula)
    return (j.withColumn("_nre", new_re).withColumn("_nim", new_im)
            .withColumn(data_re, F.col("_nre")).withColumn(data_im, F.col("_nim"))
            .withColumn(u, F.col("_ru")).withColumn(v, F.col("_rv"))
            .withColumn(w, F.col("_rw"))
            .drop("_nre", "_nim", "_ru", "_rv", "_rw", *_PARM_COLS[1:]))


def sql_direction_rotate(
    field_centers: dict[int, tuple[float, float]],
    new_phase_center: tuple[float, float],
    vis_sql: str,
    *,
    common_tangent_reprojection: bool = True,
    select_cols: str = "",
) -> str:
    """DuckDB twin: the same driver-side matrices inlined as a VALUES
    lookup, identical expression trees (libm cos/sin may differ by an ulp
    across engines — callers round phased outputs)."""
    parms = rotation_parms(field_centers, new_phase_center,
                           common_tangent_reprojection)
    rows = ", ".join(
        "(" + ", ".join(repr(float(x)) for x in row) + ")"
        for row in _parms_rows(parms)
    )
    k = 2 if common_tangent_reprojection else 3
    phase = "(_ru * p0 + _rv * p1)" if k == 2 else "(_ru * p0 + _rv * p1 + _rw * p2)"
    return f"""
    WITH vis AS ({vis_sql}),
    lut(field_id, m00, m01, m02, m10, m11, m12, m20, m21, m22, p0, p1, p2)
      AS (VALUES {rows}),
    rot AS (
      SELECT vis.*, lut.* EXCLUDE (field_id),
             u * m00 + v * m10 + w * m20 AS _ru,
             u * m01 + v * m11 + w * m21 AS _rv,
             u * m02 + v * m12 + w * m22 AS _rw
      FROM vis JOIN lut ON vis.field_id = lut.field_id
    )
    SELECT {select_cols}
           _ru AS u, _rv AS v, _rw AS w,
           data_re * cos(2.0 * {float(np.pi)!r} * {phase} * freq / {C_M_S!r})
             - data_im * sin(2.0 * {float(np.pi)!r} * {phase} * freq / {C_M_S!r}) AS data_re,
           data_re * sin(2.0 * {float(np.pi)!r} * {phase} * freq / {C_M_S!r})
             + data_im * cos(2.0 * {float(np.pi)!r} * {phase} * freq / {C_M_S!r}) AS data_im
    FROM rot
    """
