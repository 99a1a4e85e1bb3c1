"""zarr store ↔ long-form DataFrame interop (distributed).

Reference parity: zarr is the cngi_prototype NATIVE format — this is
what lets an existing cngi user open their archives in this engine:

- ``read_vis`` (``/root/reference/cngi/dio/read_vis.py:21-203``) opens
  one xds partition of a vis.zarr store (consolidated metadata by
  default) → here :func:`read_vis_zarr` maps it to the long-form vis
  DataFrame (schema.py: one row per (time, baseline, chan, pol),
  complex as ``*_re``/``*_im`` pairs, missing cells absent — the
  reference's NaN padding is dropped on read and re-created on write).
- ``write_vis`` (``cngi/dio/write_vis.py:26-96``) writes per-variable
  encoded chunks → :func:`write_vis_zarr`.
- ``read_image`` / ``write_image`` (``cngi/dio/read_image.py``,
  ``write_image.py``) → :func:`read_image_zarr` /
  :func:`write_image_zarr` over (l, m, chan, pol) cubes.
- ``describe_vis`` (``cngi/dio/describe_vis.py:21-56``) →
  :func:`describe_zarr_store`.

Scale design. The unit of parallelism is the ZARR CHUNK — exactly the
dask layout the reference relies on, re-expressed for Spark:

- **read**: the driver reads ONE consolidated ``.zmetadata`` blob,
  lists the anchor variable's chunk grid as a ``spark.range`` manifest
  (one row per chunk), and each task decodes only its chunk region of
  every variable into Arrow batches (``mapInPandas``). No data moves
  through the driver; tasks scale with the chunk count; codecs are
  stdlib (or numcodecs when present — see zarr_store.py).
- **write**: one aggregate collects every dim's sorted coordinates
  (metadata-sized; timestamps as ``unix_micros`` longs, so no value
  passes through a local-time datetime). Rows are grouped by the
  chunk-grid cell they land in — a dim held in one chunk has chunk key
  0, only a chunked dim joins a small (key → chunk) table — and each
  group finds its rows' dense indices in the coordinates inside the
  write task, then writes its OWN chunk files (group ↔ chunk
  bijection: no write conflicts, no driver funnel). The input is
  evaluated once: the coordinate aggregate fills a cache of it that
  every write job reads, released before the call returns or raises.
  Variables over a dim subset (e.g. per-(time, baseline) scalars) are
  reduced first and written by their own job on their own chunk grid.
  Metadata tables (the read manifest, a chunked dim's key → chunk
  lookup) are built in the JVM, so only chunk encode and decode run in
  Python workers.
  The driver writes only metadata + 1-D coords, then
  consolidates. Store paths may live on a shared filesystem (local
  mode, NFS) or an object store: URL-scheme paths ("s3://bucket/...")
  dispatch through zarr_store's filesystem layer (fsspec/s3fs when
  installed, or a registered PrefixMappedFS over a fuse mount) and
  the resolved FS client rides inside each pickled ZarrArray, so
  executor tasks talk to the store directly — the reference's own S3
  reach (cngi/dio/read_vis.py:70-179).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cngi_prototype_spark.functions.lits import local_frame
from cngi_prototype_spark.sources import zarr_store as zs

DIM_ATTR = "_ARRAY_DIMENSIONS"


@dataclass(frozen=True)
class VarSpec:
    """One stored variable: ``cols`` is one DataFrame column (scalar
    array) or a (re, im) pair (complex array)."""

    name: str
    dims: tuple[str, ...]
    cols: tuple[str, ...]
    dtype: str
    fill: Any = None


def _keyed(df: DataFrame, dims) -> DataFrame:
    """``df`` with every timestamp dim replaced by its ``unix_micros``
    long: dims are collected, matched and chunk-joined on these keys,
    so no value passes through a local-time Python datetime."""
    ts = {f.name: F.unix_micros(f.name) for f in df.schema.fields
          if f.name in dims and isinstance(f.dataType, T.TimestampType)}
    return df.withColumns(ts)


@contextmanager
def _cached(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` persisted (``MEMORY_AND_DISK``) for the ``with`` block and
    released, blocking, when it exits or raises: the first action fills
    the cache and later ones read it. A plan the caller cached already
    is used as is and stays cached."""
    if df.storageLevel != StorageLevel.NONE:
        yield df
        return
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist(blocking=True)


def _coord_keys(coord: np.ndarray) -> np.ndarray:
    """Stored coordinate array → the keys :func:`_keyed` rows carry."""
    if coord.dtype.kind == "M":
        return coord.astype("datetime64[us]").astype(np.int64)
    return coord


def _stored_coord(keys: np.ndarray, spark_type: T.DataType) -> np.ndarray:
    """Inverse of :func:`_coord_keys` for a dim column of ``spark_type``."""
    if isinstance(spark_type, T.TimestampType):
        return keys.astype("datetime64[us]").astype("datetime64[ns]")
    return keys


# --------------------------------------------------------------------------
# write: long form → zarr


def write_zarr_xds(
    df: DataFrame,
    store: str,
    group: str,
    *,
    dim_cols: list[str],
    var_specs: list[VarSpec],
    chunks: dict[str, int] | None = None,
    attrs: dict | None = None,
    compressor: dict | None = {"id": "zlib", "level": 4},
    consolidate: bool = True,
) -> dict:
    """Write one xds group (xarray zarr convention) from long-form rows.

    Returns {'shape': ..., 'chunks': ..., 'rows': n}. See module
    docstring for the distributed shape.
    """
    chunks = dict(chunks or {})
    fs = zs.filesystem_for(store)
    gpath = os.path.join(store, group)

    # the input is evaluated once: the coordinate aggregate fills the
    # cache, every write job reads it, and no block outlives the call
    with _cached(_keyed(df, dim_cols)) as keyed:
        # ---- coords: every dim's sorted keys in ONE aggregate
        # (metadata-sized collect)
        got = keyed.agg(
            *[F.array_sort(F.collect_set(d)).alias(d) for d in dim_cols],
            *[F.count_if(F.col(d).isNull()).alias(f"__{d}_nulls")
              for d in dim_cols]).collect()[0]
        nulls = [d for d in dim_cols if got[f"__{d}_nulls"]]
        if nulls:
            raise ValueError(
                f"write_zarr_xds: dims {nulls} hold null values — every row "
                "needs a coordinate on every dim")
        keys = {d: np.asarray(got[d]) for d in dim_cols}
        coords = {d: _stored_coord(keys[d], df.schema[d].dataType)
                  for d in dim_cols}
        shape = {d: len(keys[d]) for d in dim_cols}
        empty = [d for d in dim_cols if shape[d] == 0]
        if empty:
            raise ValueError(
                f"write_zarr_xds: no rows — dims {empty} have no "
                "coordinate values (empty input DataFrame?)")
        chunk_of = {d: min(chunks.get(d, shape[d]) or shape[d],
                           max(shape[d], 1)) for d in dim_cols}

        # ---- metadata first: group, coord arrays, var arrays (executors
        # then only ever write chunk files)
        if not fs.exists(os.path.join(store, ".zgroup")):
            zs.create_group(store, fs=fs)
        zs.create_group(gpath, attrs=dict(attrs or {}), fs=fs)
        for d in dim_cols:
            ca = zs.ZarrArray.create(
                os.path.join(gpath, d), (shape[d],),
                (max(shape[d], 1),), coords[d].dtype,
                compressor=compressor, attrs={DIM_ATTR: [d]}, fs=fs)
            ca.write_full(coords[d])
        arrays: dict[str, zs.ZarrArray] = {}
        for v in var_specs:
            arrays[v.name] = zs.ZarrArray.create(
                os.path.join(gpath, v.name),
                tuple(shape[d] for d in v.dims),
                tuple(chunk_of[d] for d in v.dims),
                v.dtype, compressor=compressor, fill_value=v.fill,
                attrs={DIM_ATTR: list(v.dims)}, fs=fs)

        rows = _write_vars(
            keyed, arrays, var_specs, tuple(dim_cols), keys, chunk_of,
            miss="write rows carry {d} values missing from the coordinates "
                 "collected from the same input — the input must be "
                 "deterministic")
    if consolidate:
        zs.consolidate_metadata(store, fs=fs)
    return {"shape": shape, "chunks": chunk_of,
            "rows": rows.get(tuple(dim_cols), 0)}


def _write_vars(keyed: DataFrame, arrays: dict[str, zs.ZarrArray],
                var_specs: list[VarSpec], all_dims: tuple[str, ...],
                keys: dict[str, np.ndarray], chunk_of: dict[str, int],
                miss: str) -> dict[tuple[str, ...], int]:
    """One write job per distinct dim subset of ``var_specs`` (full-dim
    vars first) over ``keyed`` rows (see :func:`_keyed`); returns the
    rows written per subset."""
    rows = {}
    for dims in sorted({v.dims for v in var_specs},
                       key=lambda t: (-len(t), t)):
        specs = [v for v in var_specs if v.dims == dims]
        sub = keyed
        if dims != all_dims:
            # reduce to one row per subset cell (values are constant
            # across the dropped dims; first() per cell)
            cols = [c for v in specs for c in v.cols]
            sub = keyed.groupBy(*dims).agg(
                *[F.first(c, ignorenulls=True).alias(c) for c in cols])
        rows[dims] = _write_var_chunks(
            sub, [arrays[v.name] for v in specs], specs, dims, keys,
            chunk_of, miss)
    return rows


def _write_var_chunks(sub: DataFrame, arrays: list[zs.ZarrArray],
                      specs: list[VarSpec], dims: tuple[str, ...],
                      keys: dict[str, np.ndarray],
                      chunk_of: dict[str, int], miss: str) -> int:
    """Group rows by chunk-grid cell; each group finds its rows' dense
    dim indices in ``keys`` (each dim's coordinate keys, in store
    order), scatters its rows into dense per-variable slabs and writes
    exactly its own chunk files.

    A dim held in one chunk has chunk key 0. A chunked dim gets its
    chunk key from a LEFT broadcast join against a (key → chunk)
    ``LocalRelation`` (no Python stage re-serializes it), so a key
    outside ``keys`` still reaches a task — in the null-key group — and
    raises ``miss`` (formatted with ``d``) there, as it does on any
    dim."""
    spark = sub.sparkSession
    g = sub.select(*dims, *[c for v in specs for c in v.cols])
    for d in dims:
        ck = f"__ck_{d}"
        if chunk_of[d] >= len(keys[d]):
            g = g.withColumn(ck, F.lit(0))
            continue
        lookup = local_frame(
            spark,
            [(k, i // chunk_of[d]) for i, k in enumerate(keys[d].tolist())],
            T.StructType([T.StructField(d, g.schema[d].dataType),
                          T.StructField(ck, T.IntegerType())]))
        g = g.join(F.broadcast(lookup), d, "left")

    chunk_shape = tuple(chunk_of[d] for d in dims)
    order = {d: np.argsort(keys[d], kind="stable") for d in dims}
    srt = {d: keys[d][order[d]] for d in dims}
    schema = T.StructType([T.StructField("rows", T.LongType())])

    def dense_index(d: str, vals: np.ndarray) -> np.ndarray:
        pos = np.minimum(np.searchsorted(srt[d], vals), len(srt[d]) - 1)
        hit = srt[d][pos] == vals
        if not hit.all():
            raise ValueError(miss.format(d=d) + ": "
                             + repr(vals[~hit][:5].tolist()))
        return order[d][pos]

    def write_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # indices first: a missed key arrives with a null chunk key
        pos = [dense_index(d, pdf[d].to_numpy()) for d in dims]
        cid = tuple(int(k) for k in key)
        local = [p - c * n for p, c, n in zip(pos, cid, chunk_shape)]
        flat = np.ravel_multi_index(local, chunk_shape)
        for arr, v in zip(arrays, specs):
            fill = v.fill
            if fill is None:
                fill = 0
            slab = np.full(chunk_shape, fill, dtype=arr.dtype)
            if len(v.cols) == 2:
                vals = (pdf[v.cols[0]].to_numpy(np.float64)
                        + 1j * pdf[v.cols[1]].to_numpy(np.float64))
            else:
                vals = pdf[v.cols[0]].to_numpy()
            slab.reshape(-1)[flat] = vals
            arr.write_chunk(cid, slab)
        return pd.DataFrame({"rows": [len(pdf)]})

    # one row per chunk: the sum is metadata-sized, so it runs here
    counts = g.groupBy(*[f"__ck_{d}" for d in dims]) \
        .applyInPandas(write_group, schema).collect()
    return sum(r.rows for r in counts)


# --------------------------------------------------------------------------
# read: zarr → long form


def _discover(store: str, group: str, anchor_name: str | None = None):
    """(dims, coord arrays, var arrays, group attrs, anchor) from one
    metadata read (consolidated when present)."""
    fs = zs.filesystem_for(store)
    cons = zs.read_consolidated(store, fs=fs)
    gpath = os.path.join(store, group)
    if cons is not None:
        prefix = f"{group}/" if group else ""
        names = sorted({k[len(prefix):].split("/")[0]
                        for k in cons
                        if k.startswith(prefix)
                        and k[len(prefix):].count("/") == 1
                        and k.endswith(".zarray")})
        arrays = {n: zs.open_array(store, f"{group}/{n}" if group else n,
                                   consolidated=cons, fs=fs) for n in names}
        gattrs = cons.get(prefix + ".zattrs", {})
    else:
        names = [n for n in zs.list_children(gpath, fs=fs)
                 if zs.is_array(os.path.join(gpath, n), fs=fs)]
        arrays = {n: zs.ZarrArray.open(os.path.join(gpath, n), fs=fs)
                  for n in names}
        gattrs = zs.group_attrs(gpath, fs=fs)
    if not arrays:
        raise FileNotFoundError(f"no arrays under {gpath}")
    # anchor variable defines the table's dim grid: prefer the var
    # whose dims are most coordinate-backed, then highest rank, then
    # name asc (deterministic) — in a cngi vis xds that is DATA
    def adims(n: str) -> tuple[str, ...]:
        return tuple(arrays[n].attrs.get(DIM_ATTR, []))

    def coord_backed(n: str) -> int:
        return sum(1 for d in adims(n)
                   if d in arrays and adims(d) == (d,))

    if anchor_name is not None:
        if anchor_name not in arrays:
            raise KeyError(f"anchor {anchor_name!r} not in {group}")
        anchor = anchor_name
    else:
        anchor = min(arrays,
                     key=lambda n: (-coord_backed(n), -len(adims(n)), n))
    dims = adims(anchor)
    coords = {n: a for n, a in arrays.items()
              if tuple(a.attrs.get(DIM_ATTR, [])) == (n,) and n in dims}
    data = {n: a for n, a in arrays.items() if n not in coords}
    return dims, coords, data, gattrs, arrays[anchor]


def read_zarr_xds(
    spark: SparkSession,
    store: str,
    group: str,
    *,
    data_vars: list[str] | None = None,
    drop_if_nan: list[str] | None = None,
    lower_names: bool = True,
    anchor: str | None = None,
) -> DataFrame:
    """Open one xds group as a long-form DataFrame: one row per cell of
    the anchor variable's dim grid; dim coordinate columns (named after
    the dims), complex variables split into ``<name>_re``/``<name>_im``,
    variables over a dim subset broadcast along the missing dims,
    trailing extra dims (e.g. uvw's 3-axis) unrolled to ``<name>_0..``.

    ``data_vars`` prunes to named variables (column pruning — only
    their chunks are ever read). ``drop_if_nan`` drops cells where ALL
    the named OUTPUT COLUMNS are NaN (the reference's padding cells →
    absent rows). ``lower_names`` maps NAME → name for engine-style
    columns.
    """
    dims, coords, data, gattrs, anchor = _discover(store, group,
                                                   anchor_name=anchor)
    if data_vars is not None:
        missing = sorted(set(data_vars) - set(data))
        if missing:
            raise KeyError(f"no such data vars in {group}: {missing}")
        data = {n: data[n] for n in data_vars}
    coord_vals = {d: coords[d].read_full() if d in coords else None
                  for d in dims}
    bc = spark.sparkContext.broadcast(coord_vals)
    specs = []  # (out name, array, dim positions, extra shape)
    fields = [T.StructField(f"{d}_idx", T.IntegerType()) for d in dims]
    for d in dims:
        cv = coord_vals[d]
        if cv is not None:
            fields.append(T.StructField(d, _spark_type_of(cv.dtype)))
    for n, a in sorted(data.items()):
        adims = tuple(a.attrs.get(DIM_ATTR, []))
        main = [d for d in adims if d in dims]
        extra = [d for d in adims if d not in dims]
        dpos_check = [dims.index(d) for d in main]
        # main dims must be a LEADING slice of the var's dims AND in
        # the anchor's order: a permuted var (stored (chan, time)
        # against a (time, chan) anchor) would broadcast-reshape its
        # axes against the wrong extents — silently transposed values
        # when extents happen to match
        if (adims[:len(main)] != tuple(main) or set(extra) & set(dims)
                or dpos_check != sorted(dpos_check)):
            raise NotImplementedError(
                f"{n}: dims {adims} not alignable to anchor dims "
                f"{dims} (reorder the variable or pick it as anchor=)")
        out = n.lower() if lower_names else n
        base = np.dtype(a.dtype)
        if a.dtype.kind == "c":
            names = [f"{out}_re", f"{out}_im"]
            base = np.dtype("f8")
        elif extra:
            nex = int(np.prod([a.shape[adims.index(d)] for d in extra]))
            names = [f"{out}_{i}" for i in range(nex)]
        else:
            names = [out]
        for nm in names:
            fields.append(T.StructField(nm, _spark_type_of(base)))
        specs.append((out, a, [dims.index(d) for d in main], names))

    mdf = _manifest(spark, anchor.cdata_shape)
    schema = T.StructType(fields)
    anchor_chunks = anchor.chunks
    anchor_shape = anchor.shape
    drop = list(drop_if_nan or [])

    def read_chunks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cvals = bc.value
        for pdf in it:
            for cid in pdf["cid"]:
                region = tuple(
                    slice(i * c, min((i + 1) * c, s))
                    for i, c, s in zip(cid, anchor_chunks, anchor_shape))
                rshape = tuple(r.stop - r.start for r in region)
                n_cells = int(np.prod(rshape))
                if n_cells == 0:
                    continue
                grids = np.meshgrid(
                    *[np.arange(r.start, r.stop) for r in region],
                    indexing="ij")
                cols: dict[str, Any] = {}
                for d, garr in zip(dims, grids):
                    cols[f"{d}_idx"] = garr.reshape(-1).astype(np.int32)
                    if cvals[d] is not None:
                        cols[d] = cvals[d][garr.reshape(-1)]
                for out, a, dpos, names in specs:
                    sub_region = tuple(region[p] for p in dpos)
                    full = sub_region + tuple(
                        slice(0, s) for s in a.shape[len(dpos):])
                    vals = a.read_region(full)
                    # broadcast over missing main dims, then flatten
                    expand = [rshape[i] if i in dpos else 1
                              for i in range(len(dims))]
                    # reshape main part into full-rank with 1s at
                    # missing dims
                    mshape = []
                    j = 0
                    for i in range(len(dims)):
                        if i in dpos:
                            mshape.append(vals.shape[j])
                            j += 1
                        else:
                            mshape.append(1)
                    tail = vals.shape[j:]
                    vals = np.broadcast_to(
                        vals.reshape(tuple(mshape) + tail),
                        tuple(rshape) + tail)
                    flat = vals.reshape((n_cells, -1))
                    if a.dtype.kind == "c":
                        cols[names[0]] = flat[:, 0].real.astype(np.float64)
                        cols[names[1]] = flat[:, 0].imag.astype(np.float64)
                    else:
                        for i, nm in enumerate(names):
                            cols[nm] = np.ascontiguousarray(flat[:, i])
                out_pdf = pd.DataFrame(cols)
                present = [c for c in drop if c in out_pdf.columns]
                if present:
                    # none-present (e.g. data_vars pruned the NaN
                    # markers away) must mean keep-everything, not
                    # drop-everything
                    keep = np.zeros(len(out_pdf), dtype=bool)
                    for cname in present:
                        v = out_pdf[cname].to_numpy()
                        keep |= (~np.isnan(v) if v.dtype.kind == "f"
                                 else np.ones(len(v), bool))
                    out_pdf = out_pdf[keep]
                if len(out_pdf):
                    yield out_pdf

    return mdf.mapInPandas(read_chunks, schema)


def _manifest(spark: SparkSession, grid: tuple[int, ...]) -> DataFrame:
    """One row per chunk of a chunk grid of shape ``grid``: its chunk
    index ``cid`` (array<int>) in C order — ``np.ndindex(*grid)``'s
    order — unravelled from ``spark.range`` ids in the JVM, so the
    manifest has no Python stage and no shuffle."""
    n = int(np.prod(grid, dtype=np.int64))
    par = min(n, spark.sparkContext.defaultParallelism * 2) or 1
    ids = spark.range(0, n, 1, par)
    stride = np.cumprod((1,) + tuple(grid[:0:-1]))[::-1]
    cid = [F.expr(f"CAST(id DIV {int(s)} % {int(c)} AS INT)")
           for s, c in zip(stride, grid)]
    return ids.select(F.array(*cid).cast("array<int>").alias("cid"))


def _spark_type_of(dtype: np.dtype) -> T.DataType:
    dtype = np.dtype(dtype)
    if dtype.kind == "M":
        return T.TimestampType()
    if dtype.kind == "b":
        return T.BooleanType()
    if dtype.kind in "iu":
        return {1: T.ByteType(), 2: T.ShortType(),
                4: T.IntegerType()}.get(dtype.itemsize, T.LongType())
    if dtype.kind == "f":
        return T.FloatType() if dtype.itemsize == 4 else T.DoubleType()
    raise NotImplementedError(f"zarr dtype {dtype} → Spark")


# --------------------------------------------------------------------------
# vis / image wrappers + describe


def write_vis_zarr(
    df: DataFrame,
    store: str,
    partition: str = "xds0",
    *,
    time_chunk: int = 100,
    chan_chunk: int | None = None,
    attrs: dict | None = None,
    compressor: dict | None = {"id": "zlib", "level": 4},
) -> dict:
    """Long-form vis partition → cngi-convention zarr xds: DATA (c16,
    NaN-filled like _table_conversion.py:311-318), WEIGHT (f8),
    FLAG (u1, missing cells flagged), per-(time, baseline) scalars.

    Only columns present in ``df`` are written; dims are the VisSchema
    keys. Chunking: ``time_chunk`` (× optional ``chan_chunk``) mirrors
    the reference's chunks_on_disk knob (convert_ms.py:46-48)."""
    present = set(df.columns)
    specs = [VarSpec("DATA", ("time", "baseline", "chan", "pol"),
                     ("data_re", "data_im"), "<c16", complex(np.nan, np.nan))]
    if "data_weight" in present:
        specs.append(VarSpec("WEIGHT", ("time", "baseline", "chan", "pol"),
                             ("data_weight",), "<f8", np.nan))
    if "flag" in present:
        specs.append(VarSpec("FLAG", ("time", "baseline", "chan", "pol"),
                             ("flag",), "|u1", 1))
    for scalar in ("scan_number", "state_id", "field_id"):
        if scalar in present:
            specs.append(VarSpec(scalar.upper(), ("time", "baseline"),
                                 (scalar,), "<i4", -1))
    chunks = {"time": time_chunk}
    if chan_chunk:
        chunks["chan"] = chan_chunk
    return write_zarr_xds(
        df, store, partition,
        dim_cols=["time", "baseline", "chan", "pol"],
        var_specs=specs, chunks=chunks, attrs=attrs,
        compressor=compressor)


def read_vis_zarr(
    spark: SparkSession,
    store: str,
    partition: str = "xds0",
    data_vars: list[str] | None = None,
) -> DataFrame:
    """One zarr vis partition → the long-form vis DataFrame. NaN-padded
    cells (no DATA sample) become absent rows; FLAG comes back as int
    (the engine's flag column convention)."""
    df = read_zarr_xds(spark, store, partition, data_vars=data_vars,
                       drop_if_nan=["data_re", "data_im"])
    if "weight" in df.columns:
        df = df.withColumnRenamed("weight", "data_weight")
    if "flag" in df.columns:
        df = df.withColumn("flag", F.col("flag").cast("int"))
    for c in ("baseline", "chan", "pol"):
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("int"))
    return df


def write_image_zarr(
    df: DataFrame,
    store: str,
    partition: str = "image",
    *,
    value_cols: list[str] | None = None,
    chan_chunk: int | None = None,
    attrs: dict | None = None,
    compressor: dict | None = {"id": "zlib", "level": 4},
) -> dict:
    """Long-form image cube (chan, pol, l_idx, m_idx, <values>) → zarr
    (cngi img xds convention: one array per image product — image /
    psf / pb / model / residual ... as present)."""
    present = set(df.columns)
    vals = value_cols or [c for c in df.columns
                          if c not in ("chan", "pol", "l_idx", "m_idx")]
    missing = sorted(set(vals) - present)
    if missing:
        raise KeyError(f"image columns not in DataFrame: {missing}")
    specs = [VarSpec(c.upper(), ("chan", "pol", "l_idx", "m_idx"),
                     (c,), "<f8", np.nan) for c in vals]
    chunks = {"chan": chan_chunk} if chan_chunk else None
    return write_zarr_xds(
        df, store, partition, dim_cols=["chan", "pol", "l_idx", "m_idx"],
        var_specs=specs, chunks=chunks, attrs=attrs, compressor=compressor)


def read_image_zarr(
    spark: SparkSession,
    store: str,
    partition: str = "image",
    data_vars: list[str] | None = None,
) -> DataFrame:
    df = read_zarr_xds(spark, store, partition, data_vars=data_vars)
    # every dim has both a coord column (original values) and a dense
    # index column; the engine's image keys ARE the coord values —
    # keep those, drop the grid indices
    for c in ("chan", "pol", "l_idx", "m_idx"):
        if f"{c}_idx" in df.columns and c in df.columns:
            df = df.drop(f"{c}_idx")
            df = df.withColumn(c, F.col(c).cast("int"))
    return df


def describe_zarr_store(spark: SparkSession, store: str) -> DataFrame:
    """Per-partition summary of a zarr store (describe_vis parity):
    partition name, dims, shape, chunk shape, #variables, logical
    bytes. Pure metadata — one .zmetadata read, no chunk IO."""
    fs = zs.filesystem_for(store)
    cons = zs.read_consolidated(store, fs=fs)
    if cons is None:
        parts = zs.list_children(store, fs=fs)
    else:
        parts = sorted({k.split("/")[0] for k in cons if "/" in k})
    rows = []
    for p in parts:
        try:
            dims, coords, data, _, anchor = _discover(store, p)
        except (FileNotFoundError, ValueError):
            continue
        nbytes = sum(int(np.prod(a.shape)) * a.dtype.itemsize
                     for a in data.values())
        rows.append((p, list(dims), [int(s) for s in anchor.shape],
                     [int(c) for c in anchor.chunks],
                     len(data), nbytes))
    return local_frame(
        spark, rows, "partition string, dims array<string>, shape array<int>, "
                     "chunks array<int>, n_vars int, logical_bytes long")


def append_zarr_vars(
    df: DataFrame,
    store: str,
    group: str,
    *,
    var_specs: list[VarSpec],
    compressor: dict | None = {"id": "zlib", "level": 4},
) -> dict:
    """Add new data variables to an EXISTING zarr group without
    rewriting it — ``append_xds``
    (``/root/reference/cngi/dio/append_xds.py:26-181``: delayed
    zarr.create + da.store of just the new arrays).

    The group's existing dim coords define the cube: ``df``'s rows are
    indexed against them inside the write tasks (rows whose dim values
    are not in the store's coordinates raise — appending cannot grow
    dims, same as the reference), and the new chunk files are written
    on the EXISTING chunk grid (anchor chunk sizes per dim) by the same
    group-per-chunk distributed writer. Existing variables of the same
    name raise instead of silently overwriting.
    """
    fs = zs.filesystem_for(store)
    dims, coords, data, _, anchor = _discover(store, group)
    gpath = os.path.join(store, group)
    for v in var_specs:
        if v.name in data or v.name in coords:
            raise ValueError(f"variable {v.name!r} already exists in "
                             f"{group} — append cannot overwrite")
        missing = [d for d in v.dims if d not in dims]
        if missing:
            raise KeyError(f"{v.name}: dims {missing} not in group "
                           f"dims {dims}")
    shape = {d: anchor.shape[dims.index(d)] for d in dims}
    chunk_of = {d: anchor.chunks[dims.index(d)] for d in dims}
    # a dim without a coordinate array is indexed by its own values
    keys = {d: (_coord_keys(coords[d].read_full()) if d in coords
                else np.arange(shape[d])) for d in dims}

    arrays: dict[str, zs.ZarrArray] = {}
    for v in var_specs:
        arrays[v.name] = zs.ZarrArray.create(
            os.path.join(gpath, v.name),
            tuple(shape[d] for d in v.dims),
            tuple(chunk_of[d] for d in v.dims),
            v.dtype, compressor=compressor, fill_value=v.fill,
            attrs={DIM_ATTR: list(v.dims)}, fs=fs)

    rows = _write_vars(
        _keyed(df, dims), arrays, var_specs, dims, keys, chunk_of,
        miss="append rows carry {d} values outside the store's "
             "coordinates — appending cannot grow dims")
    zs.consolidate_metadata(store, fs=fs)
    return {"appended": [v.name for v in var_specs],
            "rows": max(rows.values(), default=0)}


def write_vis_zarr_partitions(
    df: DataFrame,
    store: str,
    *,
    partition_col: str = "ddi",
    time_chunk: int = 100,
    chan_chunk: int | None = None,
    attrs: dict | None = None,
    compressor: dict | None = {"id": "zlib", "level": 4},
) -> dict:
    """Write a multi-partition vis store — the mxds convention
    (``convert_ms`` emits one ``xds<ddi>`` group per DDI;
    ``read_vis(partition=...)`` selects one): each distinct
    ``partition_col`` value becomes group ``xds<value>`` with its own
    dim grid. Returns ``{partition_name: write_vis_zarr info}``.

    The partition loop is a driver loop over DDI COUNT (handfuls, the
    reference's own shape); each iteration's write is the fully
    distributed group-per-chunk job. ``df`` is read once, into a cache
    held for the call, and each partition's write filters that cache.
    """
    info: dict[str, dict] = {}
    with _cached(df) as df:
        parts = sorted(r[0] for r in df.select(partition_col)
                       .distinct().collect())
        for p in parts:
            name = f"xds{p}"
            sub = df.filter(F.col(partition_col) == p).drop(partition_col)
            part_attrs = dict(attrs or {})
            part_attrs[partition_col] = int(p) if hasattr(p, "__int__") \
                else p
            info[name] = write_vis_zarr(
                sub, store, name, time_chunk=time_chunk,
                chan_chunk=chan_chunk, attrs=part_attrs,
                compressor=compressor)
    return info
