"""The benchmark's user-shaped pipelines and their output checks.

A pipeline is a list of steps, each a call into one engine layer (the
step name is the layer's module path), followed by the terminal action
``toPandas()`` that brings the last step's DataFrame to the driver.
Steps take the previous step's result; the benchmark times each call
from outside and, in the prefix pass, materializes the DataFrame after
each step.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from perfbench import inputs

Step = tuple[str, Callable[[Any], Any]]


@dataclass
class Workload:
    items: int  # imaged vis or cube rows per iteration
    steps: list[Step]
    check: Callable[[Any], str | None]  # None when the output is right
    counters: Callable[[], dict[str, float]]  # traced run only
    notes: dict[str, Any] = field(default_factory=dict)
    side_steps: frozenset[str] = frozenset()  # steps returning their input
    session: dict[str, SparkSession] = field(default_factory=dict)

    def bind(self, spark: SparkSession) -> None:
        """Steps read the session from here: inputs are generated before
        the session starts, so that set-up time excludes them."""
        self.session["spark"] = spark


SIZES = {
    # name -> (full, smoke)
    # image_cycle: the staged imaging store (n_time, n_ant), 8 chans x 2 pols
    "image_cycle": ((24, 16), (8, 6)),
    # vis_reduce: the cube (n_time, n_ant, n_chan), 2 pols
    "vis_reduce": ((16, 10, 16), (8, 5, 8)),
}


def build(name: str, rng: np.random.Generator, work: str, n_files: int,
          smoke: bool) -> Workload:
    """Generate the workload's inputs and reference answer under
    ``work`` and return its (not yet session-bound) pipeline."""
    size = SIZES[name][1 if smoke else 0]
    return {"image_cycle": _image_cycle,
            "vis_reduce": _vis_reduce}[name](rng, work, n_files, size)


# ---------------------------------------------------------------------------


def _image_cycle(rng, work, n_files, size) -> Workload:
    """Image a staged vis store: read_vis -> briggs make_imaging_weight
    -> make_image dense planes."""
    from cngi_prototype_spark.imaging.grid import GridParms
    from cngi_prototype_spark.imaging.image import make_image
    from cngi_prototype_spark.imaging.weights import make_imaging_weight
    from cngi_prototype_spark.sources.vis_io import read_vis

    session: dict[str, SparkSession] = {}
    i_time, i_ant = size
    spec = inputs.CubeSpec(n_time=i_time, n_ant=i_ant, n_chan=8)
    staged = os.path.join(work, "staged.parquet")
    vis = inputs.cube_inputs(rng, spec, staged, n_files, clean=True)
    ref = inputs.image_plane_sums(vis, spec)
    n_planes = len(ref)
    gp = GridParms(n_u=spec.n_u, n_v=spec.n_u, cell_u=spec.cell,
                   cell_v=spec.cell, support=spec.support,
                   oversampling=spec.oversampling)

    steps: list[Step] = [
        ("sources.read_vis", lambda _: read_vis(session["spark"], staged)),
        ("imaging.weights", lambda df: make_imaging_weight(
            df, gp, weighting="briggs", robust=spec.robust,
            weight="data_weight")),
        ("imaging.image", lambda df: make_image(
            df, gp, image_size=(spec.image, spec.image),
            weight="imaging_weight", variant="kernel", n_planes=n_planes,
            output="planes")),
    ]

    def check(planes: pd.DataFrame) -> str | None:
        if len(planes) != n_planes:
            return f"{len(planes)} planes, expected {n_planes}"
        scale = max(abs(s) for s in ref.values())
        for r in planes.itertuples():
            img = np.asarray(r.image)
            if img.size != spec.image ** 2 or not np.isfinite(img).all():
                return f"plane ({r.chan}, {r.pol}) is not a finite {spec.image}^2 image"
            want = ref[(int(r.chan), int(r.pol))]
            if abs(img.sum() - want) > 1e-6 * scale:
                return f"plane ({r.chan}, {r.pol}) sum {img.sum()!r} != {want!r}"
        return None

    def counters() -> dict[str, float]:
        # gridded share of the imaged samples, by the gridder's own
        # in-bounds and has-data filter
        from cngi_prototype_spark.imaging.grid import _prepare
        kept = _prepare(read_vis(session["spark"], staged), gp, "u", "v",
                        "freq", "data_weight", "data_re", "data_im").count()
        return {"imaging.grid.inbounds_frac": kept / len(vis)}

    return Workload(len(vis), steps, check, counters, session=session,
                    notes={"vis_imaged": len(vis), "planes": n_planes,
                           "plane_sum_tolerance": "1e-6 of the largest plane sum"})


def _vis_reduce(rng, work, n_files, size) -> Workload:
    """Reduce and persist a visibility cube: read_vis -> auto_clip ->
    apply_flags -> time_average (bin=4 within scans) -> chan_average
    (4 channels) -> write_vis_zarr -> read_vis_zarr; the read-back is
    the output."""
    from cngi_prototype_spark.operators.averaging import (chan_average,
                                                          time_average)
    from cngi_prototype_spark.operators.flags import apply_flags, auto_clip
    from cngi_prototype_spark.schema import VisSchema
    from cngi_prototype_spark.sources.vis_io import read_vis
    from cngi_prototype_spark.sources.zarr_io import (read_vis_zarr,
                                                      write_vis_zarr)

    session: dict[str, SparkSession] = {}
    n_time, n_ant, n_chan = size
    spec = inputs.CubeSpec(n_time=n_time, n_ant=n_ant, n_chan=n_chan)
    store = os.path.join(work, "cube.parquet")
    cube = inputs.cube_inputs(rng, spec, store, n_files)
    averaged = inputs.reduce_expected(cube, spec)
    exp_read = _keyed(averaged[~averaged.data_re.isna()])
    vs = VisSchema(extra_mean_cols=("u", "v", "freq"))
    out_store = os.path.join(work, "averaged.zarr")
    got: dict[str, Any] = {}

    def write(df: DataFrame) -> DataFrame:
        shutil.rmtree(out_store, ignore_errors=True)
        got["written"] = write_vis_zarr(df, out_store, "xds0", time_chunk=8)
        return df

    steps: list[Step] = [
        ("sources.read_vis", lambda _: read_vis(session["spark"], store)),
        ("operators.flags.auto_clip",
         lambda df: auto_clip(df, 0.0, spec.clip_max)),
        ("operators.flags.apply_flags", lambda df: apply_flags(df)),
        ("operators.averaging.time_average",
         lambda df: time_average(df, bin=spec.time_bin_s // 10, span="state",
                                 vs=vs)),
        ("operators.averaging.chan_average",
         lambda df: chan_average(df, spec.chan_bin, vs=vs)),
        ("sources.write_vis_zarr", write),
        ("sources.read_vis_zarr",
         lambda _: read_vis_zarr(session["spark"], out_store)),
    ]

    def check(back: pd.DataFrame) -> str | None:
        if got["written"]["rows"] != len(averaged):
            return f"wrote {got['written']['rows']} averaged rows, expected {len(averaged)}"
        back = _keyed(back)
        if not back.index.equals(exp_read.index):
            return f"read back {len(back)} rows, expected {len(exp_read)}"
        for c in ("data_re", "data_im", "data_weight"):
            if not np.allclose(back[c], exp_read[c], rtol=1e-9, atol=0.0):
                return f"read-back {c} differs from the numpy reduction"
        if not (back.flag.astype(bool) == exp_read.flag).all():
            return "read-back flag differs from the numpy reduction"
        return None

    return Workload(len(cube), steps, check, lambda: {},
                    side_steps=frozenset({"sources.write_vis_zarr"}),
                    session=session,
                    notes={"cube_rows": len(cube), "rows_written": len(averaged),
                           "read_back_tolerance": "rtol 1e-9 per cell"})


def _keyed(df: pd.DataFrame) -> pd.DataFrame:
    t = ((pd.to_datetime(df["time"], utc=True) - pd.Timestamp(0, tz="UTC"))
         // pd.Timedelta(1, "us"))
    k = df.assign(time=t.to_numpy(), baseline=df.baseline.astype(np.int64),
                  chan=df.chan.astype(np.int64), pol=df.pol.astype(np.int64))
    return k.set_index(["time", "baseline", "chan", "pol"]).sort_index()
