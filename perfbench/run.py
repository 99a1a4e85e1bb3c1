"""Repository benchmark: user-shaped pipelines on the engine.

    python3 perfbench/run.py --workload image_cycle --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --smoke

Each run is one process and one client in a closed loop: it generates
seeded inputs (untimed), starts a SparkSession and runs one cold
iteration (``setup_s``), then runs warm iterations back to back until
their walls add up to ``--seconds`` and reports their median wall (``iter_s``),
the peak resident memory of its process tree (``peak_rss_mb``) and the
median driver-JVM heap left live after each warm iteration
(``heap_live_mb``: a full collection while the iteration's DataFrames
are still referenced, so cached and checkpointed blocks count). Every
iteration's output is checked against an answer computed independently
at input-generation time. The last stdout line is one JSON object; the
line before it (``perfbench-detail``) carries the raw walls, the input
sizes, the failure share and the noise record (nproc, load average, CPU
steal).

``--trace 1`` instead reports per-layer metrics. After the cold
iteration it runs pairs of warm iterations (traced, untraced) until
``--seconds`` have passed. A traced iteration
records a span around every call into a layer module, attributes Spark
jobs to the call by job group, and reads task metrics from the status
store and Python-worker time and scan rows from the SQL status store.
A separate prefix pass then materializes the DataFrame after each layer
(``*.exec_s`` is the marginal noop-write time of that prefix, not a
share of the fused plan). Spans and per-iteration records are written
once, at the end, under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

WORKLOADS = ("image_cycle", "vis_reduce")
HEAP = "2g"  # driver JVM heap, fixed and pre-touched (see start_session)
END_TO_END = {"setup_s": "s", "iter_s": "s", "peak_rss_mb": "MB",
              "heap_live_mb": "MB"}
LAYER_SUMS = {  # layer -> which of build_s / jobs / exec_s it reports
    "sources.read_vis": ("build_s", "exec_s"),
    "operators": ("build_s",),
    "operators.flags": ("exec_s",),
    "operators.averaging": ("exec_s",),
    "imaging.weights": ("build_s", "jobs", "exec_s"),
    "imaging.image": ("build_s", "exec_s"),
}
SPARK = {"catalyst_s": "s", "jobs": "count", "stages": "count",
         "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
         "cpu_util": "ratio", "python_s": "s", "shuffle_write_mb": "MB",
         "shuffle_read_mb": "MB", "gc_s": "s", "spill_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "session.cold_iter_s": "s",
    **{f"{layer}.{kind}": ("count" if kind == "jobs" else "s")
       for layer, kinds in LAYER_SUMS.items() for kind in kinds},
    "sources.write_vis_zarr.s": "s",
    "sources.write_vis_zarr.jobs": "count",
    "sources.write_vis_zarr.scan_rows_per_row_written": "ratio",
    "sources.read_vis_zarr.s": "s",
    "imaging.grid.inbounds_frac": "ratio",
    **{f"spark.{k}": u for k, u in SPARK.items()},
    "trace.iter_s": "s",
    "trace_overhead_frac": "ratio",
    "trace.layer_cover_frac": "ratio",
}


def _in_layer(step: str, layer: str) -> bool:
    return step == layer or step.startswith(layer + ".")


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use after full collections: what the run
    keeps live, block-manager storage (caches, local checkpoints)
    included. Garbage goes in steps, so collect until the figure
    settles: py4j releases the JVM side of Python proxies from a
    background thread, and Spark's context cleaner drops the blocks of
    collected DataFrames only after a collection has found them."""
    client = spark.sparkContext._gateway._gateway_client
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(5):
        gc.collect()
        while getattr(client, "finalizer_deque", None):
            time.sleep(0.01)
        time.sleep(0.05)
        jvm.java.lang.System.gc()
        last, used = used, mem.getHeapMemoryUsage().getUsed() / 2 ** 20
        if used > 0.99 * last:
            break
        time.sleep(0.2)  # the cleaner polls its queue every 0.1 s
    return min(used, last)


class Bench:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
        # local[2]: iterations are bound by job scheduling, not task CPU
        # (cpu_util 0.1-0.25 at local[4]); with cores left to the JIT, GC
        # and Python workers, five seeds gave an iter_s IQR/median of
        # 0.05 at local[2] against 0.15 at local[4]
        self.cores = max(1, min(2, os.cpu_count() or 1))
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # -- session -----------------------------------------------------------

    def start_session(self):
        from cngi_prototype_spark.session import initialize_framework

        local = self.work / "spark-local"
        tmp = self.work / "tmp"
        for d in (local, tmp):
            d.mkdir(parents=True, exist_ok=True)
        # keep Spark's scratch (block manager, shuffle, JVM and Python
        # temp files) inside the checkout; no JVM perf-data files in /tmp
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        return initialize_framework(
            cores=self.cores, memory=HEAP, app_name="perfbench",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": str(local),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # a fixed, pre-touched heap: G1's adaptive heap growth
                # otherwise moves peak RSS by +-15% run to run; this way
                # peak_rss_mb moves with memory outside the Java heap
                # (off-heap buffers, metaspace, Python processes) and
                # heap_live_mb with what the Java heap holds
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch",
                "spark.ui.showConsoleProgress": "false",
            })

    def stop_session(self, spark) -> None:
        from pyspark import SparkContext

        from perfbench import host

        gateway = SparkContext._gateway
        pids = host.descendants(os.getpid())
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        host.wait_gone(pids)

    # -- iterations --------------------------------------------------------

    def iterate(self, wl, it=0, spark=None, after=None):
        """One pipeline run -> (wall seconds, spans); traced (job groups,
        Catalyst phases) when ``spark`` is given. A failed run (an
        exception or a wrong output) is counted and still timed.
        ``after()`` runs once the output is checked, untimed, while the
        run's DataFrames are still referenced."""
        self.attempted += 1
        spans = []
        sc = spark.sparkContext if spark is not None else None
        t0 = time.perf_counter()
        try:
            x = final = None
            for k, (name, fn) in enumerate([*wl.steps, ("terminal", None)]):
                if sc is not None:
                    sc.setJobGroup(f"perfbench.{it}.{k}", name)
                s0 = time.perf_counter()
                if fn is None:
                    final, x = x, x.toPandas()
                else:
                    x = fn(x)
                spans.append({"name": name, "iter": it, "parent": f"iter{it}",
                              "start": s0 - t0, "end": time.perf_counter() - t0,
                              "group": f"perfbench.{it}.{k}"})
            wall = time.perf_counter() - t0
            if sc is not None:
                from perfbench.spark_stats import catalyst_s
                sc.setJobGroup("perfbench.other", "untraced")
                spans[-1]["catalyst_s"] = catalyst_s(final)
                spans.append({"name": "iteration", "iter": it, "parent": None,
                              "start": 0.0, "end": wall})
            err = wl.check(x)
            if after is not None:
                after()
        except Exception:  # one failed iteration must not end the run
            wall, err = time.perf_counter() - t0, traceback.format_exc()
        if err:
            self.failed += 1
            self.errors.append(err)
            print(f"perfbench: iteration {it} failed: {err}", file=sys.stderr)
        return wall, spans

    def loop(self, wl, seconds, after) -> list[float]:
        """Warm iterations back to back until their walls add up to
        ``seconds`` (the untimed ``after()`` probes are not counted)."""
        walls: list[float] = []
        while sum(walls) < seconds:
            walls.append(self.iterate(wl, len(walls) + 1, after=after)[0])
        return walls

    # -- run modes ---------------------------------------------------------

    def run(self) -> dict:
        import numpy as np

        from perfbench import host, pipelines

        self.work.mkdir(parents=True)
        detail: dict = {"workload": self.args.workload, "seed": self.args.seed,
                        "cores": self.cores}
        with host.RssSampler() as rss, host.NoiseRecord() as noise:
            rng = np.random.default_rng(self.args.seed)
            t_gen = time.perf_counter()
            wl = pipelines.build(self.args.workload, rng, str(self.work / "in"),
                                 self.cores, self.args.size == "smoke")
            detail["input_gen_s"] = time.perf_counter() - t_gen
            t0 = time.perf_counter()
            spark = self.start_session()
            try:
                wl.bind(spark)
                t1 = time.perf_counter()
                self.iterate(wl)
                setup_s = time.perf_counter() - t0
                if self.args.trace:
                    metrics = self.traced(spark, wl)
                    metrics["session.start_s"] = t1 - t0
                    metrics["session.cold_iter_s"] = setup_s - (t1 - t0)
                else:
                    heap: list[float] = []
                    walls = self.loop(wl, self.args.seconds,
                                      lambda: heap.append(live_heap_mb(spark)))
                    metrics = {"setup_s": setup_s, "iter_s": statistics.median(walls),
                               "peak_rss_mb": rss.peak / 2 ** 20,
                               "heap_live_mb": statistics.median(heap or [0.0])}
                    detail.update(iter_walls_s=walls, heap_live_mb=heap)
            finally:
                self.stop_session(spark)
        detail.update(noise.record)
        detail.update(items_per_iter=wl.items, notes=wl.notes,
                      attempted=self.attempted, failed=self.failed,
                      failed_frac=self.failed / self.attempted,
                      errors=self.errors[:3])
        return {"metrics": metrics, "detail": detail}

    def traced(self, spark, wl) -> dict[str, float]:
        from perfbench import spark_stats as ss

        sql = ss.SqlMetrics(spark)
        plain, walls, traces, per_iter = [], [], [], []
        end = time.perf_counter() + self.args.seconds
        it = 1
        while True:
            # traced, then untraced: iterations still speed up as the JIT
            # warms, so the overhead ratio errs high, never low
            for traced in (True, False):
                failed = self.failed
                wall, spans = self.iterate(wl, it, spark if traced else None)
                it += 1
                if not traced:
                    plain.append(wall)
                elif self.failed == failed:
                    ss.wait_listeners(spark)
                    per_iter.append(self._iteration_metrics(spark, sql, wl, wall, spans))
                    walls.append(wall)
                    traces.append(spans)
            if time.perf_counter() >= end:
                break
        self.spans = [s for t in traces for s in t]
        out = {k: statistics.median(m[k] for m in per_iter)
               for k in per_iter[0]} if per_iter else {}
        exec_s = self.prefix_pass(wl)
        out.update(wl.counters())
        out.update({f"{layer}.exec_s": v for layer, v in exec_s.items()})
        if walls:
            traced_s = statistics.median(walls)
            out["trace.iter_s"] = traced_s
            out["trace_overhead_frac"] = statistics.mean(walls) / statistics.mean(plain) - 1.0
            # the layer calls plus the execution the terminal action
            # triggers, as the prefix pass attributes it to layers; when
            # a side step already ran the layers, the terminal only
            # reads back and is attributed to that read
            out["trace.layer_cover_frac"] = (
                out["steps_build_s"] + (sum(exec_s.values()) if not wl.side_steps
                                        else out["terminal_s"])) / traced_s
        self.trace_record = {"untraced_walls_s": plain, "traced_walls_s": walls,
                             "prefix_exec_s": exec_s}
        return {k: out.get(k, 0.0) for k in PER_LAYER}

    def _iteration_metrics(self, spark, sql, wl, wall, spans) -> dict[str, float]:
        from perfbench import spark_stats as ss

        spans = spans[:-1]  # the iteration span itself
        jobs = {s["name"]: ss.group_jobs(spark, s["group"]) for s in spans}
        for s in spans:
            s["jobs"] = jobs[s["name"]]
        build = {s["name"]: s["end"] - s["start"] for s in spans}
        m: dict[str, float] = {}
        for layer, kinds in LAYER_SUMS.items():
            steps = [n for n in build if _in_layer(n, layer)]
            if "build_s" in kinds:
                m[f"{layer}.build_s"] = sum(build[n] for n in steps)
            if "jobs" in kinds:
                m[f"{layer}.jobs"] = sum(len(jobs[n]) for n in steps)
        all_jobs = sorted(j for js in jobs.values() for j in js)
        sq = sql.totals({"all": all_jobs,
                         "write": jobs.get("sources.write_vis_zarr", [])})
        st = ss.stage_totals(spark, all_jobs)
        m.update({f"spark.{k}": v for k, v in st.items()})
        m["spark.jobs"] = len(all_jobs)
        m["spark.catalyst_s"] = spans[-1]["catalyst_s"]
        m["spark.python_s"] = sq["all"]["python_s"]
        m["spark.cpu_util"] = st["task_cpu_s"] / (wall * self.cores)
        if "sources.write_vis_zarr" in build:
            m["sources.write_vis_zarr.s"] = build["sources.write_vis_zarr"]
            m["sources.write_vis_zarr.jobs"] = len(jobs["sources.write_vis_zarr"])
            rows = wl.notes.get("rows_written") or 1
            m["sources.write_vis_zarr.scan_rows_per_row_written"] = (
                sq["write"]["scan_rows"] / rows)
            # the read-back's plan build plus the terminal action that
            # runs it
            m["sources.read_vis_zarr.s"] = (build["sources.read_vis_zarr"]
                                            + build["terminal"])
        m["steps_build_s"] = sum(v for n, v in build.items() if n != "terminal")
        m["terminal_s"] = build["terminal"]
        return m

    def prefix_pass(self, wl) -> dict[str, float]:
        """exec_s of a layer: the noop-write time of the DataFrame after
        the layer's last step minus that after the step before its first
        (0 for a layer that starts the pipeline). A layer's steps are
        consecutive. Side steps (writes that return their input) are
        skipped: they are timed whole in the traced iterations."""
        steps = [(n, fn) for n, fn in wl.steps if n not in wl.side_steps]
        bounds: dict[str, tuple[int, int]] = {}
        for layer, kinds in LAYER_SUMS.items():
            idx = [i for i, (n, _) in enumerate(steps) if _in_layer(n, layer)]
            if "exec_s" in kinds and idx:
                bounds[layer] = (idx[0] - 1, idx[-1])
        need = {i for b in bounds.values() for i in b}
        t, x = {-1: 0.0}, None
        for i, (_, fn) in enumerate(steps[:max(need) + 1]):
            x = fn(x)
            if i in need:
                t0 = time.perf_counter()
                x.write.mode("overwrite").format("noop").save()
                t[i] = time.perf_counter() - t0
        return {layer: t[b] - t[a] for layer, (a, b) in bounds.items()}


def smoke() -> int:
    """Run every workload once per trace mode at the smallest input size
    and check that each metric named in BENCHMARK.json is emitted with
    its unit and that no iteration failed."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for wl in spec["workloads"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload",
                   wl["name"], "--seed", "1", "--seconds", "1", "--trace",
                   str(trace), "--size", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"FAIL {wl['name']} trace={trace}: no result (rc={p.returncode})\n"
                      f"{p.stderr[-2000:]}")
                ok = False
                continue
            bad = [m["name"] for m in names
                   if res["metrics"].get(m["name"], {}).get("unit") != m["unit"]]
            good = (p.returncode == 0 and res["correct"] and res["failed"] == 0
                    and not bad)
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} {wl['name']} trace={trace} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"missing_or_wrong_unit={bad}")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at smoke size and check the output")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    try:
        import cngi_prototype_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        res = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    trace_dir = ROOT / ".perfbench_work" / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    record = {**res["detail"], "metrics": res["metrics"]}
    if args.trace:
        record.update(spans=bench.spans, **bench.trace_record)
    (trace_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    units = PER_LAYER if args.trace else END_TO_END
    print("perfbench-detail " + json.dumps(res["detail"], default=str))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
