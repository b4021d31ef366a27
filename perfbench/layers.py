"""Per-layer metrics of a traced run.

Three sources, all read from the benchmark's own files:

- the workload's operations: spans (build, plan, run, and every
  ``sources.tables.load`` call made while building) on the traced
  passes, and Spark status-store counters (jobs, stages, tasks,
  executor time, shuffle) attributed to each operation;
- fixed layer probes that run after the loop on every workload, one
  per module: the Arrow boundary, the scene source, ``operators.lut``,
  ``operators.inversion``, ``operators.gradients``, ``streaming``,
  ``engine`` state I/O and ``sources.tables``;
- the host calibration loop at the start and end of the run.

Metric names are ``<layer>.<measure>``; the README maps each one to the
end-to-end metric and workload it should move.
"""

from __future__ import annotations

import os
import pickle
import statistics
import time

import numpy as np
import pandas as pd

import datagen
import tracing as tr

PROBE_SEED = 7             # probes use fixed inputs on every workload
PROBE_STREAK_N = 256
HALO_GRID = 1024           # image side for the halo replication count
PROBE_PIXELS = 2048        # driver-side inversion kernel sample
FS_PAYLOAD = "x" * 65536


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _per_op(total: float, n: int) -> float:
    return total / n if n else 0.0


# ----------------------------------------------------------------------
# Status-store counters per operation
# ----------------------------------------------------------------------

def scheduler_metrics(spark, recs: list[dict], cores: int) -> dict:
    store = tr.StatusStore(spark)
    jobs, stages = store.jobs(), store.stages()
    n = len(recs)
    j = st = tasks = run_ms = cpu_ns = gc_ms = shuf = spill = 0
    skews, busy = [], 0.0
    for r in recs:
        s_op = tr.in_window(stages, r["start"], r["end"])
        j += len(tr.in_window(jobs, r["start"], r["end"]))
        st += len(s_op)
        busy += r["dur"]
        for s in s_op:
            tasks += s["numTasks"]
            run_ms += s["executorRunTime"]
            cpu_ns += s["executorCpuTime"]
            gc_ms += s["jvmGcTime"]
            shuf += s["shuffleWriteBytes"]
            spill += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            k = store.task_skew(s)
            if k is not None:
                skews.append(k)
    return {
        "scheduler.jobs_per_op": (_per_op(j, n), "count"),
        "scheduler.stages_per_op": (_per_op(st, n), "count"),
        "scheduler.tasks_per_op": (_per_op(tasks, n), "count"),
        "scheduler.task_skew": (tr.median(skews) if skews else 1.0,
                                "ratio"),
        "executor.run_s_per_op": (_per_op(run_ms / 1e3, n), "s"),
        "executor.cpu_s_per_op": (_per_op(cpu_ns / 1e9, n), "s"),
        "executor.gc_s_per_op": (_per_op(gc_ms / 1e3, n), "s"),
        # driver, JVM and Python-worker CPU (from /proc, JIT included)
        # over the cores' time
        "executor.cpu_util": (
            sum(r["cpu"] + r["jit"] for r in recs) / (busy * cores),
            "ratio"),
        "jvm.jit_cpu_s_per_op": (
            _per_op(sum(r["jit"] for r in recs), n), "s"),
        "shuffle.write_bytes_per_op": (_per_op(shuf, n), "B"),
        "shuffle.spill_bytes_per_op": (_per_op(spill, n), "B"),
    }


# ----------------------------------------------------------------------
# Layer probes (fixed inputs, same on every workload)
# ----------------------------------------------------------------------

def _probe_inputs(spark, work: str) -> dict:
    wind = datagen.wind_scene(PROBE_SEED, 128, 256)
    wind_pdf = pd.DataFrame(wind).drop(columns=["true_wspd", "true_phi"])
    wind_path = os.path.join(work, "probe_wind")
    from workloads import _write_scene

    _write_scene(wind_pdf, wind_path)
    t0 = time.perf_counter()
    img = datagen.streak_scene(PROBE_SEED, PROBE_STREAK_N)
    n = PROBE_STREAK_N
    line, sample = np.indices((n, n))
    streak_path = os.path.join(work, "probe_streak")
    _write_scene(pd.DataFrame({"line": line.ravel().astype(np.int64),
                               "sample": sample.ravel().astype(np.int64),
                               "sigma0": img.ravel()}), streak_path)
    gen_s = time.perf_counter() - t0
    tables = os.path.join(work, "probe_tables")
    datagen.write_tables(PROBE_SEED, tables)
    return {"wind_pdf": wind_pdf, "wind_path": wind_path, "img": img,
            "streak_path": streak_path, "gen_s": gen_s, "tables": tables}


def probe_scene_arrow(spark, inp: dict) -> dict:
    from xsarsea_spark.operators.gradients import _with_halo_tiles

    wind_mpx = len(inp["wind_pdf"]) / 1e6
    streak_mpx = PROBE_STREAK_N ** 2 / 1e6
    px = spark.read.parquet(inp["wind_path"])
    t_map = _timed(lambda: _noop(px.mapInPandas(lambda it: it, px.schema)))
    tiles = _with_halo_tiles(spark.read.parquet(inp["streak_path"]),
                             "line", "sample", 512, 20)
    t_grp = _timed(lambda: _noop(tiles.groupBy("__tl", "__ts").applyInPandas(
        lambda pdf: pdf, tiles.schema)))
    return {
        "arrow.map_s_per_mpx": (t_map / wind_mpx, "s/Mpx"),
        "arrow.groupmap_s_per_mpx": (t_grp / streak_mpx, "s/Mpx"),
        "scene.gen_s_per_mpx": (inp["gen_s"] / streak_mpx, "s/Mpx"),
    }


def probe_lut_inversion(spark, inp: dict) -> dict:
    from xsarsea_spark.operators.inversion import _invert_batch, prepare_luts

    prep = []
    for _ in range(3):
        t0 = time.perf_counter()
        luts = prepare_luts("gmf_cmod5n", "gmf_rs2_v2")
        prep.append(time.perf_counter() - t0)
    pdf = inp["wind_pdf"].sample(PROBE_PIXELS, random_state=PROBE_SEED)
    pdf = pdf.assign(
        s0co_db=10.0 * np.log10(pdf["sigma0"] + 1e-15),
        s0cr_db=10.0 * np.log10(pdf["sigma0_cr"] + 1e-15))
    cols = {"inc": "incidence", "keep": ["line", "sample"],
            "sigma0_co_db": "s0co_db", "sigma0_cr_db": "s0cr_db",
            "dsig_cr": "dsig_cr", "anc_re": "anc_re", "anc_im": "anc_im"}
    t_coarse = _timed(lambda: _invert_batch(pdf, luts, 0.1, cols,
                                            search="coarse"))
    t_exh = _timed(lambda: _invert_batch(pdf, luts, 0.1, cols,
                                         search="exhaustive"))
    return {
        "operators.lut.prepare_s": (statistics.median(prep), "s"),
        "operators.lut.broadcast_mb": (len(pickle.dumps(luts)) / 1e6, "MB"),
        "operators.inversion.kernel_s_per_mpx": (
            t_coarse / (PROBE_PIXELS / 1e6), "s/Mpx"),
        "operators.inversion.prune_ratio": (t_coarse / t_exh, "ratio"),
    }


def probe_gradients(spark, inp: dict) -> dict:
    from xsarsea_spark.operators.gradients import (_with_halo_tiles,
                                                   circ_smooth,
                                                   gradient_histogram,
                                                   local_gradients,
                                                   local_gradients_numpy)

    n = PROBE_STREAK_N
    mpx = n * n / 1e6
    px = spark.read.parquet(inp["streak_path"])
    t_kernel = _timed(lambda: local_gradients_numpy(inp["img"]))
    t_stencil = _timed(lambda: _noop(local_gradients(px, n, n)))
    grid = spark.range(HALO_GRID * HALO_GRID).selectExpr(
        f"id DIV {HALO_GRID} AS line", f"id % {HALO_GRID} AS sample",
        "0e0 AS sigma0")
    halo_rows = _with_halo_tiles(grid, "line", "sample", 512, 20).count()
    lg = local_gradients_numpy(inp["img"])
    h = n // 4
    l4, s4 = np.indices((h, h))
    lg_df = spark.createDataFrame(pd.DataFrame({
        "line4": l4.ravel(), "sample4": s4.ravel(),
        **{k: lg[k][:h, :h].ravel() for k in ("g2_re", "g2_im", "c")}}))
    t0 = time.perf_counter()
    hist = gradient_histogram(lg_df, window=16).toPandas()
    t_hist = time.perf_counter() - t0
    start = -np.pi / 2 + (np.pi / 72) / 2.0
    hist["angle_idx"] = np.round(
        (hist["angle"] - start) / (np.pi / 72)).astype(np.int32)
    dense = spark.createDataFrame(hist)
    t_smooth = _timed(lambda: _noop(circ_smooth(dense)))
    return {
        "operators.gradients.stencil_s_per_mpx": (t_stencil / mpx, "s/Mpx"),
        "operators.gradients.kernel_s_per_mpx": (t_kernel / mpx, "s/Mpx"),
        "operators.gradients.halo_rows_ratio": (
            halo_rows / HALO_GRID ** 2, "ratio"),
        "operators.gradients.histogram_s_per_mpx": (t_hist / mpx, "s/Mpx"),
        "operators.gradients.smooth_s": (t_smooth, "s"),
    }


def probe_streaming_engine(spark, inp: dict, work: str) -> dict:
    """A three-batch file-source stream (one events file per batch) and
    ``engine.fs_write_text`` on a fixed payload."""
    from xsarsea_spark.engine import fs_write_text

    src = os.path.join(work, "probe_stream_in")
    os.makedirs(src)
    ev = pd.read_parquet(os.path.join(inp["tables"], "events.parquet"))
    for i, rows in enumerate(np.array_split(np.arange(len(ev)), 3)):
        ev.iloc[rows].to_parquet(os.path.join(src, f"b{i}.parquet"),
                                 index=False)
    q = (spark.readStream.schema(spark.read.parquet(src).schema)
         .option("maxFilesPerTrigger", 1).parquet(src)
         .groupBy("event_type").count()
         .writeStream.outputMode("complete").format("noop")
         .option("checkpointLocation", os.path.join(work, "probe_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    writes = []
    path = os.path.join(work, "probe_state.json")
    for _ in range(5):
        writes.append(_timed(lambda: fs_write_text(spark, path, FS_PAYLOAD)))
    return {"engine.fs_write_s": (statistics.median(writes), "s")}


def probe_sources(spark, inp: dict, tracer) -> None:
    """One traced ``load()`` of every table (schema inference included)."""
    from xsarsea_spark.sources.tables import TABLES, load

    tracer.enabled = True
    for t in TABLES:
        with tracer.span("sources.load", table=t):
            load(spark, inp["tables"], t)
    tracer.enabled = False


# ----------------------------------------------------------------------
# Assembly
# ----------------------------------------------------------------------

def per_layer(spark, wl, recs, tracer, start_s, warm_s, calib0, cores,
              listener, rss_mb) -> dict:
    out: dict = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warm_s, "s"),
    }
    traced = [r for r in recs if r["traced"]]
    plain = [r for r in recs if not r["traced"]]
    # on the bounded op metric, CPU seconds per op
    out["tracing_overhead_frac"] = (
        statistics.mean(r["cpu"] for r in traced)
        / statistics.mean(r["cpu"] for r in plain) - 1.0, "ratio")
    # wall times of the untraced ops, reported but not bounded
    wall = tr.per_label_medians(plain, "dur")
    out["run.op_wall_p50_s"] = (tr.median(wall), "s")
    out["run.ops_per_wall_s"] = (len(wall) / sum(wall), "1/s")
    out["host.steal_frac"] = (tr.steal_frac(recs), "ratio")
    n_ok = sum(r["ok"] for r in recs)
    out["failed_frac"] = (1.0 - n_ok / len(recs), "ratio")

    out.update(scheduler_metrics(spark, recs, cores))

    builds = [r["build"] for r in traced]
    out["suite.build_s_p50"] = (tr.median(builds), "s")
    out["suite.build_share"] = (
        sum(builds) / sum(r["dur"] for r in traced), "ratio")
    out["catalyst.plan_s_p50"] = (tr.median([r["plan"] for r in traced]),
                                  "s")
    n_tr = len(traced)
    self_t = tracer.self_times()
    for name in ("build", "plan", "run"):
        out[f"self.{name}_s_per_op"] = (
            _per_op(sum(self_t.get(name, [])), n_tr), "s")

    work = os.path.join(wl.work, "probes")
    os.makedirs(work)
    t0 = time.perf_counter()
    inp = _probe_inputs(spark, work)
    cost = {"inputs": time.perf_counter() - t0}
    probes = {
        "arrow": lambda: probe_scene_arrow(spark, inp),
        "lut_inversion": lambda: probe_lut_inversion(spark, inp),
        "gradients": lambda: probe_gradients(spark, inp),
        "streaming_engine": lambda: probe_streaming_engine(spark, inp, work),
        "sources": lambda: probe_sources(spark, inp, tracer),
    }
    for name, probe in probes.items():
        t0 = time.perf_counter()
        out.update(probe() or {})
        cost[name] = time.perf_counter() - t0
    print("perfbench: probe seconds " + str(
        {k: round(v, 2) for k, v in cost.items()}), flush=True)
    time.sleep(0.5)        # let the listener bus deliver the last batches
    out["streaming.batch_ms_p50"] = (
        tr.median([ms for _, ms in listener.batches]), "ms")

    loads = [s for s in tracer.spans if s["name"] == "sources.load"]
    jobs = tr.StatusStore(spark).jobs()
    load_jobs = sum(len(tr.in_window(jobs, s["start"], s["end"]))
                    for s in loads)
    out["sources.load_s"] = (
        tr.median([s["end"] - s["start"] for s in loads]), "s")
    out["sources.load_jobs"] = (_per_op(load_jobs, len(loads)), "count")

    calib1 = tr.calibration_s()
    out["host.calibration_s"] = ((calib0 + calib1) / 2.0, "s")
    out["host.peak_rss_mb"] = (rss_mb, "MB")
    return out
