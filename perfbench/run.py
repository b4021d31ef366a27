"""sparksea benchmark: one workload per process, closed loop, one client.

Run from the repository root:

    python3 perfbench/run.py --workload catalog_queries --seed 1 \
        --seconds 14 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same loop with tracing on every other pass, prints the per-layer
metrics and writes the spans to ``perfbench/.work/spans-<run id>.jsonl``.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import subprocess
import time

import tracing as tr
from workloads import WORKLOADS, release

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``,
    and let the Python workers import the package and this directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT, HERE] + [p for p in
                            os.environ.get("PYTHONPATH", "").split(os.pathsep)
                            if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT]


def _start_session(work: str, cores: int):
    from xsarsea_spark.session import get_session

    spark = get_session(
        app_name="perfbench", cpus=cores, shuffle_partitions=cores,
        extra_conf={
            # a fixed set of JIT compiler threads, so none exits with
            # CPU time the benchmark has not read
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.xsarsea.scratch.dir": os.path.join(work, "state"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _python_workers(spark, cores: int) -> None:
    """Start the Python worker of every core (an identity pandas map)."""
    spark.range(cores, numPartitions=cores).mapInPandas(
        lambda it: it, "id long").collect()


def set_up(wl, work: str, cores: int) -> tuple:
    """The cold set-up: from process start (interpreter, imports, JVM
    launch) through session start, the inputs made from the seed, the
    Python workers and the workload's full warm-up, which compiles its
    code paths in the JVM. Returns the session and the seconds from
    process start to session up and to warm-up done, and the seconds
    the warm-up took."""
    spark = _start_session(work, cores)
    up = tr.process_age_s()
    t0 = time.perf_counter()
    wl.prepare(spark)
    t1 = time.perf_counter()
    _python_workers(spark, cores)
    wl.warmup(spark)
    t2 = time.perf_counter()
    return spark, up + t2 - t0, up, t2 - t1


@contextlib.contextmanager
def _layer_spans(tracer):
    """Span every call the program makes into ``sources.tables.load``
    and ``operators.inversion.prepare_luts`` (while the tracer is on)."""
    from xsarsea_spark.operators import inversion
    from xsarsea_spark.sources import tables

    def spanned(name):
        def factory(fn):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return wrapper
        return factory

    with tr.patched(tables, "load", spanned("sources.load")), \
            tr.patched(inversion, "prepare_luts",
                       spanned("operators.lut.prepare")):
        yield


def measure(spark, wl, seconds: float, trace: bool, tracer) -> list[dict]:
    """Closed loop until ``seconds`` of operation time have been
    measured, ending on a whole pass, and two passes at least. With
    ``trace``, every other pass is traced (a pass is one op for the
    scene workloads). Each op's record holds its wall times, the CPU
    seconds it used in every process of the run apart from the JVM's
    JIT compiler threads, theirs, and the CPU seconds the hypervisor
    withheld from the machine meanwhile (steal)."""
    meter = tr.CpuMeter()
    recs: list[dict] = []
    busy = 0.0
    for i, op in enumerate(wl.ops()):
        n_pass = i // wl.pass_len
        traced = trace and n_pass % 2 == 1
        tracer.enabled = traced
        cpu0, jit0 = meter.read()
        steal0 = tr.host_steal_s()
        t_epoch = time.time()
        with tracer.span("op", label=op.label):
            t0 = time.perf_counter()
            try:
                with tracer.span("build"):
                    df = op.build(spark)
                t1 = time.perf_counter()
                if traced:
                    with tracer.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tracer.span("run"):
                    result = op.run(df)
                error = None
            except Exception as exc:  # counted as a failed operation
                result, error = None, exc
                t1 = t2 = time.perf_counter()
            t3 = time.perf_counter()
        cpu1, jit1 = meter.read()
        steal = tr.host_steal_s() - steal0
        tracer.enabled = False
        rec = {"label": op.label, "pass": n_pass, "traced": traced,
               "start": t_epoch, "end": t_epoch + (t3 - t0),
               "dur": t3 - t0, "build": t1 - t0, "plan": t2 - t1,
               "run": t3 - t2, "cpu": cpu1 - cpu0 - (jit1 - jit0),
               "jit": jit1 - jit0, "steal": steal}
        if error is None:
            try:
                rec["ok"] = bool(wl.check(spark, op, result))
            except Exception as exc:  # a malformed result is a wrong one
                error = exc
        if error is not None:
            print(f"perfbench: {op.label} FAILED: {error!r}"[:2000],
                  flush=True)
            rec["ok"] = False
        release(spark)
        recs.append(rec)
        busy += rec["dur"]
        end_of_pass = (i + 1) % wl.pass_len == 0
        # at least two passes: a traced and an untraced one, and a
        # median that is not one pass alone
        enough = busy >= seconds and n_pass >= 1
        if end_of_pass and enough:
            break
    return recs


def cpu_s_per_op(recs) -> float:
    """The median over passes of a pass's mean CPU seconds per op. A
    pass runs every query of the cohort once, so each pass weighs the
    queries alike whichever number of passes a run fits."""
    by_pass: dict[int, list[float]] = {}
    for r in recs:
        by_pass.setdefault(r["pass"], []).append(r["cpu"])
    return tr.median([sum(v) / len(v) for v in by_pass.values()])


def end_to_end(recs, setup_s: float) -> tuple:
    """The bounded op metric is its CPU cost, in every process of the
    run apart from the JVM's JIT compiler threads: compiling is JVM
    warm-up, still ~40% of a catalog pass's CPU after three passes, and
    its timing, not the op, decides which op it lands in. Wall times
    go to the details line: on a shared host they follow the CPU time
    the hypervisor withholds (steal) several times more than the CPU
    time does (see README)."""
    wall = tr.per_label_medians(recs, "dur")
    if len(wall) > 1:
        tail_v, tail_p = tr.tail(wall)
    else:
        tail_v, tail_p = tr.tail([r["dur"] for r in recs])
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_op": (cpu_s_per_op(recs), "s"),
    }, {"op_wall_p50_s": tr.median(wall),
        "ops_per_wall_s": len(wall) / sum(wall),
        "tail_s": tail_v, "tail_percentile": tail_p,
        "samples": len(recs), "steal_frac": tr.steal_frac(recs),
        "jit_cpu_s_per_op": sum(r["jit"] for r in recs) / len(recs)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xsarsea_spark")):
        print("perfbench: the xsarsea_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _prepare_env(work)
        cores = len(os.sched_getaffinity(0))
        wl = WORKLOADS[args.workload](args.seed, work)
        t_setup = time.perf_counter()
        spark, setup_s, start_s, warm_s = set_up(wl, work, cores)
        # after set-up, so it stays out of the process-start clock
        calib0 = tr.calibration_s() if args.trace else None
        t_loop = time.perf_counter()
        tracer = tr.Tracer(enabled=False)
        if args.trace:
            listener = tr.stream_listener(spark)
            with _layer_spans(tracer):
                recs = measure(spark, wl, args.seconds, True, tracer)
        else:
            recs = measure(spark, wl, args.seconds, False, tracer)
        t_after = time.perf_counter()
        rss_mb = tr.tree_hwm_mb()
        failed = sum(not r["ok"] for r in recs)
        info = {"workload": args.workload, "seed": args.seed,
                "cores": cores, "setup_s": round(setup_s, 3),
                "session_s": round(start_s, 3),
                "wall_s": round(tr.process_age_s(), 3),
                "ops_s": [(r["label"], round(r["dur"], 3),
                           round(r["cpu"], 2), round(r["jit"], 2),
                           round(r["steal"], 2)) for r in recs],
                **wl.summary()}
        if args.trace:
            import layers

            metrics = layers.per_layer(
                spark, wl, recs, tracer, start_s, warm_s, calib0, cores,
                listener, rss_mb)
            info["spans"] = os.path.relpath(
                tracer.write(os.path.dirname(work)), ROOT)
        else:
            metrics, extra = end_to_end(recs, setup_s)
            info.update(extra)
        info["phase_s"] = {"setup": round(t_loop - t_setup, 2),
                           "loop": round(t_after - t_loop, 2),
                           "after": round(time.perf_counter() - t_after, 2)}
        wl.close()
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    print("perfbench: " + json.dumps(info), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
