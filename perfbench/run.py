"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from anywhere inside a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of one
traced operation (the spans go to ``.perfbench_work/trace-*.json``).
Progress and a detail line go to standard error.

Everything the run writes (inputs, Spark scratch, archives) lives in
``.perfbench_work/`` at the checkout root and is deleted at exit, except
the trace file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def load_schema() -> dict:
    """BENCHMARK.json: the metric names and units to print, run_seconds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def units(metrics: list[dict]) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in metrics}


class Context:
    """Per-run state shared by the workload phases."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        from perfbench.trace import Tracer

        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(trace)
        self.spark = None

    def start_session(self):
        """(Re)start Spark on local[cpus], partitions sized to the cores,
        all scratch space inside the work directory."""
        from versatiles_rs_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self):
        """Stop Spark and the JVM it runs in, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def pin_environment(work: str) -> None:
    """Python workers import the engine from this checkout wherever the
    command is started; temp files stay inside the work directory."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher too): temp files in the work dir, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    tempfile.tempdir = None


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def end_to_end(w, ctx, setup_s: float) -> dict[str, float]:
    from perfbench import trace as tr

    res = w.measure(ctx.seconds)
    walls = res["walls"]
    lat = res.get("latencies", walls)
    out = {
        "setup_s": setup_s,
        "items_per_s": w.items_per_op() / statistics.median(walls),
        "op_p50_ms": statistics.median(lat) * 1e3,
    }
    detail = {"op_walls_s": [round(x, 4) for x in walls]}
    if "latencies" in res:
        p = tr.percentile_rule(len(lat))
        detail.update(serve_n=len(lat), serve_tail_pct=p,
                      serve_tail_ms=tr.nearest_rank(lat, p) * 1e3 if p else None,
                      serve_ms=[round(x * 1e3) for x in lat])
    log("detail " + json.dumps(detail))
    return out


def per_layer(w, ctx, names) -> dict[str, float]:
    from perfbench import trace as tr

    # tracing overhead: the same op untraced and traced in ABBA order, so a
    # steady warm-up drift cancels
    tracer = ctx.tracer
    walls: dict[bool, list[float]] = {False: [], True: []}
    for enabled in (False, True, True, False):
        tracer.enabled = enabled
        walls[enabled] += w.timed_ops(1)
    plain, traced = statistics.median(walls[False]), statistics.median(walls[True])
    tracer.enabled = True
    warm_spans = tracer.spans
    tracer.spans = []
    t0 = time.perf_counter()
    with tr.RssPeak(tr.jvm_pid(ctx.spark)) as rss:
        layers = w.layers()
    core_ms = (time.perf_counter() - t0) * 1e3 * ctx.cpus
    out = {name: 0.0 for name in names}
    out.update(layers)
    out["jvm.rss_peak_mb"] = rss.peak
    out["trace.overhead_pct"] = (traced / plain - 1.0) * 100.0
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the schema: {sorted(unknown)}")
    path = os.path.join(ROOT, ".perfbench_work", f"trace-{w.name}-seed{ctx.seed}.json")
    tracer.spans = warm_spans + tracer.spans
    # plan metrics are summed over tasks: compare them with wall x cores of
    # the traced call before reading them as shares of the wall time
    sanity = {
        "arrow.py_ms/core_ms": out["arrow.py_ms"] / core_ms,
        "arrow.init_ms/core_ms": out["arrow.init_ms"] / core_ms,
        "spark.task_busy_s/core_s": out["spark.task_busy_s"] * 1e3 / core_ms,
    }
    tracer.dump(path, {"workload": w.name, "seed": ctx.seed, "layers": out,
                       "cpus": ctx.cpus, "wall_x_cores_ms": core_ms, "sanity": sanity})
    log(f"trace written to {path}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import versatiles_rs_spark  # noqa: F401  (the program under test must be present)

    from perfbench.workloads import WORKLOADS

    schema = load_schema()
    if args.seconds is None:
        args.seconds = schema["run_seconds"]

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_environment(work)
    ctx = Context(args.seed, args.seconds, bool(args.trace), work)
    w = WORKLOADS[args.workload](ctx)
    try:
        setup_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            ctx.start_session()
            t1 = time.perf_counter()
            w.setup()
            setup_times.append(time.perf_counter() - t0)
            log(f"setup {rep}: {setup_times[-1]:.2f}s (session start {t1 - t0:.2f}s)")
        t0 = time.perf_counter()
        w.cold_op()
        cold_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        heap_mb = w.heap_op()
        log(f"cold op: {cold_s:.2f}s, heap op {time.perf_counter() - t0:.2f}s")
        if args.trace:
            names = units(schema["per_layer"])
            values = per_layer(w, ctx, names)
        else:
            names = units(schema["end_to_end"])
            values = end_to_end(w, ctx, statistics.median(setup_times) + cold_s)
            values["driver_heap_peak_mb"] = heap_mb
        w.finish()
    finally:
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
    for p in w.problems:
        log(f"FAILED: {p}")
    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
