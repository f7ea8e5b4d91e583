#!/usr/bin/env python3
"""Benchmark of the engine: one command, three workloads.

    python3 perfbench/run.py --workload reference_e2e --seed 1 \
        --seconds 25 --trace 0

Run from the root of a checkout. The run's files go under
``.perfbench_run/`` there. After set-up, rounds of the workload's operations
run: first the workload's warm-up rounds, then timed rounds until
``--seconds`` have passed (at least two); every figure is the median over the
timed rounds. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). A failed correctness check exits with code 1.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Executor threads (the master is local[K]), shuffle partitions and JDBC
# partitions. Two, not one per core: each pipe task runs a Python worker and
# a forked script, and the JVM's compiler and GC threads need cores as well.
# On a 4-core box local[4] spread the streaming workload's round time by 25 %
# between runs, local[2] by 5 %.
K = min(2, len(os.sched_getaffinity(0)))
MIN_TIMED_ROUNDS = 2

END_TO_END = {"setup_s": "s", "round_s": "s"}
# Per-layer metrics, with the workload that exercises them; on the other
# workloads a layer does no work and reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "scope.create_s": "s", "scope.delete_s": "s",
    "jdbc.bounds_s": "s", "jdbc.import_s": "s", "jdbc.import_tasks": "count",
    "jdbc.import_task_skew": "ratio",
    "jdbc.export_s": "s", "jdbc.export_tasks": "count",
    "flagship.reduce_s": "s", "flagship.shuffle_write_bytes": "bytes",
    "pipeline_s": "s", "import_rows_per_s": "rows/s",
    "export_rows_per_s": "rows/s",
    "pipe.map_stage_s": "s", "pipe.reduce_stage_s": "s",
    "pipe.shuffle_write_bytes": "bytes", "pipe.spill_bytes": "bytes",
    "arrow.map_stage_s": "s", "arrow.reduce_stage_s": "s",
    "arrow.shuffle_write_bytes": "bytes", "arrow.python_bytes": "bytes",
    "pipe_mr_s": "s", "arrow_mr_s": "s",
    "catalog_mix_s": "s",
}
# The workload's own stage figures, printed above the JSON line.
STAGE_FIGURES = {
    "reference_e2e": ("pipeline_s", "import_rows_per_s", "export_rows_per_s"),
    "streaming_dataflow": ("pipe_mr_s", "arrow_mr_s"),
    "catalog_mix": ("catalog_mix_s",),
}


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE_AT_T0 = _process_age()


def _parse_args(argv):
    from perfbench.workloads import CATALOG_ENTRIES, CATALOG_LAYER, WORKLOADS

    for q in CATALOG_ENTRIES:
        for m in CATALOG_LAYER:
            PER_LAYER[f"catalog.{q}.{m}"] = (
                "s" if m.endswith("_s") else
                "bytes" if m.endswith("_bytes") else "count")
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv), WORKLOADS


def _isolate(work: str) -> None:
    """Keep every file of the run, Spark's and the Python workers' too,
    under ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _start_engine(work: str):
    from mapreduce_wsi_spark.session import Engine

    tmp = os.path.join(work, "tmp")
    return Engine.create(
        app_name="perfbench", master=f"local[{K}]", shuffle_partitions=K,
        base_path=os.path.join(work, "scopes"),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.stream.error.file={work}/derby.log",
        })


def _stop(spark) -> None:
    """Stop Spark, then end its JVM (it exits when its stdin closes) and
    wait for it; the JVM's Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv) -> int:
    sys.path.insert(0, ROOT)
    args, workloads = _parse_args(argv)
    out_dir = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(out_dir, args.workload)
    _isolate(work)

    import mapreduce_wsi_spark

    if not os.path.abspath(mapreduce_wsi_spark.__file__).startswith(ROOT):
        raise SystemExit(f"mapreduce_wsi_spark imported from outside {ROOT}")
    from perfbench.tracing import Tracer
    from perfbench.workloads import Context

    t = time.perf_counter()
    engine = _start_engine(work)
    session_start = time.perf_counter() - t
    try:
        spark = engine.spark
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, traced=bool(args.trace))
        ctx = Context(engine, tracer, K, work, args.seed)
        wl = workloads[args.workload]()
        wl.setup(ctx)
        setup_s = _AGE_AT_T0 + time.perf_counter() - _T0

        rounds, problems, attempted = [], [], 0

        def run_round():
            nonlocal problems, attempted
            with tracer.span(f"{args.workload}.round"):
                figures, found = wl.run_round(ctx, first=not rounds)
            rounds.append(figures)
            problems += found
            attempted += wl.ops_per_round

        while len(rounds) < wl.warmup_rounds:
            run_round()
        window = time.perf_counter()
        while (len(rounds) < wl.warmup_rounds + MIN_TIMED_ROUNDS
               or time.perf_counter() - window < args.seconds):
            run_round()
        problems += wl.finish(ctx)
        if args.trace:
            tracer.dump(os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        _stop(engine.spark)
    shutil.rmtree(work, ignore_errors=True)

    timed = rounds[wl.warmup_rounds:]
    med = {k: statistics.median(r[k] for r in timed) for k in timed[0]}
    for name in STAGE_FIGURES[args.workload]:
        print(f"{name} = {med[name]:.6g} {PER_LAYER[name]}"
              f"  (median of {len(timed)} rounds)")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    if args.trace:
        med["session.start_s"] = session_start
        metrics = {n: {"value": med.get(n, 0), "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "round_s": med["round_s"]}
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u in END_TO_END.items()}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": 0, "metrics": metrics}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
