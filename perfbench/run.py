"""Lakehouse benchmark: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans around each layer's calls (see spans.py) and the
metrics are the per-layer ones.  Attribution facts (host, versions,
fixture, the per-pass and per-operation series, errors) go to stderr
and, traced, beside the spans and residue readings in ``.perfbench/``.
See README.md for the workloads and what each metric should move.

Input data is the read-only sf0.1 fixture the package's
``session.DEFAULT_SF_DIR`` names (``SPARK_GRAFT_SF_DIR``).  Everything
the run writes stays in
``.perfbench/`` under the repository root; the per-run scratch is
removed at exit.

End-to-end metrics, the same two on every workload:
- ``setup_s``: set-up before the first timed operation: the median of
  three repetitions of ``build_session`` plus the workload's catalog
  (query_mix: ``register_views`` of the ten source tables; etl_ingest:
  the ``customer`` view), plus the workload's one warm-up (query_mix:
  one ``q_tpch_q10``; etl_ingest: the history drop through ``run_all``,
  which creates the tables).  The first repetition also starts the
  process and the JVM (``setup.first_s`` in the traced metrics).
- ``mix_s``: median wall time of one pass (every query once; one month:
  drop, drain and read).

Memory is traced only: ``peak_rss_mb`` (VmHWM of the driver JVM plus
this process) and ``retained_heap_mb`` (JVM heap in use after a full GC
at the end of the timed section) spread 19-31% between seeds with G1's
heap sizing and Spark's asynchronous cleaner, more than any bound the
end-to-end metrics may take.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lab5_lakehouse_etl_spark"
SETUP_REPS = 3

END_TO_END = {"setup_s": "s", "mix_s": "s"}
PER_LAYER = [
    ("setup.first_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB"), ("retained_heap_mb", "MB"),
    ("session.load_table_s", "s"), ("session.load_table_calls", "count"),
    ("session.load_table_jobs", "count"), ("session.register_views_s", "s"),
    ("session.residue_rdds", "count"), ("session.residue_views", "count"),
    ("session.residue_streams", "count"), ("session.heap_used_mb", "MB"),
    ("session.scratch_bytes", "B"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("spark.plan_s", "s"), ("spark.exec_s", "s"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.task_run_s", "s"),
    ("spark.core_util", "ratio"), ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"), ("spark.gc_s", "s"),
    ("functions.python_run_s", "s"), ("functions.python_boot_s", "s"),
    ("functions.python_init_s", "s"), ("functions.python_bytes_sent", "B"),
    ("lakehouse.merge_s", "s"), ("lakehouse.create_s", "s"), ("lakehouse.optimize_s", "s"),
    ("lakehouse.read_s", "s"), ("lakehouse.commits", "count"),
    ("lakehouse.bytes_written", "B"), ("lakehouse.write_amp", "ratio"),
    ("lakehouse.live_files", "count"), ("lakehouse.space_amp", "ratio"),
    ("pipelines.orders_s", "s"), ("pipelines.order_items_s", "s"),
    ("pipelines.products_s", "s"), ("pipelines.validate_s", "s"), ("pipelines.jobs", "count"),
    ("sources.read_s", "s"), ("sources.read_jobs", "count"), ("sources.write_s", "s"),
    ("streaming.drain_s", "s"), ("streaming.micro_batches", "count"),
    ("streaming.drain_jobs", "count"),
    ("etl.stream_batch_p50_s", "s"), ("etl.read_p50_s", "s"),
    ("etl.ingest_rows_per_s", "1/s"),
    ("trace.overhead_frac", "ratio"),
]


def _cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _prepare_env(run_dir: str) -> None:
    """Point every writer the run starts at ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "scratch", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        f"--conf spark.driver.extraJavaOptions=-Dderby.system.home={tmp} "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["query_mix", "etl_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from lab5_lakehouse_etl_spark.session import DEFAULT_SF_DIR as sf_dir

    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: fixture {sf_dir} not found", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    _prepare_env(run_dir)
    try:
        return _run(args, sf_dir, base, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, sf_dir, base, run_dir) -> int:
    import spans
    import workloads

    from lab5_lakehouse_etl_spark import session as S

    t_imported = time.perf_counter()
    # the workload's inputs are generated before set-up and not counted
    workload = workloads.WORKLOADS[args.workload](sf_dir, run_dir, args.seed)
    tracer = None
    setup = []
    spark = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = S.build_session("perfbench")
        if rep == 0:
            spark.sparkContext.setLogLevel("ERROR")
            if args.trace:
                tracer = spans.Tracer(spark.sparkContext)
                spans.install(tracer, PACKAGE)
        if tracer:
            tracer.request = f"setup-{rep}"
        workload.prepare(spark, rep)
        setup.append(time.perf_counter() - t0)
    setup[0] += t_imported - T_PROCESS  # the first set-up also pays process start
    if tracer:
        tracer.request = "warm-up"
    t0 = time.perf_counter()
    workload.warm_up(spark)
    warm_up_s = time.perf_counter() - t0
    if tracer:
        tracer.request = None

    run = workloads.Run(spark, sf_dir, run_dir, args.seed, args.seconds, tracer)
    try:
        figures = workload.run(run)
        facts = _facts(spark, args, sf_dir, run, figures)
    finally:
        spark.stop()
        _stop_jvm()

    e2e = {
        "setup_s": statistics.median(setup) + warm_up_s,
        "mix_s": figures["mix_s"],
    }
    facts["setup_reps_s"] = [round(s, 4) for s in setup]
    facts["warm_up_s"] = round(warm_up_s, 4)
    os.makedirs(base, exist_ok=True)
    figures_path = os.path.join(base, f"e2e-{args.workload}-{args.seed}.json")
    if args.trace:
        layer = _layer_metrics(run, tracer, setup, figures)
        layer["trace.overhead_frac"] = tracer.overhead_s / max(run.timed_s, 1e-9)
        if os.path.exists(figures_path):
            with open(figures_path) as fh:
                untraced = json.load(fh)
            facts["traced_vs_untraced_mix_s"] = [figures["mix_s"], untraced["mix_s"]]
        stem = os.path.join(base, f"trace-{args.workload}-{args.seed}")
        tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".facts.json", "w") as fh:
            json.dump({"facts": facts, "residue": run.residue, "self_s": tracer.self_times()}, fh, indent=1)
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        with open(figures_path, "w") as fh:
            json.dump(e2e, fh)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}

    print(json.dumps({"facts": facts}), file=sys.stderr)
    for e in run.errors:
        print("failed operation:", e, file=sys.stderr)
    for m in run.mismatches:
        print("output mismatch:", m, file=sys.stderr)
    correct = not run.mismatches
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed + len(run.mismatches),
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin pipe
    closes, taking the Python worker daemon with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _facts(spark, args, sf_dir, run, figures) -> dict:
    import pyarrow.parquet as pq

    jvm = spark.sparkContext._jvm
    fixture = {
        t: [pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows,
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))]
        for t in ("lineitem", "orders", "part", "events", "documents")
    }
    return {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": _cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "fixture": sf_dir,
        "fixture_rows_bytes": fixture,
        "samples": figures["samples"],
        "pass_series_s": [round(p, 4) for p in run.pass_series],
        "op_series_s": run.op_series,
        "attempted": run.attempted,
        "failed_ops": run.failed,
        "mismatches": run.mismatches,
    }


def _layer_metrics(run, tracer, setup, figures) -> dict:
    layer = dict(run.engine.totals)
    layer.update(run.layer)
    layer["setup.first_s"] = setup[0]
    layer["op_p50_s"] = figures["op_p50_s"]
    layer["peak_rss_mb"] = run.rss_mb
    layer["retained_heap_mb"] = run.retained_heap_mb
    for prefix, name in [
        ("session.load_table", "session.load_table"),
        ("queries.build", "queries.build"),
        ("pipelines.run_orders", "pipelines.orders"),
        ("pipelines.run_order_items", "pipelines.order_items"),
        ("pipelines.run_products", "pipelines.products"),
        ("pipelines.validate", "pipelines.validate"),
        ("lakehouse.merge", "lakehouse.merge"),
        ("lakehouse.create", "lakehouse.create"),
        ("lakehouse.optimize", "lakehouse.optimize"),
        ("lakehouse.read", "lakehouse.read"),
        ("sources.read_", "sources.read"),
        ("sources.write_", "sources.write"),
        ("streaming.stream_merge_to_table", "streaming.drain"),
        ("spark.plan", "spark.plan"),
        ("spark.exec", "spark.exec"),
    ]:
        secs, calls, jobs = tracer.totals(prefix)
        layer[f"{name}_s"] = secs
        layer[f"{name}_calls"] = calls
        layer[f"{name}_jobs"] = jobs
    layer["session.register_views_s"] = tracer.totals("session.register_views")[0]
    layer["pipelines.jobs"] = sum(
        tracer.totals(p)[2] for p in ("pipelines.run_", "pipelines.validate")
    )
    layer["streaming.micro_batches"] = tracer.count_under(
        ("lakehouse.merge", "lakehouse.create"), "streaming.stream_merge_to_table"
    )
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    busy = layer.get("spark.exec_s", 0.0) or sum(
        tracer.totals(p)[0] for p in ("drop", "drain", "read", "optimize")
    )
    layer["spark.core_util"] = layer.get("spark.task_run_s", 0.0) / max(busy * cores, 1e-9)
    if run.residue:
        last = run.residue[-1]
        layer["session.residue_rdds"] = last["rdds"]
        layer["session.residue_views"] = last["views"]
        layer["session.residue_streams"] = last["streams"]
        layer["session.heap_used_mb"] = last["heap_used_mb"]
        layer["session.scratch_bytes"] = last["scratch_bytes"]
    return layer


if __name__ == "__main__":
    sys.exit(main())
