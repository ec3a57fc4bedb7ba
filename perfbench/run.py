"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload mirror_many_small --seed 1 --seconds 10 --trace 0

It generates the workload's inputs from the seed (cached under
``.perfbench/inputs``), sets up a Spark session and runs the workload's
untimed warm-up pass (together the set-up, ``setup_s``), then runs timed
operations for ``--seconds`` seconds, checking every output. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "ensembl_database_loader_spark"

#: name -> unit, in report order
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "db_ready_s_mean": "s",
    "analytics_s": "s",
}


def _parse(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(root: str, base: str) -> dict[str, str]:
    """Keep everything the run writes inside the checkout, and let the
    Python workers import the package."""
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["TMPDIR"] = os.path.join(base, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(base, "local")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(base, "local"),
        "spark.sql.warehouse.dir": os.path.join(base, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(base, 'tmp')} -XX:-UsePerfData",
    }


def _stop_jvm() -> None:
    """End the driver JVM (it exits when its stdin closes) and wait for it,
    so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _host(spark) -> dict:
    """Host facts recorded with each result, including a single-thread
    spot check (pure-Python loop) to compare machines."""
    t0 = time.perf_counter()
    acc = 0
    for k in range(2_000_000):
        acc = (acc + k * k) & 0xFFFFFFFF
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "python": platform.python_version(),
        "spot_s": round(time.perf_counter() - t0, 4),
    }


def main(argv: list[str] | None = None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} not found; run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    args = _parse(argv)

    import layers
    import workloads
    from spans import Tracer, job_metrics

    base = os.path.join(root, ".perfbench")
    conf = _environment(root, base)
    cores = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload]
    phases = {}
    t_phase = time.perf_counter()
    wl.inputs(os.path.join(base, "inputs", f"{args.workload}-{args.seed}"), args.seed)
    phases["inputs"] = time.perf_counter() - t_phase

    tracer = Tracer(f"{args.workload}-{args.seed}") if args.trace else None
    if tracer is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(base, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        shutil.rmtree(os.path.join(base, "events"), ignore_errors=True)
        os.makedirs(os.path.join(base, "events"))
    ctx = workloads.Context(base, args.seed, cores, tracer)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    os.makedirs(ctx.run_dir)

    session = importlib.import_module(f"{PACKAGE}.session")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_start_s = time.perf_counter() - t0
        wl.setup(spark, ctx)
        setup_s = time.perf_counter() - t0

        if tracer is not None:
            tracer.sc = spark.sparkContext
            install(tracer)
        ops = []
        t_start = time.perf_counter()
        while not ops or time.perf_counter() - t_start < args.seconds:
            ops.append(wl.op(spark, ctx, len(ops)))
        phases["ops"] = time.perf_counter() - t_start
        if tracer is not None:
            tracer.unpatch()
        t_phase = time.perf_counter()
        wl.finish(spark, ctx, ops)
        phases["finish"] = time.perf_counter() - t_phase
        peak = _peak_rss_mb(spark)
        host = _host(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        t_phase = time.perf_counter()
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t_phase

    ready = [x for o in ops for x in o.ready_s]
    attempted = sum(o.attempted for o in ops)
    failed = sum(o.failed for o in ops)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": sum(o.rows for o in ops) / sum(o.mirror_s for o in ops),
        "db_ready_s_mean": statistics.fmean(ready) if ready else statistics.median(o.mirror_s for o in ops),
        "analytics_s": statistics.median(o.analytics_s for o in ops),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "ops": len(ops),
        "session_start_s": round(session_start_s, 4),
        "phases_s": {k: round(v, 3) for k, v in (phases | wl.setup_phases).items()},
        "end_to_end": e2e,
        "workload_metrics": workload_metrics(ops, attempted, failed) | {"peak_rss_mb": [peak, "MB"]},
    }

    if tracer is not None:
        spans = tracer.spans
        bad = layers.check_nesting(spans)
        if bad:
            print(f"CHECK FAILED span nesting: {bad[:5]}", flush=True)
            failed += 1
        log = os.path.join(base, "events", app_id)
        jobs = job_metrics(log if os.path.exists(log) else log + ".inprogress")
        metrics = layers.layer_metrics(
            spans, jobs, cores, session_start_s, tracer.overhead_s,
            wl.manifest["input_bytes"], [o.facts for o in ops if o.facts],
        )
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(base, "traces", f"{args.workload}-{args.seed}.jsonl"))
        report["per_layer"] = metrics
        units = layers.PER_LAYER
    else:
        metrics, units = e2e, END_TO_END

    print(json.dumps(report), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


def workload_metrics(ops, attempted: int, failed: int) -> dict:
    """The figures under their workload-specific names, with units, for
    reading. No p90 is given: a run has too few samples for ten to lie
    beyond it."""
    ready = [x for o in ops for x in o.ready_s]
    queries = [x for o in ops for x in o.query_s]
    curated = [o for o in ops if o.facts]
    out = {
        "failed_ratio": [failed / attempted, "ratio"],
        "mirror_rows_per_s": [sum(o.rows for o in ops) / sum(o.mirror_s for o in ops), "1/s"],
        "db_ready_s_p50": [statistics.median(ready) if ready else 0.0, "s"],
        "priority_ready_s": [statistics.median(o.priority_ready_s for o in ops), "s"],
        "mirror_bytes_ratio": [statistics.median(o.bytes_ratio for o in ops), "ratio"],
    }
    if queries:
        out["query_s_p50"] = [statistics.median(queries), "s"]
        out["queries_per_s"] = [len(queries) / sum(queries), "1/s"]
    if curated:
        docs = sum(o.facts["hi"] - o.facts["lo"] for o in curated)
        out["curate_docs_per_s"] = [docs / sum(o.analytics_s for o in curated), "1/s"]
        out["increment_s_p50"] = [statistics.median(o.analytics_s for o in curated), "s"]
    out["samples"] = [{"databases": len(ready), "queries": len(queries), "increments": len(curated)}, "count"]
    return out


def install(tracer) -> None:
    """Rebind each layer's public entry points to span-recording wrappers."""
    from pyspark.sql.readwriter import DataFrameWriter

    mirror_mod = importlib.import_module(f"{PACKAGE}.pipeline.mirror")
    dump_mod = importlib.import_module(f"{PACKAGE}.sources.mysql_dump")
    rel_mod = importlib.import_module(f"{PACKAGE}.plans.relational")
    curate_mod = importlib.import_module(f"{PACKAGE}.pipeline.curate")

    def db_of(path: str) -> str:
        return os.path.basename(os.path.normpath(path))

    tracer.patch(mirror_mod, "mirror", "mirror")
    tracer.patch(mirror_mod, "read_mysql_dump", "dump.read", lambda a, k: {"db": db_of(a[1])})
    tracer.patch(dump_mod, "scan_dump_dir", "dump.scan", lambda a, k: {"db": db_of(a[0])})
    tracer.patch(dump_mod, "parse_mysql_ddl", "dump.ddl")
    tracer.patch(dump_mod, "verify_checksums", "dump.verify", lambda a, k: {"db": a[1].name})
    tracer.patch(dump_mod, "read_dump_table", "dump.read_table",
                 lambda a, k: {"db": a[1].name, "table": a[2]})
    tracer.patch(DataFrameWriter, "parquet", "sink.write", lambda a, k: {"path": a[1]})
    tracer.patch(rel_mod, "table", "catalog.table", lambda a, k: {"table": a[2]})
    tracer.patch(curate_mod, "curate_increment", "curate.increment")


if __name__ == "__main__":
    sys.exit(main())
