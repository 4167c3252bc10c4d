"""Benchmark entry point.

    python3 perfbench/run.py --workload {migrate,ingest} --seed N --seconds S --trace {0,1} [--scale 0.01]

Run from the root of a checkout.  One run is one driver process with Spark
``local[nproc]``:

1. write the seeded inputs under ``.bench_build/perfbench/`` (untimed);
2. set up a session three times (``get_spark`` + ``load_tables_lazy`` + one
   footer open per table), stopping the first two; ``setup_s`` is the median,
   and the first set-up also launches the JVM;
3. run the workload, checking every output outside the timed region:
   ``migrate`` repeats whole iterations until ``--seconds`` have passed (at
   least one); ``ingest`` runs its fixed loop of publish cycles once, since
   more cycles would change its write amplification;
4. print a ``#`` line with the run's conditions, then one JSON line.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on
Spark's event log through launch conf, wraps the layers' entry points with
spans (see ``perfbench/trace.py``) and reports the per-layer metrics; its
``trace.wall_s`` minus the untraced ``wall_s`` is the tracing overhead.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import logging
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.trace import Tracer, count_log_errors, engine_counters  # noqa: E402

SCALES = ("0.001", "0.01")
# warm-up and measured publish cycles of the ingest loop
INGEST_WARMUP, INGEST_CYCLES = 1, 12
N_SETUPS = 3

log = logging.getLogger("perfbench")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def launch_env(work: str, trace: bool) -> str | None:
    """Environment for the JVM the first ``get_spark`` launches: cores, local
    dirs and logging inside the work dir; the event log when tracing."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse-managed")
    os.environ["TMPDIR"] = tmp
    log_file = os.path.join(work, "driver.log")
    java_opts = " ".join(
        [
            f"-Dlog4j2.configurationFile=file:{os.path.join(ROOT, 'perfbench', 'log4j2.properties')}",
            f"-Dperfbench.log={log_file}",
            f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData",
            # heap sizing by occupancy, not by GC timing: G1's timing-driven
            # expansion moved peak RSS by 15-33% between runs of the same code
            "-XX:+UseSerialGC",
        ]
    )
    args = ["--driver-java-options", java_opts, "--conf", "spark.ui.showConsoleProgress=false"]
    event_dir = None
    if trace:
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file:{event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    return event_dir


def open_session(sf_dir: str) -> tuple[object, float, float]:
    """One set-up: session, then the catalog with every table's footer open."""
    from area_etl_spark.session import TABLES, get_spark, load_tables_lazy

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    catalog = load_tables_lazy(spark, sf_dir)
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            catalog[name]
    return spark, t1 - t0, time.perf_counter() - t1


def instrument(tracer: Tracer) -> None:
    """Wrap the layers' public entry points with spans, from outside."""
    from area_etl_spark import runner
    from area_etl_spark.sources import load

    runner.enforce_contract = tracer.wrap(runner.enforce_contract, "contracts.gate")
    runner.reload_overwrite = tracer.wrap(runner.reload_overwrite, "load.write")
    load.incremental_partitions = tracer.wrap(load.incremental_partitions, "load.partitions_read")
    for specs in runner.MODULES.values():
        for spec in specs:
            spec.build = tracer.wrap(spec.build, "plans.build")


def end_to_end(out, setups) -> dict:
    iterations = max(1, len(out.wall_s))
    return {
        "setup_s": (median(a + b for a, b in setups), "s"),
        "wall_s": (median(out.wall_s), "s"),
        "cycle_p50_s": (median(out.op_s), "s"),
        "write_amp": (out.written_bytes / iterations / out.input_bytes, "bytes/byte"),
        "space_amp": (out.stored_bytes / out.input_bytes, "bytes/byte"),
    }


def per_layer(out, setups, tracer: Tracer, engine: dict, log_errors: int) -> dict:
    from perfbench.workloads import CORPUS_FAMILIES, MIGRATE_MODULES

    iterations = max(1, len(out.wall_s))
    lay = out.layer
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (median(a for a, _ in setups), "s"),
        "session.catalog_open_s": (median(b for _, b in setups), "s"),
        "session.first_setup_s": (sum(setups[0]), "s"),
        "trace.wall_s": (median(out.wall_s), "s"),
    }
    # figures of a layer this workload does not use are empty and read 0
    m["runner.pipeline_s"] = (median(lay.get("pipeline_s", [])), "s")
    m["runner.gap_s"] = (median(lay.get("gap_s", [])), "s")
    for mod in MIGRATE_MODULES:
        m[f"runner.module_s.{mod}"] = (median(lay.get("module_s", {}).get(mod, [])), "s")
    for fam in CORPUS_FAMILIES.values():
        m[f"operators.{fam}_s"] = (median(lay.get("family_s", {}).get(fam, [])), "s")
    m["plans.build_s"] = (tracer.total("plans.build") / iterations, "s")
    m["contracts.gate_s"] = (tracer.total("contracts.gate") / iterations, "s")
    m["contracts.jobs"] = (engine["jobs_per_span"].get("contracts.gate", 0) / iterations, "count")
    m["load.write_s"] = (tracer.total("load.write") / iterations, "s")
    m["load.files_written"] = (lay["files_written"] / iterations, "count")
    m["load.bytes_written"] = (out.written_bytes / iterations, "bytes")

    # per measured ingest cycle: read, build, and the rest of the cycle
    read, build, publish = [], [], []
    for cid in lay.get("cycle_spans", []):
        kids = [s for s in tracer.spans if s.parent == cid]
        r = sum(s.duration for s in kids if s.name == "load.partitions_read")
        b = sum(s.duration for s in kids if s.name == "streaming.build")
        read.append(r)
        build.append(b)
        publish.append(tracer.spans[cid].duration - r - b)
    m["load.partitions_read_s"] = (median(read), "s")
    m["load.publish_s"] = (median(publish), "s")
    m["streaming.build_s"] = (median(build), "s")
    m["load.raw_bytes_rewritten"] = (median(lay.get("raw_bytes", [])), "bytes")

    per_iter = ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s", "driver_only_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
                "output_bytes", "failed_tasks")
    units = {"jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count"}
    for k in per_iter:
        m[f"engine.{k}"] = (engine[k] / iterations, units.get(k, "s" if k.endswith("_s") else "bytes"))
    m["engine.core_busy_frac"] = (engine["core_busy_frac"], "ratio")
    m["engine.input_rows_per_output_row"] = (engine["input_rows_per_output_row"], "ratio")
    m["engine.log_errors"] = (log_errors, "count")
    return m


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["migrate", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="0.01", choices=SCALES)
    ap.add_argument("--record-expected", action="store_true",
                    help="write the migrate output digests as the expected ones")
    args = ap.parse_args()
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr, format="perfbench %(levelname)s %(message)s")

    if importlib.util.find_spec("area_etl_spark") is None:
        print("perfbench: the area_etl_spark package is not in this directory", file=sys.stderr)
        return 2
    inputs.fixed_tables_dir(args.scale)

    base = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, base: str, work: str) -> int:
    from perfbench import workloads

    trace = bool(args.trace)
    sf_dir = os.path.join(work, "tables")
    inputs.permuted_tables(args.scale, args.seed, sf_dir)
    batches = stage = None
    if args.workload == "ingest":
        stage = os.path.join(work, "stage")
        batches = inputs.staged_event_batches(args.scale, args.seed, INGEST_WARMUP + INGEST_CYCLES, stage)
    event_dir = launch_env(work, trace)

    setups = []
    for i in range(N_SETUPS):
        spark, t_spark, t_catalog = open_session(sf_dir)
        setups.append((t_spark, t_catalog))
        if i < N_SETUPS - 1:
            spark.stop()
    tracer = Tracer(trace)
    tracer.bind(spark)
    if trace:
        instrument(tracer)

    nproc = os.cpu_count()
    if args.workload == "migrate":
        out = workloads.migrate(spark, sf_dir, work, args.seconds, tracer, args.scale, args.record_expected)
    else:
        out = workloads.ingest(spark, batches, stage, work, INGEST_WARMUP, tracer)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    py_mb, jvm_mb = vm_hwm_kb(os.getpid()) / 1024.0, vm_hwm_kb(jvm_pid) / 1024.0
    rss_mb = py_mb + jvm_mb
    app_id = spark.sparkContext.applicationId
    spark_version = spark.version
    stop_jvm(spark)

    if trace:
        engine = engine_counters(os.path.join(event_dir, app_id), tracer,
                                 {"migrate.run", "ingest.cycle"}, nproc)
        metrics = per_layer(out, setups, tracer, engine,
                            count_log_errors(os.path.join(work, "driver.log")))
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.json"),
                    {"engine": engine, "metrics": metrics})
    else:
        metrics = end_to_end(out, setups)
        metrics["peak_rss_mb"] = (rss_mb, "MB")
    print(f"# perfbench workload={args.workload} seed={args.seed} scale=sf{args.scale} "
          f"nproc={nproc} spark={spark_version} trace={args.trace} iterations={len(out.wall_s)} "
          f"operations={len(out.op_s)} py_hwm_mb={py_mb:.0f} jvm_hwm_mb={jvm_mb:.0f} "
          f"setups_s={','.join(f'{a + b:.2f}' for a, b in setups)}")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
