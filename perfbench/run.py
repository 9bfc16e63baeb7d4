"""Performance benchmark of deepdb_public_spark.

    python3 perfbench/run.py --workload estimate --seed 1 --seconds 2 --trace 0

Runs one workload (``estimate`` or ``curate``, see README.md) in a
single Python process on a ``local[nproc]`` Spark session sized from
the host, checks every answer against DuckDB, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``); a wrong answer sets ``correct`` to false.
A host and input record is printed on the line before it and saved
under the build directory. The exit code is 0 whenever the result line
is printed, and 2 without one, when the program or its inputs are
missing.

The build directory is ``$CARGO_TARGET_DIR`` or ``.bench_build``
under the repository root; the synthetic tables and the cached
registry oracle results live there, and are made on first use.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import speed  # noqa: E402
import stream  # noqa: E402
import workloads  # noqa: E402
from spans import NullTracer, Tracer, free_port  # noqa: E402

# one scale for measuring, one tiny scale for the harness's own tests
SCALES = {
    "bench": {
        "sf": 0.02, "n_docs": 300, "n_vecs": 300, "sample_budget": 5_000,
        "setup_reps": 3, "measured_requests": 8000, "exact_queries": 6,
    },
    "smoke": {
        "sf": 0.001, "n_docs": 120, "n_vecs": 120, "sample_budget": 2_000,
        "setup_reps": 1, "measured_requests": 300, "exact_queries": 2,
    },
}
WORKLOADS = ("estimate", "curate")
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms_norm": "ms",
    "peak_rss_mb": "MB",
    "qerror_p50": "ratio",
    "qerror_p95": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="bench")
    return p.parse_args(argv)


def host_record() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def load1() -> float:
    return os.getloadavg()[0]


def source_identity() -> dict:
    """git HEAD when the checkout is a repository, and always a digest
    of the package sources, so a result names the code it measured."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        head = None
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "deepdb_public_spark")
    for d, _subdirs, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {"git_head": head, "source_sha1": h.hexdigest()}


def make_session(host: dict, work: str, trace: bool):
    """local[nproc] session whose cores, shuffle partitions and driver
    memory come from the host. All scratch files stay under ``work``."""
    from pyspark.sql import SparkSession

    n = host["nproc"]
    mem_mb = max(1024, min(4096, host["mem_total_mb"] // 8))
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed heap and young generation, so G1 sizes neither from its
        # pause times and the JVM's peak RSS does not follow the host's speed
        .config("spark.driver.extraJavaOptions", f"-Xms{mem_mb}m -Xmn{mem_mb // 5}m")
    )
    port = None
    if trace:
        port = free_port()
        b = (
            b.config("spark.ui.enabled", "true")
            .config("spark.ui.port", str(port))
            .config("spark.port.maxRetries", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.ui.retainedTasks", "1000")
        )
    else:
        b = b.config("spark.ui.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, port


def vm_hwm_kb(pid="self") -> int:
    """Peak resident memory of a process since it started or since
    ``reset_peak_rss``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count from its current RSS, so
    the harness's own generation and oracle work before the session
    does not count."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(spark) -> dict:
    """Peak resident memory of this Python process and of the JVM."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return {"python": vm_hwm_kb() / 1024, "jvm": vm_hwm_kb(jvm_pid) / 1024}


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def prepare(scale: dict, work: str, workload: str):
    """Tables, DuckDB connection, request domains and (for ``curate``)
    registry oracles for this scale; everything slow is cached under
    ``work``."""
    import __spark_entry__

    data = datagen.ensure_data(work, scale["sf"], scale["n_docs"], scale["n_vecs"])
    duck = oracle.connect(data, os.path.join(work, "tmp"))
    templates = stream.load_templates(ROOT)
    domains = oracle.domains(duck, stream.range_columns(templates))
    oracles = {}
    if workload == "curate":
        registry = __spark_entry__.oracle_sql()
        oracles = {
            name: oracle.registry_oracle(duck, name, registry[name], data)
            for name in workloads.REGISTRY_ORACLES
        }
    return data, duck, templates, domains, oracles


def op_stats(run) -> dict:
    """Cost of the timed operation as measured, before normalization:
    CPU time (mean, p90) and wall time (p50, p90), in ms."""
    cpu_ms = [x * 1e3 for x in run.op_cpu_s]
    wall_ms = [x * 1e3 for x in run.op_s]
    return {
        "n": len(cpu_ms),
        "cpu_ms_mean": statistics.fmean(cpu_ms) if cpu_ms else 0.0,
        "cpu_ms_p90": workloads.pct(cpu_ms, 90),
        "wall_ms_p50": workloads.pct(wall_ms, 50),
        "wall_ms_p90": workloads.pct(wall_ms, 90),
        "cpu_ms_norm": run.op_cpu_ms_norm,
    }


def metrics_of(run) -> dict:
    values = {
        "setup_s": statistics.median(run.setup_s),
        "op_cpu_ms_norm": run.op_cpu_ms_norm,
        "peak_rss_mb": sum(run.peak_rss_mb.values()),
        "qerror_p50": workloads.pct(run.qerrors, 50),
        "qerror_p95": workloads.pct(run.qerrors, 95),
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def layer_metrics(run) -> dict:
    return {
        name: {"value": float(run.layers.get(name, 0.0)), "unit": unit}
        for name, unit in workloads.PER_LAYER.items()
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        sys.path.insert(0, ROOT)
        import duckdb
        import pyspark

        import deepdb_public_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program or its toolchain: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "benchmarks")):
        print("perfbench: the query corpora under benchmarks/ are missing", file=sys.stderr)
        return 2

    # a relative build dir is taken from the repository root
    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    for sub in ("tmp", "results", "traces"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every scratch file of Python, the Spark launcher and the JVM
    # inside the build directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    scale = SCALES[args.scale]
    data, duck, templates, domains, oracles = prepare(scale, work, args.workload)
    reset_peak_rss()

    host = host_record()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "host": {**host, "load1_before": load1(), "pyspark": pyspark.__version__,
                 "duckdb": duckdb.__version__, **source_identity()},
    }
    t_start = time.perf_counter()
    spark, port = make_session(host, work, bool(args.trace))
    try:
        tracer = Tracer(spark.sparkContext, port) if args.trace else NullTracer()
        ctx = workloads.Ctx(spark, tracer, data, duck, args.seed, args.seconds, scale, templates, domains,
                            speed.Sampler(), lambda: peak_rss_mb(spark))
        if args.workload == "estimate":
            run = workloads.run_estimate(ctx)
        else:
            run = workloads.run_curate(ctx, oracles)
        if args.trace:
            tracer.dump(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        stop_session(spark)
    wall = time.perf_counter() - t_start
    record["host"]["load1_after"] = load1()
    record["inputs"] = run.inputs
    record["setup"] = {"s": run.setup_s, "raw_s": run.setup_raw_s}
    record["slowdown"] = run.slowdown
    record["peak_rss_mb"] = run.peak_rss_mb
    record["op"] = ops = op_stats(run)
    run.layers["op.cpu_ms_mean"], run.layers["op.cpu_ms_p90"] = ops["cpu_ms_mean"], ops["cpu_ms_p90"]
    record["wall_s"] = round(wall, 3)
    record["problems"] = run.problems
    metrics = layer_metrics(run) if args.trace else metrics_of(run)
    correct = run.failed == 0 and run.attempted > 0
    result = {"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
    record["result"] = result
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(work, "results", name), "w") as f:
        json.dump(record, f, indent=1)
    print("perfbench-record " + json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
