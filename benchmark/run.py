"""Benchmark for the engine: one workload, one seed, one run.

    python3 benchmark/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1 [--scale X]

Run from the repository root.  Inputs are generated from ``--seed``
inside ``.bench_work/`` (removed at exit).  After a warm-up, ops run
in a closed loop with one client for at least ``--seconds`` seconds,
in whole rounds.  Every op's result is checked.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics from an instrumented run with ``--trace 1``.  Lines
before it, starting with ``#``, give the sample count, every op
latency, ``failed_frac`` and each metric with its unit.

End-to-end metrics: ``setup_s`` is session start plus warm-up, up to
the first timed op.  The others are engine CPU time: the Spark JVM's
threads, the processes it forks, and the client thread that builds
plans through PySpark.  ``op_cpu_p50_s`` is the median CPU seconds of
an op; ``ops_per_cpu_s`` and ``rows_per_cpu_s`` divide by the CPU the
engine used while busy (ops plus, for ``ingest``, compactions).  Rows
are CSV rows landed for ``ingest`` and dataset rows per query answered
for ``analytics``.

Wall-clock latency and throughput (``op_p50_s``, ``ops_per_s``,
``rows_per_s``) are on the ``#`` lines, and per-layer with
``--trace 1``, but carry no bound: on a few vCPUs of a shared host
analytics latency doubled from run to run with the neighbours' load
(CPU steal from 0.4% to 8-22%), while CPU per op moved by 10-20%.  A run has under 100 ops, too
few for a p90 with ten samples beyond it, so the ``#`` line reports
the highest percentile that has them instead.  The per-layer
``peak_rss_mb`` is the peak proportional set size of the Spark JVM and
the Python workers it forks, so pages shared across a fork count once.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import workloads
from measure import (
    PeakMemory, SparkCounter, Tracer, descendants, median, percentile, tail_percentile,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: (name, unit) of every end-to-end metric, printed by untraced runs.
END_TO_END = [
    ("setup_s", "s"),
    ("op_cpu_p50_s", "s"),
    ("ops_per_cpu_s", "1/s"),
    ("rows_per_cpu_s", "rows/s"),
]

#: (name, unit) of the wall-clock metrics.
WALL = [
    ("op_p50_s", "s"),
    ("ops_per_s", "1/s"),
    ("rows_per_s", "rows/s"),
]

_STAGES = [
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.dedup_survivors",
    "operators.quality_model.train_quality_lda",
    "operators.decontam.contamination",
    "operators.packing.pack_chunks",
]

#: (name, unit) of every per-layer metric, printed by traced runs.  A
#: layer a workload never calls reads 0 on that workload.
PER_LAYER = (
    [
        ("session.get_spark_s", "s"),
        ("peak_rss_mb", "MB"),
        ("spark.jobs_per_op", "count"),
        ("spark.stages_per_op", "count"),
        ("spark.tasks_per_op", "count"),
        ("spark.failed_tasks", "count"),
        ("trace.overhead_s_per_op", "s"),
    ]
    + [(f"wall.{name}", unit) for name, unit in WALL]
    + [
        ("sources.csv.ingest_csv_s", "s"),
        ("pipeline.write_json_s", "s"),
        ("pipeline.read_json_s", "s"),
        ("operators.align_s", "s"),
        ("streaming.mor.merge_s", "s"),
        ("streaming.mor.read_s", "s"),
        ("streaming.mor.pending_batches", "count"),
        ("streaming.mor.compact_s", "s"),
        ("pipeline.json_bytes_per_row", "B/row"),
        ("streaming.mor.table_bytes", "B"),
        ("stored_bytes_per_input_byte", "B/B"),
        ("queries.plan_s", "s"),
        ("queries.exec_s", "s"),
    ]
    + [(f"analytics.{q}_p50_s", "s") for q in workloads.ANALYTICS_QUERIES]
    + [(f"{s}{suffix}", unit) for s in _STAGES
       for suffix, unit in (("_s", "s"), ("_survivors", "ratio"))]
    + [
        ("curation.job_s", "s"),
        ("curation.plan_s", "s"),
        ("curation.exec_s", "s"),
        ("curation.spark.jobs_per_op", "count"),
        ("curation.spark.stages_per_op", "count"),
        ("curation.spark.tasks_per_op", "count"),
        ("curation.spark.failed_tasks", "count"),
        ("cache.persisted_rdds", "count"),
    ]
)


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the standard run (tests use less)")
    return p.parse_args()


def _pin_environment(work: str) -> int:
    """Pin where the engine runs before pyspark starts: every core this
    process may use, local and temp dirs inside the work dir, a fixed
    JVM heap, and the package importable by Python workers."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Few malloc arenas: the JVM's resident size otherwise depends on
    # how many threads happened to allocate natively.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    return cpus


def _stop(spark, jvm) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes)
    and the Python workers it forked, and wait for all of them."""
    children = descendants(jvm.pid)
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in children):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def main() -> int:
    args = _parse()
    sys.path.insert(0, ROOT)
    # Fails here, before any work, when the engine's sources are absent.
    import etl_pulumi_aws_snowflake_spark  # noqa: F401

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, work: str) -> int:
    cpus = _pin_environment(work)

    from etl_pulumi_aws_snowflake_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    prepare, body = workloads.WORKLOADS[args.workload]
    run = workloads.Run(None, tracer, None, args.seed, args.seconds, work, args.scale)
    prep = prepare(run)

    t_start = time.perf_counter()
    spark = get_spark(app_name=f"bench-{args.workload}", cpus=cpus)
    get_spark_s = time.perf_counter() - t_start
    run.spark = spark
    if tracer.enabled:
        run.counter = SparkCounter(spark)
    jvm = spark.sparkContext._gateway.proc
    run.jvm = jvm.pid
    try:
        with PeakMemory(jvm.pid) as memory:
            body(run, prep, t_start)
    finally:
        _stop(spark, jvm)

    lat = run.latencies
    for err in run.errors[:5]:
        print(err, file=sys.stderr)
    if not lat or run.busy_s <= 0 or run.cpu_busy_s <= 0:
        print("no op completed", file=sys.stderr)
        return 1

    wall = {
        "op_p50_s": percentile(lat, 50),
        "ops_per_s": len(lat) / run.busy_s,
        "rows_per_s": run.rows / run.busy_s,
    }
    if not tracer.enabled:
        values = {
            "setup_s": run.setup_s,
            "op_cpu_p50_s": percentile(run.cpu_times, 50),
            "ops_per_cpu_s": len(lat) / run.cpu_busy_s,
            "rows_per_cpu_s": run.rows / run.cpu_busy_s,
        }
        catalogue = END_TO_END + WALL
    else:
        values = {name: 0.0 for name, _ in PER_LAYER}
        for name, samples in tracer.self_times().items():
            values[f"{name}_s"] = median(samples)
        for name, samples in tracer.counts.items():
            if name.endswith("failed_tasks"):
                values[name] = sum(samples)
            elif name.endswith("_per_op"):
                values[name] = sum(samples) / len(samples)
            else:
                values[name] = median(samples)
        values.update(run.layers)
        values["session.get_spark_s"] = get_spark_s
        values["peak_rss_mb"] = memory.peak / 2**20
        values["trace.overhead_s_per_op"] = tracer.overhead_s / max(run.attempted, 1)
        values.update({f"wall.{name}": v for name, v in wall.items()})
        values = {name: values[name] for name, _ in PER_LAYER}
        catalogue = PER_LAYER
        tracer.dump(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}.tsv"))

    units = dict(catalogue)
    tail = tail_percentile(len(lat))
    print(
        f"# {args.workload} seed={args.seed} ops={len(lat)} attempted={run.attempted} "
        f"failed={run.failed} failed_frac={run.failed / run.attempted:.4f} "
        f"rows={run.rows} busy_s={run.busy_s:.3f} cpu_busy_s={run.cpu_busy_s:.3f} cpus={cpus} "
        f"tail_pct_with_10_beyond=p{tail}"
        + (f" op_p{tail}_s={percentile(lat, tail):.4f}"
           f" op_cpu_p{tail}_s={percentile(run.cpu_times, tail):.4f}" if tail else "")
    )
    print("#   latencies_s = " + " ".join(f"{x:.3f}" for x in lat))
    for name, value in values.items():
        print(f"#   {name} = {value:.6g} {units[name]}")
    if not tracer.enabled:
        for name, value in wall.items():
            print(f"#   {name} = {value:.6g} {units[name]} (wall clock, no bound)")
    for name, value in run.layers.items():
        if name not in units:
            print(f"#   {name} = {value:.6g}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
