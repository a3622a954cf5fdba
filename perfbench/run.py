"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload vector_roundtrip --seed 1 --seconds 16 --trace 0

Run from the repository root: the library is imported from the
``neo4j_arrow_spark`` package next to this directory, and scratch data,
Spark's local directory and span dumps go under ``.perfbench_work/``
and ``.perfbench_out/`` there. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics (see README.md).
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_per_s": "1/s",
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
}
PER_LAYER = {
    "api.submit_ms": "ms",
    "jobs.wait_ms": "ms",
    "stream.collect_ms": "ms",
    "stream.bytes": "B",
    "stream.batches": "count",
    "ingest.bytes": "B",
    "catalog.register_ms": "ms",
    "client.cpu_ms": "ms",
    "bench.self_ms": "ms",
    "trace.overhead_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.failed_tasks": "count",
    "spark.busy_share": "ratio",
    "jvm.retained_mb": "MB",
}


def _machine() -> tuple[int, int]:
    """(usable cores, total memory in MiB)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cores, mem_kb // 1024


def _start_session(cores: int, heap_mb: int, local_dir: str):
    from neo4j_arrow_spark.session import get_session

    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep block
    # and shuffle files inside the checkout either way
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    return get_session(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.local.dir": local_dir,
            # the whole heap committed and touched at start: garbage
            # collection then does not depend on when the collector grew
            # the heap, and peak RSS is heap plus what grows off-heap
            # instead of swinging by a third with young-generation sizing
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local_dir} -Xms{heap_mb}m -XX:+AlwaysPreTouch"
            ),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _pct(xs: list[float], q: float) -> float:
    """Inclusive-method quantile (q in 0..1) of the samples."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(sess, rss_mb: float) -> dict[str, tuple[float, int]]:
    """Metric -> (value, sample count) over the timed operations."""
    ok = [op for op in sess.ops if op.ok]
    lat = [op.ms for op in ok]
    reads = [ms for kind, _label, ms in sess.phases if kind == "read"]
    writes = [ms for kind, _label, ms in sess.phases if kind == "write"]
    busy_s = sum(lat) / 1e3
    nan = float("nan")
    return {
        "setup_s": (statistics.median(sess.setups), len(sess.setups)),
        "peak_rss_mb": (rss_mb, 1),
        "ops_per_s": (len(ok) / busy_s if busy_s else nan, len(ok)),
        "items_per_s": (sum(op.items for op in ok) / busy_s if busy_s else nan, len(ok)),
        "op_p50_ms": (statistics.median(lat) if lat else nan, len(lat)),
        "op_p90_ms": (_pct(lat, 0.9) if lat else nan, len(lat)),
        "read_p50_ms": (statistics.median(reads) if reads else nan, len(reads)),
        "write_p50_ms": (statistics.median(writes) if writes else nan, len(writes)),
    }


def per_layer(sess, cores: int) -> dict[str, tuple[float, int]]:
    traced = [op for op in sess.ops if op.traced and op.ok]
    plain = [op for op in sess.ops if not op.traced and op.ok]
    ids = {i for i, op in enumerate(sess.ops) if op.traced and op.ok}
    by_op: dict[int, dict[str, float]] = {i: sess.tracer.self_ms({i}) for i in ids}
    n = len(traced)
    nan = float("nan")

    def med_span(name: str) -> tuple[float, int]:
        xs = [d[name] for d in by_op.values() if name in d]
        return (statistics.median(xs) if xs else 0.0, len(xs))

    def mean_layer(name: str) -> tuple[float, int]:
        return (sum(op.layers.get(name, 0) for op in traced) / n if n else nan, n)

    def mean_spark(name: str) -> tuple[float, int]:
        return (sum(op.layers["spark"][name] for op in traced) / n if n else nan, n)

    task_ms = sum(op.layers["spark"]["task_ms"] for op in traced)
    wall_ms = sum(op.ms for op in traced)
    out = {
        "api.submit_ms": med_span("api.submit"),
        "jobs.wait_ms": med_span("jobs.wait"),
        "stream.collect_ms": med_span("stream.collect"),
        "stream.bytes": mean_layer("stream.bytes"),
        "stream.batches": mean_layer("stream.batches"),
        "ingest.bytes": mean_layer("ingest.bytes"),
        "catalog.register_ms": (statistics.median(sess.register_ms), len(sess.register_ms)),
        "client.cpu_ms": (statistics.median(op.cpu_ms for op in traced) if n else nan, n),
        "bench.self_ms": med_span("op"),
        "trace.overhead_ms": (
            statistics.median(op.ms for op in traced) - statistics.median(op.ms for op in plain)
            if traced and plain else nan,
            n + len(plain),
        ),
        "spark.busy_share": (task_ms / (wall_ms * cores) if wall_ms else nan, n),
        "spark.failed_tasks": (sum(op.layers["spark"]["failed_tasks"] for op in traced), n),
        # live heap growth over the timed cycles, per operation
        "jvm.retained_mb": ((sess.heap_live_mb[1] - sess.heap_live_mb[0]) / len(sess.ops), len(sess.ops)),
    }
    for name in ("jobs", "tasks", "task_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes"):
        out[f"spark.{name}"] = mean_spark(name)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt the first streamed result (self-test of the checks)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "neo4j_arrow_spark", "__init__.py")):
        print(f"perfbench: no neo4j_arrow_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer, jvm_peak_rss_mb
    from perfbench.workloads import SIZES, WORKLOADS, Session

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from neo4j_arrow_spark.api import Neo4jArrowSpark

    cores, mem_mb = _machine()
    heap_mb = max(1024, min(4096, mem_mb // 4))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    local_dir = os.path.join(work, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)

    t0 = time.perf_counter()
    spark = _start_session(cores, heap_mb, local_dir)
    start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(bool(args.trace))
        sess = Session(spark, Neo4jArrowSpark(spark), tracer, args.inject_fault)
        WORKLOADS[args.workload](sess, args.seed, args.seconds, SIZES[args.size], work)
        rss_mb = jvm_peak_rss_mb(spark)
    finally:
        t1 = time.perf_counter()
        _stop_session(spark)
        stop_s = time.perf_counter() - t1
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics, units = per_layer(sess, cores), PER_LAYER
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics, units = end_to_end(sess, rss_mb), END_TO_END

    failed = sum(not op.ok for op in sess.ops)
    print(f"# workload={args.workload} seed={args.seed} size={args.size} trace={args.trace} "
          f"cores={cores} mem_mb={mem_mb} driver_heap_mb={heap_mb}")
    print(f"# session_start_s={start_s:.3f} setups_s={sum(sess.setups):.3f} warmup_s={sess.warmup_s:.3f} "
          f"timed_s={sess.timed_s:.3f} run_s={t1 - t0 - start_s:.3f} stop_s={stop_s:.3f}")
    print(f"# ops={len(sess.ops)} ops_failed={failed} phases={len(sess.phases)}")
    for msg in sess.failures[:5]:
        print(f"# failure: {msg}")
    for name, (value, count) in metrics.items():
        print(f"{name:28s} {value:14.4f} {units[name]:6s} n={count}")
    if not args.trace:
        labels = sorted({label for _kind, label, _ms in sess.phases})
        for label in labels:
            xs = [ms for _kind, lb, ms in sess.phases if lb == label]
            print(f"# phase {label:12s} median {statistics.median(xs):10.1f} ms  n={len(xs)}  "
                  f"min {min(xs):.1f} max {max(xs):.1f}")
        for name, xs in sess.rates.items():
            print(f"{name:28s} {statistics.median(xs):14.4f} {'1/s':6s} n={len(xs)} (median, not gated)")
    result = {
        "correct": failed == 0 and len(sess.ops) > 0,
        "attempted": len(sess.ops),
        "failed": failed,
        "metrics": {
            name: {"value": None if math.isnan(v) else v, "unit": units[name]}
            for name, (v, _count) in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
