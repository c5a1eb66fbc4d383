"""Benchmark entry point.

    python3 perfbench/run.py --workload index_churn --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Prints one JSON object as the last line
of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1`` (spans are then also written to
``perfbench/.traces/``).  Everything the run writes lives under
``perfbench/.run/`` and is removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB (the session factory's
    own default assumes a far larger host)."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, kb // 4 // (1 << 20)))}g"


def _environment(work: str) -> None:
    """Point every writer at the run's temp dir and size Spark to the host.
    Must run before pyspark starts the JVM."""
    for sub in ("scratch", "local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["SPARK_GRAFT_SCRATCH"] = f"{work}/scratch"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # every JVM the run starts (spark-submit's launcher, the driver, the CLI
    # search process) keeps its temp files, and no hsperfdata file, out of
    # the system /tmp: the run writes only in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    # the CLI subprocess and Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _stop_spark() -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "big_data_assignment2_spark", "engine.py")):
        print("big_data_assignment2_spark/ not found: run from a full checkout", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(HERE, ".run"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".run"))
    _environment(work)
    sys.path.insert(0, ROOT)
    from perfbench.tracing import Tracer, peak_rss_mb
    from perfbench.workloads import WORKLOADS, Run

    run = Run(ROOT, work, args.seed, args.seconds, Tracer(bool(args.trace)))
    cpu0 = _cpu_times()
    try:
        WORKLOADS[args.workload](run)
        run.layer["peak_rss_mb"] = peak_rss_mb()
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    # time the hypervisor gave to other guests: the usual cause of a noisy run
    cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
    print(f"host cpu steal during run: {100 * cpu[7] / max(1, sum(cpu)):.1f}%", file=sys.stderr)

    if run.traced:
        run.layer["traced.op_p50_ms"] = run.e2e.get("op_p50_ms", 0.0)
        run.layer["traced.ops_per_s"] = run.e2e.get("ops_per_s", 0.0)
        run.tracer.dump(
            os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json")
        )
    wanted = spec["per_layer"] if run.traced else spec["end_to_end"]
    values = run.layer if run.traced else run.e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    for e in run.errors:
        print(f"FAILED: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
