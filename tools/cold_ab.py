"""Fresh-process interleaved A/B of two checkouts: each rep spawns a NEW
python/JVM process per arm, whose child imports that checkout's package,
so the measurement matches a cold driver run. Arms alternate process by
process (A B, B A, A B, ...) so host-load drift hits both arms equally.
With one checkout it is a repeat probe of that checkout.

    python tools/cold_ab.py <reps> <checkout_a> [<checkout_b>] <query> [<query> ...]
    python tools/cold_ab.py <reps> <checkout_a> [<checkout_b>] --cli "<terms>"

Registry queries are timed in-process after session start and warm-up:
``define`` is the query function call, ``exec`` one noop-forced run, and
``total`` their sum. ``--cli`` instead times one whole
``python -m big_data_assignment2_spark.search <terms>`` process (its
argv split shell-style, so CLI flags such as ``--index-dir`` may lead),
from spawn to printed top-10. Any ``COLD_AB_<phase>=<seconds>`` line a
child prints to stdout is reported as a phase median, so an instrumented
checkout can split its own time.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_DRIVER_MEM.
"""

from __future__ import annotations

import os
import shlex
import statistics
import subprocess
import sys
import time

_CHILD = r"""
import os, sys, time
sys.path.insert(0, {checkout!r})
from big_data_assignment2_spark.registry import build_registry
from big_data_assignment2_spark.session import get_spark
import bench

spark = get_spark("cold-ab")
spark.sparkContext.setLogLevel("ERROR")
reg = build_registry()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
bench.warm_up(spark, sf_dir)
fn = reg.queries[{name!r}].fn
t0 = time.perf_counter()
df = fn(spark, sf_dir)
t1 = time.perf_counter()
df.write.format("noop").mode("overwrite").save()
t2 = time.perf_counter()
print("COLD_AB_define=%.3f" % (t1 - t0), flush=True)
print("COLD_AB_exec=%.3f" % (t2 - t1), flush=True)
print("COLD_AB_total=%.3f" % (t2 - t0), flush=True)
spark.stop()
"""


def _run_child(checkout: str, target: str, cli: bool) -> dict[str, float]:
    """One fresh process in *checkout*; returns its phase timings."""
    env = dict(os.environ, PYTHONPATH=checkout)
    if cli:
        cmd = [sys.executable, "-m", "big_data_assignment2_spark.search", *shlex.split(target)]
    else:
        cmd = [sys.executable, "-c", _CHILD.format(checkout=checkout, name=target)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, env=env, timeout=600)
    wall = time.perf_counter() - t0
    phases = {
        key[len("COLD_AB_") :]: float(val)
        for key, _, val in (
            line.partition("=") for line in out.stdout.splitlines() if line.startswith("COLD_AB_")
        )
    }
    if out.returncode or not (cli or "total" in phases):
        raise RuntimeError(
            f"child failed for {target!r} in {checkout}: rc={out.returncode}\n"
            f"{out.stdout[-1000:]}\n{out.stderr[-1000:]}"
        )
    if cli:
        phases["total"] = wall
    return phases


def main() -> None:
    reps = int(sys.argv[1])
    rest = sys.argv[2:]
    checkouts = [os.path.abspath(rest.pop(0))]
    if rest and os.path.isdir(rest[0]):
        checkouts.append(os.path.abspath(rest.pop(0)))
    cli = rest[:1] == ["--cli"]
    for target in [" ".join(rest[1:])] if cli else rest:
        runs: list[list[dict[str, float]]] = [[] for _ in checkouts]
        for i in range(reps):
            # alternate which arm goes first each rep
            for arm in range(len(checkouts)) if i % 2 == 0 else reversed(range(len(checkouts))):
                runs[arm].append(_run_child(checkouts[arm], target, cli))
        totals = [[r["total"] for r in arm] for arm in runs]
        for label, c, arm, tot in zip("AB", checkouts, runs, totals):
            phases = " ".join(
                f"{k}={statistics.median(r[k] for r in arm):.3f}"
                for k in arm[0]
                if k != "total"
            )
            print(
                f"{target} [{label}] {c}: median={statistics.median(tot):.3f} "
                f"{[round(t, 3) for t in tot]} {phases}".rstrip(),
                flush=True,
            )
        if len(runs) == 2:
            wins = sum(b < a for a, b in zip(*totals))
            ratio = statistics.median(totals[1]) / statistics.median(totals[0])
            print(f"{target}: B/A={ratio:.2f} (B faster in {wins}/{reps} pairs)", flush=True)


if __name__ == "__main__":
    main()
