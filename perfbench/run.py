"""CDC benchmark: one workload per invocation, run from the repository root.

    python3 perfbench/run.py --workload catchup_binlog --seed 1 --seconds 20 --trace 0

Prints a table of every metric with its unit, then, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Exits non-zero when any output is wrong. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("catchup_binlog", "tail_json")
DRIVER_MEMORY_GB = 4


def load_spec() -> dict:
    """BENCHMARK.json names every metric and its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pin_environment(tmp: str) -> None:
    """Everything the program reads from its environment, set here so a
    run depends on this machine's size and on nothing else."""
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{DRIVER_MEMORY_GB}g"
    # Python workers import cdc_rs_spark from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(tmp, 'tmp')} "
        "pyspark-shell"
    )


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "cdc_rs_spark", "pipeline.py"))


def fmt(v: float) -> str:
    return f"{v:.4f}" if abs(v) < 1000 else f"{v:.1f}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print("perfbench: cdc_rs_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    tmp = os.path.join(
        ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    pin_environment(tmp)

    from perfbench import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    t0 = time.time()
    try:
        res = getattr(workloads, args.workload)(run)
    finally:
        run.stop()
        run.tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json"
        ))
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it

    spec = load_spec()
    failed_frac = res.failed / res.attempted if res.attempted else 1.0
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={os.environ['SPARK_GRAFT_CPUS']} "
          f"driver_memory={DRIVER_MEMORY_GB}g wall={time.time() - t0:.1f}s")
    for line in res.notes:
        print(f"# {line}")
    print(f"{'failed_frac':40s} {failed_frac:.6f} ratio "
          f"({res.failed} of {res.attempted} changes)")
    for m in spec["end_to_end"]:
        print(f"{m['name']:40s} {fmt(res.metrics[m['name']])} {m['unit']}")
    if args.trace:
        # a layer this workload does not exercise reports 0
        for m in spec["per_layer"]:
            v = res.layers.get(m["name"])
            print(f"{m['name']:40s} {'n/a' if v is None else fmt(v)} {m['unit']}")
        values = {m["name"]: res.layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = spec["per_layer"]
    else:
        values, units = res.metrics, spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in units
    }
    correct = res.failed == 0 and res.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
