"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 3 --trace 0

Runs one workload in a fresh local session from the root of a
checkout, prints a one-line JSON detail record, then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything it writes stays under ``.perfbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_ENV = {"SPARK_GRAFT_DRIVER_MEM": "2g"}
# A caller's shell must not force a plan shape, a lock backend or a
# data directory on the program.
UNSET_ENV = (
    "SPARK_GRAFT_VERIFY_SHAPE",
    "SPARK_GRAFT_VERIFY_BUDGET_BYTES",
    "SPARK_GRAFT_STREAM_SHUFFLE",
    "SPARK_GRAFT_LOCK_BACKEND",
    "SPARK_GRAFT_SF_DIR",
)
def pin_env(work_dir: str) -> dict:
    """Fix the program's environment for this run and return it."""
    for k in UNSET_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pinned = dict(BENCH_ENV)
    pinned["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    pinned["SPARK_LOCAL_DIRS"] = local
    pinned["TMPDIR"] = tmp
    pinned["PYSPARK_PYTHON"] = sys.executable
    # Both JVMs (launcher and driver) keep their temp files in the run
    # directory; -XX:-UsePerfData stops them writing /tmp/hsperfdata_*.
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    pinned["SPARK_LAUNCHER_OPTS"] = jvm_opts
    pinned["SPARK_SUBMIT_OPTS"] = (os.environ.get("SPARK_SUBMIT_OPTS", "") + " " + jvm_opts).strip()
    os.environ.update(pinned)
    return {**pinned, "unset": list(UNSET_ENV)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "sp500_stock_etl_spark")):
        print("perfbench: the program's sources are not in this checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    env = pin_env(work_dir)
    os.chdir(work_dir)
    try:
        from perfbench.harness import Run

        result, detail = Run(args.workload, args.seed, args.seconds, bool(args.trace),
                             work_dir).execute()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work_dir, ignore_errors=True)
    detail["env"] = env
    os.makedirs(os.path.join(base, "detail"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(base, "detail", name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    # The metrics and units BENCHMARK.json declares for this mode.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    result["metrics"] = {m["name"]: {"value": result["metrics"][m["name"]], "unit": m["unit"]}
                         for m in declared}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
