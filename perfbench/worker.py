"""The engine process of one benchmark run (started by run.py).

Sets up (imports, ``get_spark()``, ``get_registry()``), reports the set-up
split, then runs one workload and reports its figures. With
``--setup-only`` it stops after set-up: run.py times several fresh
set-ups per run. Lines for run.py start with ``@perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def emit(tag: str, payload: dict) -> None:
    print(f"@perfbench {tag} {json.dumps(payload)}", flush=True)


def tree_peak_rss_bytes() -> int:
    """Sum of the peak resident sizes (``VmHWM``) of this process and its
    live descendants (the JVM, Python workers), read once."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            continue
        todo.extend(children.get(pid, []))
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir")
    ap.add_argument("--root")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    t0 = time.perf_counter()
    from datapipelines_python_spark import get_registry, get_spark
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    registry = get_registry()
    t3 = time.perf_counter()
    emit("setup", {"import_s": t1 - t0, "session.start_s": t2 - t1,
                   "registry.load_s": t3 - t2})

    from datapipelines_python_spark.operators import scans
    try:
        if args.setup_only:
            return 0
        from workloads import Run, run_workload

        machine = {
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        run = Run(spark, registry, args.sf_dir, args.root, args.seed,
                  args.seconds, bool(args.trace))
        out = run_workload(run, args.workload)
        out["peak_rss_bytes"] = tree_peak_rss_bytes()
        result = {
            "machine": machine,
            "attempted": run.attempted,
            "failed": run.failed,
            "errors": run.errors,
            "figures": out,
        }
        if args.trace:
            layers = run.layer_metrics(args.workload)
            layers["session.start_s"] = t2 - t1
            layers["registry.load_s"] = t3 - t2
            result["layers"] = layers
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            path = os.path.join(
                HERE, "traces", f"{args.workload}-seed{args.seed}-{run.tracer.run_id}.jsonl")
            run.tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                    "layers": layers})
            result["trace_file"] = os.path.relpath(path, REPO)
        emit("result", result)
        return 0
    finally:
        spark.stop()
        shutil.rmtree(scans._SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
