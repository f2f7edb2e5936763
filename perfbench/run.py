"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload operators --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The input tables are the parquet files
under ``perfbench/data/sf<SF>/``. Each run makes its own temporary root
under ``perfbench/.runs/`` (``SPARK_LOCAL_DIRS``, Java and Python temp
dirs, streaming checkpoints, the pipeline's parquet cache) and removes it
at exit. It times ``SETUP_SAMPLES`` fresh set-ups (the last one is the
process that runs the workload) and prints the machine record, every
figure of the workload by name and unit, and, as its last line, the JSON
result: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE = os.path.join(REPO, "datapipelines_python_spark")
DATA = os.path.join(HERE, "data")
SETUP_SAMPLES = 2  # a full measurement is 48 runs; a third set-up cost 7-9 s a run
RUN_LIMIT_S = 170  # the whole run, set-ups included


class RunError(Exception):
    pass


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


class Worker:
    """One engine process in its own process group."""

    def __init__(self, args: list[str], env: dict, deadline: float) -> None:
        self.deadline = deadline
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdout=subprocess.PIPE, text=True, env=env, cwd=REPO,
            start_new_session=True)
        self.messages: dict[str, tuple[float, dict]] = {}
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@perfbench "):
                _, tag, payload = line.split(" ", 2)
                self.messages[tag] = (time.perf_counter(), json.loads(payload))
            else:
                sys.stderr.write(line)

    def wait(self, until: str | None = None) -> None:
        """Wait for the process to exit 0, or only for message ``until``."""
        while self.proc.poll() is None and until not in self.messages:
            if time.perf_counter() > self.deadline:
                raise RunError("run exceeded its time limit")
            time.sleep(0.1 if until is None else 0.01)
        if until in self.messages:
            return
        self._reader.join(timeout=10)
        if self.proc.returncode != 0:
            raise RunError(f"engine process exited with {self.proc.returncode}")

    def setup_s(self) -> float:
        return self.messages["setup"][0] - self.started

    def stop(self, graceful: bool = True) -> None:
        """Stop the whole process group (driver, JVM, Python workers)."""
        signals = ((signal.SIGTERM, 10),) if graceful else ()
        for sig, grace in (*signals, (signal.SIGKILL, 10)):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            try:
                self.proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                continue
            if not _group_alive(self.proc.pid):
                break
            time.sleep(0.5)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01",
                    help="scale factor: the tables in perfbench/data/sf<SF>/")
    ap.add_argument("--cores", type=int, help="local[N] cores (default: all usable)")
    return ap.parse_args(argv)


def run(args: argparse.Namespace) -> dict:
    if not os.path.isdir(ENGINE):
        raise RunError(f"no engine package at {ENGINE}: run from a full checkout")
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    if args.workload not in workloads:
        raise RunError(f"--workload must be one of {workloads}")
    nproc = usable_cores()
    cores = args.cores or nproc
    if not 1 <= cores <= nproc:
        raise RunError(f"--cores {cores} is outside 1..{nproc} (usable cores)")
    if args.seconds <= 0:
        raise RunError("--seconds must be positive")
    scales = sorted(d[2:] for d in os.listdir(DATA) if d.startswith("sf"))
    if args.sf not in scales:
        raise RunError(f"--sf must be one of {scales}")
    sf_dir = os.path.join(DATA, f"sf{args.sf}")

    deadline = time.perf_counter() + RUN_LIMIT_S
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".runs"))
    workers: list[Worker] = []
    try:
        for sub in ("tmp", "spark-local"):
            os.makedirs(os.path.join(root, sub))
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([HERE, REPO]),
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
            TMPDIR=os.path.join(root, "tmp"),
            # every JVM (launcher and driver) keeps its temp files in the
            # run's root; no perf-data file in the system temp dir
            JAVA_TOOL_OPTIONS=shlex.join([
                f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}", "-XX:-UsePerfData"]),
            PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        )
        setups: list[float] = []
        for _ in range(0 if args.trace else SETUP_SAMPLES - 1):
            w = Worker(["--setup-only"], env, deadline)
            workers.append(w)
            w.wait(until="setup")
            setups.append(w.setup_s())
            w.stop(graceful=False)  # it holds nothing worth a clean shutdown
        engine = Worker([
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf-dir", sf_dir, "--root", root,
        ], env, deadline)
        workers.append(engine)
        engine.wait()
        if "result" not in engine.messages:
            raise RunError("engine process printed no result")
        setups.append(engine.setup_s())
        result = engine.messages["result"][1]
    finally:
        for worker in workers:
            worker.stop()
        shutil.rmtree(root, ignore_errors=True)

    fig = result["figures"]
    figures = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_s": (fig["cold_s"], "s"),
        "lap_s": (fig["lap_s"], "s"),
        "lap_cpu_s": (fig["lap_cpu_s"], "s"),
        "steal_s": (fig["steal_s"], "s"),
        "op_p50_ms": (fig["op_p50_ms"], "ms"),
        "ops_per_s": (fig["ops_per_s"], "1/s"),
        "peak_rss_mb": (fig["peak_rss_bytes"] / 1e6, "MB"),
        "fail_ratio": (result["failed"] / max(1, result["attempted"]), "ratio"),
    }
    if args.workload == "pipeline_cache":
        figures["get_p50_ms"] = (fig["get_p50_ms"], "ms")
        if fig["get_tail_percentile"] is not None:
            figures[f"get_p{fig['get_tail_percentile']:g}_ms"] = (fig["get_tail_ms"], "ms")
        figures["put_p50_ms"] = (fig["put_p50_ms"], "ms")
    machine = {
        "nproc": nproc, "cores": cores, **result["machine"], "sf": args.sf,
        "seed": args.seed, "workload": args.workload, "seconds": args.seconds,
        "git_commit": git_commit(),
    }
    print("machine " + json.dumps(machine))
    details = {k: fig[k] for k in (
        "laps", "lap_cpu", "get_samples", "put_samples", "verify_s", "cold_ms") if k in fig}
    print("figures " + json.dumps({
        **{k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
        "attempted": result["attempted"], "failed": result["failed"],
        "setup_samples": setups, **details}))
    for err in result["errors"]:
        print("error " + err)

    if args.trace:
        print("trace " + result["trace_file"])
        wanted, values = bench["per_layer"], result["layers"]
    else:
        wanted = bench["end_to_end"]
        values = {k: v for k, (v, _) in figures.items()}
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        raise RunError(f"no value for metric(s) {missing}")
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str]) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    try:
        out = run(args)
    except (RunError, OSError, KeyError, ValueError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
