"""Benchmark of the movie engine: one workload per run, closed loop, one client.

Run from the root of a checkout::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Workloads (see workloads.py and README.md): ``serve`` and ``ingest``.
Inputs are generated from ``--seed`` (gen.py); every output is checked
(checks.py). The last line of standard output is one JSON object:

- ``--trace 0``: the end-to-end metrics ``search_p50_ms``,
  ``throughput_per_s`` and ``setup_s``;
- ``--trace 1``: the per-layer metrics every workload has (session, search,
  vector scoring, Spark counters, tracing overhead). The Spark UI and its
  status REST API are on only in this mode.

``throughput_per_s`` counts search, browse and subtopics requests per
second of client waiting time on ``serve`` and input records per second
(upsert and swap included) on ``ingest``. The other figures (peak RSS,
browse, subtopics and ANN latencies, ANN recall, ingest visibility,
stored bytes, dedup and upsert layers, ...) go to standard error and,
with the raw latencies and the spans of a traced run, to
``.perfbench_out/<workload>-s<seed>-t<trace>.json``.

The run pins its environment before Spark starts: all CPUs, a driver heap
below the machine's memory, and Spark's local, warehouse and temporary
directories plus the Python workers' import path inside the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

# the metrics of the JSON result line, as BENCHMARK.json lists them
END_TO_END = ("search_p50_ms", "throughput_per_s", "setup_s")
PER_LAYER = (
    "session.start_s", "search.build_ms", "search.exec_ms", "search.jobs_per_request",
    "search.tasks_per_request", "search.rows_scanned_per_result", "vector.score_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.shuffle_bytes_per_op", "spark.executor_run_ms_per_op", "spark.gc_ms_per_op",
    "trace.search_p50_ms", "trace.overhead_ms_per_op",
)


def pin_environment(root: Path, work: Path, trace: bool) -> None:
    """Set what Spark and its Python workers read at start-up."""
    mem_mb = next(int(line.split()[1]) // 1024 for line in Path("/proc/meminfo").read_text().splitlines()
                  if line.startswith("MemTotal:"))
    for d in ("spark-local", "warehouse", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # session.py defaults to a 24g heap; stay well below the machine
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, mem_mb // 4))}m",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # the launcher JVM that spark-submit runs first: no /tmp/hsperfdata
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        # workers (pandas UDFs) import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
    })
    # the engine's default, not whatever the caller's shell had set
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def _descendants(pid: int) -> list[int]:
    parent = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            parent[int(stat.parent.name)] = int(stat.read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out, todo = [], [pid]
    while todo:
        here = todo.pop()
        kids = [c for c, p in parent.items() if p == here]
        out += kids
        todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and the JVM's Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc: subprocess.Popen | None = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()                  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in workers:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.1)
        if Path(f"/proc/{pid}").exists():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "movievectorsearch_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout holding movievectorsearch_spark/",
              file=sys.stderr)
        return 2
    started = time.perf_counter()
    import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    shutil.rmtree(run.work, ignore_errors=True)
    pin_environment(root, run.work, run.trace)
    sys.path.insert(0, str(root))
    try:
        head = workloads.WORKLOADS[args.workload](run)
        peak = run.peak_rss_mb()
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)

    end_to_end = {
        "search_p50_ms": head["search_p50_ms"],
        "throughput_per_s": head["throughput_per_s"],
        "setup_s": head["setup_done"] - started,
    }
    run.info["peak_rss_mb"] = peak
    layer = dict(run.layer)
    if run.trace:
        loop_ops = sum(len(v) for k, v in run.lat.items() if k != "visible")
        layer["trace.overhead_ms_per_op"] = run.tracer.self_s * 1000 / max(loop_ops, 1)
        metrics = {k: {"value": layer[k], "unit": unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": unit(k)} for k in END_TO_END}

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": run.attempted, "failed": run.failed,
        "failed_share": run.failed / max(run.attempted, 1), "problems": run.problems[:20],
        "end_to_end": end_to_end,
        "workload_figures": run.info, "per_layer": layer,
        "latencies_ms": {k: [x * 1000 for x in v] for k, v in run.lat.items()},
        "spans": run.tracer.dump(),
    }
    out = root / ".perfbench_out"
    out.mkdir(exist_ok=True)
    (out / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(json.dumps(report, indent=1))
    for section in ("end_to_end", "workload_figures", "per_layer"):
        for k, v in report[section].items():
            print(f"[perfbench] {args.workload} {section:16s} {k:40s} {v:.6g} {unit(k)}",
                  file=sys.stderr)
    print(f"[perfbench] {args.workload} failed_share {report['failed_share']:.6g} "
          f"({run.failed} of {run.attempted})", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_ms", ".ms", "_ms_per_op")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("bytes_per_op", "bytes_per_movie")):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
