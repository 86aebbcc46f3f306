#!/usr/bin/env python3
"""Benchmark of finanalyzer_spark: one process, one client, one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload query-tail --seed 1 --seconds 9 --trace 0

Workloads (see ``perfbench/workloads.py``): ``query-tail`` and
``etl-lifecycle``, the two ``BENCHMARK.json`` lists, and
``query-heavy``, which runs the same way by hand. The run drives the package's
public functions on ``local[<cores>]``, generates its inputs from
``--seed`` under ``.perfbench_work/`` in the repository (removed at the
end), measures for at least ``--seconds`` seconds, checks every output,
and prints one JSON object as the last line of standard output:

    {"correct": true, "attempted": 48, "failed": 0,
     "metrics": {"setup_s": {"value": 12.3, "unit": "s"}, ...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` list, taken
from spans and per-op Spark counters. Every run also writes its result,
and for a traced run its spans and per-op counters, to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``;
``perfbench/overhead.py`` turns a traced and an untraced record into
the tracing overhead. All other output goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import from the repository root, not from this script's directory
sys.path[0] = ROOT


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # a fixed-size heap keeps the JVM's resident high-water mark
        # (part of peak_rss_mb) from following the collector's resizing
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g' pyspark-shell",
    })


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "finanalyzer_spark")):
        print(f"no finanalyzer_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    # Spark and the JVM write to fd 1; keep the real stdout for the
    # result line and send everything else to stderr
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
        return 2
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work, T_PROCESS)
    try:
        res = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            res["layers"].update(workloads.exec_layers(run, res))
        pid = jvm_pid()
        rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        rss_kb += _status_kb(pid, "VmHWM") if pid else 0
        res["e2e"]["peak_rss_mb"] = rss_kb / 1024.0
    finally:
        shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    failed_share = res["failed"] / res["attempted"]
    print(f"{args.workload} seed {args.seed}: attempted {res['attempted']}, "
          f"failed_share {failed_share:.4f}", flush=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "result": out, "e2e": res["e2e"],
        "failed_share": failed_share, "wrong": res["wrong"],
        "ops": res["log"], "phases": res["phases"],
        "process_s": time.perf_counter() - T_PROCESS,
    }
    if args.trace:
        record["layers"] = res["layers"]
        record["per_op"] = run.ledger.per_op
        record["spans"] = run.spans.records
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(out), file=real_stdout, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
