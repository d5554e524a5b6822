"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload {search,daemon} --seed N \\
        --seconds S --trace {0,1} [--master local[4]] [--driver-memory 3g]

Run it from the root of the tree under test. Each run starts a fresh
worker process (and so a fresh JVM) with its own TMPDIR and
SPARK_LOCAL_DIRS under ``.perfbench_work/``, and samples the resident
memory of the worker's whole process tree. Human-readable lines come
first: the workload's named metrics, the error rate and the host record
(load average, steal and iowait over the run). The last line is the JSON
result; with ``--trace 1`` its metrics are the per-layer ones and the
spans are kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 160  # a run must end within 180 s, clean-up included
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms",
             "index_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    **{f"index.query.{q}_ms": "ms"
       for q in ("wand_or", "wand_and", "phrase", "qs_topk", "search_topk")},
    "index.filter.count_ms": "ms", "index.filter.filter_ms": "ms",
    "queryparser.parse_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.job_ms": "ms",
    "spark.driver_gap_ms": "ms", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.cpu_util": "ratio",
    "spark.gc_s": "s", "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "index.build.build_s": "s", "index.build.segments": "count",
    "streaming.daemon.append_ms": "ms", "index.merge.compact_ms": "ms",
    "index.merge.merges": "count", "index.merge.bytes_rewritten": "bytes",
    "index.live_segments": "count", "index.write_amp": "ratio",
    **{f"operators.{f}_s": "s" for f in ("terms_within", "terms_across", "metrics",
                                         "sudden_appearance", "simplequery",
                                         "word2vec")},
}
TRACE_RECORD_UNITS = {"sources.results.upserted_rows": "count",
                      "trace.readback_ms": "ms"}
NAMED_UNITS = {"python_peak_rss_mb": "MB",
               "build_docs_per_s": "1/s", "query_p50_ms": "ms", "append_p50_ms": "ms",
               "ingest_docs_per_s": "1/s", "tick_s": "s", "queries": "count",
               "ticks": "count", "cycles": "count"}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended while we read it
        pass
    return 0


def _tree_rss_kb(root_pid: int) -> dict[str, int]:
    """Resident memory of ``root_pid`` and all its descendants, by command
    name. Pages the forked Python workers share are counted once (the sum
    of PSS)."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we read it
            continue
        name, rest = stat.split(" (", 1)[1].rsplit(")", 1)
        children.setdefault(int(rest.split()[1]), []).append(int(d))
        comm[int(d)] = name
    out: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        out[comm.get(pid, "?")] = out.get(comm.get(pid, "?"), 0) + _pss_kb(pid)
        todo += children.get(pid, [])
    return out


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's session and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["search", "daemon"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--driver-memory", default="3g")
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally below that stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.path.realpath(os.getcwd())
    if not os.path.isfile(os.path.join(root, "ee_outliers_spark", "__init__.py")):
        print("run from the root of the tree: no ee_outliers_spark/ here",
              file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_dir, exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS=args.master.strip("local[]"),
        SPARK_DRIVER_MEM=args.driver_memory,
        SPARK_GRAFT_PRETOUCH="0",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    # -Xms = -Xmx, so G1 does not resize the heap while the run measures;
    # no pre-touch, so only the pages the run uses become resident. The
    # JVM's own temporary files (native codec libraries, perf data) stay
    # in the run directory too.
    env["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-Xms{args.driver_memory} -Djava.io.tmpdir={env['TMPDIR']} "
        "-XX:-UsePerfData")
    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--master", args.master, "--work", work, "--out", result_path]

    cpu0, load0 = _cpu_times(), os.getloadavg()
    peak_kb, peak_split, py_peak_kb = 0, {}, 0
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        deadline = time.monotonic() + TIMEOUT_S
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                by_comm = _tree_rss_kb(proc.pid)
                if sum(by_comm.values()) > peak_kb:
                    peak_kb, peak_split = sum(by_comm.values()), by_comm
                py_peak_kb = max(py_peak_kb, sum(
                    v for k, v in by_comm.items() if k.startswith("python")))
                time.sleep(0.25)
        finally:
            timed_out = proc.poll() is None
            _stop_group(proc)
    cpu1, load1 = _cpu_times(), os.getloadavg()

    if timed_out or proc.returncode != 0 or not os.path.exists(result_path):
        shutil.copy(os.path.join(work, "worker.log"),
                    os.path.join(out_dir, f"{tag}.log"))
        print(f"worker failed (exit {proc.returncode}, timed out: {timed_out}); "
              f"log in .perfbench_out/{tag}.log", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)
    if args.trace:
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(out_dir, f"{tag}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    # /proc/stat cpu fields: user nice system idle iowait irq softirq steal
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d[:8]) or 1
    host = {"loadavg_1m_start": load0[0], "loadavg_1m_end": load1[0],
            "iowait_pct": 100.0 * d[4] / total, "steal_pct": 100.0 * d[7] / total,
            "nproc": os.cpu_count(),
            "peak_rss_mb_by_command": {k: v / 1024.0 for k, v in peak_split.items()}}
    e2e = dict(res["e2e"])
    named = e2e.pop("named")
    e2e["peak_rss_mb"] = peak_kb / 1024.0
    named["python_peak_rss_mb"] = py_peak_kb / 1024.0
    failed = len(res["failures"])
    attempted = res["attempted"]
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump({"e2e": e2e, "named": named, "host": host,
                   "attempted": attempted, "failures": res["failures"],
                   "session_s": res["session_s"], "workload_s": res["workload_s"],
                   "setup_builds_s": res["setup_builds_s"],
                   "layers": res.get("layers"),
                   "trace_record": res.get("trace_record")}, fh, indent=1)

    for f in res["failures"]:
        print(f"FAILED {f}")
    for name, value in named.items():
        print(f"{args.workload} {name} {value:.6g} {NAMED_UNITS[name]}")
    print(f"{args.workload} error_rate {failed / attempted:.6g} ratio "
          f"({failed}/{attempted} ops)")
    print("host " + " ".join(f"{k}={v:.3g}" for k, v in host.items()
                             if not isinstance(v, dict)))
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in res["layers"].items()}
        for k, v in e2e.items():
            print(f"{args.workload} traced {k} {v:.6g} {E2E_UNITS[k]}")
        for k, v in res["trace_record"].items():
            print(f"{args.workload} traced {k} {v:.6g} {TRACE_RECORD_UNITS[k]}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
