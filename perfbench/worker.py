"""One benchmark run, in a fresh process started by ``run.py``.

Starts the Spark session, checks that driver and executors run the
package of the tree under test, runs one workload and writes its result
(and, when traced, its spans) as JSON into the run's work directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def package_digest(_=None) -> tuple[str, str]:
    """(location, sha256 over every module's source) of the
    ``ee_outliers_spark`` this interpreter imports. Runs on the driver and,
    through a Spark job, inside the executors' Python workers."""
    import hashlib
    import importlib.util
    import pkgutil

    import ee_outliers_spark as pkg

    names = [pkg.__name__] + sorted(
        m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."))
    h = hashlib.sha256()
    for name in names:
        spec = importlib.util.find_spec(name)
        h.update(name.encode() + b"\0")
        h.update((spec.loader.get_source(name) or "").encode())
    return pkg.__file__, h.hexdigest()


class Context:
    def __init__(self, spark, args) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = args.work
        self.tracer = Tracer(spark, bool(args.trace))
        self.attempted = 0
        self.failures: list[str] = []
        self.live_segments = 0
        self.setup_builds_s: list[float] = []
        self.write_amp = 1.0

    def check(self, label: str, fn) -> None:
        """Run one op and its check; an exception or a mismatch fails it."""
        self.attempted += 1
        try:
            errs = fn()
        except Exception:  # an engine error is a failed op, not a crash
            errs = [traceback.format_exc(limit=3)]
        if errs:
            self.failures.append(f"{label}: {'; '.join(errs)[:500]}")


def check_isolation(spark, root: str, work: str) -> None:
    """The driver and every executor import ``ee_outliers_spark`` from the
    tree under test (or from the copy of it this run zipped into its own
    TMPDIR), with identical sources."""
    where, digest = package_digest()
    if not os.path.realpath(where).startswith(root + os.sep):
        raise SystemExit(f"driver imports ee_outliers_spark from {where}")
    n = spark.sparkContext.defaultParallelism
    seen = spark.sparkContext.parallelize(range(n), n).map(package_digest).collect()
    for loc, dig in seen:
        real = os.path.realpath(loc.split(".zip", 1)[0])
        if not (real.startswith(root + os.sep) and dig == digest):
            raise SystemExit(f"executor imports ee_outliers_spark from {loc}")
        if ".zip" in loc and not real.startswith(work + os.sep):
            raise SystemExit(f"executor zip {loc} is not this run's")


def _median(spans, field="wall_ms", scale=1.0) -> float:
    vals = [s[field] for s in spans]
    return statistics.median(vals) * scale if vals else 0.0


def _sum(spans, field, scale=1.0) -> float:
    return sum(s.get(field, 0) for s in spans) * scale


def trace_record(ctx: Context) -> dict[str, float]:
    """Traced figures with no better direction, printed and kept in the
    run record but not reported as per-layer metrics: rows the use cases
    upserted (fewer outliers found is not a gain) and the median time to
    read one span's jobs back from the status store (the harness's cost)."""
    tr = ctx.tracer
    return {"sources.results.upserted_rows": _sum(tr.measured(), "upserted_rows"),
            "trace.readback_ms": _median([s for s in tr.spans if "readback_ms" in s],
                                         "readback_ms")}


def layer_metrics(ctx: Context) -> dict[str, float]:
    """Per-layer values from the measured phase's spans (0 where the
    workload does not reach the layer)."""
    tr = ctx.tracer
    m = {}
    for name in ("wand_or", "wand_and", "phrase", "qs_topk", "search_topk"):
        m[f"index.query.{name}_ms"] = _median(tr.measured(f"index.query.{name}"))
    m["index.filter.count_ms"] = _median(tr.measured("index.filter.count"))
    m["index.filter.filter_ms"] = _median(tr.measured("index.filter.filter"))
    m["queryparser.parse_ms"] = _median(tr.measured("queryparser.parse"))

    # an op is a call that ran in its own job group; spans that enclose
    # other spans (a tick) or run no Spark job (a parse) open none
    ops = [s for s in tr.measured() if "jobs" in s]
    n = max(1, len(ops))
    for f in ("jobs", "stages", "tasks"):
        m[f"spark.{f}_per_op"] = _sum(ops, f) / n
    # means, not medians: a median over unlike calls jumps when another
    # call type becomes the middle one; job_ms + driver_gap_ms is the mean
    # op wall time
    m["spark.job_ms"] = _sum(ops, "job_ms") / n
    m["spark.driver_gap_ms"] = _sum(ops, "driver_gap_ms") / n
    # per op too, so a faster engine that fits more ops into a run does
    # not read as more work
    m["spark.executor_run_s"] = _sum(ops, "executor_run_ms", 1e-3) / n
    m["spark.executor_cpu_s"] = _sum(ops, "executor_cpu_ms", 1e-3) / n
    m["spark.cpu_util"] = (m["spark.executor_cpu_s"] / m["spark.executor_run_s"]
                           if m["spark.executor_run_s"] else 0.0)
    m["spark.gc_s"] = _sum(ops, "gc_ms", 1e-3) / n
    for f in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "failed_tasks"):
        m[f"spark.{f}"] = _sum(ops, f) / n

    builds = [s for s in tr.spans if s["name"] == "index.build"
              and s["phase"] in ("setup", "measure")]
    m["index.build.build_s"] = _median(builds, scale=1e-3)
    m["index.build.segments"] = builds[-1]["segments"] if builds else 0
    m["streaming.daemon.append_ms"] = _median(tr.measured("streaming.daemon.append"))
    compacts = tr.measured("index.merge.compact")
    ticks = max(1, len(tr.measured("config.tick")))
    m["index.merge.compact_ms"] = _median(compacts)
    m["index.merge.merges"] = _sum(compacts, "merges") / ticks
    m["index.merge.bytes_rewritten"] = _sum(compacts, "bytes_rewritten") / ticks
    m["index.live_segments"] = ctx.live_segments
    m["index.write_amp"] = ctx.write_amp

    for fam in ("terms_within", "terms_across", "metrics", "sudden_appearance",
                "simplequery", "word2vec"):
        m[f"operators.{fam}_s"] = _sum(tr.measured(f"operators.{fam}"),
                                       "wall_ms", 1e-3) / ticks
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--master", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    root = os.path.realpath(os.getcwd())
    t0 = time.perf_counter()

    from ee_outliers_spark import ensure_py_files
    from ee_outliers_spark.session import get_spark

    cores = int(args.master.strip("local[]"))
    spark = get_spark("perfbench", master=args.master, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)
    check_isolation(spark, root, os.path.realpath(args.work))

    t1 = time.perf_counter()
    ctx = Context(spark, args)
    e2e = workloads.WORKLOADS[args.workload](ctx)
    result = {"e2e": e2e, "attempted": ctx.attempted,
              "failures": ctx.failures, "setup_builds_s": ctx.setup_builds_s,
              "session_s": t1 - t0, "workload_s": time.perf_counter() - t1}
    if args.trace:
        result["layers"] = layer_metrics(ctx)
        result["trace_record"] = trace_record(ctx)
        ctx.tracer.write_jsonl(os.path.join(args.work, "trace.jsonl"))
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
