"""One benchmark session: a fresh interpreter, JVM and SparkSession.

``run.py`` starts this script once per session and reads back the JSON
it writes to ``--out``.  Roles:

- ``setup``: set up (``get_spark`` plus the input warm-up) and stop;
- ``main``: set up, run one cold execution, then warm executions back to
  back for ``--seconds``; with ``--trace 1`` follow with one traced pass.

Set-up time runs from ``--t0``, the parent's monotonic clock reading
just before it started this process, to the end of the input warm-up.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def run_one(wl) -> dict:
    """One timed execution; the check and digest run after the clock stops."""
    t = time.monotonic()
    try:
        out = wl.execute()
    except Exception:  # an execution that raises counts as failed
        traceback.print_exc()
        return {"s": None, "problems": ["raised"], "digest": None}
    s = time.monotonic() - t
    return {"s": s, "problems": wl.check(out), "digest": wl.digest(out)}


def measure(wl, seconds: float) -> dict:
    cold = run_one(wl)
    warm = []
    start = time.monotonic()
    while not warm or time.monotonic() - start < seconds:
        warm.append(run_one(wl))
    return {"cold": cold, "warm": warm}


def traced(wl, spark, workload: str, log_path: str, warm: list) -> dict:
    import spans

    tracer = spans.Tracer(spark, workload)
    try:
        out, counts = wl.traced(tracer)
        problems, digest = wl.check(out), wl.digest(out)
    except Exception:
        traceback.print_exc()
        return {"problems": ["traced pass raised"], "digest": None, "metrics": {}, "spans": []}
    metrics, records = tracer.report()
    metrics.update(dict.fromkeys(spans.COUNTS, 0), **counts)
    metrics["features.codegen_fallbacks"] = spans.count_log_lines(log_path, spans.CODEGEN_FALLBACK_MARKERS)
    execution = sum(r["end"] - r["start"] for r in records if r["name"] == "execution")
    warm_s = [w["s"] for w in warm if w["s"] is not None]
    metrics["trace.overhead_s"] = execution - statistics.median(warm_s) if warm_s else 0.0
    return {"problems": problems, "digest": digest, "metrics": metrics, "spans": records}


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--role", choices=["setup", "main"], required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import workloads
    from vtb_datafusion_2023_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        wl = workloads.WORKLOADS[args.workload](spark, args.fixture, args.scratch)
        wl.warm_up()
        result = {"setup_s": time.monotonic() - args.t0}
        if args.role == "main":
            wl.load_reference()
            result["rows"] = wl.rows
            result.update(measure(wl, args.seconds))
            if args.trace:
                result["traced"] = traced(wl, spark, args.workload, args.log, result["warm"])
    finally:
        stop(spark)
    with open(args.out + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(args.out + ".tmp", args.out)


if __name__ == "__main__":
    main()
