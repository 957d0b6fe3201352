"""The repository benchmark: one workload, one seed, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload score_cli --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a
separate traced session and prints the per-layer metrics instead.  The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

and the line before it holds annotations that are not gated (input
size, execution count, failed fraction, host steal seconds, driver-log
ERROR lines).  Each session runs in its own process with its own JVM at
``local[nproc]``; all scratch, logs, fixtures and traces stay under
``perfbench/.work``.  See perfbench/README.md.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "vtb_datafusion_2023_spark"

# Input size per workload (see inputs.py); the smoke test uses "tiny".
SIZES = {"score_cli": "s50", "submission_sf01": "full", "dedup_minhash": "s10"}
# Fresh sessions per untraced run: each measures set-up, the last one
# also runs the executions.
SESSIONS = 2
DRIVER_MEM = "2g"
SESSION_TIMEOUT_S = 170

# Unit of each per-layer quantity, keyed by the metric name's last part.
UNITS = {
    "self_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "rows_scored": "count",
    "candidates": "count",
    "pairs": "count",
    "useful_ratio": "ratio",
    "codegen_fallbacks": "count",
    "overhead_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (a session leader and everything
    it started: the JVM and its Python workers)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


def session_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
        # the driver heap is committed and touched up front, so the JVM's
        # share of peak_rss_mb does not depend on when G1 grew the heap
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" pyspark-shell',
        PYTHONPATH=ROOT,
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def run_session(args, role: str, fixture: str, run_dir: str, log_path: str, index: int):
    """Run one session process; returns (result dict, peak RSS in MB)."""
    out = os.path.join(run_dir, f"session{index}.json")
    with open(log_path, "ab") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "child.py"),
                "--workload", args.workload,
                "--fixture", fixture,
                "--scratch", run_dir,
                "--role", role,
                "--seconds", str(args.seconds),
                "--trace", str(args.trace),
                "--t0", repr(t0),
                "--log", log_path,
                "--out", out,
            ],
            stdout=log,
            stderr=log,
            env=session_env(run_dir),
            cwd=run_dir,
            start_new_session=True,
        )
    peak, pids, listed = 0.0, [], 0.0
    try:
        while proc.poll() is None:
            if time.monotonic() - listed > 1.0:  # listing /proc costs more than reading RSS
                pids, listed = session_pids(proc.pid), time.monotonic()
            peak = max(peak, rss_mb(pids))
            if time.monotonic() - t0 > SESSION_TIMEOUT_S:
                raise TimeoutError(f"{role} session exceeded {SESSION_TIMEOUT_S} s")
            time.sleep(0.1)
    finally:
        reap(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"{role} session exited with {proc.returncode}; see {log_path}")
    with open(out) as f:
        return json.load(f), peak


def reap(proc) -> None:
    """Kill whatever is left of the session and wait until it is gone."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.monotonic() + 30
    while session_pids(proc.pid):
        if time.monotonic() > deadline:
            for pid in session_pids(proc.pid):
                os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def summarize(workload: str, sessions: list[dict], peak: float, trace: int):
    main = sessions[-1]
    executions = [main["cold"]] + main["warm"]
    reference = next((e["digest"] for e in executions if e["digest"]), None)
    failed = sum(1 for e in executions if e["problems"] or e["digest"] != reference)
    problems = [p for e in executions for p in e["problems"]]
    annotations = {
        "workload": workload,
        "input_rows": main["rows"],
        "executions": len(executions),
        "failed_frac": failed / len(executions),
        "digest": reference,
        "problems": problems[:5],
    }
    if trace:
        tr = main["traced"]
        attempted = len(executions) + 1
        if tr["problems"] or tr["digest"] != reference:
            failed += 1
            annotations["problems"] += tr["problems"] or ["traced digest differs"]
        annotations["failed_frac"] = failed / attempted
        return failed, attempted, tr["metrics"], annotations
    warm_s = statistics.median(e["s"] for e in main["warm"] if e["s"] is not None)
    metrics = {
        "setup_s": (statistics.median(s["setup_s"] for s in sessions), "s"),
        "cold_s": (main["cold"]["s"], "s"),
        "warm_s": (warm_s, "s"),
        "rows_per_s": (main["rows"] / warm_s, "1/s"),
        "peak_rss_mb": (peak, "MB"),
    }
    annotations["warm_executions_s"] = [e["s"] for e in main["warm"]]
    annotations["setups_s"] = [s["setup_s"] for s in sessions]
    return failed, len(executions), metrics, annotations


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default=None, help="input size name (default: the workload's)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ — run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import inputs
    import spans

    steal0 = steal_seconds()
    size = args.size or SIZES[args.workload]
    fixture = inputs.prepare(args.workload, args.seed, size, os.path.join(WORK, "fixtures"), ROOT)
    tag = f"{args.workload}-{size}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    if os.path.exists(log_path):
        os.remove(log_path)

    roles = ["main"] if args.trace else ["setup"] * (SESSIONS - 1) + ["main"]
    sessions, peak = [], 0.0
    try:
        for i, role in enumerate(roles):
            res, peak = run_session(args, role, fixture, run_dir, log_path, i)
            sessions.append(res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed, attempted, metrics, annotations = summarize(args.workload, sessions, peak, args.trace)
    annotations["steal_s"] = steal_seconds() - steal0
    annotations["error_lines"] = spans.count_log_lines(log_path, (" ERROR ",))
    annotations["driver_log"] = os.path.relpath(log_path, ROOT)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{tag}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": sessions[-1]["traced"]["spans"], "metrics": metrics}, f, indent=1)
        annotations["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = {k: (v, UNITS[k.rsplit(".", 1)[1]]) for k, v in metrics.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"annotations": annotations}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
