"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload timeseries_ordered --seed 1 \
        --seconds 12 --trace 0

It generates the workload's inputs and oracle answers from ``--seed`` under
``.perfbench/`` in the current directory, runs the measuring process
(worker.py) on a pinned local Spark session, and prints the run's record on
one line followed by the result as the last line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
per-layer metrics. It exits non-zero when the directory holds no baloo_spark
package to measure.
"""

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DEADLINE_S = 170  # the whole run, set-up and generation included
PR_SET_CHILD_SUBREAPER = 36
# A run times 2-3 iterations of 3-4 queries, too few for any percentile
# above the median to have ten samples beyond it; p90 tracks the slowest
# query kind of the mix.
TAIL_PCT = 90


def tail(latencies, pct):
    """The ``pct`` percentile of the latencies and how many lie beyond it."""
    if len(latencies) < 2:
        return (latencies[0] if latencies else 0.0), 0
    value = statistics.quantiles(latencies, n=100, method="inclusive")[pct - 1]
    return value, sum(x > value for x in latencies)


def stop_session(proc) -> None:
    """Kill every process left in the worker's session (the JVM, Spark's
    Python daemon, which runs in a process group of its own, and its
    workers), then reap the worker and every process orphaned to this one,
    waiting until each has exited."""
    sid = proc.pid
    for _ in range(200):
        alive = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    zombie = f.read().rsplit(")", 1)[1].split()[0] == "Z"
                if not zombie and os.getsid(int(pid)) == sid:
                    alive.append(int(pid))
            except OSError:
                pass
        if not alive:
            break
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    proc.wait()
    # a killed JVM reads as a zombie while its other threads still exit;
    # it and its orphans are reapable only once they have
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                time.sleep(0.05)
        except ChildProcessError:
            return


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size in config.json")
    ap.add_argument("--wrong", default=None,
                    help="corrupt this query's answer (checks the checker)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "baloo_spark", "__init__.py")):
        print("perfbench: no baloo_spark package in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cfg_path = os.path.join(HERE, "config.json")
    with open(cfg_path) as f:
        cfg = json.load(f)
    size = cfg["sizes"][args.workload][args.size]

    from workloads import WORKLOADS

    work = os.path.join(root, ".perfbench", args.workload)
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(data)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    inp = WORKLOADS[args.workload].generate(args.seed, size, data)
    gen_s = time.perf_counter() - t0

    # every JVM (Spark's launcher too) keeps its temp files in the work
    # directory and writes no perf-data file to /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env = dict(os.environ, TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} "
                                 f"{java_opts}".strip(),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--data", data, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--config", cfg_path, "--input", json.dumps(inp)]
    if args.wrong:
        cmd += ["--wrong", args.wrong]
    # the worker's orphans (the JVM and its launcher) become this process's
    # children, so stop_session can reap them
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(
            timeout=DEADLINE_S - (time.perf_counter() - t_start))
    except subprocess.TimeoutExpired:
        print("perfbench: the run did not finish in time", file=sys.stderr)
        return 3
    finally:
        stop_session(proc)
    shutil.rmtree(data, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 4
    res = json.loads(lines[-1])

    lat = res["latencies"]
    tail_s, beyond = tail(lat, TAIL_PCT)
    values = {
        "setup_s": res["setup_s"],
        "rows_per_s": res["rows_per_s"],
        "query_p50_s": statistics.median(lat) if lat else 0.0,
        "query_tail_s": tail_s,
        "driver_rss_mb": res["driver_rss_mb"],
    }
    spec = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = res["layers"] if args.trace else values
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in spec}
    failed = len(res["failed"])
    record = {
        "workload": args.workload, "seed": args.seed, "size": size,
        "input": inp, "generate_s": gen_s, "iterations": res["iterations"],
        "queries": len(lat), "tail_percentile": TAIL_PCT, "beyond_tail": beyond,
        "warmup_query_s": res["warmup_s"], "median_query_s": res["query_s"],
        "failed_frac": failed / res["attempted"],
        "failures": (res["warmup_failed"] + res["failed"])[:10],
        "host_noise": res["noise"], "session": cfg["session"],
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not res["failed"] and not res["warmup_failed"],
        "attempted": res["attempted"], "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
