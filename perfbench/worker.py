"""The measuring process of one benchmark run (started by run.py).

It starts the pinned Spark session, runs one warm-up iteration (set-up ends
there), then repeats whole iterations of the workload's queries for the
given number of seconds, checking every answer against the oracle outside
the timed region, in a process of its own. With ``--trace 1`` it alternates
untraced and traced iterations and reports per-layer metrics instead of
end-to-end ones. It prints one JSON object as its last line.
"""

import time

T_START = time.perf_counter()  # set-up is timed from interpreter start

import argparse  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

sys.path.insert(0, os.getcwd())  # the checkout's baloo_spark, from source
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

from tracing import NullTracer, Tracer, self_times, vm_hwm_mb  # noqa: E402
from workloads import WORKLOADS, load_oracle  # noqa: E402


def start_session(cfg: dict, work: str):
    """The pinned session; its local dir comes from SPARK_LOCAL_DIRS."""
    from baloo_spark.session import get_session

    s = cfg["session"]
    conf = {"spark.sql.shuffle.partitions": str(s["shuffle_partitions"]),
            "spark.driver.memory": s["driver_memory"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    spark = get_session("perfbench", master=f"local[{s['cores']}]",
                        extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _serve_checks(workload: str, data_dir: str, conn) -> None:
    checks = WORKLOADS[workload].checks(data_dir, load_oracle(data_dir))
    while (msg := conn.recv()) is not None:
        name, got = msg
        try:
            conn.send((True, checks[name](got)))
        except Exception:
            conn.send((False, traceback.format_exc(limit=-2)))


class Checker:
    """The oracle checks, in a process forked before Spark starts, so the
    oracle's data and the checks' work stay out of the driver's RSS.
    Calling it checks one answer: it returns the check's useful-work
    counts or raises on a wrong answer."""

    def __init__(self, workload: str, data_dir: str):
        ctx = multiprocessing.get_context("fork")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve_checks, daemon=True,
                                 args=(workload, data_dir, child))
        self._proc.start()
        child.close()

    def __call__(self, name, got):
        self._conn.send((name, got))
        ok, value = self._conn.recv()
        if not ok:
            raise AssertionError(value)
        return value

    def close(self) -> None:
        self._conn.send(None)
        self._proc.join()


def corrupt(got):
    """A deliberately wrong copy of a query result."""
    import pandas as pd
    if isinstance(got, (pd.DataFrame, pd.Series)):
        got = got.copy()
        if isinstance(got, pd.Series):
            return got * 1.5 + 1
        for c in got.select_dtypes("number").columns:
            got[c] = got[c] * 1.5 + 1
        return got
    if isinstance(got, str):
        return got + ".missing"
    return got * 1.5 + 1


def result_size(got):
    """(rows, bytes) of a query result pulled into Python."""
    import numpy as np
    import pandas as pd
    if isinstance(got, (pd.DataFrame, pd.Series)):
        return len(got), int(np.sum(got.memory_usage(deep=True)))
    return 1, sys.getsizeof(got)


def run_iteration(queries, tr, check, wrong=None):
    it = {"lat": [], "by_query": {}, "failed": [], "useful": defaultdict(int),
          "rows": 0, "bytes": 0}
    for q in queries:
        tr.query = q.name
        t0 = time.perf_counter()
        try:
            with tr.span("query", q.name):
                got = q.run(tr)
            dt = time.perf_counter() - t0
            useful = check(q.name, corrupt(got) if q.name == wrong else got)
        except Exception:  # a failed query or a wrong answer: count, go on
            it["failed"].append(f"{q.name}: {traceback.format_exc(limit=-2)}")
            continue
        it["lat"].append(dt)
        it["by_query"][q.name] = dt
        for k, v in (useful or {}).items():
            it["useful"][f"{q.name}.{k}"] += v
        rows, nbytes = result_size(got)
        it["rows"] += rows
        it["bytes"] += nbytes
    return it


def measure(queries, seconds, check, wrong=None):
    """Whole untraced iterations until ``seconds`` have passed (at least
    one)."""
    iters, t_end = [], time.perf_counter() + seconds
    while not iters or time.perf_counter() < t_end:
        iters.append(run_iteration(queries, NullTracer(), check, wrong))
    return iters


def measure_traced(queries, seconds, check, tracer, after, wrong=None):
    """Rounds of one untraced and one traced iteration until ``seconds``
    have passed (at least one round). The order flips every round, so drift
    over the run (JIT, caches) falls on both kinds alike. Returns the
    untraced and the traced iterations."""
    plain, traced, t_end = [], [], time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        for on in (False, True) if len(traced) % 2 == 0 else (True, False):
            if not on:
                plain.append(run_iteration(queries, NullTracer(), check, wrong))
                continue
            tracer.iteration = len(traced)
            tracer.set_active(True)
            traced.append(run_iteration(queries, tracer, check, wrong))
            after(traced[-1])
            tracer.set_active(False)
    return plain, traced


def rows_per_s(iters, input_rows):
    timed = sum(sum(i["lat"]) for i in iters)
    return input_rows * len(iters) / timed if timed else 0.0


def cpu_ticks() -> list:
    """The host's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def calibrate(spark) -> dict:
    """Host-noise record: load average and a fixed small Spark job."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, numPartitions=4) \
            .selectExpr("sum(hash(id)) AS h").collect()
        times.append(time.perf_counter() - t0)
    return {"loadavg": os.getloadavg(), "calib_s": statistics.median(times)}


def layer_metrics(spans, phases, it, tags, probes, input_bytes, cores,
                  jvm_pid):
    """One traced iteration's per-layer metrics (names as in BENCHMARK.json)."""

    def dur(ss):
        return sum(s["end"]["t"] - s["start"]["t"] for s in ss)

    def delta(ss, k):
        return sum(s["end"][k] - s["start"][k] for s in ss)

    def spark(ss, k):
        return sum(s["spark"].get(k, 0) for s in ss)

    layer = defaultdict(list)
    for s in spans:
        layer[s["layer"]].append(s)
    roots = layer["query"]
    dedup_q = {n for n, t in tags.items() if t == "dedup"}
    wall = dur(roots)
    run_s = spark(spans, "run_ms") / 1e3
    write_bytes = spark(spans, "output_bytes")
    u = it["useful"]
    candidates = probes.get("minhash.candidates", 0)
    self_s = self_times(spans)
    return {
        "core.build_s": dur(layer["core"]),
        "core.build_jobs": spark(layer["core"], "jobs"),
        "core.driver_cpu_s": delta(layer["core"], "cpu"),
        "plans.ordinal_s": dur(layer["plans"]),
        "plans.ordinal_jobs": spark(layer["plans"], "jobs"),
        "operators.dedup_s": dur(layer["operators.dedup"]),
        "operators.text_s": dur(layer["operators.text"]),
        "operators.dedup_shuffle_bytes": spark(
            [s for s in spans if s["query"] in dedup_q], "shuffle_write_bytes"),
        "operators.pair_precision": (u["minhash.pairs_reported"] / candidates
                                     if candidates else 0.0),
        "operators.planted_recall": (u["minhash.planted_found"]
                                     / u["minhash.planted"]
                                     if u["minhash.planted"] else 0.0),
        "functions.pyworker_cpu_s": delta(roots, "pyworker"),
        "io.read_bytes": spark(spans, "input_bytes"),
        "io.write_s": dur([s for s in layer["io"] if s["name"] == "to_parquet"]),
        "io.write_bytes": write_bytes,
        "io.write_bytes_per_input_byte": write_bytes / input_bytes,
        "catalyst.analysis_ms": sum(p.get("analysis", 0) for p in phases),
        "catalyst.optimization_ms": sum(p.get("optimization", 0) for p in phases),
        "catalyst.planning_ms": sum(p.get("planning", 0) for p in phases),
        "codegen.compiles": delta(roots, "compiles"),
        "codegen.compile_ms": delta(roots, "compile_ns") / 1e6,
        "executor.jobs": spark(spans, "jobs"),
        "executor.stages": spark(spans, "stages"),
        "executor.tasks": spark(spans, "tasks"),
        "executor.idle_frac": 1.0 - run_s / (wall * cores),
        "executor.cpu_s": spark(spans, "cpu_ns") / 1e9,
        "executor.run_s": run_s,
        "executor.gc_s": spark(spans, "gc_ms") / 1e3,
        "executor.shuffle_write_bytes": spark(spans, "shuffle_write_bytes"),
        "executor.shuffle_read_bytes": spark(spans, "shuffle_read_bytes"),
        "executor.spill_bytes": spark(spans, "spill_bytes"),
        "driver.result_rows": it["rows"],
        "driver.result_bytes": it["bytes"],
        "driver.task_result_bytes": spark(spans, "result_bytes"),
        "driver.jvm_rss_mb": vm_hwm_mb(jvm_pid),
        "bench.self_s": self_s["query"],
        "core.self_s": self_s["core"],
        "plans.self_s": self_s["plans"],
        "operators.self_s": self_s["operators.dedup"] + self_s["operators.text"],
        "functions.self_s": self_s["functions"],
        "io.self_s": self_s["io"],
        "driver.self_s": self_s["driver"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--config", required=True)
    ap.add_argument("--input", required=True, help="JSON: input_rows, input_bytes")
    ap.add_argument("--wrong", default=None,
                    help="corrupt this query's answer before checking it")
    args = ap.parse_args()
    with open(args.config) as f:
        cfg = json.load(f)
    inp = json.loads(args.input)

    check = Checker(args.workload, args.data)
    spark = start_session(cfg, args.work)
    queries = WORKLOADS[args.workload].queries(args.data, inp)
    warm = run_iteration(queries, NullTracer(), check, args.wrong)
    setup_s = time.perf_counter() - T_START
    noise = {"before": calibrate(spark)}
    ticks = cpu_ticks()

    out = {"setup_s": setup_s, "warmup_failed": warm["failed"],
           "warmup_s": warm["by_query"]}
    if not args.trace:
        iters = measure(queries, args.seconds, check, args.wrong)
    else:
        probes = {f"{q.name}.{k}": v for q in queries if q.probe
                  for k, v in q.probe().items()}
        tracer = Tracer(spark)
        tags = {q.name: q.tag for q in queries}
        per_iter = []

        def after(it):
            spans = [s for s in tracer.spans if s["iteration"] == tracer.iteration]
            tracer.collect_jobs(spans)
            per_iter.append(layer_metrics(
                spans, tracer.take_phases(), it, tags, probes,
                inp["input_bytes"], cfg["session"]["cores"], tracer.jvm_pid))

        untraced, iters = measure_traced(queries, args.seconds, check, tracer,
                                         after, args.wrong)
        layers = {k: statistics.median(m[k] for m in per_iter)
                  for k in per_iter[0]}
        traced_rps = rows_per_s(iters, inp["input_rows"])
        untraced_rps = rows_per_s(untraced, inp["input_rows"])
        layers.update({"trace.rows_per_s": traced_rps,
                       "trace.untraced_rows_per_s": untraced_rps,
                       "trace.overhead_frac": (1.0 - traced_rps / untraced_rps
                                               if untraced_rps else 0.0)})
        out["layers"] = layers
        tracer.dump(os.path.join(args.work, "spans.json"))
        iters = untraced + iters
    ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
    noise["steal_frac"] = ticks[7] / sum(ticks)  # CPU taken by other guests
    noise["after"] = calibrate(spark)

    lat = [x for i in iters for x in i["lat"]]
    out.update({
        "iterations": len(iters),
        "latencies": lat,
        "query_s": {q.name: statistics.median(i["by_query"][q.name]
                                              for i in iters)
                    for q in queries
                    if all(q.name in i["by_query"] for i in iters)},
        "attempted": len(queries) * len(iters),
        "failed": [f for i in iters for f in i["failed"]],
        "rows_per_s": rows_per_s(iters, inp["input_rows"]),
        "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "noise": noise,
    })
    check.close()
    print(json.dumps(out), flush=True)
    # no graceful spark.stop(): run.py kills the JVM and Spark's Python
    # workers with this process group, which is faster and as final
    os._exit(0)


if __name__ == "__main__":
    main()
