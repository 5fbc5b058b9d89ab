"""The benchmark's own checks, on tiny inputs. Run from the repository root:

    python3 perfbench/selfcheck.py

1. An untraced and a traced run of each workload (reference_pipeline too,
   which is outside BENCHMARK.json's list only for the run budget) print
   every end-to-end and every per-layer metric of BENCHMARK.json with its
   unit, and every answer is correct.
2. A deliberately wrong answer is counted as failed.
3. The workloads separate the layers: traced, ``plans.ordinal_jobs`` reads
   more than 0 on timeseries_ordered and 0 on the other two, and
   ``io.write_bytes`` reads more than 0 on text_dedup and 0 on the others.

Exits non-zero if any check fails.
"""

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workloads import WORKLOADS  # noqa: E402

with open("BENCHMARK.json") as f:
    BENCH = json.load(f)


def run(workload, trace, wrong=None):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"] + (["--wrong", wrong] if wrong else [])
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n"
                             f"{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    failures = []

    def check(ok, what):
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    traced = {}
    for w in WORKLOADS:
        for trace, spec in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
            res = run(w, trace)
            got = res["metrics"]
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{w} trace={trace}: every answer correct")
            check(set(got) == {m["name"] for m in spec}
                  and all(got[m["name"]]["unit"] == m["unit"]
                          and isinstance(got[m["name"]]["value"], (int, float))
                          for m in spec),
                  f"{w} trace={trace}: all {len(spec)} metrics with units")
            if trace:
                traced[w] = {k: v["value"] for k, v in got.items()}

    res = run("reference_pipeline", 0, wrong="filter")
    check(not res["correct"] and res["failed"] >= 1,
          f"a wrong answer counts as failed ({res['failed']}/{res['attempted']})")

    for w, m in traced.items():
        ordinal, written = m["plans.ordinal_jobs"], m["io.write_bytes"]
        check((ordinal > 0) == (w == "timeseries_ordered"),
              f"{w}: plans.ordinal_jobs = {ordinal}")
        check((written > 0) == (w == "text_dedup"),
              f"{w}: io.write_bytes = {written}")
    print("selfcheck:", "FAILED" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
