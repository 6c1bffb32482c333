#!/usr/bin/env python3
"""Self-tests of the benchmark harness. Run from the repository root:

    python3 perfbench/selftest.py

Checks that
  1. BENCHMARK.json keeps to the benchmark file contract (keys, counts,
     name and unit rules, bounds);
  2. the same seed yields the same corpus and query stream, and another
     seed different ones;
  3. every metric a run prints is named in BENCHMARK.json, for both
     workloads in both modes (run.py refuses a result whose metric set
     differs, so a passing run proves it);
  4. an injected failing operation raises the failed count.
Steps 3 and 4 run the benchmark four times and take a few minutes.
"""

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (the harness's own launcher: paths, JVM flags)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)
    print(f"ok: {msg}")


def benchmark_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    check(set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
          "BENCHMARK.json has exactly the contract's keys")
    check(1 <= len(b["paths"]) <= 16 and all(PATH.match(p) and ".." not in p for p in b["paths"]),
          "paths are 1-16 relative directories")
    check(len(b["command"]) <= 32 and all(len(x) <= 200 for x in b["command"]), "command size")
    check(isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60, "run_seconds in 1..60")
    check(2 <= len(b["workloads"]) <= 8 and all(
        set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        for w in b["workloads"]), "2-8 workloads, each a name and a one-line why")
    check(1 <= len(b["end_to_end"]) <= 16 and all(
        set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        for m in b["end_to_end"]), "end_to_end metrics carry a bound of at most 0.25")
    check(any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
              for m in b["end_to_end"]), "setup_s is an end_to_end metric")
    check(1 <= len(b["per_layer"]) <= 128 and all(
        set(m) == {"name", "unit", "better"} for m in b["per_layer"]), "per_layer metrics")
    names = [x["name"] for x in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    check(all(NAME.match(n) for n in names) and len(names) == len(set(names)),
          "names follow the naming rule and are unique")
    check(all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
              for m in b["end_to_end"] + b["per_layer"]), "units and directions")
    return b


def seeded_inputs():
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{run.JAR}:{run.spark_jars()}/*",
                          "perfbench.InputsCheck", "7", "7", "8"],
                         cwd=ROOT, capture_output=True, text=True, check=True).stdout
    a, b, c = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    keys = ["search_corpus", "search_stream", "ingest_corpus", "ingest_stream"]
    check(all(a[k] == b[k] for k in keys), "the same seed gives the same corpus and query stream")
    check(all(a[k] != c[k] for k in keys), "another seed gives another corpus and query stream")


def bench(workload, trace, inject=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    if inject:
        cmd.append("--inject-failure")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    check(p.returncode == 0, f"{workload} trace={trace} run exits 0 with its metric set "
                             f"matching BENCHMARK.json")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    b = benchmark_file()
    for w in [x["name"] for x in b["workloads"]]:
        r = bench(w, 0, inject=True)
        check(r["failed"] >= 1 and not r["correct"], f"{w}: an injected failure is counted")
        r = bench(w, 1)
        check(r["failed"] == 0 and r["correct"], f"{w}: traced run is correct")
    seeded_inputs()


if __name__ == "__main__":
    main()
