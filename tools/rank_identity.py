#!/usr/bin/env python3
"""Check BM25 rank identity across build parallelism, under a work dir.

Usage: python3 tools/rank_identity.py WORK_DIR

Runs, in the repository that holds this script,
`sbt --batch "runMain graft.Bench WORK_DIR/bench"` with SPARK_GRAFT_CPUS=4,
SPARK_GRAFT_BENCH_CONVS=1000, SPARK_GRAFT_BENCH_SKIP_CATALOG=1 and
SPARK_GRAFT_BENCH_AB=0. Bench then builds one synthetic corpus of 1,000
conversations at 1, 2 and 4 cores and answers its 20 reference queries
(`Bench.referenceQueries`, k = 10) from the 4-core and the 1-core index; a
query matches when both return the same doc_ids with bit-identical scores.
Bench writes its inputs, indexes and Spark local dirs under its root
argument, and the JVM's `java.io.tmpdir` (through SPARK_GRAFT_JAVA_OPTS) and
SPARK_LOCAL_DIRS point under WORK_DIR as well, so the run writes only there.

Prints `N/M` from Bench's rank_identity_queries_matched and
rank_identity_queries_total. Exits 0 when every query matches, 1 otherwise.
"""
import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("work_dir")
    work_dir = os.path.abspath(ap.parse_args().work_dir)
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_JAVA_OPTS"] = " ".join(
        filter(None, [env.get("SPARK_GRAFT_JAVA_OPTS", ""), f"-Djava.io.tmpdir={tmp}"]))
    env.update(SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_BENCH_CONVS="1000",
               SPARK_GRAFT_BENCH_SKIP_CATALOG="1", SPARK_GRAFT_BENCH_AB="0")
    bench = os.path.join(work_dir, "bench")
    out = subprocess.run(["sbt", "--batch", f"runMain graft.Bench {bench}"], env=env,
                         cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout
    # sbt may prefix the forked JVM's lines with a log level
    mark = '{"metric":"total"'
    line = [l[l.index(mark):] for l in out.splitlines() if mark in l][-1]
    queries = json.loads(line)["queries"]
    matched = int(queries["rank_identity_queries_matched"])
    total = int(queries["rank_identity_queries_total"])
    print(f"{matched}/{total}")
    sys.exit(0 if matched == total else 1)


if __name__ == "__main__":
    main()
