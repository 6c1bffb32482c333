#!/usr/bin/env python3
"""Runs one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <search|ingest> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
program's sources together with the harness (sbt, offline) into
.bench_build/ and records a class-data-sharing archive of the classes
an unmeasured `search` run loads; every measured run maps it.
Both are reused while the sources are unchanged.
Every run starts a new JVM on fresh index roots under .bench_build/runs/,
which are removed when it ends.

Prints a provenance line, then, as the last line, one JSON object with
the keys correct, attempted, failed and metrics. Exits non-zero, without
a result line, if the program's sources are missing, the build fails or
the run does not complete.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "sbt", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
CDS = os.path.join(OUT, "perfbench.jsa")
STAMP = os.path.join(OUT, "perfbench.stamp")
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """$SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home


def spark_jars():
    return os.path.join(spark_home(), "jars")


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_files():
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, f) for f in ("build.sbt", "log4j2.properties")]
    files.append(os.path.join(HERE, "project", "build.properties"))
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def java_cmd(jvm, args, run_dir):
    """The JVM command line; the JVM keeps its temporary files in run_dir."""
    cp = f"{JAR}:{spark_jars()}/*"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + opens + jvm + ["-cp", cp, "perfbench.Main"] + args)


def build(stamp):
    """Compiles program + harness, then records the class archive.

    Class loading from ~300 jars dominates JVM start: mapping an archive
    of the loaded classes takes about 10 s off every run. It is recorded
    here, by an unmeasured `search` run (whose classes cover nearly all an
    `ingest` run loads), so every measured run starts its JVM the same way.
    """
    log("building the program and the harness (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env["SPARK_HOME"] = spark_home()
    code, _ = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env,
                        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(JAR):
        log(f"build failed (sbt exit {code})")
        sys.exit(3)
    for f in (CDS, STAMP):
        if os.path.exists(f):
            os.remove(f)
    log("recording the class archive (an unmeasured search run)")
    run_dir = os.path.join(OUT, "runs", f"archive-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    args = ["--workload", "search", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--dir", run_dir, "--nproc", str(nproc())]
    try:
        code, _ = run_group(java_cmd([f"-XX:ArchiveClassesAtExit={CDS}"], args, run_dir),
                            BUILD_TIMEOUT_S, cwd=ROOT, stdout=subprocess.DEVNULL,
                            stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(CDS):
        log(f"recording the class archive failed (exit {code})")
        sys.exit(3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def provenance(seed):
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    commit = dirty = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                    capture_output=True, text=True).stdout.strip()
            dirty = bool(subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                                        capture_output=True, text=True).stdout.strip())
        except OSError:
            pass
    return {"mem_total_kb": mem_kb, "git_commit": commit, "git_dirty": dirty,
            "source_sha256": source_hash(), "seed": seed}


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="self-test only: corrupt one answer")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        log(f"program sources not found under {PROGRAM_SRC}")
        sys.exit(2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        log("java and sbt are required")
        sys.exit(2)
    if not spark_home() or not os.path.isdir(spark_jars()):
        log("no Spark installation found (set SPARK_HOME)")
        sys.exit(2)
    os.makedirs(OUT, exist_ok=True)
    stamp = source_hash()
    current = open(STAMP).read() if os.path.exists(STAMP) else ""
    if current != stamp or not os.path.exists(JAR) or not os.path.exists(CDS):
        build(stamp)

    run_dir = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", run_dir, "--nproc", str(nproc())]
    if a.inject_failure:
        args.append("--inject-failure")
    try:
        code, out = run_group(java_cmd([f"-XX:SharedArchiveFile={CDS}"], args, run_dir),
                              RUN_TIMEOUT_S, cwd=ROOT,
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    info = result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_INFO "):
            info = json.loads(line[len("PERFBENCH_INFO "):])
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if code != 0 or result is None:
        log(f"run failed (exit {code})")
        sys.exit(5)
    names = expected_metrics(a.trace)
    got = result["metrics"]
    bad = [n for n in got if n not in names or not NAME_RE.match(n)]
    missing = [n for n in names if n not in got]
    if bad or missing:
        log(f"metrics do not match BENCHMARK.json: unexpected {bad}, missing {missing}")
        sys.exit(6)
    info.update(provenance(a.seed))
    print(json.dumps({"provenance": info}))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
