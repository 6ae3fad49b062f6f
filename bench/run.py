#!/usr/bin/env python3
"""Benchmark for the graft engine.

Run from the repository root:

    python3 bench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

It compiles the working tree's engine (src/main) together with the
benchmark sources under bench/ (sbt, offline), generates the input
tables once, runs one workload in a fresh JVM and prints, as its last
stdout line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Everything it builds or writes goes under .bench_build/ in
the current directory; the full record of each run, and with --trace 1
its spans, are kept in .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("olap", "iterative", "skew_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
SCALES = {"data": 0.1, "tiny": 0.001}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """sha256 over the contents of every file under `paths`, in path order."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for d, _, names in os.walk(p):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def engine_sources():
    return [os.path.join(ROOT, "src", "main")]


def bench_sources():
    return [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src")]


def read(path):
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    stamp = tree_hash(engine_sources() + bench_sources())
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if read(stamp_file) == stamp and read(cp_file):
        return read(cp_file)
    if not shutil.which("sbt"):
        raise BenchError("sbt is not on PATH")
    log("compiling engine and benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Djna.tmpdir={tmp}", f"-Dsbt.ipcsocket.tmpdir={tmp}", f"-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def java_cmd(classpath, args, cores):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = [java, *opens, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "graftbench.Main", *args]
    return cmd, env


def run_java(classpath, args, cores, timeout):
    cmd, env = java_cmd(classpath, args, cores)
    work = os.path.join(BUILD, "work")
    os.makedirs(work, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError(f"JVM did not finish within {timeout} s")
    if proc.returncode != 0:
        raise BenchError(f"JVM exited with code {proc.returncode}")
    return out


def ensure_data(classpath, cores):
    """Generate the input tables once per generator version."""
    version = tree_hash([os.path.join(HERE, "src", "main", "scala", "graftbench", "DataGen.scala")])
    dirs = {}
    for name, sf in SCALES.items():
        d = os.path.join(BUILD, "data", f"sf{sf}")
        marker = os.path.join(d, ".complete")
        if read(marker) != version:
            log(f"generating tables at sf {sf}")
            shutil.rmtree(d, ignore_errors=True)
            run_java(classpath, ["generate", "--data", d, "--sf", str(sf)], cores, BUILD_TIMEOUT_S)
            with open(marker, "w") as fh:
                fh.write(version)
        dirs[name] = d
    return dirs


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def validate(record, spec, traced):
    names = [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    metrics = record.get("metrics", {})
    missing = [n for n in names if n not in metrics]
    if missing:
        raise BenchError(f"metrics missing from the record: {missing}")
    for n in names:
        v = metrics[n].get("value")
        if not isinstance(v, (int, float)) or v != v or v in (float("inf"), float("-inf")):
            raise BenchError(f"metric {n} is not a finite number: {v}")
        if not traced and v == 0:
            raise BenchError(f"end-to-end metric {n} is 0")
    if not isinstance(record.get("attempted"), int) or record["attempted"] < 1:
        raise BenchError("no operation was attempted")
    return {
        "correct": bool(record["correct"]) and record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in names},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--record-digests", help="write observed digests here instead of checking")
    a = ap.parse_args()
    try:
        if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
            raise BenchError("engine sources (src/main/scala) not found; run from the repo root")
        spec_path = os.path.join(ROOT, "BENCHMARK.json")
        with open(spec_path) as fh:
            spec = json.load(fh)
        if not os.environ.get("SPARK_HOME"):
            raise BenchError("SPARK_HOME is not set")
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        cores = len(os.sched_getaffinity(0))
        classpath = build()
        dirs = ensure_data(classpath, cores)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        out = os.path.join(BUILD, "results", f"{tag}.json")
        if os.path.exists(out):
            os.remove(out)
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
                "--data", dirs["data"], "--tiny", dirs["tiny"],
                "--expected", os.path.join(HERE, "expected", "digests.json"),
                "--out", out, "--trace-out", os.path.join(BUILD, "results", f"{tag}.spans.jsonl"),
                "--commit", git_commit() or "unknown",
                "--source-hash", tree_hash(engine_sources())]
        if a.record_digests:
            args += ["--record-digests", os.path.abspath(a.record_digests)]
        run_java(classpath, args, cores, RUN_TIMEOUT_S)
        with open(out) as fh:
            record = json.load(fh)
        result = validate(record, spec, a.trace == 1)
    except (BenchError, OSError, ValueError, KeyError, subprocess.SubprocessError) as e:
        log(f"workload {a.workload} (seed {a.seed}) could not finish: {e}")
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
