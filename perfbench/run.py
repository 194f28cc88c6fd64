#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the
library and the harness with sbt (perfbench/build.sbt depends on the
library's own build); later runs reuse the build while no source file
has changed. The harness then runs in a fresh JVM at local[N], N the
CPU count capped at 4. The last line of standard output is one JSON
object: correct, attempted, failed, and the metrics that BENCHMARK.json
lists (end-to-end ones untraced, per-layer ones traced), each with its
unit. The traced run also leaves its spans and per-layer summary under
.bench_build/perfbench/trace/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# The JDK 17 module openings Spark needs outside spark-submit, as in the
# library's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project", "perfbench/src"]
    for top in tops:
        path = os.path.join(ROOT, top)
        walk = [(path, [], [""])] if os.path.isfile(path) else os.walk(path)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))  # sbt's own output
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles library and harness; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    log("building library and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # resolve from the local cache only
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        log(f"build failed (sbt exit {proc.returncode})")
        sys.exit(1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("no graft sources here: run from the root of a graft checkout")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {a.workload}")
        sys.exit(2)

    classpath = build()
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_GRAFT_CPUS"] = str(min(os.cpu_count() or 1, 4))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--out", os.path.join(BUILD, "trace"),
    ]
    try:
        proc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if proc.returncode != 0 or not lines:
        log(f"harness exited with {proc.returncode}")
        sys.exit(1)
    result = json.loads(lines[-1])

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    elsewhere = set(result["elsewhere"]) if a.trace == "1" else set()
    metrics = {}
    for m in wanted:
        value = result["metrics"].get(m["name"])
        if value is None:
            if m["name"] not in elsewhere:
                log(f"metric {m['name']} missing")
                sys.exit(1)
            value = 0  # the layer takes no part in this workload
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
