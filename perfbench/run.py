#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload catalog_sf001 --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt when the
sources changed since the last build (the build goes to stderr), then
launches one JVM for the workload at local[nproc], with a driver heap
derived from MemTotal that leaves room for sbt. The JVM's last stdout
line is the JSON result; it is checked and printed as the last line here.
Scratch data lives under .bench_build/ in the checkout and is removed
after the run; traced runs keep their spans in .bench_build/trace/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("catalog_sf001", "elt_stream")
RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded
BUILD_LIMIT_S = 800


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    roots = [ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala"]
    files = [p for r in roots for p in sorted(r.rglob("*.scala"))]
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir):
    classes = HERE / "target" / "scala-2.13" / "classes"
    stamp_file = build_dir / "build.stamp"
    want = stamp()
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
        return classes
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts + " -Xmx2g"
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile"], cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    build_dir.mkdir(parents=True, exist_ok=True)
    stamp_file.write_text(want)
    log(f"built in {time.time() - t0:.0f} s")
    return classes


def heap_gb():
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    gb = kb / 1048576
    # sbt takes up to 4 GB next to the run; the rest is shared
    return max(2, min(6, int((gb - 4) / 2.5)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        log("the engine's sources are not in this checkout")
        return 2
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        log("SPARK_HOME does not point at a Spark distribution")
        return 2

    build_dir = ROOT / ".bench_build"
    classes = build(build_dir)
    work = build_dir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{Path(spark_home) / 'jars' / '*'}",
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--data", str(HERE / "data" / "sf0.01"),
            "--pins", str(HERE / "pins"), "--out", str(build_dir / "trace")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop_jvm(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, stop_jvm)
    signal.signal(signal.SIGINT, stop_jvm)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_LIMIT_S} s")
        stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM exited with {proc.returncode}")
        return 1
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        log("malformed result line")
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
