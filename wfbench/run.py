#!/usr/bin/env python3
"""Workflow benchmark: one command, run from the root of a checkout.

    python3 wfbench/run.py --workload rnaseq_project --seed 1 --seconds 20 --trace 0
    python3 wfbench/run.py --selftest

Builds the engine from this checkout's sources together with the benchmark
(an sbt build of its own in wfbench/, output under .bench_build/), then runs
one workload on local[nproc] and prints one JSON result line last. With
--trace 1 it prints per-layer metrics instead of end-to-end ones. Every file
it writes stays under .bench_build/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
WORKLOADS = ("rnaseq_project", "curation_index")
# Spark on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"wfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE_SRC, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile when the sources changed since the last build; return the classpath."""
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}; run from the repository root")
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    want = source_stamp()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true")
    env["SBT_OPTS"] = (opts + " -Xmx2g -Dsbt.server.autostart=false"
                       f" -Dsbt.global.base={BUILD / 'sbt-global'}"
                       f" -Djava.io.tmpdir={BUILD / 'tmp'} -Djna.tmpdir={BUILD / 'tmp'}")
    # every JVM the sbt launcher starts, its version probe included
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    (BUILD / "tmp").mkdir(exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", proc.returncode or 1)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp_file.write_text(lines[-1])
    stamp.write_text(want)
    return lines[-1]


def java(cp, main, args, work):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    cp = build()
    if a.selftest:
        work = BUILD / "work" / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        code, out = java(cp, "wfbench.SelfTest", ["--work", str(work)], work)
        sys.stdout.write(out)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    code, out = java(cp, "wfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--expected", str(HERE / "expected.json")], work)
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    for f in (work / "results").glob("*.json"):
        shutil.copy(f, results / f.name)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"run failed with exit code {code}", code)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
