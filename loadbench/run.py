#!/usr/bin/env python3
"""Build and run the load benchmark.

    python3 loadbench/run.py --workload upsert_large --seed 1 --seconds 20 --trace 0
    python3 loadbench/run.py --self-test

Run from the root of a checkout. The first run compiles the program's
sources (src/main/scala) together with the benchmark (loadbench/src) with
sbt into loadbench/target; later runs reuse the classes while the sources
are unchanged. Each run is one JVM with a fixed heap and Spark local[n],
n = min(4, cores). It works in a private directory under loadbench/.work
and removes it on exit. The last line of stdout is one JSON object with
the keys correct, attempted, failed and metrics; everything else goes to
stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(HERE, "target", "loadbench.jar")
CDS = os.path.join(HERE, "target", "loadbench.jsa")
STAMP = os.path.join(HERE, "target", "loadbench.stamp")
WORKLOADS = ("upsert_large", "append_scan", "curation_stream")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home if home and os.path.isdir(os.path.join(home, "jars")) else None


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            inputs += [os.path.join(d, f) for f in fs]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles and packages the benchmark with the program's sources, then
    records the classes one short run loads into a class-data-sharing
    archive, which cuts JVM and Spark start-up in every later run."""
    stamp = source_stamp()
    if os.path.isfile(JAR) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    sbt_tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("compiling the program and the benchmark with sbt")
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(3)
    if r.returncode != 0:
        log(f"build failed (sbt exit {r.returncode})")
        sys.exit(3)
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(HERE, ".work", f"train-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        log("recording the class-data-sharing archive")
        code, _ = java("loadbench.LoadBench", [
            "--workload", "curation_stream", "--seconds", "0", "--setup-reps", "1",
            "--work", work], work, [f"-XX:ArchiveClassesAtExit={CDS}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(CDS):
        # Without the archive every run would set up ~4 s slower, which
        # setup_s would report as a change of the program.
        log(f"recording the class-data-sharing archive failed (JVM exit {code})")
        if os.path.exists(CDS):
            os.remove(CDS)
        sys.exit(3)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def java(main, args, work, jvm_opts=None):
    """Runs one benchmark JVM; returns (exit code, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if jvm_opts is None:
        # -Xshare:on makes the JVM fail rather than start without the
        # archive, so a run that could not map it reports no result.
        jvm_opts = ["-Xshare:on", f"-XX:SharedArchiveFile={CDS}"]
    # JVM warnings go to stderr: stdout's last line is the result.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Dspark.sql.session.timeZone=UTC"] + jvm_opts + opens +
           ["-cp", f"{JAR}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}", main] + args)
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 124, []
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        log(f"no program sources at {PROGRAM_SRC}: run from the root of a full checkout")
        sys.exit(2)
    if shutil.which("java") is None or shutil.which("sbt") is None or spark_home() is None:
        log("java and sbt must be on PATH, and SPARK_HOME must name a Spark installation")
        sys.exit(2)
    build()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.self_test:
            code, lines = java("loadbench.SelfTest", [], work)
            print("\n".join(lines))
            sys.exit(code)
        code, lines = java("loadbench.LoadBench", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass
    lines = [l for l in lines if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"no result (JVM exit {code})")
        sys.exit(code or 1)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
