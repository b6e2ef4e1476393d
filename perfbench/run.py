#!/usr/bin/env python3
"""graft's benchmark: build the runner from this checkout, run one workload.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload modena_p2p --seed 1 --seconds 15 --trace 0

The runner (perfbench/src, built with perfbench/build.sbt together with
graft's main sources) is compiled on first use and reused while the sources
are unchanged. Build outputs, Spark scratch space and traces stay under
perfbench/ (see .gitignore). The last line of stdout is the result JSON:
{"correct", "attempted", "failed", "metrics"}. Progress goes to stderr.
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
BUILD = os.path.join(HERE, ".build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "5g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the runner build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the runner (once per source state); return its classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building the runner with sbt ...", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout)
        fail(f"build failed (sbt exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if not os.path.isdir(os.path.join(HERE, "target")) or ".jar" not in cp:
        sys.stderr.write(p.stdout)
        fail("could not read the runner classpath from sbt")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from a graft checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark installation")
    cp = build()

    scratch = os.path.join(BUILD, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for m in JDK17_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out, "--scratch", scratch,
            "--golden", os.path.join(HERE, "golden.json")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        fail(f"runner exited {code} without a result")
    with open(out) as f:
        result = json.load(f)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result {result}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
