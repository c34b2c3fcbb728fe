#!/usr/bin/env python3
"""Reader-pipeline benchmark runner.

    python3 perfbench/run.py --workload ingest_small --seed 1 --seconds 10 --trace 0

Run from the root of the repository. Compiles the program's main sources
and the benchmark's own Scala files with the Scala compiler that ships
with Spark (cached in .bench_build/ by a hash of the sources), runs one
workload in a fresh JVM, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
Every run also leaves a full artifact in .bench_artifacts/ (never
overwritten). All scratch state lives in .bench_work/ and is removed.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
ARTIFACTS = os.path.join(ROOT, ".bench_artifacts")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit: the module opens the launcher
# would otherwise add (the same list the sbt build passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The jar directory the project's sbt build compiles against."""
    build_sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(build_sbt):
        fail("no build.sbt at the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        jars = sorted(glob.glob(os.path.join(c, "*.jar")))
        if jars:
            return jars
    fail("no Spark jars found (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        fail("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def java_cmd(classpath, args, work):
    return (["java", "-Xmx" + HEAP, "-Xss4m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(classpath), "perfbench.PipelineBench"] + args)


def run_jvm(cmd, work, timeout):
    """Run the benchmark JVM in its own process group; None on timeout."""
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(jars):
    """Compile the program and the benchmark into one jar, cached by a hash
    of the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    jar = os.path.join(BUILD, h.hexdigest()[:16] + ".jar")
    if os.path.isfile(jar):
        return jar
    classes = os.path.join(BUILD, "classes-%d" % os.getpid())
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed")
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    os.rename(tmp, jar)
    print("perfbench: compiled %d sources in %.1f s" % (len(srcs), time.time() - t0),
          file=sys.stderr)
    return jar


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("no BENCHMARK.json at the repository root")
    spec = json.load(open(bench_json))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %r" % a.workload)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    jars = spark_jars()
    jar = build(jars)

    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    try:
        rc = run_jvm(java_cmd([jar] + jars,
                              [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                               ARTIFACTS, result_file,
                               os.path.basename(jar)[:-len(".jar")]], work), work, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(result_file):
            sys.stderr.write(open(os.path.join(work, "jvm.log"), errors="replace").read()[-6000:])
            fail("run timed out" if rc is None else "run exited with code %s" % rc)
        res = json.loads(open(result_file).read())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail("run did not report: " + ", ".join(missing))
    wrong = [m["name"] for m in wanted if metrics[m["name"]]["unit"] != m["unit"]]
    if wrong:
        fail("units differ from BENCHMARK.json: " + ", ".join(wrong))
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
