#!/usr/bin/env python3
"""CloudVectorDB story benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the benchmark (`perfbench/scala`, `perfbench/test`)
with the Scala compiler that ships in Spark's jars into `.bench_build/`;
later runs reuse the classes while the sources are unchanged. The last
line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the `end_to_end` metrics of BENCHMARK.json when `--trace 0` and its
`per_layer` metrics when `--trace 1`. The line before it is the full
record of the run (environment, input sizes, sample counts, workload
metrics). The exit code is 0 only when every correctness check passed.

Maintainer modes:
    --selftest               run the traced-run self-test
    --record-fingerprints    re-record perfbench/fingerprints.json
"""
import argparse
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
    "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
    "-Dspark.ui.enabled=false", "-Xlog:disable", "-Xlog:all=warning:stderr",
    # A fixed set of JIT compiler threads that never exit, so the benchmark
    # can read their CPU time and leave it out of `cpu_s`.
    "-XX:-UseDynamicNumberOfCompilerThreads",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    files += sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))
    files += sorted(glob.glob(os.path.join(ROOT, "perfbench/test/*.scala")))
    return files


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp, CLASSES, stamp_file], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    r = subprocess.run(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", SPARK_JARS + "/*",
                        "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp,
                        "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def java(main, args, log_name):
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", log_name)
    cmd = ["java"] + JVM_OPTS + ["-cp", CLASSES + os.pathsep + SPARK_JARS + "/*", main] + args
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("run exceeded %d s; log: %s" % (RUN_TIMEOUT_S, log))
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("%s exited with %d; log: %s" % (main, r.returncode, log))
    return r.stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError:
        fail("BENCHMARK.json not found; run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found; set SPARK_HOME")
    build()

    if a.selftest:
        out = java("perfbench.TraceSelfTest", ["--root", ROOT], "selftest.log")
        sys.stdout.write(out)
        return 0

    workload = "story_keys" if a.record_fingerprints else a.workload
    names = [w["name"] for w in spec["workloads"]]
    if workload not in names:
        fail("--workload must be one of " + ", ".join(names))
    args = ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", ROOT,
            "--record-fingerprints", "1" if a.record_fingerprints else "0"]
    out = java("perfbench.Main", args, "%s-%d-%d.log" % (workload, a.seed, a.trace))
    res = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])

    if a.record_fingerprints:
        path = os.path.join(ROOT, "perfbench", "fingerprints.json")
        with open(path, "w") as fh:
            json.dump(res["record"]["fingerprints"], fh, indent=1, sort_keys=True)
            fh.write("\n")
        print("wrote " + path)
        return 0

    # End-to-end metrics must all be measured. A per-layer metric the
    # workload does not exercise (a facade call it never makes) reads 0.
    correct = bool(res["correct"])
    metrics = {}
    if a.trace == 0:
        for m in spec["end_to_end"]:
            v = res["end_to_end"].get(m["name"])
            if v is None:
                print("perfbench: end-to-end metric %s not measured" % m["name"], file=sys.stderr)
                correct = False
                continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in spec["per_layer"]:
            v = res["per_layer"].get(m["name"])
            metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    print(json.dumps({"record": res["record"]}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
