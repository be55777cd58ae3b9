#!/usr/bin/env python3
"""Memory-layer benchmark of the MemFuse engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload recall|churn --seed N \
        --seconds S --trace 0|1

The first run builds the engine and the benchmark's own code from source with
sbt (offline) into perfbench/target and copies the classes to
.bench_build/perfbench/classes-<hash of the sources>; later runs of the same
sources reuse that copy. Each run starts one JVM with the settings in
perfbench/spec.json, which builds the workload's warehouse from the seed,
measures for the given seconds and checks every result. The last stdout
line is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics, or the per-layer ones with --trace 1). The line before
it holds every metric under its workload-specific name. The traced run
also writes its spans to .bench_build/perfbench/trace/. Work files live
under .bench_build/perfbench/ and are removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SOURCES = os.path.join(ROOT, "src", "main")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = [
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
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [ENGINE_SOURCES, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(root)
            if os.sep + "target" not in d for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out, err


def build():
    """Compile once per source state; returns the java argument file
    holding the classpath."""
    stamp = source_stamp()
    argfile = os.path.join(STATE, f"classpath-{stamp}.args")
    if os.path.exists(argfile):
        return argfile
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        code, out, err = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                                   stdout=subprocess.PIPE,
                                   stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.splitlines() if "scala-library" in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    # Every build compiles into the same perfbench/target, so each stamp
    # gets its own copy of the classes: a later build of other sources
    # must not change what this stamp's runs load.
    target = os.path.join(os.path.realpath(HERE), "target") + os.sep
    classes = os.path.join(STATE, f"classes-{stamp}")
    shutil.rmtree(classes, ignore_errors=True)
    entries = lines[-1].strip().split(os.pathsep)
    for i, entry in enumerate(entries):
        if os.path.realpath(entry).startswith(target) and os.path.isdir(entry):
            entries[i] = os.path.join(classes, str(i))
            shutil.copytree(entry, entries[i])
    if not os.path.isdir(classes):
        fail("build exported no classes under perfbench/target")
    tmp = argfile + ".tmp"
    with open(tmp, "w") as f:
        f.write("-cp\n" + os.pathsep.join(entries) + "\n")
    os.replace(tmp, argfile)
    return argfile


def check_spec(spec):
    """The per-layer map in spec.json must name exactly the per-layer
    metrics of BENCHMARK.json, which the run reports."""
    with open(BENCHMARK) as f:
        listed = {m["name"] for m in json.load(f)["per_layer"]}
    mapped = {n.strip() for k in spec["per_layer_to_end_to_end"]
              for n in k.split(",")}
    if listed != mapped:
        fail("spec.json per_layer_to_end_to_end and BENCHMARK.json per_layer "
             f"differ: {sorted(listed ^ mapped)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}")
    check_spec(spec)
    if not os.path.isfile(os.path.join(ENGINE_SOURCES, "scala", "graft",
                                       "pipeline", "MemFuse.scala")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation")

    argfile = build()
    jvm = spec["jvm"]
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{jvm['heap']}", f"-Xmx{jvm['heap']}",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"@{argfile}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--trace-dir", os.path.join(STATE, "trace"),
           "--cores", str(jvm["cores"]),
           "--shuffle-partitions", str(jvm["shuffle_partitions"]),
           "--benchmark", BENCHMARK]
    log = os.path.join(STATE, f"{a.workload}.log")
    try:
        with open(log, "w") as err:
            code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=work,
                                     stdout=subprocess.PIPE, stderr=err,
                                     text=True)
    except subprocess.TimeoutExpired:
        fail(f"run timed out after {RUN_TIMEOUT_S} s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or len(lines) < 2:
        sys.stderr.write(out[-2000:])
        fail(f"run failed with exit code {code} (log: {log})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(lines[-2])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
