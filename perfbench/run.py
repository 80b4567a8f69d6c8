#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the bench harness from
source, runs one workload in a fresh JVM, checks its outputs, and prints
the result as one JSON line (the last line of stdout).

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: fleet_apply_glue, fleet_validate_wide, ops_cold_mix (see
perfbench/README.md). With --trace 0 the line carries the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.

Needs a JDK (JAVA_HOME or `java` on PATH) and a Spark 4 / Scala 2.13
distribution (SPARK_HOME, or `spark-submit` on PATH), whose jars hold the
Scala compiler. Everything it writes goes under .bench_build/ in the
repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
                   os.path.join(ROOT, "src", "main", "resources")]
BENCH_SOURCES = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java: set JAVA_HOME or put java on PATH")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_2.13-*.jar")):
        fail("no Spark distribution: set SPARK_HOME")
    return jars


def source_files():
    files = []
    for top in PROGRAM_SOURCES + [BENCH_SOURCES]:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(jars):
    """Compiles the engine's main sources plus the bench harness once per
    distinct source tree; returns the classes directory."""
    if not os.path.isdir(PROGRAM_SOURCES[0]):
        fail(f"program sources not found under {ROOT} (expected src/main/scala)")
    files = source_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")) +
                      glob.glob(os.path.join(jars, "scala-library-2.13*.jar")) +
                      glob.glob(os.path.join(jars, "scala-reflect-2.13*.jar")))
    if len(compiler) != 3:
        fail(f"Scala 2.13 compiler jars not found in {jars}")
    t0 = time.time()
    rc = subprocess.run(
        [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=sys.stderr, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(argfile)
    res = PROGRAM_SOURCES[1]
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    print(f"perfbench: built {out} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def jvm(classes, jars, heap, main_args, timeout):
    """Runs perfbench.Main in a fresh JVM; returns its non-empty stdout lines."""
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what a killed run left behind
    os.makedirs(tmp)
    cmd = ([java_bin()] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main"] + main_args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=ROOT, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"perfbench.Main {' '.join(main_args)} exceeded {timeout} s")
    finally:
        # on a timeout or a signal to this script, the JVM must not outlive it
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        fail(f"perfbench.Main {' '.join(main_args)} exited with code {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail(f"perfbench.Main {' '.join(main_args)} printed nothing")
    return lines


def canary(classes, jars):
    return json.loads(jvm(classes, jars, "256m", ["--canary", "1"], 60)[-1])


def run_workload(classes, jars, args):
    # per build: report digests pinned by earlier runs of this source tree
    work = classes.replace("classes-", "work-")
    heap = "3g" if args.workload == "ops_cold_mix" else "2g"
    lines = jvm(classes, jars, heap,
                ["--workload", args.workload, "--seed", str(args.seed),
                 "--trace", str(args.trace), "--seconds", str(args.seconds), "--work", work,
                 "--ops-dir", os.path.join(HERE, "ops")], RUN_TIMEOUT_S)
    return json.loads(lines[-1])


def main():
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    # fleet_validate_wide times passes for this long; the other workloads
    # measure one fixed unit of work that lasts longer
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = contract()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; one of {names}")
    jars = spark_jars()
    classes = build(jars)
    before = canary(classes, jars)
    res = run_workload(classes, jars, args)
    after = canary(classes, jars)
    host = {k: [before[k], after[k]] for k in ("canary_ms", "canary_par_ms")}

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = dict(res["metrics"])
    for k, (b, a) in host.items():
        measured["host." + k] = {"value": (b + a) / 2, "unit": "ms"}
    metrics = {}
    for m in wanted:
        got = measured.get(m["name"])
        if got is None:
            if not args.trace:
                fail(f"workload did not measure {m['name']}")
            # a layer the workload does not exercise (no Spark in a fleet
            # run, no catalog in the operator mix)
            got = {"value": 0, "unit": m["unit"]}
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} measured in {got['unit']}, contract says {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps(host))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
