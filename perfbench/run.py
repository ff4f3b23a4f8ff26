#!/usr/bin/env python3
"""Product-path pipeline benchmark for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_lineitem --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --all --seed 1          # every workload, untraced

It builds the engine and the benchmark from source (sbt, skipped while the
sources are unchanged), generates the workload's inputs from the seed
(cached under .bench_work/inputs), runs them through spec JSON -> catalog ->
PipelineCompiler -> PipelineRunner -> sinks in one JVM, checks every sink
against the expected digest, and prints a report followed, as the last line
of stdout, by one JSON object with `correct`, `attempted`, `failed` and
`metrics`. See perfbench/README.md.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing but .bench_work behind

WORK = ".bench_work"
JVM_TIMEOUT_S = 170
# what spark-submit adds for Spark on JDK 17 (JavaModuleOptions), as build.sbt
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
               "-Dsbt.offline=true -Xmx3g")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
             "perfbench/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(root)
            if "/target" not in d and "/project/project" not in d for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    target = os.path.join("perfbench", "target")
    stamp_file = os.path.join(target, "stamp")
    classpath_file = os.path.join(target, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(classpath_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath_file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OFFLINE.format(home=os.path.expanduser("~")))
    print("perfbench: building engine and benchmark (sbt)", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
                       cwd="perfbench", env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(classpath_file):
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath_file


def run_jvm(classpath_file, manifest, workload, seed, seconds, trace, corrupt):
    work = os.path.abspath(os.path.join(WORK, f"run-{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    with open(classpath_file) as f:
        cp = f.read().strip()
    # the heap limit the `graft` CLI launcher gives, with a 2 GB floor so the
    # forced GCs of the heap reading do not shrink the heap under the runs
    # that follow; no perf-data file in /tmp
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms2g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.PipelineBench",
           "--manifest", manifest, "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--result", result]
    if corrupt:
        cmd += ["--corrupt-expected", "1"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"{workload}: no result within {JVM_TIMEOUT_S} s")
    sys.stdout.write(out)
    ok = proc.returncode == 0 and os.path.exists(result)
    res = None
    if ok:
        with open(result) as f:
            res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        die(f"{workload}: benchmark JVM exited with {proc.returncode}")
    return res


def main():
    import gen
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=gen.WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload (untraced)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="bench")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="replace every expected digest with a wrong one (proves the check fails)")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        die("run from the root of a graft checkout (build.sbt and src/main/scala not found)")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME must name the Spark distribution")
    classpath_file = build()
    workloads = gen.WORKLOADS if a.all else (a.workload,)
    results = {}
    for w in workloads:
        manifest = gen.generate(w, a.seed, a.size, os.path.join(WORK, "inputs"))
        print(f"== {w}")
        results[w] = run_jvm(classpath_file, manifest, w, a.seed, a.seconds,
                             0 if a.all else a.trace, a.corrupt_expected)
    if a.all:
        bad = [w for w, r in results.items() if not r["correct"]]
        print(json.dumps({"correct": not bad, "attempted": sum(r["attempted"] for r in results.values()),
                          "failed": sum(r["failed"] for r in results.values()),
                          "workloads": results}))
        sys.exit(1 if bad else 0)
    print(json.dumps(results[a.workload]))


if __name__ == "__main__":
    main()
