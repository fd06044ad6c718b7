#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as JSON.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Workloads: rescan-churn, query-mix (see perfbench/README.md).

The script compiles the repository's sources together with the benchmark
sources in perfbench/src into .bench_build/ (reused while no source
changes), runs graft.perfbench.Main in one JVM with its work directory
under .bench_work/, and prints its result as the last line of standard
output. Traces
and JVM logs go to .bench_out/. It exits non-zero, without a result line,
when the build, the run or a correctness check fails.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the repository
    build's own `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("cannot find the Spark jars: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("no program sources under src/main/scala: "
                         "run from the root of a graft checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    resources = sorted(p for p in glob.glob(
        os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
        if os.path.isfile(p))
    return main + bench, resources


def build(jars):
    """Compile the program and the benchmark; returns the classes dir."""
    srcs, resources = sources()
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources into {os.path.relpath(out, ROOT)}")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g",
           "-Djava.io.tmpdir=" + BUILD, "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("compilation failed")
    res_root = os.path.join(ROOT, "src/main/resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


def heap():
    """At most half the RAM, and no more than 4 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return f"{max(1024, min(4096, kb // 2048))}m"
    except (OSError, AttributeError):
        return "2g"


def run_bench(classes, jars, argv, tag):
    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [a for p in ADD_OPENS
                       for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx" + heap(),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main"] + argv +
           ["--work", work, "--out", OUT,
            "--pins", os.path.join(HERE, "query_checksums.tsv")])
    logpath = os.path.join(OUT, f"{tag}.log")
    # flush what earlier runs left dirty (a deleted tree is ~100k
    # inodes) so it does not land on this run's set-up
    os.sync()
    with open(logpath, "w") as errf:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errf,
                                text=True, start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            raise SystemExit("interrupted")

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s; log: {logpath}")
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out, logpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the seed alone fixes the inputs")
    ap.add_argument("--pin", action="store_true",
                    help="print the query-mix checksums to pin")
    a = ap.parse_args()
    workloads = ("rescan-churn", "query-mix")
    if not (a.selftest or a.pin or a.workload in workloads):
        ap.error(f"--workload must be one of {', '.join(workloads)}")

    jars = spark_jars()
    classes = build(jars)
    if a.selftest:
        argv, tag = ["--workload", "selftest"], "selftest"
    elif a.pin:
        argv, tag = ["--workload", "query-pin"], "query-pin"
    else:
        argv = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    code, out, logpath = run_bench(classes, jars, argv, tag)

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if a.selftest or a.pin:
        return code
    if code != 0 or result is None or not result["correct"]:
        log(f"run failed (exit {code}); log: {logpath}")
        if result is not None:
            log("result: " + json.dumps(result))
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
