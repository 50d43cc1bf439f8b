#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result as JSON.

    python3 perfbench/run.py --workload secpipe_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side from source into ``.bench_build/`` (about a minute);
later runs reuse the build while the sources are unchanged. See README.md
for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 150
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
WORKLOADS = list(gen.GENERATORS)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala; run from the root of a checkout")
    return prog, bench


def spark_classpath():
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail(f"no Spark and Scala jars in {jars_dir}; set SPARK_HOME")
    return jars


def build():
    """Compile the program and the benchmark with scalac, once per source
    state. Returns the runtime classpath."""
    prog, bench = sources()
    jars = spark_classpath()
    digest = hashlib.sha256()
    for path in prog + bench:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(BUILD, ignore_errors=True)
        os.makedirs(classes)
        cp = ":".join(jars)
        args = os.path.join(BUILD, "scalac.args")
        with open(args, "w") as f:
            f.write("\n".join(["-nowarn", "-d", classes, "-classpath", cp] + prog + bench))
        t0 = time.time()
        r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                            "@" + args], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("build failed")
        resources = os.path.join(ROOT, "src/main/resources")
        if os.path.isdir(resources):
            shutil.copytree(resources, classes, dirs_exist_ok=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return ":".join([classes] + jars)


def java_cmd(cp, work, *args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap: the JVM does not resize it, so its peak resident size
    # depends on what the program touches, not on when the heap grew.
    return (["java", "-Xms1g", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", cp, "perfbench.Launch"] + list(args))


def launch(cmd, work, log_name):
    """Run the JVM to its end; return (process, seconds from start to
    PERFBENCH_READY, the stdout lines other than that one). A JVM still
    running after JVM_TIMEOUT_S is killed."""
    with open(os.path.join(work, log_name), "w") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        timer.start()
        ready, lines = None, []
        try:
            for line in proc.stdout:
                if ready is None and line.startswith("PERFBENCH_READY"):
                    ready = time.monotonic() - t0
                else:
                    lines.append(line)
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return proc, ready, lines


def tail(path, n=30):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    # Only the latest run's work directory is kept, for inspection.
    works = os.path.join(ROOT, ".bench_build", "work")
    shutil.rmtree(works, ignore_errors=True)
    work = os.path.join(works, f"{a.workload}-{a.seed}-{a.trace}")
    os.makedirs(work)
    gen.GENERATORS[a.workload](a.seed, work)
    if a.workload == "secpipe_batch" and a.trace:
        gen.stream(a.seed, os.path.join(work, "stream"), a.seconds)

    proc, ready, lines = launch(
        java_cmd(cp, work, a.workload, work, str(a.seconds), str(a.trace)), work, "jvm.log")
    result = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("PERFBENCH_RESULT ")), None)
    if proc.returncode != 0 or ready is None or result is None:
        print(tail(os.path.join(work, "jvm.log")), file=sys.stderr)
        fail(f"{a.workload} run failed (exit {proc.returncode})")
    result["detail"]["process_ready_s"] = ready

    attempted, failed = result["attempted"], result["failed"]
    check_failed, notes = checks.CHECKS[a.workload](work, result)
    failed += check_failed
    for note in result["notes"] + notes:
        print(f"check: {note}")
    for k, v in sorted(result["detail"].items()):
        print(f"detail: {k} = {v}")

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": result["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "cold_cpu_s": "s",
             "warm_cpu_s": "s", "peak_rss_mb": "MB"}


def unit_of(name):
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac") or name.endswith(".share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
