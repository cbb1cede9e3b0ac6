#!/usr/bin/env python3
"""Benchmark runner for flumedbspark.

    python3 flumebench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0
    python3 flumebench/run.py --selftest

Run from the repository root. The script compiles the program
(`src/main/scala`) together with the benchmark (`flumebench/src`) using the
Scala compiler that ships in the Spark distribution, then runs one workload
in a fresh JVM against `local[<cpus>]`. All data lives under a fresh temp
root inside `.bench_build/` that is deleted afterwards. Each run writes its
own output file under `.bench_build/runs/`, truncated at start. The last
line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_mix", "restart_rebuild", "curate_stream")
RESULT_TAG = "FLUMEBENCH_RESULT "
TABLE_TAG = "FLUMEBENCH_TABLE "
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("flumebench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution at SPARK_HOME, which include the
    Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        fail("set SPARK_HOME to a Spark distribution")
    return os.path.join(jars, "*")


def sources():
    """Program and benchmark sources, sorted, with their content digest."""
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = []
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files.sort()
    if not any(f.startswith(trees[0]) for f in files):
        fail("program sources not found under %s" % trees[0])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return files, h.hexdigest()[:16]


def build(jars):
    """Compile once per source digest; a stale build is never reused."""
    files, digest = sources()
    out = os.path.join(BUILD, "classes-" + digest)
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return out, digest
    os.makedirs(BUILD, exist_ok=True)
    for n in os.listdir(BUILD):
        if n.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, n), ignore_errors=True)
    staging = out + ".tmp"
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        shutil.rmtree(staging, ignore_errors=True)
        fail("compile failed")
    jar = os.path.join(staging, "flumebench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(staging)):
            for n in sorted(names):
                if n.endswith(".class"):
                    f = os.path.join(d, n)
                    z.write(f, os.path.relpath(f, staging))
    os.rename(staging, out)
    with open(os.path.join(out, "BUILD_OK"), "w") as fh:
        fh.write("%.1f\n" % (time.time() - t0))
    print("flumebench: compiled %d sources in %.1f s" % (len(files), time.time() - t0),
          file=sys.stderr)
    return out, digest


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def driver_mem():
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return "%dg" % max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        return "2g"


def run_jvm(classes, jars, main_args, tmp):
    """Run a JVM on the compiled jar, with `tmp` as its temp and work dir."""
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx" + driver_mem(), "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(classes, "flumebench.jar") + os.pathsep + jars] + main_args
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=tmp)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail("workload timed out after %d s" % JVM_TIMEOUT_S)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")
    jars = spark_jars()
    classes, digest = build(jars)
    cpus = os.cpu_count() or 1
    run_id = "%d-%d" % (int(time.time() * 1000), os.getpid())
    tmp = os.path.join(BUILD, "tmp", run_id)
    try:
        if a.selftest:
            code, out = run_jvm(classes, jars, ["flumebench.SelfTest", "--cpus", str(min(cpus, 2))], tmp)
            sys.stdout.write(out)
            sys.exit(code)
        name = "%s-seed%d-trace%d-%s.json" % (a.workload, a.seed, a.trace, run_id)
        runs = os.path.join(BUILD, "runs")
        os.makedirs(runs, exist_ok=True)
        out_path = os.path.join(runs, name)
        with open(out_path, "w") as fh:  # truncate: a crashed run leaves no result
            json.dump({"status": "running"}, fh)
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "run_id": run_id, "cpus": cpus,
                  "git_commit": git_commit(), "source_digest": digest,
                  "loadavg_start": list(os.getloadavg()), "started": time.time()}
        code, out = run_jvm(classes, jars, [
            "flumebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
            "--data", os.path.join(tmp, "data")], tmp)
        record["loadavg_end"] = list(os.getloadavg())
        record["ended"] = time.time()
        result = table = None
        for line in out.splitlines():
            if line.startswith(RESULT_TAG):
                result = json.loads(line[len(RESULT_TAG):])
            elif line.startswith(TABLE_TAG):
                table = json.loads(line[len(TABLE_TAG):])
            else:
                print(line)
        if code != 0 or result is None:
            fail("workload exited with code %d and %s result" % (code, "a" if result else "no"))
        record["result"] = result
        record["detail"] = table
        with open(out_path, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        if table is not None:
            print("detail (%s): %s" % (os.path.relpath(out_path, ROOT), json.dumps(table, sort_keys=True)))
        print(json.dumps(result))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
