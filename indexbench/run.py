#!/usr/bin/env python3
"""Indexer benchmark: build the program and the benchmark from source, run
one workload in a fresh JVM, and print one JSON result line.

    python3 indexbench/run.py --workload trickle --seed 1 --seconds 16 --trace 0

Run from the repository root (any directory works: paths are taken
relative to this file). The build runs once per source tree; later runs
reuse it. See indexbench/README.md for the workloads and metrics.
"""
import argparse
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("trickle", "catchup", "rebuild")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# the JDK 17 module opens Spark needs outside spark-submit (the program's
# own build passes the same list to its forked JVMs)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
# the untraced metric each workload's trace overhead is measured on, and
# whether it is a time (True) or a rate (False)
OVERHEAD_ON = {"trickle": ("freshness_ms_p50", True), "catchup": ("events_per_s", False),
               "rebuild": ("rebuild_rows_per_s", False)}


def fail(msg, code=2):
    print(f"indexbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp matches the sources; return the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")
    digest = source_hash()
    stamp = os.path.join(TARGET, "indexbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        tail = open(log_path).read()[-3000:]
        fail(f"build failed (sbt exit {rc}); last lines of {log_path}:\n{tail}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


def run_jvm(cp, args, work):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "indexbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work, "--out", OUT]
    if args.perturb_reference:
        cmd.append("--perturb-reference")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode} and no result", 4)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb-reference", action="store_true",
                    help="corrupt the reference replay; the correctness gate must then fail")
    args = ap.parse_args()

    cp = build()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "work"))
        except OSError:
            pass

    info = res.get("info", {})
    e2e_file = os.path.join(OUT, f"e2e-{args.workload}.json")
    if args.trace == 0:
        with open(e2e_file, "w") as fh:
            json.dump({k: v["value"] for k, v in res["metrics"].items()}, fh)
    else:
        key, is_time = OVERHEAD_ON[args.workload]
        traced = info.get("e2e", {}).get(key)
        share = 0.0
        if traced and os.path.exists(e2e_file):
            untraced = json.load(open(e2e_file)).get(key)
            if untraced:
                share = traced / untraced - 1 if is_time else untraced / traced - 1
        res["metrics"]["trace.overhead_share"] = {"value": share, "unit": "ratio"}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(OUT, f"result-{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
