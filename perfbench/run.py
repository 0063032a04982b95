#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload link --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck [--seed 1]
    python3 perfbench/run.py --workload serve --capacity   # searches closed loop

The first run in a checkout builds the engine and the load generator with
sbt (the classpath is cached under perfbench/.build, keyed by a digest of
every source file); later runs start the JVM directly.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build if any source changed since the cached build; return the classpath."""
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "digest"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def run_jvm(cp, args, log):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap: a heap that resizes mid-run made whole runs bimodal
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-cp", cp, "perfbench.Main"] + args + ["--work", WORK]
    with open(log, "w") as lf:
        try:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf, text=True,
                                  timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the run exceeded {RUN_TIMEOUT_S} s; log: {log}", 1)
    result = None
    for line in proc.stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="generator checks plus every workload and gate at tiny size")
    ap.add_argument("--capacity", action="store_true",
                    help="serve only: searches back to back, so rows_per_s is the capacity")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine's sources (build.sbt, src/main/scala) are not next to perfbench/")
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench):
        fail("BENCHMARK.json is missing")
    with open(bench) as fh:
        spec = json.load(fh)
    cp = classpath()
    logs = os.path.join(WORK, "logs")
    if a.selfcheck:
        log = os.path.join(logs, f"selfcheck-{a.seed}.log")
        code, _ = run_jvm(cp, ["--selfcheck", "--seed", str(a.seed)], log)
        with open(log) as fh:
            for line in fh:
                if line.startswith("[perfbench]"):
                    print(line.rstrip())
        print("selfcheck", "passed" if code == 0 else f"FAILED (log: {log})")
        sys.exit(code)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; BENCHMARK.json names {names}")
    log = os.path.join(logs, f"{a.workload}-{a.seed}-t{a.trace}{'-capacity' if a.capacity else ''}.log")
    code, res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace)] +
                        (["--capacity"] if a.capacity else []), log)
    if res is None:
        fail(f"the run printed no result (exit {code}); log: {log}", 1)
    with open(log[:-len(".log")] + ".json", "w") as fh:
        json.dump(res, fh, indent=1)
    for g in res["gates"]:
        print(f"gate {'PASS' if g['ok'] else 'FAIL'}: {g['name']} ({g['detail']})")
    measured, wanted = (res["layers"], spec["per_layer"]) if a.trace else (res["e2e"], spec["end_to_end"])
    metrics = {}
    for m in wanted:
        v = measured.get(m["name"])
        # a layer of another workload did no work in this one
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
