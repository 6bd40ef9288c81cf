#!/usr/bin/env python3
"""graft LRS benchmark runner.

One run of one workload:
    python3 perfbench/run.py --workload ingest_lake --seed 1 --seconds 10 --trace 0

All workloads (BENCHMARK.json's and ingest_lake), untraced then traced, every
metric printed by name and unit:
    python3 perfbench/run.py --all [--seed 1] [--seconds 10]

The benchmark's own tests:
    python3 perfbench/run.py --selftest

Run from the repository root. The first call compiles the engine sources
(src/main/scala) together with the harness (perfbench/src) with sbt and
caches the runtime classpath; later calls launch the JVM directly. The last
line of a workload run is the result object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1)
that BENCHMARK.json lists. Exits non-zero when any operation or output
check failed.
"""

import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORK = os.path.join(HERE, "work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
RUN_TIMEOUT_S = 170
# runnable and checked like the others, but outside BENCHMARK.json (see README.md)
EXTRA_WORKLOADS = ["ingest_lake"]
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(base):
            yield base
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)


def build():
    """Compile with sbt unless the cached classpath is newer than every source."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(p) <= built for p in sources()):
            return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        # the first Spark distribution on PATH (a bin/ beside a jars/)
        for d in env.get("PATH", "").split(os.pathsep):
            submit = os.path.join(d, "spark-submit")
            home = os.path.dirname(os.path.realpath(submit))
            if os.path.isfile(submit) and os.path.isdir(os.path.join(os.path.dirname(home), "jars")):
                env["SPARK_HOME"] = os.path.dirname(home)
                break
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "writeClasspath"]
    log("building: " + " ".join(cmd))
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        log(p.stdout[-4000:])
        raise SystemExit("build failed")


def java(main, args, timeout):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # C1 only: a JVM that lives for one short run reaches its steady state
    # within the warm-up. With C2 the timed rounds kept speeding up for a
    # minute (the run measured the JIT's progress, ±25% from run to run).
    # The whole heap is committed and touched at start (inside setup_s): heap
    # growth during the timed rounds otherwise costs page faults that differ
    # from run to run.
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Xss4m",
            "-XX:TieredStopAtLevel=1"] + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.codegen.cache.maxEntries=4000",
            "-cp", cp, main] + args)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        out, err = p.communicate()
        return 124, out, err + "\ntimed out"
    return p.returncode, out, err


def spec():
    with open(SPEC) as f:
        return json.load(f)


def run_workload(name, seed, seconds, trace, deadline):
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, "%s-%d" % (name, os.getpid()))
    out = work + ".json"
    shutil.rmtree(work, ignore_errors=True)
    try:
        code, stdout, stderr = java("perfbench.Main", [
            "--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", out],
            max(10, deadline - time.time()))
        report = None
        if os.path.exists(out):
            with open(out) as f:
                report = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out):
            os.remove(out)
    if report is None:
        log(stderr[-4000:])
        report = {"attempted": 1, "failed": 1, "end_to_end": {}, "per_layer": {},
                  "failures": ["%s: JVM exited %d without a report" % (name, code)]}
    elif code != 0:
        report["failed"] += 1
        report["attempted"] += 1
        report["failures"].append("%s: JVM exited %d" % (name, code))
    return report


def result_line(report, trace):
    """The result line: exactly the metrics BENCHMARK.json lists."""
    s = spec()
    wanted = s["per_layer"] if trace else s["end_to_end"]
    got = report["per_layer"] if trace else report["end_to_end"]
    failures = list(report["failures"])
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            failures.append("metric %s missing" % m["name"])
            continue
        ok = (isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
              and v["unit"] == m["unit"] and NAME.match(m["name"])
              and (trace or v["value"] > 0))
        if not ok:
            failures.append("metric %s malformed: %r" % (m["name"], v))
            continue
        metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    failed = report["failed"] + (len(failures) - len(report["failures"]))
    attempted = max(1, report["attempted"] + (len(failures) - len(report["failures"])))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, failures


def show(name, report, trace):
    """Every metric by name with its unit (and, per layer, what it should move)."""
    print("== %s (%s) ==" % (name, "traced" if trace else "untraced"))
    host = report.get("host", {})
    if host:
        print("host: " + ", ".join("%s=%s" % kv for kv in sorted(host.items())))
    detail = report.get("detail", {})
    for k in ("input_digest", "input_rows", "setup", "rounds", "timed_s"):
        if k in detail:
            print("%s: %s" % (k, json.dumps(detail[k])))
    for k, v in report.get("end_to_end", {}).items():
        print("  %-34s %14.4f %s" % (k, v["value"], v["unit"]))
    tags = report.get("layer_tags", {})
    for k, v in report.get("per_layer", {}).items():
        t = tags.get(k, {})
        print("  %-34s %14.4f %-6s moves %s on %s" % (k, v["value"], v["unit"], t.get("moves"),
                                                    t.get("where")))
    for k, v in detail.items():
        if k in ("input_digest", "input_rows", "setup", "rounds", "timed_s", "spans"):
            continue
        if isinstance(v, (int, float)):
            t = tags.get(k, {})
            unit = "ms" if k.endswith("ms") or "_ms." in k else "s" if k.endswith("_s") else ""
            extra = (" moves %s on %s" % (t["moves"], t["where"])) if t else ""
            print("  %-34s %14.4f %-6s%s" % (k, v, unit, extra))
        else:
            print("  %-34s %s" % (k, json.dumps(v)))
    if "spans" in detail:
        print("  spans (self time = duration minus time covered by child spans;"
              " share = self time / traced rounds' wall time):")
        for sp in detail["spans"]:
            print("    %-28s n=%-5d total %10.1f ms  self %10.1f ms  share %5.1f%%" % (
                sp["span"], sp["count"], sp["total_ms"], sp["self_ms"], 100 * sp["share"]))
    for f in report.get("failures", []):
        print("  FAILED: " + f)


def selftest():
    code, out, err = java("perfbench.SelfTest", [], RUN_TIMEOUT_S)
    lines = out.strip().splitlines()
    print("\n".join(lines[:-1]))
    if err.strip():
        log(err[-2000:])
    ok = code == 0
    catalog = json.loads(lines[-1]) if lines else {}
    s = spec()
    for key in ("per_layer", "end_to_end"):
        a = [(m["name"], m["unit"]) for m in catalog.get(key, [])]
        b = [(m["name"], m["unit"]) for m in s[key]]
        same = a == b
        print("%s BENCHMARK.json %s matches the harness catalogue" % ("ok  " if same else "FAIL", key))
        ok = ok and same
    names = [w["name"] for w in s["workloads"]]
    same = names == catalog.get("workloads")
    print("%s BENCHMARK.json workloads match the harness" % ("ok  " if same else "FAIL"))
    return 0 if ok and same else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(ENGINE_SRC):
        log("engine sources not found at %s: run from a checkout of the repository" % ENGINE_SRC)
        return 2
    if not (a.all or a.selftest or a.workload):
        ap.error("give --workload, --all or --selftest")
    build()
    deadline = time.time() + RUN_TIMEOUT_S
    seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
    if a.selftest:
        return selftest()
    if a.all:
        bad = 0
        for w in [w["name"] for w in spec()["workloads"]] + EXTRA_WORKLOADS:
            for trace in (False, True):
                r = run_workload(w, a.seed, seconds, trace, time.time() + RUN_TIMEOUT_S)
                show(w, r, trace)
                line, failures = result_line(r, trace)
                for f in failures[len(r["failures"]):]:
                    print("  FAILED: " + f)
                print("  failed_ratio %.4f (%d of %d operations)" % (
                    line["failed"] / line["attempted"], line["failed"], line["attempted"]))
                bad += line["failed"]
        print("all workloads: %s" % ("ok" if bad == 0 else "%d failures" % bad))
        return 0 if bad == 0 else 1
    report = run_workload(a.workload, a.seed, seconds, bool(a.trace), deadline)
    show(a.workload, report, bool(a.trace))
    line, failures = result_line(report, bool(a.trace))
    for f in failures[len(report["failures"]):]:
        print("  FAILED: " + f)
    log("run took %.1f s" % (time.time() - start))
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
