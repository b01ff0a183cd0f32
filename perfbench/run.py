#!/usr/bin/env python3
"""Benchmark of the adhesivespark library: one workload per invocation.

    python3 perfbench/run.py --workload udf_calls --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # all workloads, tiny inputs, checks only

Run from the root of a source checkout. The first run compiles the
library (src/main) and the harness (perfbench/src) with the Scala and
Java compilers that ship with Spark into .bench_build/; later runs reuse
that build while the sources are unchanged. Each run starts one JVM
(local[<cores>]) whose scratch files all live under a temp dir in
.bench_tmp/ that is removed at exit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports
the end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer ones.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

# udf_query_suite runs udf_calls and query_suite in one JVM
WORKLOADS = ("udf_calls", "table_dml", "query_suite", "udf_query_suite")
SMOKE = ("udf_calls", "table_dml", "query_suite")
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_SECONDS = 170  # the whole run must end within 180 s
HEAP = "2g"
# The parallel collector works only in pauses, which thread CPU time leaves
# out, and its write barrier costs the same at all times. Under G1, whose
# barrier does more while a concurrent marking cycle runs, the CPU time of
# the same query moved more from pass to pass (see perfbench/README.md).
GC = "-XX:+UseParallelGC"


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the sbt build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources(top, exts):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(exts)]
    return sorted(out)


def digest(files, seed=""):
    h = hashlib.sha256(seed.encode())
    for f in files:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def compile_once(out, steps):
    """Runs the compile steps into `out` unless a finished build is there."""
    if os.path.exists(os.path.join(out, "OK")):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    for cmd in steps:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"build of {out} failed")
    open(os.path.join(out, "OK"), "w").write(f"{time.time() - t0:.1f}\n")
    print(f"[perfbench] built {out} in {time.time() - t0:.1f} s", file=sys.stderr)


def build(jars):
    """Compiles the library, then the harness against it, each once per
    source state; returns the classpath entries."""
    lib = sources("src/main", (".scala", ".java"))
    bench = sources("perfbench/src", (".scala",))
    key = digest(lib)
    main = os.path.join(".bench_build", "lib-" + key)
    harness = os.path.join(".bench_build", "bench-" + digest(bench, key))
    cp = os.path.join(jars, "*")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
              "scala.tools.nsc.Main", "-nowarn"]
    compile_once(main, [
        scalac + ["-classpath", cp, "-d", main] + lib,
        ["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8",
         "-cp", f"{cp}:{main}", "-d", main]
        + [f for f in lib if f.endswith(".java")]])
    compile_once(harness, [scalac + ["-classpath", f"{cp}:{main}", "-d", harness] + bench])
    return [main, harness, cp]


def oracle_check(tmp):
    """DuckDB compare of the dumped query_suite entries, with the logic of
    tools/check_oracles.py; returns the names that failed."""
    out = os.path.join(tmp, "oracle")
    spec = importlib.util.spec_from_file_location("check_oracles", "tools/check_oracles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    tables = open(os.path.join(tmp, "oracle_tables")).read().strip()
    buf = io.StringIO()
    argv, sys.argv = sys.argv, ["check_oracles.py", out, tables]
    try:
        with contextlib.redirect_stdout(buf):
            mod.main(out, tables)
    finally:
        sys.argv = argv
    lines = buf.getvalue().splitlines()
    for line in lines:
        if line.startswith("FAIL"):
            print(f"[perfbench] oracle {line}", file=sys.stderr)
    return [line.split()[1].rstrip(":") for line in lines if line.startswith("FAIL")], \
        sum(1 for line in lines if line.startswith("PASS"))


def run_jvm(cp, workload, seed, seconds, trace, tmp, smoke):
    cmd = ["java", "-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{HEAP}", GC, f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(cp),
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--tmp", tmp]
    if smoke:
        cmd += ["--smoke", "1"]
    log = open(os.path.join(tmp, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        out = None
    finally:
        log.close()
    for line in open(os.path.join(tmp, "jvm.log")):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    if p.returncode != 0 or out is None:
        sys.stderr.write(open(os.path.join(tmp, "jvm.log")).read()[-6000:])
        fail(f"{workload}: JVM " + ("timed out" if out is None else f"exited {p.returncode}"))
    metrics, result = {}, None
    for line in out.splitlines():
        if line.startswith("PB_METRIC "):
            m = json.loads(line[len("PB_METRIC "):])
            metrics[m["name"]] = m
        elif line.startswith("PB_RESULT "):
            result = json.loads(line[len("PB_RESULT "):])
    if result is None:
        fail(f"{workload}: no result from the JVM")
    return metrics, result


def one(cp, workload, seed, seconds, trace, smoke):
    tmp = os.path.abspath(os.path.join(".bench_tmp", f"{workload}-{os.getpid()}"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        metrics, result = run_jvm(cp, workload, seed, seconds, trace, tmp, smoke)
        attempted, failed = result["attempted"], result["failed"]
        if os.path.exists(os.path.join(tmp, "oracle_tables")):
            bad, passed = oracle_check(tmp)
            attempted += len(bad) + passed
            failed += len(bad)
            metrics["fail_ratio"]["value"] = failed / attempted
            metrics["fail_ratio"]["n"] = attempted
        if trace:
            spans = os.path.join(tmp, "spans.json")
            if os.path.exists(spans):
                os.makedirs(".bench_build", exist_ok=True)
                shutil.copy(spans, os.path.join(".bench_build", f"spans-{workload}-{seed}.json"))
        return metrics, attempted, failed
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(".bench_tmp")


def show(workload, metrics):
    for name, m in metrics.items():
        note = f", {m['note']}" if m["note"] else ""
        print(f"{workload} {m['scope']:6} {name} = {m['value']} {m['unit']} (n={m['n']}{note})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run the workload (default: every one) on tiny inputs "
                         "and check correctness")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required without --smoke")
    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a source checkout")
    spec = json.load(open("BENCHMARK.json"))
    cp = build(spark_jars())

    if a.smoke:
        bad = 0
        for w in [a.workload] if a.workload else SMOKE:
            metrics, attempted, failed = one(cp, w, a.seed, 1, 1, smoke=True)
            show(w, metrics)
            print(f"smoke {w}: attempted {attempted}, failed {failed}")
            bad += failed
        print("smoke: " + ("ok" if bad == 0 else f"{bad} failures"))
        sys.exit(1 if bad else 0)

    metrics, attempted, failed = one(cp, a.workload, a.seed, a.seconds, a.trace, smoke=False)
    show(a.workload, metrics)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if metrics.get(m["name"], {}).get("value") is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    out = {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
