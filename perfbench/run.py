#!/usr/bin/env python3
"""Benchmark of the graft engine: the catalog sweep and the two router workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

The first run builds the engine and the benchmark from source with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars, else the
`unmanagedBase` that build.sbt declares) into .bench_build/. The last line of standard output is one
JSON object: correct, attempted, failed and the metrics named in
BENCHMARK.json (end_to_end with --trace 0, per_layer with --trace 1).
Everything a run writes stays under .bench_build/.
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

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


JARS = spark_jars()
JVM_TIMEOUT_S = 165
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile src/main and the benchmark once per distinct source tree."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not srcs:
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    if not os.path.isdir(JARS):
        fail(f"Spark jars not found at {JARS!r}; set SPARK_HOME")
    h = hashlib.sha256()
    for f in srcs + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(JARS, "*")] + srcs + bench
    code, out_text = run_child(cmd, 800, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out_text[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed")
    open(os.path.join(tmp, ".done"), "w").close()
    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        if stale != tmp:
            shutil.rmtree(stale, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def java_cmd(classes, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] + opens +
            ["-cp", classes + os.pathsep + os.path.join(JARS, "*"), main] + args)


def oracle_check(work, result):
    """Compare each catalog query's row count with its oracle SQL run by
    DuckDB on the same generated files."""
    import duckdb
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/data/{t}.parquet/*.parquet')")
    checked = 0
    with open(os.path.join(work, "catalog_rows.jsonl")) as f:
        for line in f:
            q = json.loads(line)
            if q["error"] is not None or q["sql"] is None:
                continue
            want = con.sql(f"SELECT count(*) FROM ({q['sql']}) AS oracle").fetchone()[0]
            checked += 1
            if want != q["rows"]:
                print(f"perfbench: check: {q['name']} returned {q['rows']} rows, oracle {want}",
                      file=sys.stderr)
                result["failed"] += 1
                result["correct"] = False
    print(f"perfbench: {checked} catalog row counts checked against the oracle", file=sys.stderr)


def main():
    # A terminated run still stops its JVM: SystemExit unwinds through run_child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    help="measured window (default: run_seconds of BENCHMARK.json); catalog-sweep "
                         "makes at least two measured passes over its query sample, more while time is left")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found; run from the root of a checkout")
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    classes = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.self_test:
            code, _ = run_child(java_cmd(classes, work, "perfbench.SelfTest", []), JVM_TIMEOUT_S)
            sys.exit(code)
        names = [w["name"] for w in spec["workloads"]]
        if a.workload not in names:
            fail(f"unknown workload {a.workload!r}; one of {names}")
        log = os.path.join(BUILD, f"last-{a.workload}.log")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work-dir", work]
        with open(log, "w") as err:
            code, out = run_child(java_cmd(classes, work, "perfbench.Main", args), JVM_TIMEOUT_S,
                                  stdout=subprocess.PIPE, stderr=err, text=True)
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if code != 0 or not lines:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"workload {a.workload} exited with code {code}")
        with open(log) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
        result = json.loads(lines[-1])
        if a.workload == "catalog-sweep":
            t0 = time.time()
            oracle_check(work, result)
            print(f"perfbench: oracle check took {time.time() - t0:.1f} s", file=sys.stderr)
        want = spec["per_layer" if a.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in want}
        extra = sorted(set(result["metrics"]) - set(units))
        if extra:
            fail(f"metrics not declared in BENCHMARK.json: {extra}")
        missing = [n for n in units if n not in result["metrics"]]
        if missing and not a.trace:
            fail(f"end-to-end metrics not measured: {missing}")
        # A per-layer metric of a layer this workload does not exercise reads 0.
        metrics = {n: result["metrics"].get(n, {"value": 0.0, "unit": units[n]}) for n in units}
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.jsonl"))
        print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
