#!/usr/bin/env python3
"""Benchmark runner: builds the harness against the repository's sources,
runs one workload in a fresh JVM, checks its outputs and prints one JSON
result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload kg_delta --seed 1 --seconds 10 --trace 0

Workloads, metrics and bounds are declared in BENCHMARK.json; the reason
each workload exists, what each metric is, and the first baseline are in
perfbench/BASELINE.md.
The last stdout line is {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH, "harness")
DATA = os.path.join(BENCH, "data", "sf0.001")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as the root build's
# javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    """Hash of everything the harness build compiles from."""
    h = hashlib.sha1()
    files = [os.path.join(root, "build.sbt")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HARNESS, "src")):
        for dirpath, _, names in sorted(os.walk(d)):
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    files += [os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile the harness (and, through it, the root project) once per
    source state; returns the runtime classpath."""
    os.makedirs(out, exist_ok=True)
    stamp = os.path.join(out, "classpath.json")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        key = source_hash(root)
        if os.path.exists(stamp):
            with open(stamp) as fh:
                cached = json.load(fh)
            if cached.get("key") == key:
                return cached["classpath"]
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=840)
        lines = proc.stdout.splitlines()
        if proc.returncode != 0:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail("harness build failed")
        cp = [l for l in lines if l.startswith("/") and ".jar" in l]
        if not cp:
            fail("sbt printed no classpath")
        with open(stamp, "w") as fh:
            json.dump({"key": key, "classpath": cp[-1]}, fh)
        return cp[-1]


def check_queries(work, res, plant_drop):
    """Compare each written query result with its DuckDB oracle, with the
    comparison of tools/check_verify.py. Returns the problems found."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import duckdb
    from check_verify import TABLES, canon

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(DATA, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    expected = {}
    problems = []
    for d in res["strings"]["check_dirs"].split(","):
        for name, sql in sorted(oracles.items()):
            qdir = os.path.join(d, name)
            if not glob.glob(os.path.join(qdir, "*.parquet")):
                continue  # the query threw; already counted as failed
            got = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
            got_cols = [c[0] for c in got.description]
            gc, gr = canon(got.fetchall(), got_cols)
            if plant_drop and gr:
                gr = gr[1:]
            if name not in expected:
                try:
                    exp = con.execute(sql)
                    expected[name] = canon(exp.fetchall(),
                                           [c[0] for c in exp.description])
                except Exception as e:  # an oracle that cannot run fails
                    expected[name] = e
            want = expected[name]
            if isinstance(want, Exception):
                problems.append(f"{name}: oracle error {want}")
            elif (gc, gr) != want:
                problems.append(
                    f"{name} ({os.path.basename(d)}): result differs from "
                    f"oracle ({len(gr)} vs {len(want[1])} rows)")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # smoke-test knobs: a tiny input, and one output row planted missing
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant-drop", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a repository checkout (no build.sbt/src)")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    t_build = time.time()
    classpath = build(root, out)
    print(f"perfbench: build ready in {time.time() - t_build:.1f} s",
          file=sys.stderr)

    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    mem = "3g"
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-XX:+UseParallelGC", f"-Xmx{mem}",
              "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--result", result, "--data", DATA,
              "--tiny", "1" if a.tiny else "0",
              "--plant-drop", "1" if a.plant_drop else "0"])
    try:
        try:
            # the JVM's stdout is log noise here: stdout carries the result
            proc = subprocess.run(cmd, stdin=subprocess.DEVNULL,
                                  stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {JVM_TIMEOUT_S} s")
        if proc.returncode != 0 or not os.path.exists(result):
            fail(f"harness exited with {proc.returncode}")
        with open(result) as fh:
            res = json.load(fh)
        problems = list(res["problems"])
        failed = res["failed"]
        if "check_dirs" in res["strings"]:
            bad = check_queries(work, res, a.plant_drop)
            problems += bad
            failed += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    for k, v in res["strings"].items():
        if k != "check_dirs":
            print(f"perfbench: {k}: {v}", file=sys.stderr)
    # the workload's own figures, by the names BASELINE.md uses
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "detail": res["detail"]}))

    if a.trace:
        declared = spec["per_layer"]
        # a layer this workload does not run did no work in it
        values = {m["name"]: res["per_layer"].get(m["name"], 0.0)
                  for m in declared}
        extra = sorted(set(res["per_layer"]) - set(values))
        if extra:
            fail(f"undeclared per-layer metrics: {extra}")
    else:
        declared = spec["end_to_end"]
        missing = [m["name"] for m in declared
                   if m["name"] not in res["end_to_end"]]
        if missing:
            fail(f"end-to-end metrics not measured: {missing}")
        values = {m["name"]: res["end_to_end"][m["name"]] for m in declared}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
