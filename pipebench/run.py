#!/usr/bin/env python3
"""Benchmark of the streaming validation pipeline and its batch operators.

Run from the root of a checkout:

    python3 pipebench/run.py --workload <replay|live|batch-pipeline> \
        --seed <n> --seconds <n> --trace <0|1>

The first run builds the program and the benchmark with sbt (the benchmark's
own build in this directory depends on the program's build one level up) and
caches the classpath under .bench_build/pipebench; later runs reuse it while
the sources are unchanged. The benchmark runs in one JVM; for batch-pipeline
the query outputs are then compared with DuckDB running the program's oracle
SQL on the same generated parquet. Report lines start with '#'; the last line
of standard output is the result as JSON. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".bench_build", "pipebench")
WORKLOADS = ("replay", "live", "batch-pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# what Spark's launcher passes to a JDK 17 JVM (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the program: "
             "src/main/scala/graft is missing", 2)
    os.makedirs(CACHE, exist_ok=True)
    stamp = os.path.join(CACHE, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(CACHE, "build.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
        log.write(r.stdout)
    lines = [l.strip() for l in r.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed; see {log_path}")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cps[-1]}, f)
    return cps[-1]


def oracle_check(work):
    """Compare each query's output with DuckDB on the same parquet, cell by
    cell as strings after sorting (the program's scripts/compare.py rule).
    Returns the names of queries whose outputs differ."""
    import duckdb
    import pandas as pd
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 1")
    events = os.path.join(work, "data", "events.parquet")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{events}'")

    def canon(df):
        s = df.reindex(sorted(df.columns), axis=1).astype(str)
        return s.sort_values(by=list(s.columns)).reset_index(drop=True)

    bad = []
    for name in sorted(oracle):
        spark_df = pd.read_parquet(os.path.join(work, "outputs", name))
        duck_df = con.sql(oracle[name]).df()
        same = (sorted(spark_df.columns) == sorted(duck_df.columns)
                and len(spark_df) == len(duck_df)
                and canon(spark_df).equals(canon(duck_df)))
        print(f"# oracle {'OK  ' if same else 'FAIL'} {name} ({len(spark_df)} rows)")
        if not same:
            bad.append(name)
    return bad


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    classpath = build()
    work = os.path.join(CACHE, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Djava.io.tmpdir={work}",
            "-cp", classpath, "pipebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    log_path = os.path.join(CACHE, f"last-{a.workload}.log")
    started = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}")
    lines = out.splitlines()
    for l in lines:
        if l.startswith("#"):
            print(l)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM failed (exit {proc.returncode}); see {log_path}")
    result = json.loads(lines[-1])
    if os.path.exists(os.path.join(work, "oracle_sql.json")):
        bad = oracle_check(work)
        if bad:
            result["correct"] = False
            print(f"# CHECK FAILED: outputs differ from the oracle: {', '.join(bad)}")
    if a.trace == "1" and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(CACHE, f"spans-{a.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(f"# wall {time.monotonic() - started:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
