#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first invocation builds the harness and
the engine with sbt (perfbench/build.sbt); later ones reuse the build while
no source is newer than it. The run itself happens in a fresh JVM; this
script then compares the near-dup outputs with their DuckDB oracles and
prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

It exits non-zero, printing no result, when the harness cannot be built or
the run does not produce a result.
"""
import argparse
import glob
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
RUN_TIMEOUT_S = 172

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# A fixed heap, touched at JVM start: first-touch page faults then land in
# set-up, not in the timed operations.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.exists(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile engine + harness once; cache the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found next to perfbench/: run from a full checkout")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(WORK, exist_ok=True)
    # values remembered across runs (triple counts per seed) belong to the
    # sources they were measured with
    shutil.rmtree(os.path.join(WORK, "state"), ignore_errors=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("[perfbench] building harness and engine (sbt)", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def oracle_compare(sf_dir, name, sql, out_dir):
    """Compare the engine's output with the DuckDB oracle as sorted rows over
    sorted columns; they must be equal. Returns (ok, detail)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
    exp = con.sql(sql).df()
    parts = glob.glob(f"{out_dir}/*.parquet")
    got = pd.concat([pd.read_parquet(p) for p in parts]) if parts else exp.iloc[0:0]
    cols = sorted(exp.columns)
    if cols != sorted(got.columns):
        return False, f"{name}: columns {sorted(got.columns)} != oracle {cols}"

    def rows(df):
        return sorted(tuple(round(v, 9) if isinstance(v, float) else v for v in r)
                      for r in df[cols].itertuples(index=False))
    want, have = rows(exp), rows(got)
    detail = f"{name}: {len(have)} rows, oracle {len(want)}"
    if have != want:
        missing = [r for r in want if r not in set(have)]
        spurious = [r for r in have if r not in set(want)]
        return False, f"{detail}; missing {missing[:3]}, not in oracle {spurious[:3]}"
    return True, detail


def expected_metrics(trace):
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    want = expected_metrics(a.trace)
    run_dir = os.path.join(WORK, "run")
    result_file = os.path.join(WORK, "result.json")
    for p in (run_dir, result_file):
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)

    # Spark's scratch (shuffle files, block spills) and JVM temp files stay
    # inside the work dir
    scratch = os.path.join(run_dir, "tmp")
    os.makedirs(scratch)
    env = dict(os.environ, SPARK_LOCAL_DIRS=scratch)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + \
        JVM_OPTS + [f"-Djava.io.tmpdir={scratch}", "-cp", cp, "graft.perfbench.Main",
                    "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", WORK, "--data", os.path.join(HERE, "data"),
                    "--result", result_file]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(result_file):
        fail(f"run failed (exit {proc.returncode})")
    with open(result_file) as f:
        res = json.load(f)
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    print(f"[perfbench] JVM run {time.time() - t0:.1f} s, cpu user {ru.ru_utime:.1f} s "
          f"sys {ru.ru_stime:.1f} s", file=sys.stderr)

    checks = res["checks"]
    failed = res["failed"]
    for o in res["oracles"]:
        try:
            ok, detail = oracle_compare(os.path.join(run_dir, "sf"), o["name"], o["sql"], o["out"])
        except Exception as e:  # the oracle itself must run
            ok, detail = False, f"{o['name']}: {e}"
        checks.append({"name": "oracle_" + o["name"], "ok": ok, "detail": detail})
        if not ok:
            failed += 1
    metrics = {k: v for k, v in res["metrics"].items() if k in want}
    missing = [m for m in want if m not in metrics or metrics[m]["value"] is None]
    for c in checks:
        print(f"[perfbench] check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}",
              file=sys.stderr)
    if missing:
        print(f"[perfbench] metrics not measured: {missing}", file=sys.stderr)
    correct = all(c["ok"] for c in checks) and not missing and failed == 0
    print(json.dumps({"correct": correct, "attempted": max(res["attempted"], 1),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
