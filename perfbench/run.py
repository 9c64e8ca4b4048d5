#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: wordcount-batch, query-mix,
stream-windowed. The first run builds the engine and the harness with sbt
(offline) and caches the classpath under .bench_build/, keyed by a hash of
every source and build file; later runs start the JVM directly.

Prints each metric as `<name> <value> <unit>`, then, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the gated end-to-end ones; with --trace 1 the per-layer
ones, and the span tree goes to .bench_build/trace-<workload>.json.

Extra options: --size tiny (small inputs, for the self-test) and
--corrupt 1 (perturb one expected value in every output check, which must
then fail). Exits non-zero when any output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("wordcount-batch", "query-mix", "stream-windowed")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True) if os.path.isfile(f))
    return sorted(files)


def classpath():
    """Build once per source state; return the runtime classpath."""
    files = source_files()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not any("/src/main/" in f for f in files
                                                                       if not f.startswith(HERE)):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cp_file = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    offline = "-Dsbt.offline=true -Dsbt.server.autostart=false"
    if os.path.isfile(repos):
        offline += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # sbt's sockets, lock files and temp files go under the build directory too.
    local = f" -Djava.io.tmpdir={BUILD}/tmp -Dsbt.ivy.home={BUILD}/ivy2"
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + offline + local + " -Xmx2g").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (log: {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def run_jvm(cp, args, out):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={tmp}",
            "-cp", cp, "perfbench.Main"] + args
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=out, stdout=fh, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"harness exited with {p.returncode}")


def duckdb_check(result, corrupt):
    """Compare each query's output with DuckDB running the oracle SQL on
    the same parquet tables: same columns (sorted by name), same row count,
    same values as strings, in order."""
    import duckdb
    import pandas as pd
    extra = result["extra"]
    verify, data = extra["verify_dir"], extra["data_dir"]
    with open(os.path.join(verify, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        pat = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{pat}')")
        cols = {c[0]: c[1] for c in con.execute(f"DESCRIBE {name}").fetchall()}
        if cols.get("ts") == "BIGINT":
            sel = ", ".join("make_timestamp(ts // 1000) AS ts" if c == "ts" else c for c in cols)
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT {sel} FROM read_parquet('{pat}')")

    def canon(df):
        return df[sorted(df.columns)].reset_index(drop=True)

    checks = []
    for i, q in enumerate(sorted(extra["queries"])):
        path = os.path.join(verify, q)
        if q not in oracle:
            checks.append((f"query {q}", False, "no oracle SQL"))
            continue
        if not os.path.isdir(path):
            checks.append((f"query {q}", False, "no output (query failed)"))
            continue
        got = canon(pd.read_parquet(path)).astype(str)
        exp = canon(con.execute(oracle[q]).fetchdf()).astype(str)
        if corrupt and i == 0 and len(exp) > 0:
            exp.iloc[0, 0] = exp.iloc[0, 0] + "~"
        if list(got.columns) != list(exp.columns):
            checks.append((f"query {q}", False, f"columns {list(got.columns)} != {list(exp.columns)}"))
        elif len(got) != len(exp):
            checks.append((f"query {q}", False, f"rows {len(got)} != {len(exp)}"))
        elif not got.equals(exp):
            checks.append((f"query {q}", False, "values differ from the DuckDB oracle"))
        else:
            checks.append((f"query {q}", True, ""))
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--corrupt", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    cp = classpath()
    out = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        cores = len(os.sched_getaffinity(0))
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--size", a.size, "--corrupt", str(a.corrupt),
                     "--cores", str(cores), "--out", out,
                     "--data", os.path.join(HERE, "data", "sf0.01")], out)
        with open(os.path.join(out, "result.json")) as fh:
            result = json.load(fh)
        checks = [(c["name"], c["ok"], c["why"]) for c in result["checks"]]
        attempted, failed = result["attempted"], result["failed"]
        if a.workload == "query-mix":
            qc = duckdb_check(result, a.corrupt == 1)
            checks += qc
            attempted += len(qc)
            failed += sum(1 for c in qc if not c[1])
        result["named"]["failed_ops_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
        if a.trace == 1:
            shutil.copy(os.path.join(out, "trace.json"), os.path.join(BUILD, f"trace-{a.workload}.json"))
            with open(os.path.join(BUILD, f"result-{a.workload}-trace.json"), "w") as fh:
                json.dump(dict(result, attempted=attempted, failed=failed), fh, indent=1)
    finally:
        for name in ("result.json", "jvm.log"):
            if os.path.isfile(os.path.join(out, name)):
                shutil.copy(os.path.join(out, name), os.path.join(BUILD, f"last-{a.workload}-{name}"))
        shutil.rmtree(out, ignore_errors=True)

    for name, ok, why in checks:
        if not ok:
            print(f"CHECK FAILED {name}: {why}")
    print(f"checks {sum(1 for c in checks if c[1])}/{len(checks)} passed; "
          f"attempted {attempted} failed {failed}")
    groups = ["e2e", "named"] + (["layers", "detail"] if a.trace == 1 else [])
    for g in groups:
        for k, m in result[g].items():
            print(f"{g:6} {k} {m['value']:.6g} {m['unit']}")
    metrics = result["layers"] if a.trace == 1 else result["e2e"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
