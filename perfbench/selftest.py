#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root. For each workload, at a tiny size:
  1. a traced run must pass its output checks and print every metric below
     with its unit, and its JSON line must carry every per-layer metric of
     BENCHMARK.json;
  2. a run with one corrupted expected value in each output check must
     fail those checks and exit non-zero.
Finally, run.py in a directory holding only BENCHMARK.json and the
benchmark's own files must exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

FAMILIES = ["core.wordcount", "queries.relational", "queries.events", "operators.dedup",
            "operators.similarity", "operators.text", "operators.curation", "operators.multimodal"]
FAMILY_METRICS = {"build_ms": "ms", "plan_ms": "ms", "exec_ms": "ms", "driver_ms": "ms",
                  "jobs": "count", "tasks": "count", "task_busy_ms": "ms", "broadcasts": "count",
                  "input_bytes": "B", "shuffle_bytes": "B", "spill_bytes": "B"}

# Metrics each workload prints beyond the gated and per-layer ones.
EXPECTED = {
    "wordcount-batch": {
        "failed_ops_ratio": "ratio", "wordcount_mb_per_s": "MB/s",
        "sources.stage_s": "s", "functions.tokenize_busy_ms": "ms",
        "core.map_busy_ms": "ms", "core.reduce_busy_ms": "ms", "core.sample_job_ms": "ms",
        "core.shuffle_write_bytes": "B", "core.shuffle_records": "count",
        "core.combine_ratio": "ratio", "core.spill_bytes": "B", "core.output_bytes": "B",
        "core.jobs": "count", "core.tasks": "count",
    },
    "query-mix": dict(
        {"failed_ops_ratio": "ratio", "query_p50_s": "s", "query_p90_s": "s", "mix_s": "s",
         "query_p50_samples_beyond": "count", "query_p90_samples_beyond": "count",
         "artifacts.warm_pass_s": "s"},
        **{f"{f}.{m}": u for f in FAMILIES for m, u in FAMILY_METRICS.items()}),
    "stream-windowed": {
        "failed_ops_ratio": "ratio", "stream_rows_per_s": "1/s",
        "stream_latency_p50_ms": "ms", "stream_latency_p90_ms": "ms",
        "stream_latency_p50_samples_beyond": "count", "stream_latency_p90_samples_beyond": "count",
        "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
        "streaming.latest_offset_ms": "ms", "streaming.wal_commit_ms": "ms",
        "streaming.state_rows": "count", "streaming.state_bytes": "B",
        "streaming.state_commit_ms": "ms", "streaming.rows_dropped_by_watermark": "count",
        "streaming.backlog_rows": "count", "streaming.batches": "count",
    },
}


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    printed = {}
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) == 4 and parts[0] in ("e2e", "named", "layers", "detail"):
            printed[parts[1]] = parts[3]
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        result = json.loads(last)
    except ValueError:
        result = None
    return p, printed, result


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for w in bench["workloads"]:
        name = w["name"]
        base = ["--workload", name, "--seed", "7", "--seconds", "2", "--size", "tiny"]
        p, printed, result = run(base + ["--trace", "1"])
        if p.returncode != 0 or not result or not result["correct"]:
            problems.append(f"{name}: clean run failed (exit {p.returncode})\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
            continue
        want = {**e2e, **layers, **EXPECTED[name]}
        for metric, unit in want.items():
            if printed.get(metric) != unit:
                problems.append(f"{name}: {metric} printed with unit {printed.get(metric)}, want {unit}")
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != layers:
            problems.append(f"{name}: traced JSON metrics {sorted(got)} != per_layer {sorted(layers)}")
        p, _, result = run(base + ["--trace", "0", "--corrupt", "1"])
        if p.returncode == 0 or not result or result["correct"] or result["failed"] < 1:
            problems.append(f"{name}: a corrupted expected value was not caught (exit {p.returncode})")
        else:
            print(f"ok   {name}: metrics present; corrupted check caught: "
                  + "; ".join(l for l in p.stdout.splitlines() if l.startswith("CHECK FAILED")))

    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/project"))
        p, _, result = run(["--workload", bench["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare)
        if p.returncode == 0 or result is not None:
            problems.append("a directory without the engine sources did not fail")
        else:
            print("ok   benchmark-only directory: exits non-zero without a result")

    for msg in problems:
        print("FAIL", msg)
    print("SELFTEST " + ("FAILED" if problems else "PASSED"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
