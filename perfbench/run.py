#!/usr/bin/env python3
"""Platform benchmark: iterative registry entries and streaming ingest, each
timed end to end and, in a traced run, per layer.

    python3 perfbench/run.py --workload batch_iterative --seed 1 --seconds 12 --trace 0

Workloads: batch_iterative, stream_ingest. The first run in a checkout
compiles the platform and the harness (perfbench/build.py).
Each run starts one JVM (perfbench.Main), which sets up three times, measures
for --seconds and checks its outputs; this script then compares the batch
outputs with the DuckDB oracle descriptions in expected_sf0.01.json.

Output: one JSON line with the run's detail (the issue-named metrics, failure
records, counter repeatability, session leak samples, run stamps), then, as
the last line, {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. The full result is also kept in .bench_build/results/.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["batch_iterative", "stream_ingest"]
RUN_LIMIT_S = 175


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def check_oracle(result):
    """Failure records for batch outputs that differ from their oracle."""
    outputs = dict(result["outputs"] or {})
    if not outputs:
        return []
    import duckdb
    import oracle
    expected = json.load(open(oracle.EXPECTED))
    con = duckdb.connect()
    failures = []
    for name, path in sorted(outputs.items()):
        what = f"{result['workload']}/{name}/oracle"
        files = glob.glob(os.path.join(path, "*.parquet"))
        if name not in expected:
            failures.append({"what": what, "class": "NoOracle", "message": "no expected result"})
            continue
        got = oracle.describe(oracle.parquet_frame(con, files))
        want = expected[name]
        diff = [k for k in ("columns", "dtypes", "rows", "hash") if got[k] != want[k]]
        if diff:
            failures.append({"what": what, "class": "OracleMismatch", "message": "; ".join(
                f"{k}: got {got[k]} want {want[k]}" for k in diff)})
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    os.makedirs(build.BUILD, exist_ok=True)
    build.build()
    t0 = time.time()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = build.java(work, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--fixtures", build.FIXTURES, "--work", work, "--out", out)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        tail = open(log_path, errors="replace").read()[-6000:]
        sys.stderr.write(tail)
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}")
    result = json.load(open(out))
    t1 = time.time()
    failures = list(result["failures"] or []) + check_oracle(result)
    attempted = result["attempted"]
    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in dict(result["metrics"] or {}).items()}
    if any(m["value"] is None for m in metrics.values()) and not failures:
        fail("a metric has no samples although no operation failed")
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, units {sorted(k for k in want if got.get(k, want[k]) != want[k])}")
    detail = dict(result["detail"] or {})
    detail["error_rate"] = {"value": len(failures) / attempted, "unit": "ratio", "n": attempted}
    detail["jvm_s"] = t1 - t0
    detail["oracle_check_s"] = time.time() - t1
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "seconds": a.seconds, "detail": detail, "failures": failures,
                "leaks": result["leaks"], "metrics": result["metrics"]}
    os.makedirs(os.path.join(build.BUILD, "results"), exist_ok=True)
    with open(os.path.join(build.BUILD, "results", tag + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({k: artifact[k] for k in ("workload", "seed", "trace", "detail", "failures", "leaks")}))
    # a metric without samples (every operation failed) reads 0
    metrics = {k: {"value": m["value"] or 0.0, "unit": m["unit"]} for k, m in metrics.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
