#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark (about five minutes on 4 cores).

    python3 perfbench/selftest.py

From the root of a checkout. It asserts two things:
  1. every workload, run small with tracing on, emits every named metric
     of BENCHMARK.json with its unit (end-to-end metrics from the run
     artifact, per-layer metrics on the result line) and passes its
     correctness gates;
  2. a deliberately corrupted run -- one dropped event, or one tampered
     store key or result row -- reports failed > 0 and correct = false.
Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["ingest_live", "dashboard_read", "live_mixed_resp", "catalog_batch"]
CORRUPT = [("ingest_live", "drop_event"), ("dashboard_read", "tamper_key"),
           ("catalog_batch", "tamper_key")]


def run(workload, trace, corrupt="none", seed=7):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", str(trace), "--smoke", "1",
           "--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None, p.stderr[-2000:]
    art_path = os.path.join(HERE, "out", f"{workload}-s{seed}-t{trace}.json")
    with open(art_path) as fh:
        return (json.loads(lines[-1]), json.load(fh)), p.stderr[-2000:]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []

    def check(ok, what):
        print(("PASS " if ok else "FAIL ") + what)
        if not ok:
            bad.append(what)

    for w in WORKLOADS:
        out, err = run(w, trace=1)
        if out is None:
            check(False, f"{w}: run failed\n{err}")
            continue
        line, art = out
        check(set(line) == {"correct", "attempted", "failed", "metrics"},
              f"{w}: result line has exactly correct/attempted/failed/metrics")
        check(line["correct"] and line["failed"] == 0 and line["attempted"] >= 1,
              f"{w}: correctness gates pass (failed={line['failed']}, "
              f"attempted={line['attempted']})")
        for m in spec["per_layer"]:
            got = line["metrics"].get(m["name"])
            check(got is not None and got["unit"] == m["unit"]
                  and isinstance(got["value"], (int, float)),
                  f"{w}: per-layer {m['name']} [{m['unit']}]")
        for m in spec["end_to_end"]:
            got = art["e2e"].get(m["name"])
            check(got is not None and got["unit"] == m["unit"] and got["value"] > 0,
                  f"{w}: end-to-end {m['name']} [{m['unit']}] > 0")
        check(art["env"]["loadavg_start"] is None or len(art["env"]["loadavg_start"]) == 3,
              f"{w}: artifact records loadavg (or null)")

    for w, how in CORRUPT:
        out, err = run(w, trace=0, corrupt=how)
        if out is None:
            check(False, f"{w} --corrupt {how}: run failed\n{err}")
            continue
        line, art = out
        check(line["failed"] > 0 and not line["correct"] and art["failed_ratio"] > 0,
              f"{w} --corrupt {how}: failed_ratio > 0 (failed={line['failed']})")

    print(f"\n{'OK' if not bad else 'FAILED'}: {len(bad)} failing checks")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
