#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (offline; about a minute) and keeps
the classpath under perfbench/target; later runs reuse it while the
sources are unchanged. Each run starts one JVM, which sets up, measures
for --seconds, checks the outputs, and writes an artifact under
perfbench/out. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics, and the
run also writes a spans file and a per-layer self-time summary.
Extra options for the self-test: --smoke 1 (small inputs) and
--corrupt drop_event|tamper_key (a deliberately broken run).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-sources.sha1")

# runnable, but not listed in BENCHMARK.json (see GLOSSARY.md)
EXTRA_WORKLOADS = ["live_mixed_resp"]

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build (paths, sizes, contents)."""
    files = sorted(
        glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
        + [os.path.join(ROOT, "src/test/scala/graft/RespTestServer.scala"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha1()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    for need in ("src/main/scala/graft", "src/test/scala/graft/RespTestServer.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine sources not found ({need}); run from the root of a checkout")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g -XX:-UsePerfData")
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def benchmark_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def catalog_gate(data_dir, dump_dir):
    """Oracle check of the catalog faces in DuckDB, with the engine's
    own compare script (tools/verify_local.py): returns (checks, failures)."""
    script = os.path.join(ROOT, "tools", "verify_local.py")
    if not os.path.exists(script):
        return 1, ["tools/verify_local.py not found: oracle gate cannot run"]
    try:
        p = subprocess.run([sys.executable, script, data_dir, dump_dir],
                           capture_output=True, text=True, timeout=45)
    except subprocess.TimeoutExpired:
        return 1, ["oracle compare timed out"]
    lines = p.stdout.splitlines()
    fails = [l for l in lines if l.startswith(("FAIL", "ORACLE-ERROR", "EMPTY-DUMP",
                                                "MISSING-DUMP", "SKIP"))]
    passed = [l for l in lines if l.startswith("PASS")]
    if p.returncode not in (0, 1) or not any(" pass, " in l for l in lines):
        fails.append("oracle compare did not complete: " + (p.stderr or p.stdout)[-500:])
    return max(1, len(passed) + len(fails)), fails


def self_times(spans):
    """Per-layer self time (s): each span's duration minus its children's."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_us"] - s["start_us"]
    out = {}
    for s in spans:
        d = s["end_us"] - s["start_us"] - child.get(s["id"], 0) if s["id"] else \
            s["end_us"] - s["start_us"]
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(d, 0) / 1e6
    return out


def trace_summary(args, artifact, spans_path):
    spans = []
    if os.path.exists(spans_path):
        with open(spans_path) as fh:
            spans = [json.loads(l) for l in fh if l.strip()]
    summary = {"workload": args.workload, "seed": args.seed, "spans": len(spans),
               "spans_file": os.path.relpath(spans_path, ROOT),
               "layer_self_s": self_times(spans), "traced_e2e": artifact["e2e"]}
    # tracing overhead: traced vs the untraced run of this workload and
    # seed, else the latest untraced run of this workload
    untraced = sorted(glob.glob(os.path.join(OUT, f"{args.workload}-s*-t0.json")),
                      key=os.path.getmtime)
    same_seed = os.path.join(OUT, f"{args.workload}-s{args.seed}-t0.json")
    if os.path.exists(same_seed):
        untraced.append(same_seed)
    if untraced:
        with open(untraced[-1]) as fh:
            base = json.load(fh)
        summary["overhead_vs"] = os.path.relpath(untraced[-1], ROOT)
        summary["tracing_overhead"] = {
            k: {"untraced": base["e2e"][k]["value"], "traced": v["value"],
                "delta_share": (v["value"] - base["e2e"][k]["value"]) / base["e2e"][k]["value"]
                if base["e2e"][k]["value"] else None}
            for k, v in artifact["e2e"].items() if k in base.get("e2e", {})}
    else:
        summary["tracing_overhead"] = "no untraced run of this workload in perfbench/out yet"
    path = os.path.join(OUT, f"trace-summary-{args.workload}.json")
    with open(path, "w") as fh:
        json.dump(summary, fh, indent=1)
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("none", "drop_event", "tamper_key"), default="none")
    args = ap.parse_args()

    spec = benchmark_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS:
        die(f"unknown workload {args.workload}")
    classpath = build()

    t0_ms = time.time() * 1000.0  # set-up starts here (after any build)
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    for d in ("tmp", "spark-local", "warehouse", "dump"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    artifact_path = os.path.join(OUT, tag + ".json")
    for stale in (artifact_path, artifact_path + ".spans.jsonl"):
        if os.path.exists(stale):
            os.remove(stale)

    extra = []
    if args.workload == "catalog_batch":
        sys.path.insert(0, HERE)
        import tables
        data = os.path.join(work, "data")
        times = []
        for _ in range(3):
            t = time.time()
            tables.generate(data, args.seed, smoke=bool(args.smoke))
            times.append((time.time() - t) * 1000.0)
        extra = ["--data", data, "--dump", os.path.join(work, "dump"),
                 "--pregen-ms", ",".join(f"{t:.3f}" for t in times)]

    # The benchmark pins Spark to half the box, whatever SPARK_GRAFT_CPUS
    # the caller exports, so that two environments measure the same
    # configuration. On a shared 4-core box, 2 cores measured about a
    # third of the run-to-run spread of 4 (freshness IQR/median 0.08 against 0.25).
    env = dict(os.environ)
    inherited_cpus = env.get("SPARK_GRAFT_CPUS")
    env["SPARK_GRAFT_CPUS"] = str(max(1, (os.cpu_count() or 2) // 2))
    # no hsperfdata file: the run writes only inside the checkout
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Dspark.sql.streaming.forceDeleteTempCheckpointLocation=true",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", artifact_path, "--corrupt", args.corrupt,
              "--smoke", str(args.smoke), "--t0-ms", f"{t0_ms:.3f}"] + extra)
    log_path = os.path.join(OUT, tag + ".log")
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = None
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                # the whole run, oracle check included, stays under 180 s
                rc = p.wait(timeout=120)
            except subprocess.TimeoutExpired:
                die("run timed out", 3)
        if rc != 0 or not os.path.exists(artifact_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-3000:])
            die(f"run failed (exit {rc})", 4)
        with open(artifact_path) as fh:
            artifact = json.load(fh)

        attempted, failed = artifact["attempted"], artifact["failed"]
        failures = list(artifact["failures"])
        if args.workload == "catalog_batch":
            checks, bad = catalog_gate(data, os.path.join(work, "dump"))
            attempted += checks
            failed += len(bad)
            failures += bad
            artifact["oracle_failures"] = bad
        artifact["failed_ratio"] = failed / attempted
        artifact["env"]["spark_graft_cpus_inherited"] = inherited_cpus
        with open(artifact_path, "w") as fh:
            json.dump(artifact, fh, indent=1)
        for f in failures[:20]:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        for flag in artifact["env"]["flags"]:
            print(f"perfbench: FLAG {flag}", file=sys.stderr)

        if args.trace:
            summary = trace_summary(args, artifact, artifact_path + ".spans.jsonl")
            print("perfbench: layer self time (s): " + json.dumps(summary["layer_self_s"]),
                  file=sys.stderr)
            metrics = {}
            for m in spec["per_layer"]:
                # a layer the workload leaves idle reads 0
                v = artifact["per_layer"].get(m["name"], {"value": 0.0})["value"]
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        else:
            metrics = {}
            for m in spec["end_to_end"]:
                if m["name"] not in artifact["e2e"]:
                    die(f"metric {m['name']} was not measured", 5)
                metrics[m["name"]] = {"value": artifact["e2e"][m["name"]]["value"],
                                      "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
