#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Inputs are generated from the seed and cached; their
generation is outside every metric. Each run starts one JVM
(graft.perfbench.Main), which sets up, runs the timed region, checks the
outputs and writes its figures; this script prints them as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Everything the benchmark writes goes under
.bench_build/perfbench in the checkout.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
TIER = os.path.join(HERE, "data", "sf0.01")
EXPECTED_QUERIES = os.path.join(HERE, "expected_queries.json")

# Input sizes, chosen so that one run's timed region takes at least
# BENCHMARK.json's run_seconds on a 4-core box. The workloads are of fixed
# size, so `--seconds` is accepted and does not change them.
ETL_ROWS = 40000
STREAM_FILES = 8
STREAM_RECORDS = 500
STREAM_WARMUP_FILES = 2
RUN_LIMIT_S = 175        # a run must end within 180 s
BUILD_LIMIT_S = 840      # the first run of a checkout may build for longer
KEEP_INPUTS = 3          # cached input sets kept per workload

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the harness once per source state; returns the
    runtime classpath and the source stamp."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to the benchmark: run it from the root of a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(STATE, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), stamp
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(STATE, "build.log")
    log(f"building (log: {os.path.relpath(log_path, ROOT)})")
    with open(log_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, env, out, out, BUILD_LIMIT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}), see {log_path}")
    with open(log_path) as f:
        lines = [l.strip() for l in f if os.pathsep in l and "classes" in l]
    if not lines:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], stamp


def run_group(cmd, cwd, env, out, err, limit):
    """Run a command in its own process group; kill the group on timeout.
    Returns the exit code (-9 after a timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(limit, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {limit:.0f} s: {' '.join(cmd[:3])} ...")
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def size_tag(workload):
    return {"etl_batch": f"r{ETL_ROWS}",
            "stream_ingest": f"f{STREAM_FILES}x{STREAM_RECORDS}w{STREAM_WARMUP_FILES}",
            "query_surface": "panel"}[workload]


def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs of a workload."""
    base = os.path.join(STATE, "inputs")
    d = os.path.join(base, f"{workload}-{size_tag(workload)}-s{seed}")
    if os.path.exists(os.path.join(d, "done")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "query_surface":
        with open(EXPECTED_QUERIES) as f:
            order = sorted(json.load(f)["panel"])
        random.Random(seed).shuffle(order)
        with open(os.path.join(d, "order.txt"), "w") as f:
            f.write("\n".join(order) + "\n")
    else:
        sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
        sys.path.insert(0, HERE)
        import gen
        if workload == "etl_batch":
            expected = gen.gen_etl(seed, d, ETL_ROWS)
        else:
            expected = gen.gen_stream(seed, d, STREAM_FILES, STREAM_RECORDS, STREAM_WARMUP_FILES)
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
    open(os.path.join(d, "done"), "w").close()
    # keep the cache small: the few most recently used sets per workload
    mine = sorted((os.path.join(base, n) for n in os.listdir(base) if n.startswith(workload + "-")),
                  key=os.path.getmtime, reverse=True)
    for old in mine[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def run_jvm(cp, workload, seed, trace, data, deadline):
    """One JVM run; returns its result record."""
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(STATE, "logs")
    traces = os.path.join(STATE, "traces")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    result = os.path.join(work, "result.json")
    # a fixed-size heap: GC sizing decisions then do not differ between runs
    heap = "2g"
    cmd = ["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--trace", str(trace), "--work", work, "--result", result]
    if workload == "query_surface":
        cmd += ["--tier", TIER, "--order", os.path.join(data, "order.txt"),
                "--expected", EXPECTED_QUERIES]
    else:
        cmd += ["--data", data]
    if trace:
        cmd += ["--spans", os.path.join(traces, f"{tag}.jsonl")]
    log_path = os.path.join(logs, f"{tag}.log")
    try:
        with open(log_path, "w") as out:
            rc = run_group(cmd, ROOT, None, out, out, deadline - time.time())
        if rc != 0 or not os.path.exists(result):
            fail(f"{workload} run exited {rc} without a result, see {log_path}", 1)
        results = os.path.join(STATE, "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(result, os.path.join(results, f"{tag}.json"))
        with open(result) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def history(workload, stamp):
    """Untraced results of this workload, size and source state."""
    return os.path.join(STATE, "history", f"{workload}-{size_tag(workload)}-{stamp}.jsonl")


def untraced_walls(path):
    try:
        with open(path) as f:
            return [json.loads(l)["wall_s"] for l in f if l.strip()]
    except FileNotFoundError:
        return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    cp, stamp = build()
    data = inputs(args.workload, args.seed)
    hist = history(args.workload, stamp)
    # a run ends within RUN_LIMIT_S of its start; one that had to build
    # first still gets half of that for its JVM
    deadline = max(started + RUN_LIMIT_S, time.time() + RUN_LIMIT_S / 2)

    if args.trace and not untraced_walls(hist):
        # trace.overhead_frac needs an untraced wall to compare with
        record_untraced(hist, args.seed, run_jvm(cp, args.workload, args.seed, 0,
                                                 data, time.time() + RUN_LIMIT_S / 2))
    rec = run_jvm(cp, args.workload, args.seed, args.trace, data, deadline)
    if not args.trace:
        record_untraced(hist, args.seed, rec)

    for f in rec["failures"]:
        log(f"FAILED {args.workload}: {f}")
    log(f"error_rate={rec['failed'] / max(rec['attempted'], 1):.6f} "
        f"({rec['failed']} of {rec['attempted']} operations failed)")
    log(f"box.calibration_s={rec['per_layer']['box.calibration_s']:.4f}")

    if args.trace:
        layer = dict(rec["per_layer"])
        base = statistics.median(untraced_walls(hist))
        layer["trace.overhead_frac"] = (rec["end_to_end"]["wall_s"] - base) / base
        declared, values = spec["per_layer"], layer
    else:
        declared, values = spec["end_to_end"], rec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def record_untraced(path, seed, rec):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"seed": seed, "wall_s": rec["end_to_end"]["wall_s"],
                            "calibration_s": rec["per_layer"]["box.calibration_s"]}) + "\n")


if __name__ == "__main__":
    main()
