#!/usr/bin/env python3
"""covSonar workflow benchmark.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload match|surveillance \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt), runs one
workload in a single local[nproc] Spark session and prints, as the last line
of standard output, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The full report (raw
samples, span self times, sentinels, sizes, cpus, master and heap) is
written to perfbench/out/, and every result line is appended to
perfbench/out/results.jsonl for compare.py.
"""
import argparse
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("match", "surveillance")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is created outside spark-submit.
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless the sources are unchanged
    since the last build; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "bench-build.json")
    d = digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == d:
            return s["classpath"]
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        # no sbt server and no JVM perf-data file: nothing is written outside the checkout
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": d, "classpath": lines[-1]}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(cp, args, out, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and young generation on transparent huge pages: heap
    # resizing and TLB misses otherwise add run-to-run spread to every latency
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseTransparentHugePages",
           "-XX:-UsePerfData", *OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(nproc()),
           "--out", out, "--work", os.path.join(work, "run")]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("harness timed out")


def end_to_end(r):
    """The end-to-end metrics of one run, from its untraced loop."""
    ops = r["untraced"]
    lat = stats.latencies(ops)
    return {
        "setup_s": r["build_s"] + r["prepare_s"],
        "op_p50_s": stats.finite(stats.percentile(lat, 50)),
        "op_p90_s": stats.finite(stats.percentile(lat, 90)),
        "work_per_s": stats.rate(ops),
        "store_bytes_per_genome": r["store_bytes_per_genome"],
    }


def per_layer(r, names):
    """Per-layer metrics of one traced run. Layers a workload does not
    exercise read 0."""
    m = {k: 0.0 for k in names}
    m.update(r["layers"])
    for k, v in r["sentinels"].items():
        m["sentinel." + k] = v
    un, tr = stats.latencies(r["untraced"]), stats.latencies(r["traced"])
    if un and tr:
        p_un, p_tr = stats.percentile(un, 50), stats.percentile(tr, 50)
        m["trace.overhead_frac"] = stats.finite((p_tr - p_un) / p_un, 1.0)
    for tier in ("point", "scan"):
        t = stats.latencies([o for o in r["untraced"] if o["kind"] == tier])
        if t:
            m[f"SonarMatch.{tier}_p50_ms"] = stats.finite(stats.percentile(t, 50)) * 1000
    m["SonarOps.optimize_s"] = r["optimize_s"]
    m["jvm.peak_live_heap_mb"] = r["peak_heap_mb"]
    m["env.cpus"] = r["cpus"]
    m["env.heap_max_mb"] = r["heap_max_mb"]
    unknown = set(m) - set(names)
    if unknown:
        raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: the engine sources (build.sbt, src/main) are not here")
    with open(spec_path) as fh:
        spec = json.load(fh)

    cp = build()
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    raw = os.path.join(out_dir, tag + ".raw.json")
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    if os.path.exists(raw):
        os.remove(raw)
    try:
        rc = run_harness(cp, args, raw, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"harness exited with {rc}")
    with open(raw) as fh:
        r = json.load(fh)

    ops = r["untraced"] + r["traced"]
    attempted, failed = stats.failure_counts(ops)
    if args.trace == 0:
        values = end_to_end(r)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        values = per_layer(r, [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if set(values) != set(units):
        raise SystemExit(f"metrics {sorted(set(units) ^ set(values))} do not match BENCHMARK.json")
    line = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    with open(os.path.join(out_dir, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "result": line}) + "\n")
    print(json.dumps(line, allow_nan=False))


if __name__ == "__main__":
    main()
