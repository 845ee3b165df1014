#!/usr/bin/env python3
"""Benchmark entry point: build, generate seeded inputs, run one workload,
check its results and print the metrics.

    python3 perfbench/run.py --workload dialect_select --seed 1 --seconds 8 --trace 0

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics untraced, the per-layer metrics traced).
The lines before it are the human-readable report. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
sys.path.insert(0, HERE)

import gen  # noqa: E402

JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# latency_p90_ms is reported but not gated: its run-to-run spread on
# stream_tail (0.19-0.23 over ten seeds) sits too close to the largest
# bound a metric may have (0.25); see README.md
END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("ops_per_s", "1/s"),
              ("heap_retained_mb", "MB")]
# the samples behind the latency percentiles on each workload
LATENCY = {"dialect_select": ["latency"], "persist_find": ["read", "write", "process"],
           "stream_tail": ["emit"], "pipeline_ops": ["latency"]}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark with sbt once per source state;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "source.sha256"), os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    log = os.path.join(BUILD, "build.log")
    # offline, as the engine's own test command runs sbt
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx4g")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().strip().splitlines()
    if p.returncode != 0 or not lines:
        die(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def percentile(v, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(v)
    if not s:
        return 0.0
    x = p * (len(s) - 1)
    i = int(x)
    return s[-1] if i + 1 >= len(s) else s[i] + (x - i) * (s[i + 1] - s[i])


def check_pipeline(run_dir, res):
    """Hash each warm-up result and compare with the DuckDB oracle hashes.
    A wrong warm-up result makes it and every timed run of that query
    wrong."""
    import pandas as pd
    from oracle import EXPECTED, result_hash
    expected = json.load(open(EXPECTED))["hashes"]
    bad = []
    for q in gen.PIPELINE_QUERIES:
        d = os.path.join(run_dir, "results", q)
        got = result_hash(pd.concat([pd.read_parquet(os.path.join(d, f))
                                     for f in sorted(os.listdir(d)) if f.endswith(".parquet")],
                                    ignore_index=True))
        if got != expected[q]:
            bad.append(q)
    for q in bad:
        n = sum(1 for f in res["failures"] if f.startswith(q + ":"))
        res["failures"].append(f"{q}: result hash differs from the DuckDB oracle")
        res["failed"] += 1 + res["extra"]["runs"].get(q, 0) - n


def report(workload, res, trace):
    """Human-readable lines: every metric by name, unit and sample count."""
    s = res["samples"]
    lines = [f"workload {workload}  trace={int(trace)}  timed {res['timed_s']:.2f} s"]

    def dist(name, key):
        v = s.get(key, [])
        if v:
            p90, p95 = percentile(v, .9), percentile(v, .95)
            lines.append(f"  {name}_p50_ms {percentile(v, .5):.3f} ms  {name}_p90_ms {p90:.3f} ms  "
                         f"{name}_p95_ms {p95:.3f} ms  (n={len(v)}; beyond p90 "
                         f"{sum(x > p90 for x in v)}, beyond p95 {sum(x > p95 for x in v)})")

    lines.append(f"  setup_s {res['setup_s']:.3f} s")
    lines.append(f"  failed_ratio {res['failed'] / max(1, res['attempted']):.4f} ratio "
                 f"({res['failed']} of {res['attempted']})")
    lines.append(f"  heap_retained_mb {res['heap_retained_mb']:.1f} MB")
    if workload in ("dialect_select", "persist_find"):
        dist("read", "read" if workload == "persist_find" else "latency")
        n = len(s.get("latency", [])) + sum(len(s.get(k, [])) for k in ("read", "write", "process")
                                             if workload == "persist_find")
        lines.append(f"  ops_per_s {n / res['timed_s']:.3f} 1/s")
    if workload in ("persist_find", "stream_tail"):
        dist("write", "write")
    if workload == "persist_find":
        x = res["extra"]
        lines.append(f"  persist_rows_per_s {x['rows_persisted'] / max(1e-9, x['persist_ms'] / 1e3):.1f} rows/s")
        if s.get("process"):
            lines.append(f"  process_p50_ms {percentile(s['process'], .5):.3f} ms (n={len(s['process'])})")
    if workload == "stream_tail":
        dist("emit", "emit")
        for k in sorted(s):
            if k.startswith("emit."):
                dist(f"emit[{k[5:]}]", k)
    if workload == "pipeline_ops":
        dist("query", "latency")
        p = s.get("pass", [])
        lines.append(f"  pipeline_wall_s {percentile(p, .5) / 1e3:.3f} s (median over passes, n={len(p)})")
    if res["failures"]:
        lines.append("  failures: " + "; ".join(res["failures"][:5]))
    lines.append("  provenance " + json.dumps(res["provenance"], sort_keys=True))
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--chunk-ms", type=int, default=750,
                    help="stream_tail schedule: one chunk in each slot of this many ms")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="self-test: plant wrong answers in the checked data (failed must be > 0)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        gen.generate(a.workload, a.seed, run_dir)
        cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={run_dir}/tmp",
               "-cp", cp, "perfbench.Main", "--workload", a.workload, "--dir", run_dir,
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--chunk-ms", str(a.chunk_ms)]
        if a.plant_wrong:
            cmd.append("--plant-wrong")
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as out:
            p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                pass
            finally:  # also on SIGTERM: never leave the JVM behind
                if p.poll() is None:
                    p.kill()
                    p.wait()
        res_file = os.path.join(run_dir, "result.json")
        if p.returncode != 0 or not os.path.exists(res_file):
            sys.stderr.write(open(log).read()[-4000:])
            die(f"workload {a.workload} exited with {p.returncode}")
        res = json.load(open(res_file))
        if a.workload == "pipeline_ops":
            check_pipeline(run_dir, res)
        lat = [x for k in LATENCY[a.workload] for x in res["samples"].get(k, [])]
        e2e = {"setup_s": res["setup_s"], "latency_p50_ms": percentile(lat, .5),
               "latency_p90_ms": percentile(lat, .9), "ops_per_s": len(lat) / res["timed_s"],
               "heap_retained_mb": res["heap_retained_mb"]}
        res["provenance"].update(source_sha256=source_digest(), git_commit=git_commit(),
                                 seed=a.seed, seconds=a.seconds)
        res["metrics"] = e2e
        lines = report(a.workload, res, a.trace)
        if a.trace:
            import summarise
            # every per-layer metric; a layer the workload does not reach reads 0
            units = {m["name"]: m["unit"] for m in json.load(open(BENCHMARK))["per_layer"]}
            res["layer"] = {k: res["layer"].get(k, 0.0) for k in units}
            lines += summarise.summary(run_dir, res, units, os.path.join(BUILD, "results"),
                                       a.workload, a.seed)
            metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layer"].items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        print("\n".join(lines))
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def git_commit():
    """HEAD of the checkout when it is a git work tree; a source export is
    identified by source_sha256 instead."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
