#!/usr/bin/env python3
"""Compare the repository benchmark between two revisions.

    python3 scripts/perf_ab.py --parent HEAD~1 --change HEAD \
        --workload persist_find --seeds 11-16 [--seconds 8] [--trace 1]

Each revision is exported with `git archive` into its own directory under
--workdir (kept, and reused by a later call with the same --workdir, so
perfbench's per-checkout build runs once per source tree). `--change worktree`
exports the working tree's tracked files, staged new files included.

For every seed it runs the command `BENCHMARK.json` declares plus
`--workload/--seed/--seconds/--trace`, once per revision, one run at a
time; the order flips from seed to seed (parent first on the first seed,
change first on the next, ...). It then prints, per metric: the median of
each side, the change/parent ratio, the parent's interquartile range, how
many seed pairs the change won, and the metric's `BENCHMARK.json` bound,
plus failed-op counts and the load average before and after. Each run's
wall time (the whole `run.py` process: build check, input generation,
setup and the timed pass) is printed with it, and per side the median
and total wall, which is what a change does to a full benchmark check's
time budget.

Exit status: 0 when every run finished with 0 failed ops and no bounded
metric's median is worse than its bound; 1 otherwise; 2 on bad usage.
Only `BENCHMARK.json` is read and `perfbench/run.py` called; nothing under
perfbench/ is changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, **kw):
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True,
                          text=True, **kw).stdout.strip()


def resolve(rev):
    """Commit id of `rev`; `worktree` is the working tree's tracked files."""
    if rev == "worktree":
        return git("stash", "create") or git("rev-parse", "HEAD")
    try:
        return git("rev-parse", "--verify", f"{rev}^{{commit}}")
    except subprocess.CalledProcessError:
        print(f"perf_ab: unknown revision {rev}", file=sys.stderr)
        sys.exit(2)


def export(commit, workdir):
    """`git archive` of `commit` into workdir/<tree id>, reused when present
    (a `worktree` export of unchanged files reuses its directory)."""
    d = os.path.join(workdir, git("rev-parse", f"{commit}^{{tree}}")[:12])
    done = os.path.join(d, ".perf_ab_export")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", commit], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"perf_ab: git archive {commit} failed")
        open(done, "w").write(commit + "\n")
    return d


def seeds(spec):
    """`11-16` or `11,12,14`."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, command, workload, seed, seconds, trace):
    """One benchmark run: its final JSON line (None when it crashed) and
    its wall time in seconds."""
    cmd = [*command, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None, wall
    return json.loads(lines[-1]), wall


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="baseline revision")
    ap.add_argument("--change", required=True, help="revision to compare, or 'worktree'")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-16 or 11,12,14")
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", help="export directory (default: a new temp dir)")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        ap.error(f"unknown workload {a.workload}")
    seconds = a.seconds or bench["run_seconds"]
    declared = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    workdir = a.workdir or tempfile.mkdtemp(prefix="perf_ab_")
    sides = {"parent": resolve(a.parent), "change": resolve(a.change)}
    dirs = {s: export(c, workdir) for s, c in sides.items()}
    for s, c in sides.items():
        print(f"{s}: {c[:12]} in {dirs[s]}")
    load_before = os.getloadavg()

    results = {"parent": [], "change": []}
    walls = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r, wall = run(dirs[side], bench["command"], a.workload, seed, seconds, a.trace)
            results[side].append(r)
            walls[side].append(wall)
            print(f"seed {seed} {side}: wall {wall:.1f} s " + ("CRASHED" if r is None else
                  f"failed {r['failed']}/{r['attempted']} " + " ".join(
                      f"{k}={m['value']:.4g}" for k, m in sorted(r["metrics"].items()))),
                  flush=True)
    load_after = os.getloadavg()

    ok = True
    crashed = {s: sum(r is None for r in rs) for s, rs in results.items()}
    failed = {s: sum(r["failed"] for r in rs if r) for s, rs in results.items()}
    wrong = {s: sum(1 for r in rs if r and not r["correct"]) for s, rs in results.items()}
    print(f"\nload average before {load_before[0]:.2f}, after {load_after[0]:.2f}; "
          f"nproc {os.cpu_count()}; workload {a.workload}; seeds {a.seeds}; {seconds:g} s")
    for s in sides:
        print(f"{s}: {len(results[s])} runs, {crashed[s]} crashed, {wrong[s]} incorrect, "
              f"{failed[s]} failed ops; wall median {statistics.median(walls[s]):.1f} s, "
              f"total {sum(walls[s]):.1f} s")
        ok &= crashed[s] == 0 and wrong[s] == 0 and failed[s] == 0
    pairs = [(p, c) for p, c in zip(results["parent"], results["change"]) if p and c]
    if not pairs:
        print("no complete pair of runs")
        sys.exit(1)
    print(f"\n{'metric':<24}{'parent':>12}{'change':>12}{'ratio':>8}"
          f"{'parent IQR':>12}{'wins':>7}{'bound':>8}  verdict")
    for name in sorted(pairs[0][0]["metrics"]):
        p = [x["metrics"][name]["value"] for x, _ in pairs]
        c = [y["metrics"][name]["value"] for _, y in pairs]
        mp, mc = statistics.median(p), statistics.median(c)
        ratio = mc / mp if mp else float("inf") if mc else 1.0
        q1, q3 = quartiles(p)
        spec = declared.get(name, {})
        lower = spec.get("better", "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        bound = spec.get("bound")
        verdict = "-"
        if bound is not None:
            worse = ratio > 1 + bound if lower else ratio < 1 - bound
            verdict = "WORSE THAN BOUND" if worse else "within bound"
            ok &= not worse
        print(f"{name:<24}{mp:>12.4g}{mc:>12.4g}{ratio:>8.3f}{q3 - q1:>12.4g}"
              f"{wins:>4}/{len(pairs):<2}{'' if bound is None else bound:>8}  {verdict}")
    print("\nPASS" if ok else "\nFAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
