"""Span summariser for traced runs.

Reads the spans a traced run wrote (spans.jsonl) and prints, per layer,
self time and span counts; then every per-layer metric; then the tracing
overhead against the untraced run of the same workload and seed, when one
has been made in this checkout. run.py calls it on every traced run.
"""
import json
import os
from collections import defaultdict


def self_times(spans):
    """layer → (span count, self ms). Self time is a span's duration minus
    the part of it that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    out = defaultdict(lambda: [0, 0.0])
    for s in spans:
        covered, cur_s, cur_e = 0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start_ns"]), min(b, s["end_ns"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        o = out[s["layer"]]
        o[0] += 1
        o[1] += (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return dict(out)


def summary(run_dir, res, units, results_dir, workload, seed):
    lines = []
    path = os.path.join(run_dir, "spans.jsonl")
    spans = [json.loads(l) for l in open(path)] if os.path.exists(path) else []
    ops = max(1, sum(1 for s in spans if s["layer"] == "op"))
    lines.append(f"  layer self time ({len(spans)} spans, {ops} ops):")
    for layer, (n, ms) in sorted(self_times(spans).items(), key=lambda kv: -kv[1][1]):
        lines.append(f"    {layer:10s} spans {n:6d}  self {ms:10.1f} ms  {ms / ops:9.3f} ms/op")
    lines.append("  per-layer metrics:")
    for k, v in sorted(res["layer"].items()):
        lines.append(f"    {k} {v:.6g} {units[k]}")
    base = os.path.join(results_dir, f"{workload}-seed{seed}-trace0.json")
    if os.path.exists(base):
        u = json.load(open(base))["metrics"]
        t = res["metrics"]
        parts = [f"{k} {t[k]:.3f} vs {u[k]:.3f} ({(t[k] / u[k] - 1) * 100:+.1f}%)"
                 for k in ("latency_p50_ms", "latency_p90_ms", "ops_per_s") if u.get(k)]
        lines.append("  tracing overhead (traced vs untraced, same seed): " + "; ".join(parts))
    else:
        lines.append("  tracing overhead: no untraced run of this workload and seed yet "
                     "(run it with --trace 0 first)")
    return lines

