#!/usr/bin/env python3
"""Adjacent A/B of two checkouts on the perfbench workloads.

    python3 tools/ab.py --a PARENT_DIR --b CHANGE_DIR \\
        --workload wide_exact [--workload ref_stream] \\
        --seeds 3001-3010 [--seconds 8] [--trace 0] [--json OUT.json]

For each seed, runs `python3 perfbench/run.py` in both checkouts back to back,
A first on even-numbered pairs and B first on odd ones, so that drift in the
host's load falls on both sides alike. Then prints, per workload and metric,
every pair (A -> B), the medians and quartiles of each side, and how many
pairs B wins (a win is strictly better in the metric's direction, read from
the B checkout's BENCHMARK.json; unknown metrics count lower as better).
A run that fails, or reports `correct: false` or failed operations, is listed
and left out of its pair. Each checkout builds its own program on its first
run (perfbench/build.py).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}: {p.stderr.strip().splitlines()[-1:] or ''}"
    res = json.loads(lines[-1])
    if not res.get("correct") or res.get("failed"):
        return None, f"correct={res.get('correct')} failed={res.get('failed')}"
    return {k: v["value"] for k, v in res["metrics"].items() if v["value"] is not None}, None


def directions(checkout):
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m["better"] for key in ("end_to_end", "per_layer") for m in bench.get(key, [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, pairs, better):
    print(f"== {workload}: {len(pairs)} pairs (A -> B)")
    metrics = sorted(set.intersection(*(set(a) & set(b) for _, a, b in pairs))) if pairs else []
    summary = {}
    for m in metrics:
        a = [p[1][m] for p in pairs]
        b = [p[2][m] for p in pairs]
        lower = better.get(m, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        qa, qb = quartiles(a), quartiles(b)
        ma, mb = statistics.median(a), statistics.median(b)
        print(f"  {m} ({'lower' if lower else 'higher'} is better)")
        print("    pairs: " + ", ".join(f"s{s} {x:.4g}->{y:.4g}" for (s, _, _), x, y in zip(pairs, a, b)))
        print(f"    A median {ma:.4g} [{qa[0]:.4g}, {qa[1]:.4g}]   "
              f"B median {mb:.4g} [{qb[0]:.4g}, {qb[1]:.4g}]   "
              f"B wins {wins}/{len(pairs)}   |median gap| {abs(mb - ma):.4g} vs A IQR {qa[1] - qa[0]:.4g}")
        summary[m] = {"a": a, "b": b, "a_median": ma, "b_median": mb, "a_q": qa, "b_q": qb,
                      "b_wins": wins}
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--a", required=True, help="baseline checkout")
    ap.add_argument("--b", required=True, help="candidate checkout")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 3001-3010 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write every value here")
    args = ap.parse_args()
    better = directions(args.b)
    out = {}
    for w in args.workload:
        pairs = []
        for i, s in enumerate(seeds(args.seeds)):
            order = [("A", args.a), ("B", args.b)]
            if i % 2:
                order.reverse()
            got = {}
            for side, checkout in order:
                got[side], err = run(checkout, w, s, args.seconds, args.trace)
                if err:
                    print(f"  {w} seed {s} {side}: {err}", flush=True)
            if got["A"] is not None and got["B"] is not None:
                pairs.append((s, got["A"], got["B"]))
            print(f"  {w} seed {s} done ({'A first' if i % 2 == 0 else 'B first'})", flush=True)
        out[w] = report(w, pairs, better)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
