#!/usr/bin/env python3
"""Median and quartiles of every metric over repeated benchmark runs.

Repeat runs (one seed each, seeds 1..N) and summarize them:
    python3 perfbench/summarize.py --workload serve_point --runs 10 [--trace 1]

Summarize result files already written by run.py (<build>/results/*.json):
    python3 perfbench/summarize.py .bench_build/results/serve_point-*.json

For each metric it prints the median, the first and third quartiles
(statistics.quantiles, n=4) and their distance as a share of the median;
for end-to-end metrics also the bound from BENCHMARK.json and whether the
spread is under a third of it. Given traced and untraced result files of
one workload, it also prints the tracing overhead: the traced run's
end-to-end medians minus the untraced ones.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def table(title, values, bounds):
    print(f"\n{title}")
    print(f"  {'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}  n")
    ok = True
    for name in sorted(values):
        xs = values[name]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        share = (q3 - q1) / med if med else float("inf")
        note = ""
        if name in bounds:
            steady = share < bounds[name] / 3
            ok &= steady
            note = f"  bound {bounds[name]} {'steady' if steady else 'WIDE'}"
        print(f"  {name:32} {med:12.6g} {q1:12.6g} {q3:12.6g} {share:8.2%}  {len(xs)}{note}")
    return ok


def summarize(results):
    """results: list of full result dicts (run.py's result files)."""
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    groups = defaultdict(list)
    for r in results:
        groups[(r["workload"], r["trace"])].append(r)
    all_ok = True
    for (w, traced), rs in sorted(groups.items()):
        bad = [r["seed"] for r in rs if not r["correct"] or r["failed"]]
        print(f"\n== {w} {'traced' if traced else 'untraced'}: {len(rs)} runs, "
              f"seeds {sorted(r['seed'] for r in rs)}, incorrect/failed seeds {bad}")
        e2e, layers = defaultdict(list), defaultdict(list)
        for r in rs:
            for k, v in r["end_to_end"].items():
                e2e[k].append(v["value"])
            for k, v in r["per_layer"].items():
                layers[k].append(v["value"])
        ok = table("end to end" + (" (traced)" if traced else ""), e2e, {} if traced else bounds)
        all_ok &= ok or traced
        if layers:
            table("per layer", layers, {})
        other = groups.get((w, not traced))
        if traced and other:
            print("\n  tracing overhead (traced median - untraced median)")
            for k in sorted(e2e):
                base = statistics.median(x["end_to_end"][k]["value"] for x in other)
                med = statistics.median(e2e[k])
                print(f"  {k:32} {med - base:+12.6g}  ({(med - base) / base:+.1%})")
    return all_ok


def repeat(workload, runs, trace, seconds):
    results = []
    for seed in range(1, runs + 1):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        print(f"seed {seed}: exit {p.returncode} {line[:160]}", file=sys.stderr)
        if p.returncode != 0:
            sys.exit(f"run with seed {seed} failed")
        build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        with open(os.path.join(build, "results", f"{workload}-seed{seed}-trace{trace}.json")) as f:
            results.append(json.load(f))
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("files", nargs="*")
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    a = ap.parse_args()
    if a.workload:
        results = repeat(a.workload, a.runs, a.trace, a.seconds)
    else:
        results = []
        for f in a.files:
            with open(f) as fh:
                results.append(json.load(fh))
    sys.exit(0 if summarize(results) else 1)


if __name__ == "__main__":
    main()
