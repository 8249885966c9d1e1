#!/usr/bin/env python3
"""Chooses the batch_sweep query slice from a traced batch_full pass.

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 1 --trace 1
    python3 perfbench/choose_slice.py .bench_build/results/batch_full-seed1-trace1.json

The rule: among 8-query sets whose measured pass takes 2.6-3.2 s, that
hold at least one construction-bound query (construction >= 40% of wall)
from the full pass's 20 slowest, whose set-up first-builds at least four
staged frames, and whose set-up took at most 6 s of the full pass (so a
run fits its time), take the one whose layer shares of the pass are closest to
the full pass's: the summed relative distance of the construction share,
the eager-job share, the schema-job share and the share of
construction-heavy queries. The sets are drawn at random from a fixed
seed, so the choice repeats. Prints the slice and a markdown table of
slice-vs-full shares.
"""
import json
import random
import sys

SIZE = 8
PASS_S = (2.6, 3.2)
MIN_FRAMES = 4
MAX_SETUP_S = 6.0
DRAWS = 300000


def per_query(result_path):
    with open(result_path) as f:
        result = json.load(f)
    with open(result_path[:-len(".json")] + ".spans.json") as f:
        trace = json.load(f)
    qs = {q["query"]: dict(wall=q["wall_ms"], construct=q["construct_ms"],
                           eager_ms=0.0, eager=0, schema_ms=0.0, frames=0, setup_ms=0.0)
          for q in result["detail"]["per_query"]}
    for j in trace["jobs"]:
        op = j["op"] or ""
        if op.startswith("setup:") and "Staging.scala" in j["call_site"]:
            qs[op[len("setup:"):]]["frames"] += 1
        if op.startswith("q0:"):
            q = qs[op[len("q0:"):]]
            if j["layer"] == "queries":
                q["eager"] += 1
                q["eager_ms"] += j["dur_ms"]
            elif j["layer"] == "tables":
                q["schema_ms"] += j["dur_ms"]
    for s in trace["spans"]:
        if s["op"].startswith("setup:") and s["layer"] == "op":
            qs[s["op"][len("setup:"):]]["setup_ms"] = s["dur_ms"]
    return qs


def shares(qs, names):
    wall = sum(qs[n]["wall"] for n in names)
    return {
        "pass_s": wall / 1e3,
        "construct_share": sum(qs[n]["construct"] for n in names) / wall,
        "eager_job_share": sum(qs[n]["eager_ms"] for n in names) / wall,
        "schema_job_share": sum(qs[n]["schema_ms"] for n in names) / wall,
        "heavy_share": sum(qs[n]["construct"] / qs[n]["wall"] >= 0.4 for n in names) / len(names),
        "eager_jobs_per_query": sum(qs[n]["eager"] for n in names) / len(names),
        "frames_first_built": sum(qs[n]["frames"] for n in names),
        "setup_s_in_full_pass": sum(qs[n]["setup_ms"] for n in names) / 1e3,
    }


MATCHED = ("construct_share", "eager_job_share", "schema_job_share", "heavy_share")


def choose(qs):
    full = shares(qs, list(qs))
    top = sorted(qs, key=lambda n: -qs[n]["wall"])[:20]
    bound = [n for n in top if qs[n]["construct"] / qs[n]["wall"] >= 0.4]
    names = sorted(qs)
    rng = random.Random(0)
    best = None
    for _ in range(DRAWS):
        first = rng.choice(bound)
        pick = [first] + rng.sample([n for n in names if n != first], SIZE - 1)
        s = shares(qs, pick)
        if not (PASS_S[0] <= s["pass_s"] <= PASS_S[1] and s["frames_first_built"] >= MIN_FRAMES
                and s["setup_s_in_full_pass"] <= MAX_SETUP_S):
            continue
        score = sum(abs(s[k] - full[k]) / full[k] for k in MATCHED)
        if best is None or score < best[0]:
            best = (score, sorted(pick))
    return full, bound, best[1]


def main():
    qs = per_query(sys.argv[1])
    full, bound, pick = choose(qs)
    s = shares(qs, pick)
    print("construction-bound in the top 20:", ", ".join(bound))
    print("slice:", ", ".join(pick))
    print("\n| share of the pass | full pass | slice |\n|---|---|---|")
    for k in full:
        print(f"| {k} | {full[k]:.4g} | {s[k]:.4g} |")


if __name__ == "__main__":
    main()
