#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts, alternating which goes first.

    python3 tools/abba.py BASE CHANGE --workload turns_sinks --pairs 10 \\
        [--seconds 8] [--seeds 11-20 | --seeds 3,5,8] [--claim rows_per_s] \\
        [--out runs.jsonl]

BASE and CHANGE are repository checkouts (each with its own perfbench/).
Pair i runs `perfbench/run.py` once in each, on seed i of --seeds (the
list repeats if shorter than --pairs); even pairs run BASE first, odd pairs
CHANGE first, so a drift of the host does not favour one side. Prints, per
pair, each side's value of the claim metric, the change/base ratio and both
runs' steal; then the number of pairs the change wins on every end-to-end
metric BENCHMARK.json declares, and each side's median and quartiles. A
run that exits non-zero or reports failed passes is printed and counted as
a loss. Standard library only.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def declared(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def run(checkout, workload, seed, seconds):
    """The full record of one perfbench run, or None if it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    records = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    full = [r for r in records if "host" in r]
    if p.returncode != 0 or not full:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return full[0]


def value(rec, metric):
    return rec["metrics"][metric]["value"] if rec else None


def wins(better, base, change):
    if base is None or change is None:
        return False
    return change > base if better == "higher" else change < base


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--claim", default="rows_per_s")
    ap.add_argument("--out", help="append every run's full record to this JSONL file")
    a = ap.parse_args()
    better = declared(a.base)
    seeds = seeds_of(a.seeds)
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    pairs = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        got = {}
        for side in order:
            got[side] = run(sides[side], a.workload, seed, a.seconds)
            if a.out and got[side]:
                with open(a.out, "a") as f:
                    f.write(json.dumps(dict(got[side], side=side, pair=i)) + "\n")
        pairs.append(got)
        b, c = value(got["base"], a.claim), value(got["change"], a.claim)
        steal = ["%.1f" % r["host"]["steal_s"] if r else "-" for r in (got["base"], got["change"])]
        failed = [side for side in order if not got[side] or got[side]["error_frac"] > 0]
        print("pair %2d seed %d %s first: %s base %s change %s ratio %s steal %s/%s s%s" % (
            i + 1, seed, order[0], a.claim,
            "%.4g" % b if b is not None else "FAILED", "%.4g" % c if c is not None else "FAILED",
            "%.4f" % (c / b) if b and c is not None else "-", steal[0], steal[1],
            " failed passes: " + ",".join(failed) if failed else ""), flush=True)
    print()
    for metric, direction in better.items():
        won = sum(wins(direction, value(p["base"], metric), value(p["change"], metric))
                  for p in pairs)
        stats = {}
        for side in ("base", "change"):
            xs = [value(p[side], metric) for p in pairs if p[side]]
            stats[side] = quartiles(xs)
        (b1, bm, b3), (c1, cm, c3) = stats["base"], stats["change"]
        gain = (cm - bm) / bm if bm else float("nan")
        print("%-22s (%s better) change wins %d/%d; base median %.6g [%.6g, %.6g] IQR %.4g; "
              "change median %.6g [%.6g, %.6g]; median change %+.1f%%, |diff| %s base IQR" % (
                  metric, direction, won, len(pairs), bm, b1, b3, b3 - b1, cm, c1, c3,
                  100 * gain, ">" if abs(cm - bm) > b3 - b1 else "<="))


if __name__ == "__main__":
    main()
