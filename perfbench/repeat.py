#!/usr/bin/env python3
"""Run the benchmark several times and summarise each metric's spread.

    python3 perfbench/repeat.py --workload batch --seeds 1-10 [--out runs.jsonl]
    python3 perfbench/repeat.py --workload batch --seeds 1-10 --against ../parent --out ab
    python3 perfbench/repeat.py --compare parent.jsonl change.jsonl

The first form runs the benchmark once per seed (sequentially, from the
repository root, at BENCHMARK.json's run_seconds) and prints, per
end-to-end metric, the median, the quartiles and the spread (IQR / median)
next to the metric's bound. The second form is an interleaved A/B: per seed
it runs the other checkout (the parent) and this one back to back,
alternating which goes first, so a slow spell of the host lands on both
sides; it writes `<out>.parent.jsonl` and `<out>.change.jsonl` and compares
them. The third form compares two such files metric by metric with the
bound rule (stats.verdict).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(arg):
    lo, _, hi = arg.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(root, workload, seed):
    """One `--trace 0` run of the checkout at `root`, with its own command."""
    bench = spec(root)
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    if cmd[0] == "python3":
        cmd[0] = sys.executable
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{root} seed {seed}: run failed with {p.returncode}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    print(f"{os.path.basename(root)} seed {seed}: correct={r['correct']} " + " ".join(
        f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    return r


def append(path, r):
    if path:
        with open(path, "a") as f:
            f.write(json.dumps(r) + "\n")


def summarise(runs, bench):
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        print(f"{m['name']:>14}: median {statistics.median(vals):.4g} {m['unit']}  "
              f"q1 {q1:.4g}  q3 {q3:.4g}  spread {stats.spread(vals) if len(vals) > 1 else 0:.3f}"
              f"  (bound {m['bound']})")


def compare(parent, change, bench):
    """Per metric: medians, the bound rule's verdict and, when the runs pair
    up seed by seed, the share of pairs the change wins."""
    for m in bench["end_to_end"]:
        pv = [r["metrics"][m["name"]]["value"] for r in parent]
        cv = [r["metrics"][m["name"]]["value"] for r in change]
        wins = (f"  change wins {stats.wins(pv, cv, m['better']):.0%} of pairs"
                if len(pv) == len(cv) else "")
        print(f"{m['name']:>14}: parent {statistics.median(pv):.4g}  change "
              f"{statistics.median(cv):.4g}  worse by {stats.worse_by(pv, cv, m['better']):+.3f}"
              f"  -> {stats.verdict(pv, cv, m['better'], m['bound'])}{wins}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--against", help="the parent checkout, for an interleaved A/B")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    here = os.getcwd()
    bench = spec(here)
    if a.compare:
        parent, change = ([json.loads(l) for l in open(p)] for p in a.compare)
        compare(parent, change, bench)
        return
    if a.against:
        parent, change = [], []
        for i, seed in enumerate(seeds(a.seeds)):
            sides = [(os.path.abspath(a.against), parent, "parent"), (here, change, "change")]
            for root, runs, tag in (sides if i % 2 == 0 else sides[::-1]):
                runs.append(run_once(root, a.workload, seed))
                append(a.out and f"{a.out}.{tag}.jsonl", runs[-1])
        compare(parent, change, bench)
        return
    runs = []
    for seed in seeds(a.seeds):
        runs.append(run_once(here, a.workload, seed))
        append(a.out, runs[-1])
    summarise(runs, bench)


if __name__ == "__main__":
    main()
