#!/usr/bin/env python3
"""A/B the benchmark: a base commit against the working tree.

    python3 tools/perf_ab.py --base <ref> --workload serve|ingest --pairs N
        [--seed0 S] [--seconds 8] [--trace 0|1] [--out results.json]

Extracts <ref> with `git archive` into a temporary directory and runs
`perfbench/run.py` there and in the working tree, in N pairs: pair i runs
both sides with seed S+i, the base first in even pairs and the working
tree first in odd ones, so drift in host speed falls on both sides alike.
Both sides use their own checkout's benchmark code (each builds into its
own `perfbench/.build`); nothing under the working tree's `perfbench/`
beyond those ignored output directories is written.

For every metric it prints each side's median and quartiles, the change of
the median, and the pairs the working tree won, lost and tied, with the
direction taken from BENCHMARK.json. A metric is marked `gain` when the
working tree wins at least nine tenths of the pairs and its median beats
the base's by more than the base's interquartile distance, and `worse`
when the same holds the other way.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def directions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def extract(ref, dest):
    """Write the tree of commit `ref` into `dest`."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", ref],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout, a, seed):
    """One benchmark run; returns its result object or None if it failed."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def report(runs, better):
    """Print one row per metric over the pairs both sides completed."""
    pairs = [(b, w) for b, w in zip(runs["base"], runs["work"]) if b and w]
    names = sorted({k for b, w in pairs for k in b["metrics"] if k in w["metrics"]})
    print(f"{len(pairs)} complete pairs; failed ops base "
          f"{[b['failed'] for b, _ in pairs]} work {[w['failed'] for _, w in pairs]}")
    print(f"{'metric':40} {'base median [q1, q3]':>32} {'work median [q1, q3]':>32}"
          f" {'change':>8} {'won/lost/tied':>13}  verdict")
    for name in names:
        bs = [b["metrics"][name]["value"] for b, _ in pairs]
        ws = [w["metrics"][name]["value"] for _, w in pairs]
        bq1, bmed, bq3 = quartiles(bs)
        wq1, wmed, wq3 = quartiles(ws)
        change = f"{(wmed - bmed) / bmed * 100:+.1f}%" if bmed else "n/a"
        sign = {"lower": -1, "higher": 1}.get(better.get(name))
        verdict, tally = "", "n/a"
        if sign:
            won = sum(1 for b, w in zip(bs, ws) if (w - b) * sign > 0)
            lost = sum(1 for b, w in zip(bs, ws) if (w - b) * sign < 0)
            tally = f"{won}/{lost}/{len(bs) - won - lost}"
            iqr = bq3 - bq1
            if won >= 0.9 * len(bs) and (wmed - bmed) * sign > iqr:
                verdict = "gain"
            elif lost >= 0.9 * len(bs) and (bmed - wmed) * sign > iqr:
                verdict = "worse"
        base = f"{bmed:.4g} [{bq1:.4g}, {bq3:.4g}]"
        work = f"{wmed:.4g} [{wq1:.4g}, {wq3:.4g}]"
        print(f"{name:40} {base:>32} {work:>32} {change:>8} {tally:>13}  {verdict}")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True, help="commit to compare against")
    p.add_argument("--workload", required=True, choices=("serve", "ingest"))
    p.add_argument("--pairs", required=True, type=int)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="write every run's result object here")
    a = p.parse_args()

    base_dir = tempfile.mkdtemp(prefix="perf-ab-base-")
    runs = {"base": [], "work": []}
    try:
        extract(a.base, base_dir)
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ["base", "work"] if i % 2 == 0 else ["work", "base"]
            for side in order:
                res = run_once(base_dir if side == "base" else ROOT, a, seed)
                runs[side].append(res)
                med = res and res["metrics"]
                print(f"pair {i} seed {seed} {side}: " +
                      (json.dumps({k: round(v["value"], 2) for k, v in med.items()})
                       if med else "FAILED"), file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"base": a.base, "workload": a.workload, "seed0": a.seed0,
                       "runs": runs}, f)
    report(runs, directions())
    return 0 if all(runs["base"]) and all(runs["work"]) else 1


if __name__ == "__main__":
    sys.exit(main())
