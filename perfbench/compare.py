#!/usr/bin/env python3
"""Run sets of benchmark runs and report whether they agree.

Usage (from the repository root):
  python3 perfbench/compare.py [--workloads a,b] [--seeds 1-10] [--sets 2]
                               [--trace 0|1]

Each set runs every workload once per seed, one run at a time, with the
command, run length and metrics of BENCHMARK.json. For each workload and
end-to-end metric it prints the median of each set and the spread of each set
(the distance between the first and third quartiles, as a share of the
median). Two sets agree when every spread is within the metric's bound, each
later set's median differs from the first set's by at most the bound, in
either direction, and the share of failed operations is the same in every
set.
Raw results go to perfbench/.work/compare.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(cfg, workload, seed, trace):
    cmd = cfg["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(cfg["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"run failed ({p.returncode}): {' '.join(cmd)}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    metrics = cfg["end_to_end"] if a.trace == 0 else cfg["per_layer"]
    results = {}
    for s in range(a.sets):
        for w in a.workloads.split(","):
            for seed in seeds(a.seeds):
                r = run(cfg, w, seed, a.trace)
                results.setdefault(w, [[] for _ in range(a.sets)])[s].append(r)
                print(f"set {s} {w} seed {seed}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} " +
                      " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                               if a.trace == 0), file=sys.stderr, flush=True)
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    with open(os.path.join(BENCH, ".work", "compare.json"), "w") as f:
        json.dump(results, f)

    agree = True
    for w, sets in results.items():
        print(f"\n{w}: {len(sets[0])} runs per set")
        shares = {(sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs)) for rs in sets}
        share_vals = {f / n for f, n in shares}
        same_share = len(share_vals) == 1
        agree &= same_share and all(r["correct"] for rs in sets for r in rs)
        print(f"  failed share per set: {sorted(shares)} -> {'same' if same_share else 'DIFFERENT'}")
        for m in metrics:
            name, bound = m["name"], m.get("bound")
            vals = [[r["metrics"][name]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            sprs = [spread(v) if len(v) >= 2 else 0.0 for v in vals]
            ok = True
            if bound is not None:
                ok &= all(sp <= bound for sp in sprs)
                ok &= all(abs(md / meds[0] - 1) <= bound for md in meds[1:])
            agree &= ok
            print(f"  {name:16s} " + "  ".join(
                f"median {md:9.4g} spread {sp:6.3f}" for md, sp in zip(meds, sprs)) +
                (f"  bound {bound}  {'ok' if ok else 'DISAGREE'}" if bound is not None else ""))
    print("\nsets agree" if agree else "\nsets DISAGREE")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
