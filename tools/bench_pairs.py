#!/usr/bin/env python3
"""Paired benchmark comparison of two checkouts.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S

Runs `python3 perfbench/run.py --workload W --seed s --seconds T --trace 0`
in PARENT_DIR and in CHANGE_DIR for seeds S, S+1, ..., S+N-1, alternating
which side runs first (pair 0: parent first).  Each run builds from its own
checkout, so build both once before timing (the first run in a checkout
does it).  For each end-to-end metric of CHANGE_DIR/BENCHMARK.json it
prints the per-pair values, each side's median and quartiles, and how many
pairs the change won (ties count for neither side).

A gain on a metric is claimable when the change wins at least 9 of every
10 pairs and the medians differ by more than the parent's interquartile
range (the distance between its quartiles); each metric's last line says
whether both hold.  `--out FILE` also writes every run's JSON record.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        rec = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec = {"correct": False, "error": f"exit {p.returncode}: {p.stderr.strip()[-400:]}"}
    rec["seed"] = seed
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=7)
    ap.add_argument("--out", help="write every run's record here as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.change_dir, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": a.parent_dir, "change": a.change_dir}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            rec = run(sides[side], a.workload, seed, a.seconds)
            runs[side].append(rec)
            ok = rec.get("correct") and not rec.get("failed")
            print(f"pair {i} seed {seed} {side}: "
                  + ("ok" if ok else f"NOT OK {rec.get('error', '')} failed={rec.get('failed')}"),
                  file=sys.stderr, flush=True)

    def value(rec, name):
        return rec.get("metrics", {}).get(name, {}).get("value")

    print(f"workload {a.workload}, {a.pairs} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}")
    bad = [(s, r["seed"]) for s in runs for r in runs[s]
           if not r.get("correct") or r.get("failed")]
    print(f"runs not correct or with failed operations: {bad or 'none'}")
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        pairs = [(value(p, name), value(c, name)) for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"\n{name}: no values")
            continue
        print(f"\n{name} ({m['unit']}, {'lower' if lower else 'higher'} is better)")
        print("  pair  seed      parent      change  winner")
        wins = losses = 0
        for i, (p, c) in enumerate(pairs):
            better = (c < p) if lower else (c > p)
            worse = (c > p) if lower else (c < p)
            wins += better
            losses += worse
            who = "change" if better else "parent" if worse else "tie"
            print(f"  {i:4d}  {a.seed0 + i:4d}  {p:10.4f}  {c:10.4f}  {who}")
        ps = [p for p, _ in pairs]
        cs = [c for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        pq, cq = quartiles(ps), quartiles(cs)
        iqr = pq[1] - pq[0]
        gain = wins >= 0.9 * len(pairs) and abs(cm - pm) > iqr and ((cm < pm) == lower)
        print(f"  parent median {pm:.4f} (quartiles {pq[0]:.4f}-{pq[1]:.4f}, IQR {iqr:.4f})")
        ratio = f"; change/parent {cm / pm:.3f}" if pm else ""
        print(f"  change median {cm:.4f} (quartiles {cq[0]:.4f}-{cq[1]:.4f}){ratio}")
        print(f"  change wins {wins} of {len(pairs)}, parent wins {losses}; "
              f"gain claimable: {'yes' if gain else 'no'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seed0": a.seed0, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
