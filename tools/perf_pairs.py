#!/usr/bin/env python3
"""Compare two checkouts on the perfbench benchmark in alternating pairs.

    python3 tools/perf_pairs.py --parent ../parent --change . \
        --workload match --seeds 1-5 [--trace 0] [--out pairs.json]

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds 20 --trace T` once in each checkout, each from its own
directory (so each builds and runs its own engine and its own copy of
perfbench). Which checkout goes first alternates with the seed, so a
drift of the host over the session (CPU steal, page cache, thermal)
lands on both sides alike. The parent can be any second copy of the
tree, e.g. `git archive <rev> | tar -x -C <dir>` or a `git worktree`.

Prints, per metric, the parent and change medians with their
quartiles, the median of the per-pair change/parent ratios, and in how
many pairs the change was lower; then the same for the seconds of each
warm and each query, read from each run's `result.json`
(`harness.pass.warms` and `queries`); then each pair's metric ratios.
`--out` also writes every run's metrics and step seconds as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    """'1-5' or '1,3,7' -> [ints]."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, trace):
    """One perfbench run in `checkout`: {metric: value}, whether it
    reported itself correct, and {"warm <group>" | "query <name>":
    seconds} from the run's detail record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "20", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        res = json.loads(last)
    except json.JSONDecodeError:
        sys.exit(f"perf_pairs: {checkout} seed {seed} printed no result "
                 f"(exit {p.returncode}):\n{p.stderr[-2000:]}")
    detail = next(line[len("detail "):] for line in p.stdout.splitlines()
                  if line.startswith("detail "))
    with open(os.path.join(checkout, detail)) as f:
        run_pass = json.load(f)["harness"]["pass"]
    steps = {f"warm {w['group']}": w["seconds"] for w in run_pass["warms"]}
    steps.update({f"query {q['name']}": q["seconds"] for q in run_pass["queries"]})
    return ({k: v["value"] for k, v in res["metrics"].items()}, res["correct"],
            steps)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def table(pairs, key, names):
    """One line per name: parent and change medians with quartiles, the
    median change/parent ratio, and how many pairs the change was lower."""
    for k in names:
        par = [p["parent" + key][k] for p in pairs]
        chg = [p["change" + key][k] for p in pairs]
        ratios = [c / a for a, c in zip(par, chg) if a]
        (pl, ph), (cl, ch) = quartiles(par), quartiles(chg)
        ratio = f"{statistics.median(ratios):.3f}" if ratios else "n/a"
        lower = sum(c < a for a, c in zip(par, chg))
        print(f"  {k}: {statistics.median(par):.4g} ({pl:.4g}-{ph:.4g}) -> "
              f"{statistics.median(chg):.4g} ({cl:.4g}-{ch:.4g}); "
              f"x{ratio}; lower {lower}/{len(pairs)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent")
    ap.add_argument("--change", default=".", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="e.g. 1-5 or 1,4,9")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    pairs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side], pair[side + "_correct"], pair[side + "_steps"] = run(
                sides[side], args.workload, seed, args.trace)
        pairs.append(pair)
        print(f"seed {seed} ({order[0]} first): " + ", ".join(
            f"{k} {pair['parent'][k]:.4g} -> {pair['change'].get(k, float('nan')):.4g}"
            for k in sorted(pair["parent"])), file=sys.stderr, flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(pairs, f, indent=1)

    names = sorted(set(pairs[0]["parent"]) & set(pairs[0]["change"]))
    print(f"{args.workload}, {len(pairs)} pairs; median (quartiles) parent -> "
          f"change; median change/parent; pairs where change is lower")
    table(pairs, "", names)
    steps = [k for k in pairs[0]["parent_steps"]
             if all(k in p[s + "_steps"] for p in pairs for s in ("parent", "change"))]
    print("seconds per warm and query (same columns):")
    table(pairs, "_steps", steps)
    print("per pair change/parent:")
    for p in pairs:
        print(f"  seed {p['seed']}: " + ", ".join(
            f"{k} {p['change'][k] / p['parent'][k]:.3f}" if p["parent"][k]
            else f"{k} n/a" for k in names))
    bad = [(p["seed"], s) for p in pairs for s in ("parent", "change")
           if not p[s + "_correct"]]
    if bad:
        print(f"runs not correct: {bad}")


if __name__ == "__main__":
    main()
