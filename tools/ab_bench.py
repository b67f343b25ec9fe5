#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a base commit against a change.

    python3 tools/ab_bench.py --base <commit> --scratch <dir> \\
        --workload etl --seeds 11,12,13 --pairs 10 [--trace 0|1]

The base commit is exported with `git archive` into `<dir>/base-<sha>`
(reused when already there); the change is the checkout this file sits
in. Each pair runs `perfbench/run.py` once on each side with the same
workload, seed, trace setting and BENCHMARK.json's run length; pair i uses
seed i mod len(seeds), and the side that runs first alternates from pair
to pair, so drift on the host hits both sides alike. Every run's result
line is appended to `<dir>/ab-results.jsonl`, and a re-started call
skips the pairs already there, so running the same command again only
prints the report.

The report gives, per workload and metric (the end-to-end metrics of
BENCHMARK.json, or its per-layer ones with --trace 1): each side's
median and quartiles, the change's median as a fraction of the base's,
and the share of pairs the change won (ties count for neither). A gain
is claimed only from ten pairs or more, when the change wins at least
nine pairs in ten and the medians differ by more than the base's
inter-quartile range. A metric whose median got worse by more than its
bound is flagged WORSE, and one whose spread is wider than its bound is
reported as unresolved.

Nothing under perfbench/ and no BENCHMARK.json is written: each run
leaves only the benchmark's own ignored outputs in its checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

MIN_PAIRS = 10  # a gain is claimed from ten pairs or more
CHANGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- statistics

def quartiles(xs):
    """(q1, median, q3) of the sample, interpolated linearly between order
    statistics (numpy's default); a single value is all three."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("no samples")
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def wins(pairs, better):
    """(change wins, pairs) over (base, change) value pairs; a tie is no
    win for either side."""
    sign = 1 if better == "higher" else -1
    won = sum(1 for b, c in pairs if sign * (c - b) > 0)
    return won, len(pairs)


def verdict(pairs, better, bound):
    """Reads one metric's pairs by the rule in the module docstring."""
    base = [b for b, _ in pairs]
    change = [c for _, c in pairs]
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    won, n = wins(pairs, better)
    sign = 1 if better == "higher" else -1
    gain = sign * (cmed - bmed)
    rel = (cmed - bmed) / bmed if bmed else 0.0
    spread = max((bq3 - bq1) / bmed if bmed else 0.0, (cq3 - cq1) / cmed if cmed else 0.0)
    if won >= 0.9 * n and gain > bq3 - bq1:
        status = "gain" if n >= MIN_PAIRS else f"better, but fewer than {MIN_PAIRS} pairs"
    elif bound is not None and -sign * rel > bound:
        status = "WORSE"
    elif bound is not None and spread > bound and not (
            min(change) > max(base) if better == "higher" else max(change) < min(base)):
        status = "unresolved"
    else:
        status = "no gain claimed"
    return {"base": (bq1, bmed, bq3), "change": (cq1, cmed, cq3),
            "ratio": cmed / bmed if bmed else None, "wins": won, "pairs": n,
            "status": status}


# ---------------------------------------------------------------- runs

def export_base(sha, scratch):
    dest = os.path.join(scratch, f"base-{sha[:12]}")
    if not os.path.isdir(os.path.join(dest, "perfbench")):
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=CHANGE_ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"ab_bench: git archive {sha} failed")
    return dest


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(r.stderr[-3000:])
        sys.exit(f"ab_bench: no result from {checkout} ({workload}, seed {seed}), "
                 f"exit {r.returncode}")
    res["wall_s"] = time.monotonic() - t0
    return res


def load_results(path, base_commit):
    """The recorded runs against `base_commit`."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r for r in rows if r["base_commit"] == base_commit]


def report(records, spec, trace, workloads):
    metrics = spec["per_layer"] if trace else spec["end_to_end"]
    for w in workloads:
        rows = [r for r in records if r["workload"] == w and r["trace"] == trace]
        by_pair = {}
        for r in rows:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r
        full = [p for _, p in sorted(by_pair.items()) if len(p) == 2]
        if not full:
            continue
        bad = [f"pair {p['base']['pair']} {s}" for p in full for s in ("base", "change")
               if not p[s]["correct"] or p[s]["failed"]]
        print(f"\n{w}: {len(full)} pairs, seeds "
              f"{sorted({p['base']['seed'] for p in full})}; "
              + (f"INCORRECT or failed ops: {', '.join(bad)}" if bad
                 else "every run correct, no failed ops"))
        print(f"  {'metric':<34} {'base q1 / med / q3':>30} {'change q1 / med / q3':>30} "
              f"{'ratio':>7} {'wins':>7}  status")
        for m in metrics:
            name = m["name"]
            pairs = [(p["base"]["metrics"][name], p["change"]["metrics"][name]) for p in full
                     if name in p["base"]["metrics"] and name in p["change"]["metrics"]]
            if not pairs or not any(b or c for b, c in pairs):
                continue  # a layer this workload does not run reads 0
            v = verdict(pairs, m["better"], m.get("bound"))
            fmt = lambda q: " / ".join(f"{x:.4g}" for x in q)
            ratio = f"{v['ratio']:.3f}" if v["ratio"] is not None else "-"
            print(f"  {name:<34} {fmt(v['base']):>30} {fmt(v['change']):>30} "
                  f"{ratio:>7} {v['wins']:>3}/{v['pairs']:<3}  {v['status']}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="base commit (any git revision)")
    ap.add_argument("--scratch", required=True, help="directory for the base export and results")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds, cycled over pairs")
    ap.add_argument("--pairs", type=int, default=10, help="pairs per workload")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    with open(os.path.join(CHANGE_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seeds = [int(s) for s in a.seeds.split(",")]
    os.makedirs(a.scratch, exist_ok=True)
    out = os.path.join(a.scratch, "ab-results.jsonl")
    sha = subprocess.run(["git", "rev-parse", "--verify", a.base + "^{commit}"], cwd=CHANGE_ROOT,
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    sides = {"base": export_base(sha, a.scratch), "change": CHANGE_ROOT}
    done = {(r["workload"], r["trace"], r["pair"], r["side"])
            for r in load_results(out, sha)}
    for w in a.workload:
        for i in range(a.pairs):
            seed = seeds[i % len(seeds)]
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                if (w, a.trace, i, side) in done:
                    continue
                res = run_once(sides[side], w, seed, spec["run_seconds"], a.trace)
                rec = {"workload": w, "trace": a.trace, "pair": i, "seed": seed,
                       "side": side, "first": order[0], "base_commit": sha,
                       "correct": res.get("correct"), "attempted": res.get("attempted"),
                       "failed": res.get("failed"), "wall_s": round(res["wall_s"], 1),
                       "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}}
                with open(out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"ab_bench: {w} pair {i} seed {seed} {side}: "
                      f"correct={rec['correct']} wall {rec['wall_s']} s", file=sys.stderr)
    report(load_results(out, sha), spec, a.trace, a.workload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
