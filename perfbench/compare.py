#!/usr/bin/env python3
"""Paired comparison of two checkouts on the benchmark's end-to-end metrics.

    python3 perfbench/compare.py --base ../parent --head . --pairs 10
    python3 perfbench/compare.py --spread . --pairs 10   # one side's run-to-run spread

Each pair runs both sides on the same seed; the side that runs first
alternates from pair to pair. For every workload and metric it prints each
side's median and quartiles, the share of pairs the head side won, and a
verdict against the bound in the base side's BENCHMARK.json:

  REGRESSION  head's median is worse than base's by more than the bound
  gain        head won >= 90% of pairs and the medians differ by more
              than base's own quartile spread
  unresolved  either side's quartile spread is wider than the bound
              (unless every head run beats, or loses to, every base run)
  same        none of the above
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")


def run_side(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if proc.returncode != 0 or res is None or not res["correct"] or res["failed"]:
        print(f"  {checkout} {workload} seed {seed}: failed run (exit {proc.returncode})",
              file=sys.stderr)
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def judge(base, head, metric):
    """base/head: lists of values paired by index."""
    lower = metric["better"] == "lower"
    bound = metric.get("bound")
    bq1, bmed, bq3 = quartiles(base)
    hq1, hmed, hq3 = quartiles(head)
    better = (lambda h, b: h < b) if lower else (lambda h, b: h > b)
    wins = sum(better(h, b) for h, b in zip(head, base))
    ties = sum(h == b for h, b in zip(head, base))
    win_frac = wins / max(1, len(head))
    worse_by = ((hmed - bmed) if lower else (bmed - hmed)) / bmed if bmed else 0.0
    verdict = "same"
    if bound is not None:
        spread = max((bq3 - bq1) / bmed if bmed else 0.0, (hq3 - hq1) / hmed if hmed else 0.0)
        all_better = all(better(h, b) for h in head for b in base)
        all_worse = all(better(b, h) for h in head for b in base)
        if spread > bound and not (all_better or all_worse):
            verdict = "unresolved"
        elif worse_by > bound or (spread > bound and all_worse):
            verdict = "REGRESSION"
        elif win_frac >= 0.9 and abs(hmed - bmed) > (bq3 - bq1):
            verdict = "gain"
    return {"base": (bq1, bmed, bq3), "head": (hq1, hmed, hq3), "win_frac": win_frac,
            "ties": ties, "worse_by": worse_by, "verdict": verdict}


def report(spec, pairs):
    fmt = "{:<10} {:<13} {:>30} {:>30} {:>6} {:>8}  {}"
    print(fmt.format("workload", "metric", "base q1/median/q3", "head q1/median/q3", "win", "worse", "verdict"))
    regressions = 0
    for w in sorted({p["workload"] for p in pairs}):
        ps = [p for p in pairs if p["workload"] == w and p["base"] and p["head"]]
        if not ps:
            print(f"{w:<10} no complete pairs")
            regressions += 1
            continue
        for m in spec["end_to_end"]:
            base = [p["base"][m["name"]] for p in ps]
            head = [p["head"][m["name"]] for p in ps]
            j = judge(base, head, m)
            regressions += j["verdict"] == "REGRESSION"
            show = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(fmt.format(w, m["name"], show(j["base"]), show(j["head"]),
                             f"{j['win_frac']:.2f}", f"{j['worse_by']:+.3f}",
                             f"{j['verdict']} (bound {m['bound']}, n={len(ps)})"))
    return regressions


def spread(checkout, names, runs, seed, out):
    """Runs one checkout `runs` times per workload (seed, seed+1, ...) and
    prints each metric's quartiles and spread against its bound."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    rows = {}
    for w in names:
        vals = [run_side(os.path.abspath(checkout), w, seed + i, spec["run_seconds"])
                for i in range(runs)]
        rows[w] = [v for v in vals if v]
        print(f"{w}: {len(rows[w])}/{runs} runs passed", file=sys.stderr)
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"spec": spec, "runs": rows}, fh, indent=1)
    fmt = "{:<8} {:<13} {:>30} {:>7} {:>6}  {}"
    print(fmt.format("workload", "metric", "q1/median/q3", "spread", "bound", "verdict"))
    bad = 0
    for w, vals in rows.items():
        for m in spec["end_to_end"]:
            xs = [v[m["name"]] for v in vals]
            if len(xs) < 2:
                print(f"{w:<8} {m['name']:<13} too few runs")
                bad += 1
                continue
            q1, med, q3 = quartiles(xs)
            sp = (q3 - q1) / med if med else float("inf")
            ok = sp <= m["bound"]
            bad += not ok
            print(fmt.format(w, m["name"], "/".join(f"{x:.4g}" for x in (q1, med, q3)), f"{sp:.3f}",
                             m["bound"], "ok" if ok else "WIDER THAN BOUND"))
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", help="checkout of the parent commit")
    ap.add_argument("--head", help="checkout of the change")
    ap.add_argument("--workloads", help="comma list (default: every workload in BENCHMARK.json)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="first seed; pair i uses seed + i")
    ap.add_argument("--out", default=os.path.join(WORK, "runs.json"), help="where the raw runs are saved")
    ap.add_argument("--spread", metavar="CHECKOUT", help="measure one checkout's run-to-run spread")
    a = ap.parse_args()
    if a.spread:
        with open(os.path.join(a.spread, "BENCHMARK.json")) as fh:
            names = a.workloads.split(",") if a.workloads else [w["name"] for w in json.load(fh)["workloads"]]
        sys.exit(1 if spread(a.spread, names, a.pairs, a.seed, a.out) else 0)
    if not (a.base and a.head):
        ap.error("--base and --head are required unless --spread is given")
    with open(os.path.join(a.base, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    pairs = []
    for i in range(a.pairs):
        for w in names:
            seed = a.seed + i
            order = [("base", a.base), ("head", a.head)]
            if i % 2:
                order.reverse()
            pair = {"workload": w, "seed": seed, "first": order[0][0]}
            for side, checkout in order:
                pair[side] = run_side(os.path.abspath(checkout), w, seed, spec["run_seconds"])
            pairs.append(pair)
            print(f"pair {i} {w} seed {seed} done ({pair['first']} first)", file=sys.stderr)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump({"spec": spec, "pairs": pairs}, fh, indent=1)
    sys.exit(1 if report(spec, pairs) else 0)


if __name__ == "__main__":
    main()
