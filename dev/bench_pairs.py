#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one benchmark workload.

Usage: python3 dev/bench_pairs.py <parent-checkout> <change-checkout>
           --workload W --pairs N [--seed S0]

Each pair runs `perfbench/run.py --trace 0` once in each checkout, with the
same seed (S0 + pair index) and BENCHMARK.json's `run_seconds`; the side
that runs first alternates from one pair to the next, so drift of the box
over the session hits both sides alike. Each checkout builds its own benchmark jar on its first run.

Per end-to-end metric of BENCHMARK.json the report gives each side's median
and quartiles, the pairs the change won (ties count for neither), the
median change against the metric's regression bound, and a verdict:
  gain        the change won >= 9/10 of the pairs and its median beats the
              parent's by more than the parent's interquartile range
  regression  the change's median is worse by more than the bound
  unresolved  the parent's spread is wider than the bound and not every
              change run beats every parent run
  within      none of the above
It also lists failed operations per run and the largest `cpu_steal_share`
seen (a run with high steal measured the neighbours; re-run that pair).
The script only runs perfbench/run.py; it reads BENCHMARK.json of the parent
checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"bench_pairs: run failed in {checkout} (seed {seed})")
    detail, summary = json.loads(lines[0]), json.loads(lines[-1])
    stamps = dict(detail["detail"].get("stamps") or [])
    return {"seed": seed, "failed": summary["failed"], "attempted": summary["attempted"],
            "steal": stamps.get("cpu_steal_share") or 0.0,
            "metrics": {k: m["value"] for k, m in summary["metrics"].items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(par, chg, lower_better, bound):
    sign = 1 if lower_better else -1
    pm, cm = statistics.median(par), statistics.median(chg)
    q1, q3 = quartiles(par)
    wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) < 0)
    worse = sign * (cm - pm) / pm if pm else 0.0
    if wins >= 0.9 * len(par) and sign * (pm - cm) > q3 - q1:
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif pm and (q3 - q1) / pm > bound and not max(sign * c for c in chg) < min(sign * p for p in par):
        v = "unresolved"
    else:
        v = "within"
    return {"parent_median": pm, "parent_q1": q1, "parent_q3": q3,
            "change_median": cm, "change_q1": quartiles(chg)[0], "change_q3": quartiles(chg)[1],
            "change_wins": wins, "pairs": len(par), "median_change": (cm - pm) / pm if pm else 0.0,
            "bound": bound, "verdict": v}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(a.parent, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(getattr(a, side), a.workload, seed, seconds)
            runs[side].append(r)
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side:6s} failed {r['failed']}/{r['attempted']} "
                  f"steal {r['steal']:.3f} " + " ".join(
                      f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items())), flush=True)
    report = {}
    for m in spec["end_to_end"]:
        name = m["name"]
        par = [r["metrics"][name] for r in runs["parent"]]
        chg = [r["metrics"][name] for r in runs["change"]]
        report[name] = verdict(par, chg, m["better"] == "lower", m["bound"])
    print(f"\n{a.workload}: {a.pairs} pairs, {seconds:g} s runs, seeds {a.seed}-{a.seed + a.pairs - 1}")
    def side(v, s):
        return f"{v[s + '_median']:.4g} [{v[s + '_q1']:.4g}, {v[s + '_q3']:.4g}]"
    print(f"{'metric':18s} {'parent median [q1, q3]':28s} {'change median [q1, q3]':28s} "
          f"{'wins':6s} {'change':>7s}  verdict")
    for name, v in report.items():
        print(f"{name:18s} {side(v, 'parent'):28s} {side(v, 'change'):28s} "
              f"{str(v['change_wins']) + '/' + str(v['pairs']):6s} {v['median_change']:+7.1%}  {v['verdict']}")
    for side in ("parent", "change"):
        fails = [r["failed"] for r in runs[side]]
        print(f"{side}: failed operations per run {fails}, "
              f"largest cpu_steal_share {max(r['steal'] for r in runs[side]):.3f}")


if __name__ == "__main__":
    main()
