"""Compare two sets of benchmark runs, or a set's traced and untraced runs.

    python3 perfbench/compare.py diff BASE NEW        # sets written by repeat.py
    python3 perfbench/compare.py overhead RUNS        # tracing overhead in one set

``diff`` prints, per workload and metric, each side's median and
quartiles, the fraction of run pairs the new side wins, and a verdict:
*improved* when the new side wins at least nine tenths of the pairs
(ties count for neither) and the medians differ by more than the
base's interquartile distance; *worse* by the mirror rule; otherwise
*unresolved*. ``beyond_bound``
marks a new median worse than the base's by more than the metric's
bound in BENCHMARK.json. Pairs match runs by seed when both sides
share seeds, else by order.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from stats import median, quartiles


def load_runs(path: str) -> list[dict]:
    runs = []
    if os.path.exists(path):
        with open(path) as f:
            runs = [json.loads(line) for line in f if line.strip()]
    return sorted(runs, key=lambda r: r["seed"])


def metric_specs(bench: dict) -> dict:
    specs = {}
    for m in bench.get("end_to_end", []):
        specs[m["name"]] = m
    for m in bench.get("per_layer", []):
        specs.setdefault(m["name"], m)
    return specs


def pairs(base: list[dict], new: list[dict]):
    bs = {r["seed"]: r for r in base}
    common = [r["seed"] for r in new if r["seed"] in bs]
    if common:
        return [(bs[s], n) for s in common for n in new if n["seed"] == s]
    return list(zip(base, new))


def verdict(b_vals, n_vals, pair_vals, better: str, bound: float | None) -> dict:
    """The verdict for one metric; ``pair_vals`` are (base, new) pairs."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for b, n in pair_vals if sign * (n - b) > 0)
    losses = sum(1 for b, n in pair_vals if sign * (n - b) < 0)
    npairs = len(pair_vals)
    bq1, bmed, bq3 = quartiles(b_vals)
    nq1, nmed, nq3 = quartiles(n_vals)
    spread = bq3 - bq1
    diff = nmed - bmed
    if npairs and wins >= 0.9 * npairs and abs(diff) > spread:
        v = "improved"
    elif npairs and losses >= 0.9 * npairs and abs(diff) > spread:
        v = "worse"
    else:
        v = "unresolved"
    out = {"base_median": bmed, "base_q1": bq1, "base_q3": bq3,
           "new_median": nmed, "new_q1": nq1, "new_q3": nq3,
           "win_fraction": wins / npairs if npairs else None, "pairs": npairs,
           "verdict": v, "beyond_bound": False}
    if bound is not None and bmed:
        out["beyond_bound"] = sign * diff / abs(bmed) < -bound
    return out


def diff(base_dir: str, new_dir: str, bench: dict, trace: bool) -> int:
    specs = metric_specs(bench)
    suffix = ".trace.jsonl" if trace else ".jsonl"
    worse = 0
    for wl in [w["name"] for w in bench["workloads"]]:
        base = load_runs(os.path.join(base_dir, wl + suffix))
        new = load_runs(os.path.join(new_dir, wl + suffix))
        if not base or not new:
            print(f"{wl}: no runs on {'base' if not base else 'new'} side")
            continue
        print(f"{wl}: {len(base)} base runs, {len(new)} new runs")
        print(f"  {'metric':40s} {'base med [q1, q3]':>28s} {'new med [q1, q3]':>28s}"
              f" {'win':>5s}  verdict")
        names = [n for n in base[0]["result"]["metrics"] if n in specs or trace]
        for name in names:
            spec = specs.get(name, {"better": "lower"})
            b = [r["result"]["metrics"][name]["value"] for r in base
                 if name in r["result"]["metrics"]]
            n = [r["result"]["metrics"][name]["value"] for r in new
                 if name in r["result"]["metrics"]]
            pv = [(x["result"]["metrics"][name]["value"], y["result"]["metrics"][name]["value"])
                  for x, y in pairs(base, new)
                  if name in x["result"]["metrics"] and name in y["result"]["metrics"]]
            if not b or not n:
                continue
            v = verdict(b, n, pv, spec.get("better", "lower"), spec.get("bound"))
            worse += v["verdict"] == "worse" or v["beyond_bound"]
            flag = " beyond_bound" if v["beyond_bound"] else ""
            win = f"{v['win_fraction']:.2f}" if v["win_fraction"] is not None else "-"
            print(f"  {name:40s} {v['base_median']:>12.4g} [{v['base_q1']:.4g}, {v['base_q3']:.4g}]"
                  f" {v['new_median']:>12.4g} [{v['new_q1']:.4g}, {v['new_q3']:.4g}]"
                  f" {win:>5s}  {v['verdict']}{flag}")
    return 1 if worse else 0


def overhead(run_dir: str, bench: dict) -> int:
    """Traced minus untraced medians of each end-to-end metric."""
    for wl in [w["name"] for w in bench["workloads"]]:
        plain = load_runs(os.path.join(run_dir, wl + ".jsonl"))
        traced = load_runs(os.path.join(run_dir, wl + ".trace.jsonl"))
        if not plain or not traced:
            print(f"{wl}: needs both untraced and traced runs")
            continue
        print(f"{wl}: {len(plain)} untraced, {len(traced)} traced runs")
        for m in bench["end_to_end"]:
            name = m["name"]
            u = median(r["result"]["metrics"][name]["value"] for r in plain)
            t = median(r["result"]["metrics"][f"trace.{name}"]["value"] for r in traced
                       if f"trace.{name}" in r["result"]["metrics"])
            if u is None or t is None:
                continue
            share = (t - u) / u if u else float("nan")
            print(f"  {name:24s} untraced {u:.4g} traced {t:.4g} "
                  f"overhead {t - u:+.4g} {m['unit']} ({share:+.1%})")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--bench", default="BENCHMARK.json")
    sub = p.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    d.add_argument("--trace", action="store_true", help="compare the traced runs' metrics")
    o = sub.add_parser("overhead")
    o.add_argument("runs")
    args = p.parse_args(argv)
    with open(args.bench) as f:
        bench = json.load(f)
    if args.cmd == "diff":
        return diff(args.base, args.new, bench, args.trace)
    return overhead(args.runs, bench)


if __name__ == "__main__":
    sys.exit(main())
