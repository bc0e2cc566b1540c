#!/usr/bin/env python3
"""Compare benchmark runs: counts first, then timings.

    python3 graftbench/compare.py diff --a A.json [A2.json ...] --b B.json [B2.json ...]
    python3 graftbench/compare.py overhead --untraced U.json --traced T.json

Inputs are the result files `run.py` keeps under
`graftbench/.work/results/<workload>-seed<seed>-trace<t>.json`.

`diff` reports, in this order:

1. Counts, which repeat between single-client runs of the same seed:
   Spark jobs and tasks per operation and data files per commit exactly,
   shuffle bytes and data bytes written per commit to within 0.1 % (Hudi
   rows carry their commit instant's time).  Any other difference is a
   real change in the work done.
2. Timings (end-to-end and per-layer), judged against the spread between
   runs: with three or more runs a side, the interquartile range of
   side A; otherwise the spread recorded in `spread.json` (measured over
   ten seeds per workload).  A difference inside the spread is `noise`.

`overhead` reports the tracing overhead: traced minus untraced
end-to-end metrics (every `report` metric) of the same workload and seed.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    return runs


EXACT = ("jobs", "tasks", "data_files")
BYTES = ("shuffle_bytes", "data_bytes")


def counts(run):
    """(kind, step, field) -> count, from the traced per-op records."""
    out = {}
    for c in run.get("counts", []) + run.get("io", []):
        for field in EXACT + BYTES:
            if field in c:
                out[(c["kind"], c["step"], field)] = c[field]
    return out


def timings(run):
    t = {k: v["value"] for k, v in run.get("end_to_end", {}).items()}
    t.update({k: v["value"] for k, v in run.get("report", {}).items()})
    t.update({f"layer:{k}": v for k, v in run.get("layers", {}).items() if k.endswith(("_ms", "_s"))})
    return t


def quartile_spread(xs):
    if len(xs) < 3:
        return None
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def recorded_spread(workload):
    p = os.path.join(HERE, "spread.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f).get(workload, {})


def diff(a_runs, b_runs):
    workload = a_runs[0]["workload"]
    print(f"== {workload}: {len(a_runs)} run(s) A vs {len(b_runs)} run(s) B")
    print("-- counts (jobs, tasks and files repeat exactly; bytes within 0.1 %:"
          " Hudi rows carry their commit instant's time)")
    ca, cb = counts(a_runs[0]), counts(b_runs[0])
    changed = 0
    for k in sorted(set(ca) & set(cb)):
        x, y = ca[k], cb[k]
        if x == y or (k[2] in BYTES and abs(x - y) <= 0.001 * max(x, y)):
            continue
        changed += 1
        print(f"   {k[0]} step {k[1]} {k[2]}: {x} -> {y}")
    only = len(set(ca) ^ set(cb))
    print(f"   {len(set(ca) & set(cb))} compared, {changed} changed, {only} in one side only")
    print("-- timings (median A -> median B, judged against the spread)")
    ta = [timings(r) for r in a_runs]
    tb = [timings(r) for r in b_runs]
    rec = recorded_spread(workload)
    for name in sorted(set(ta[0]) & set(tb[0])):
        xa = [t[name] for t in ta if isinstance(t.get(name), (int, float))]
        xb = [t[name] for t in tb if isinstance(t.get(name), (int, float))]
        if not xa or not xb:
            continue
        ma, mb = statistics.median(xa), statistics.median(xb)
        spread = quartile_spread(xa)
        if spread is None and name in rec:
            spread = rec[name] * abs(ma)
        if spread is None:
            verdict = "no spread recorded"
        elif abs(mb - ma) <= spread:
            verdict = "noise"
        else:
            verdict = "lower" if mb < ma else "higher"
        rel = (mb - ma) / ma if ma else float("nan")
        print(f"   {name:48s} {ma:12.3f} -> {mb:12.3f} ({rel:+.1%}) {verdict}")
    return changed


def overhead(untraced, traced):
    print(f"== tracing overhead, {untraced['workload']} seed {untraced['seed']}")
    for name, u in untraced["report"].items():
        t = traced["report"].get(name)
        if t is None:
            continue
        d = t["value"] - u["value"]
        rel = d / u["value"] if u["value"] else float("nan")
        print(f"   {name:20s} untraced {u['value']:12.3f}  traced {t['value']:12.3f}"
              f"  overhead {d:+10.3f} {u['unit']} ({rel:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("diff")
    d.add_argument("--a", nargs="+", required=True)
    d.add_argument("--b", nargs="+", required=True)
    o = sub.add_parser("overhead")
    o.add_argument("--untraced", required=True)
    o.add_argument("--traced", required=True)
    a = ap.parse_args()
    if a.cmd == "diff":
        changed = diff(load(a.a), load(a.b))
        sys.exit(1 if changed else 0)
    overhead(*load([a.untraced, a.traced]))


if __name__ == "__main__":
    main()
