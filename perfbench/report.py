"""Steadiness report: do two sets of runs of the same code agree?

    python3 perfbench/report.py --a RUNS... --b RUNS...

A RUNS argument is a ``result.json`` written by ``run.py`` (one per run,
under ``.perfbench_runs/``) or a directory searched for them. For every (workload, metric) the report
prints each set's run count, median, quartiles and spread (quartile
distance over median), the metric's bound from BENCHMARK.json, whether each
spread stays within the bound, and whether set B's median is within the
bound of set A's in either direction. Where a set holds traced runs, it
also prints the traced run's overhead against the untraced runs of the same
set. Exits 1 if any end-to-end pair disagrees or spreads past its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_records(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                if "result.json" in files:
                    with open(os.path.join(root, "result.json")) as f:
                        out.append(json.load(f))
        else:
            with open(p) as f:
                out.append(json.load(f))
    return out


def stats(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def series(records: list[dict], trace: int) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    for r in records:
        if r["env"]["trace"] != trace:
            continue
        for name, m in r["metrics"].items():
            out.setdefault((r["env"]["workload"], name), []).append(m["value"])
    return out


def compare(a: list[dict], b: list[dict], bench: dict) -> tuple[list[dict], list[dict]]:
    """Rows for every end-to-end (workload, metric) pair present in both
    sets, and the traced-run overhead rows."""
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    sa, sb = series(a, 0), series(b, 0)
    rows = []
    for key in sorted(set(sa) & set(sb)):
        m = e2e.get(key[1])
        if m is None:
            continue
        x, y = stats(sa[key]), stats(sb[key])
        rel = (y["median"] - x["median"]) / x["median"]
        spread_ok = key[1] == "setup_s" or max(x["spread"], y["spread"]) <= m["bound"]
        rows.append(
            {
                "workload": key[0],
                "metric": key[1],
                "a": x,
                "b": y,
                "bound": m["bound"],
                "b_vs_a": rel,
                "spread_ok": spread_ok,
                "agree": abs(rel) <= m["bound"],
            }
        )
    overhead = []
    for label, recs in (("a", a), ("b", b)):
        plain, traced = series(recs, 0), series(recs, 1)
        for (wl, name), vals in sorted(traced.items()):
            if not name.startswith("trace."):
                continue
            base = plain.get((wl, name[len("trace."):]))
            if base:
                t, u = statistics.median(vals), statistics.median(base)
                overhead.append({"set": label, "workload": wl, "metric": name, "traced": t, "untraced": u, "overhead": t / u - 1.0})
    return rows, overhead


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="compare two sets of benchmark runs")
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    rows, overhead = compare(load_records(args.a), load_records(args.b), bench)
    if not rows:
        print("no end-to-end metric is present in both sets", file=sys.stderr)
        return 1
    hdr = f"{'workload':14} {'metric':17} {'set':3} {'n':>3} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7}"
    print(hdr)
    bad = 0
    for r in rows:
        for label in ("a", "b"):
            s = r[label]
            print(
                f"{r['workload']:14} {r['metric']:17} {label:3} {s['n']:>3} {s['median']:>11.4f} "
                f"{s['q1']:>11.4f} {s['q3']:>11.4f} {s['spread']:>7.2%}"
            )
        ok = r["spread_ok"] and r["agree"]
        bad += not ok
        print(
            f"{'':14} {'':17} b/a {r['b_vs_a']:+.2%} bound {r['bound']:.0%} "
            f"spread {'ok' if r['spread_ok'] else 'TOO WIDE'} "
            f"medians {'agree' if r['agree'] else 'DISAGREE'}"
        )
    for o in overhead:
        print(
            f"trace overhead [{o['set']}] {o['workload']} {o['metric']}: traced {o['traced']:.4f} "
            f"vs untraced {o['untraced']:.4f} ({o['overhead']:+.1%})"
        )
    print(f"{len(rows) - bad}/{len(rows)} pairs steady and in agreement")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
