#!/usr/bin/env python3
"""Compare benchmark runs. Two modes:

    bench_diff.py A.json B.json [threshold]
        Two graft.Bench per-query JSON files (the {"metric":"total",...}
        line persisted by Bench.scala): per-query speedup (A/B), sorted,
        and the regressions/improvements beyond the threshold (default 10%).

    bench_diff.py runs.jsonl
        A perfbench A/B: one JSON record per run with "workload", "side"
        ("parent" or "change"), "seed", "correct", "failed" and
        "metrics". Runs of one workload and seed on the two sides form a
        pair. For each workload, one Markdown row per end-to-end metric
        of BENCHMARK.json: each side's median [Q1, Q3], change/parent,
        the pairs the change wins, the parent's IQR/median and a verdict.
        Then, from each record's "by_op_p50_ms", one row per tool that
        either side ran: each side's median [Q1, Q3] of the per-run p50
        and change/parent.
"""
import json
import math
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(p):
    with open(p) as f:
        d = json.load(f)
    return d["queries"], d["value"]


def main(a_path, b_path, thr=0.10):
    qa, ta = load(a_path)
    qb, tb = load(b_path)
    common = sorted(set(qa) & set(qb))
    rows = []
    for k in common:
        va, vb = qa[k], qb[k]
        if va <= 0 or vb <= 0:
            continue
        rows.append((va / vb, va, vb, k))
    rows.sort()
    reg = [r for r in rows if r[0] < 1 - thr]
    imp = [r for r in rows if r[0] > 1 + thr]
    print(f"A total {ta:.1f}s  B total {tb:.1f}s  common {len(rows)}")
    gm = math.exp(sum(math.log(r[0]) for r in rows) / len(rows))
    print(f"geomean speedup A/B: {gm:.3f}")
    print(f"\n== A slower than B by >{thr:.0%} ({len(reg)}) ==")
    for s, va, vb, k in reg:
        print(f"  {s:5.2f}x  A={va:7.3f}  B={vb:7.3f}  {k}")
    print(f"\n== A faster than B by >{thr:.0%} ({len(imp)}) ==")
    for s, va, vb, k in reversed(imp):
        print(f"  {s:5.2f}x  A={va:7.3f}  B={vb:7.3f}  {k}")


def quartiles(v):
    """(Q1, median, Q3), linear interpolation between the order statistics."""
    return tuple(statistics.quantiles(v, n=4, method="inclusive")) if len(v) > 1 else (v[0],) * 3


def verdict(metric, parent, change, wins, pairs):
    """The rule for a claimed gain and for a regression bound:
    - gain: the change wins at least 9 in 10 pairs and the medians differ
      by more than the parent's IQR;
    - worse than bound: the change's median is worse by more than the bound;
    - unresolved: either side's IQR/median is wider than the bound, unless
      every change run is better than every parent run;
    - otherwise within bound."""
    lower = metric.get("better", "lower") == "lower"
    sign = 1 if lower else -1
    (p1, pm, p3), (_, cm, _) = quartiles(parent), quartiles(change)
    if pairs and wins >= 0.9 * pairs and sign * (pm - cm) > p3 - p1:
        return "gain"
    if sign * (cm - pm) > metric["bound"] * pm:
        return "worse than bound"
    spread = max((q3 - q1) / q2 for q1, q2, q3 in (quartiles(parent), quartiles(change)) if q2)
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if spread > metric["bound"] and not all_better:
        return "unresolved"
    return "within bound"


def ab_table(path):
    with open(BENCHMARK) as f:
        metrics = json.load(f)["end_to_end"]
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    for workload in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == workload]
        side = {s: {r["seed"]: r for r in mine if r["side"] == s} for s in ("parent", "change")}
        seeds = sorted(set(side["parent"]) & set(side["change"]))
        bad = [(r["side"], r["seed"]) for r in mine if not r.get("correct") or r.get("failed")]
        print(f"### `{workload}`\n")
        print(f"{len(side['parent'])} parent runs, {len(side['change'])} change runs, "
              f"{len(seeds)} pairs; runs not correct or with failed ops: {bad or 'none'}\n")
        print("| metric | parent | change | change/parent | wins | parent IQR/median | verdict |")
        print("|---|---|---|---|---|---|---|")
        for m in metrics:
            name, lower = m["name"], m.get("better", "lower") == "lower"
            p = [r["metrics"][name] for r in side["parent"].values()]
            c = [r["metrics"][name] for r in side["change"].values()]
            if not p or not c:
                continue
            wins = sum(1 for s in seeds
                       if (side["change"][s]["metrics"][name] < side["parent"][s]["metrics"][name]) == lower
                       and side["change"][s]["metrics"][name] != side["parent"][s]["metrics"][name])
            (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
            print(f"| `{name}` | {cell_of((p1, pm, p3))} | {cell_of((c1, cm, c3))} | {cm / pm:.3f} | "
                  f"{wins}/{len(seeds)} | {(p3 - p1) / pm:.3f} | {verdict(m, p, c, wins, len(seeds))} |")
        print()
        tools = list(dict.fromkeys(t for r in mine for t in r.get("by_op_p50_ms", {})))
        print("| tool p50 (ms) | parent | change | change/parent |")
        print("|---|---|---|---|")
        for t in tools:
            p, c = ([r["by_op_p50_ms"][t] for r in side[s].values() if r.get("by_op_p50_ms", {}).get(t) is not None]
                    for s in ("parent", "change"))
            if not p and not c:
                continue
            cells = [cell_of(quartiles(v)) if v else "–" for v in (p, c)]
            ratio = f"{statistics.median(c) / statistics.median(p):.3f}" if p and c and statistics.median(p) else "–"
            print(f"| `{t}` | {cells[0]} | {cells[1]} | {ratio} |")
        print()


def cell_of(q):
    """median [Q1, Q3], one decimal from 100 up and two below."""
    q1, q2, q3 = q
    digits = 1 if q2 >= 100 else 2
    return f"{q2:.{digits}f} [{q1:.{digits}f}, {q3:.{digits}f}]"


if __name__ == "__main__":
    if len(sys.argv) == 2:
        ab_table(sys.argv[1])
    else:
        thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.10
        main(sys.argv[1], sys.argv[2], thr)
