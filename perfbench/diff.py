#!/usr/bin/env python3
"""Compare benchmark result sets (directories of run records from run.py,
by default written to .bench_build/runs/).

    python3 perfbench/diff.py BASE NEW          # two sets, metric by metric
    python3 perfbench/diff.py --spread RUNS     # one set: medians and spreads
    python3 perfbench/diff.py --overhead RUNS   # traced runs against untraced ones
    python3 perfbench/diff.py --determinism RUNS  # traced runs of one seed: counts match

For every workload and end-to-end metric the comparison prints both
medians and quartiles, the ratio NEW/BASE, the metric's bound and a
verdict. The spread of a set is the distance between its first and third
quartile as a share of its median; a comparison is "unresolved" when
either spread exceeds the bound, unless every NEW run beats every BASE run.
Exits 1 if any metric is worse than its bound.
"""
import argparse
import glob
import json
import os
import statistics
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

# per-operation counts that must repeat exactly for one seed
COUNTS = ["events", "spark.jobs", "spark.tasks", "streaming.microbatches", "streaming.state_stores",
          "streaming.checkpoint_files", "streaming.state_rows", "streaming.dropped_max",
          "streaming.parse_rows_in", "streaming.parse_dropped"]
RUN_COUNTS = ["functions.densify_count", "streaming.dropped_by_watermark"]


def load(path):
    files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "*.json"))
    runs = []
    for f in sorted(files):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        if isinstance(r, dict) and "workload" in r and r.get("metrics"):
            runs.append(r)
    return runs


def by_workload(runs, trace):
    out = {}
    for r in runs:
        if bool(r["trace"]) == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def summary(values):
    """(median, q1, q3, spread) of a sample; spread is (q3 - q1) / median."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse_by(base, new, better):
    """How much worse NEW is than BASE, as a share of BASE (negative: better)."""
    return (base - new) / base if better == "higher" else (new - base) / base


def compare(base_runs, new_runs, new_trace=False, labels=("base", "new")):
    regressions = 0
    base, new = by_workload(base_runs, False), by_workload(new_runs, new_trace)
    print(f"{'workload':<13} {'metric':<18} {labels[0] + ' median [q1,q3]':>30} "
          f"{labels[1] + ' median [q1,q3]':>30} {'ratio':>7} {'bound':>6}  verdict")
    for w in sorted(set(base) & set(new)):
        for name, (unit, better, bound) in metrics.END_TO_END.items():
            a = [r["metrics"][name] for r in base[w] if name in r["metrics"]]
            b = [r["metrics"][name] for r in new[w] if name in r["metrics"]]
            if not a or not b:
                continue
            ma, qa1, qa3, sa = summary(a)
            mb, qb1, qb3, sb = summary(b)
            delta = worse_by(ma, mb, better)
            all_better = all(worse_by(x, y, better) < 0 for x in a for y in b)
            if (sa > bound or sb > bound) and not all_better:
                verdict = f"unresolved (spread {sa:.3f}/{sb:.3f})"
            elif delta > bound:
                verdict = "WORSE"
                regressions += 1
            elif delta < 0 and all_better:
                verdict = "better"
            else:
                verdict = "within bound"
            print(f"{w:<13} {name:<18} {ma:>12.4g} [{qa1:.4g},{qa3:.4g}] {mb:>12.4g} "
                  f"[{qb1:.4g},{qb3:.4g}] {mb / ma:>7.3f} {bound:>6.2f}  {verdict}")
    return regressions


def spread(runs):
    for trace in (False, True):
        for w, rs in sorted(by_workload(runs, trace).items()):
            print(f"{w} trace={int(trace)} runs={len(rs)} seeds={sorted(r['seed'] for r in rs)} "
                  f"correct={all(r['correct'] for r in rs)} failed={sum(r['failed'] for r in rs)}")
            names = metrics.PER_LAYER if trace else metrics.END_TO_END
            for name in names:
                vals = [r["metrics"][name] for r in rs if name in r["metrics"]]
                if vals:
                    med, q1, q3, s = summary(vals)
                    bound = metrics.END_TO_END.get(name, (None, None, None))[2]
                    flag = "" if bound is None else ("  ok" if s <= bound / 3 else
                                                    "  within bound" if s <= bound else "  TOO WIDE")
                    print(f"  {name:<40} median {med:<12.5g} q1 {q1:<12.5g} q3 {q3:<12.5g} "
                          f"spread {s:.3f}{flag}")
            if not trace:
                tails = sorted({(r["tail_percentile"], r["timed_ops"]) for r in rs})
                print(f"  op_tail_ms percentile/timed ops per run: {tails}")


def determinism(runs):
    ok = True
    groups = {}
    for r in runs:
        if r["trace"]:
            groups.setdefault((r["workload"], r["seed"]), []).append(r)
    for (w, seed), rs in sorted(groups.items()):
        if len(rs) < 2:
            continue
        a, b = rs[0], rs[1]
        n = min(len(a["ops"]), len(b["ops"]))
        diffs = [(i, k, a["ops"][i].get(k), b["ops"][i].get(k)) for i in range(n) for k in COUNTS
                 if a["ops"][i].get(k) != b["ops"][i].get(k)]
        diffs += [("run", k, a["metrics"].get(k), b["metrics"].get(k)) for k in RUN_COUNTS
                  if a["metrics"].get(k) != b["metrics"].get(k) and len(a["ops"]) == len(b["ops"])]
        print(f"{w} seed {seed}: {n} common operations, {len(diffs)} count differences")
        for d in diffs[:10]:
            print(f"  op {d[0]}: {d[1]} {d[2]} != {d[3]}")
        ok &= not diffs
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sets", nargs="+")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--spread", action="store_true")
    mode.add_argument("--overhead", action="store_true")
    mode.add_argument("--determinism", action="store_true")
    a = ap.parse_args()
    runs = [load(s) for s in a.sets]
    if a.spread:
        spread(runs[0])
    elif a.overhead:
        compare(runs[0], runs[0], new_trace=True, labels=("untraced", "traced"))
    elif a.determinism:
        sys.exit(0 if determinism(runs[0]) else 1)
    else:
        if len(runs) != 2:
            ap.error("give two result sets")
        sys.exit(1 if compare(runs[0], runs[1]) else 0)


if __name__ == "__main__":
    main()
