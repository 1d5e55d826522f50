#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py <set A> [<set B>]

A set is a directory holding result.json files at any depth, as
perfbench/run.py leaves them under <build dir>/results/ (copy or move a
run's results into their own directory per commit). For every
(workload, metric) of the untraced runs it prints each set's median and
quartiles, their spread (interquartile range over median), and B's change
against A checked with the metric's bound from BENCHMARK.json. Traced runs
give two more reports: the tracing overhead (mean op latency traced over
untraced, per set), and every per-span job or task count that differs
between A and B for the same workload and seed — those counts repeat
exactly for a seed, so any change is a change in the program's plans.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    out = []
    for p in sorted(glob.glob(os.path.join(d, "**", "result.json"), recursive=True)):
        with open(p) as fh:
            out.append(json.load(fh))
    if not out:
        sys.exit(f"no result.json under {d}")
    return out


def quartiles(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def untraced(results):
    """{(workload, metric): [values]} over the untraced runs."""
    table = {}
    for r in results:
        if r["meta"]["trace"] == 0:
            for k, v in r["result"]["metrics"].items():
                table.setdefault((r["meta"]["workload"], k), []).append(v["value"])
    return table


def op_mean(results, trace):
    by = {}
    for r in results:
        if r["meta"]["trace"] == trace and "op_mean_s" in r["detail"]:
            by.setdefault(r["meta"]["workload"], []).append(r["detail"]["op_mean_s"]["value"])
    return {w: statistics.median(v) for w, v in by.items()}


def counts(results):
    """{(workload, seed): {metric: value}} of traced job and task counts."""
    out = {}
    for r in results:
        if r["meta"]["trace"] == 1:
            m = r["all_metrics"]
            out[(r["meta"]["workload"], r["meta"]["seed"])] = {
                k: v["value"] for k, v in m.items()
                if k.rsplit(".", 1)[-1].startswith(("jobs", "tasks"))}
    return out


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sets = [load(d) for d in sys.argv[1:]]
    bounds, better = {}, {}
    spec = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(spec):
        with open(spec) as fh:
            for m in json.load(fh)["end_to_end"]:
                bounds[m["name"]], better[m["name"]] = m["bound"], m["better"]

    for i, res in enumerate(sets):
        meta = {(r["meta"]["cores"], r["meta"]["commit"] or r["meta"]["source_digest"][:12])
                for r in res}
        print(f"set {'AB'[i]}: {len(res)} runs; (cores, commit): {sorted(meta)}")

    tables = [untraced(s) for s in sets]
    print(f"\n{'workload':12} {'metric':14} {'n':>3} {'A q1':>10} {'A med':>10} {'A q3':>10}"
          f" {'spread':>7}" + ("" if len(sets) == 1 else
                               f" {'B med':>10} {'spread':>7} {'change':>8}  verdict"))
    for key in sorted(set().union(*tables)):
        w, metric = key
        row = []
        for t in tables:
            vals = t.get(key, [])
            row.append((len(vals),) + quartiles(vals) if vals else None)
        a = row[0]
        if a is None:
            continue
        n, q1, med, q3 = a
        spread = (q3 - q1) / med if med else float("nan")
        line = f"{w:12} {metric:14} {n:3d} {q1:10.4g} {med:10.4g} {q3:10.4g} {spread:7.1%}"
        if len(sets) == 2 and row[1]:
            _, bq1, bmed, bq3 = row[1]
            bspread = (bq3 - bq1) / bmed if bmed else float("nan")
            change = (bmed - med) / med if med else float("nan")
            worse = change if better.get(metric) == "lower" else -change
            bound = bounds.get(metric)
            if bound is None:
                verdict = ""
            elif max(spread, bspread) > bound:
                verdict = "unresolved (spread above bound)"
            elif worse > bound:
                verdict = f"WORSE than bound {bound:.0%}"
            else:
                verdict = "within bound"
            line += f" {bmed:10.4g} {bspread:7.1%} {change:+8.1%}  {verdict}"
        print(line)

    print("\ntracing overhead (median mean-op latency, traced / untraced - 1):")
    for i, res in enumerate(sets):
        t0, t1 = op_mean(res, 0), op_mean(res, 1)
        for w in sorted(set(t0) & set(t1)):
            print(f"  set {'AB'[i]} {w:12} {t1[w] / t0[w] - 1:+.1%}")

    if len(sets) == 2:
        ca, cb = counts(sets[0]), counts(sets[1])
        changed = []
        for key in sorted(set(ca) & set(cb)):
            for m in sorted(set(ca[key]) | set(cb[key])):
                va, vb = ca[key].get(m), cb[key].get(m)
                if va != vb:
                    changed.append(f"  {key[0]} seed {key[1]} {m}: {va} -> {vb}")
        print(f"\nper-span job/task counts compared on {len(set(ca) & set(cb))} "
              f"(workload, seed) pairs: {len(changed)} changed")
        print("\n".join(changed))


if __name__ == "__main__":
    main()
