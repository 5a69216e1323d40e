#!/usr/bin/env python3
"""Choose the olap-curation queries from a survey of the whole registry.

    python3 perfbench/sample_queries.py [perfbench/survey.tsv]

The survey (`python3 perfbench/run.py --survey`) times every query of
CoreQueries, DedupQueries and EmbeddingQueries once cold and twice warm,
traced. The rule:

1. Strata: family (relational `q*`, curation `d*`/`e*`) x short or long
   (warm time under or over SHORT_S).
2. Eligible: ran without error, stages no fixtures (staging writes outside
   a benchmark checkout) and takes at most CAP_S warm, so one pass fits.
3. A systematic sample with interval k and offset o gives stratum s
   round(|registry_s| / k) queries, at least one: its share of the
   registry, not of the eligible set. They come from the stratum's eligible
   queries sorted by warm time, one at fraction o of each of that many
   equal slices.
4. Of the samples whose warm time lies in BUDGET_S (enough ops for a
   pass, few enough for three passes in a run), the one whose profile
   (short share, plan-build share, codegen share, short-task share, stages
   per second) is closest to the registry's, in summed relative distance.

Prints the subset and a table comparing it with the registry.
"""
import csv
import os
import statistics
import sys

SHORT_S = 0.5
CAP_S = 1.5
BUDGET_S = (4.5, 6.0)


def load(path):
    with open(path) as f:
        rows = list(csv.DictReader(f, delimiter="\t"))
    for r in rows:
        for k, v in r.items():
            if k != "query":
                r[k] = float(v)
        r["family"] = "relational" if r["query"].startswith("q") else "curation"
        r["short"] = r["warm_s"] < SHORT_S
    return rows


def stratum(r):
    return (r["family"], r["short"])


def eligible(r):
    return r["ok"] == 1 and r["staging_s"] == 0 and r["warm_s"] <= CAP_S


def pick(rows, k, o):
    chosen = []
    for s in sorted({stratum(r) for r in rows}):
        n = max(1, round(sum(stratum(r) == s for r in rows) / k))
        pool = sorted((r for r in rows if stratum(r) == s and eligible(r)),
                      key=lambda r: (r["warm_s"], r["query"]))
        n = min(n, len(pool))
        chosen += [pool[int((i + o) * len(pool) / n)] for i in range(n)]
    return chosen


def profile(rows):
    warm = sum(r["warm_s"] for r in rows)
    return [
        sum(r["short"] for r in rows) / len(rows),
        sum(r["build_s"] for r in rows) / warm,
        sum(r["compile_ms"] for r in rows) / 1e3 / sum(r["cold_s"] for r in rows),
        sum(r["short_tasks"] for r in rows) / sum(r["tasks"] for r in rows),
        sum(r["stages"] for r in rows) / warm,
    ]


def select(rows):
    target = profile(rows)

    def distance(subset):
        return sum(abs(a - b) / b for a, b in zip(profile(subset), target))
    samples = [(k, o, pick(rows, k, o)) for k in range(1, len(rows) + 1)
               for o in (i / 10 for i in range(10))]
    fits = [s for s in samples
            if BUDGET_S[0] <= sum(r["warm_s"] for r in s[2]) <= BUDGET_S[1]]
    if not fits:
        sys.exit("no sample fits the budget")
    return min(fits, key=lambda s: (distance(s[2]), s[0], s[1]))


def summary(rows):
    warm = sum(r["warm_s"] for r in rows)
    cold = sum(r["cold_s"] for r in rows)
    tasks = sum(r["tasks"] for r in rows)
    catalyst = sum(r["analysis_ms"] + r["optimization_ms"] + r["planning_ms"] for r in rows)
    return [
        ("queries", f"{len(rows)}"),
        ("relational share", f"{sum(r['family'] == 'relational' for r in rows) / len(rows):.2f}"),
        (f"share under {SHORT_S} s warm", f"{sum(r['short'] for r in rows) / len(rows):.2f}"),
        (f"share under {SHORT_S} s cold", f"{sum(r['cold_s'] < SHORT_S for r in rows) / len(rows):.2f}"),
        ("median warm s", f"{statistics.median(r['warm_s'] for r in rows):.3f}"),
        ("plan build (inside fn), share of warm time", f"{sum(r['build_s'] for r in rows) / warm:.2f}"),
        ("Catalyst phases of executions, share of warm time", f"{catalyst / 1e3 / warm:.2f}"),
        ("codegen compile, share of cold time", f"{sum(r['compile_ms'] for r in rows) / 1e3 / cold:.2f}"),
        ("stages per warm second", f"{sum(r['stages'] for r in rows) / warm:.1f}"),
        ("tasks under 10 ms, share of tasks", f"{sum(r['short_tasks'] for r in rows) / tasks:.2f}"),
        ("task seconds per warm second", f"{sum(r['task_run_s'] for r in rows) / warm:.2f}"),
    ]


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "survey.tsv")
    rows = load(path)
    k, o, subset = select(rows)
    print(f"interval {k}, offset {o}: {len(subset)} queries, "
          f"{sum(r['warm_s'] for r in subset):.2f} s warm:")
    print(" ".join(sorted(r["query"] for r in subset)))
    print()
    cols = [summary(rows), summary([r for r in rows if eligible(r)]), summary(subset)]
    print("| | registry | eligible | subset |")
    print("|---|---|---|---|")
    for i, (name, _) in enumerate(cols[0]):
        print(f"| {name} | " + " | ".join(c[i][1] for c in cols) + " |")


if __name__ == "__main__":
    main()
