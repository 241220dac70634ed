#!/usr/bin/env python3
"""Min-of-N summary and comparison of registry bench series.

A series is every file matched by a glob; each file is a Bench JSON
(`docs/bench_*_run*.json`) or an earlier min-of-N record
(`docs/bench_*_minN.json`), both of which carry a `queries` map of
per-query seconds. A query's value in a series is its minimum over the
series' files, skipping the -1.0 sentinel of an errored run. A query
whose every run errored is reported apart and kept out of the totals.

    tools/bench_compare.py BASE_GLOB                 # summarize one series
    tools/bench_compare.py BASE_GLOB OPT_GLOB        # per-query base -> opt
    tools/bench_compare.py ... --out docs/x_minN.json

`--out` writes the min-of-N record of the newest series (OPT when
given, else BASE). The comparison covers the queries with a positive
time on both sides; the totals, the ratios and the geomean all use that
one list.
"""
import argparse
import glob
import json
import math
import sys


def load(pattern):
    paths = sorted(glob.glob(pattern))
    if not paths:
        sys.exit("no files match %s" % pattern)
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append((p, json.load(f)))
    return runs


def min_of(runs):
    """(per-query min over non-errored runs, queries with no such run)"""
    names = set()
    for _, r in runs:
        names |= set(r["queries"])
    mins, failed = {}, []
    for n in sorted(names):
        vals = [r["queries"][n] for _, r in runs
                if r["queries"].get(n, -1.0) >= 0]
        if vals:
            mins[n] = min(vals)
        else:
            failed.append(n)
    return mins, failed


def summarize(label, pattern, runs, mins, failed):
    cpus = sorted({str((r.get("cpus"), r.get("cpus_source")))
                   for _, r in runs})
    print("%s: %s  runs %d  entries %d  total %.1f s  cpus %s"
          % (label, pattern, len(runs), len(mins), sum(mins.values()),
             ", ".join(cpus)))
    for p, r in runs:
        t = sum(v for v in r["queries"].values() if v >= 0)
        print("  %s raw total %.1f s errors %d"
              % (p, t, len(r.get("errors") or {})))
    if failed:
        print("  entries with NO successful run (excluded): %s"
              % ", ".join(failed))


def compare(base, opt):
    common = sorted(k for k in set(base) & set(opt)
                    if base[k] > 0 and opt[k] > 0)
    print("\n%-40s %7s %7s %7s %5s" % ("query", "base", "opt", "delta", "x"))
    rows = sorted(((base[k] - opt[k], k) for k in common), reverse=True)
    for d, k in rows:
        if abs(d) >= 0.15:  # smaller moves are run-to-run noise
            print("%-40s %7.2f %7.2f %+7.2f %5.2f"
                  % (k, base[k], opt[k], d, base[k] / opt[k]))
    if not common:
        print("no query has a positive time in both series")
        return
    tb = sum(base[k] for k in common)
    to = sum(opt[k] for k in common)
    ratios = sorted(opt[k] / base[k] for k in common)
    geo = math.exp(sum(math.log(base[k] / opt[k]) for k in common)
                   / len(common))
    print("\ntotal (min-of-N, %d common): base %.1f s -> opt %.1f s "
          "(%.3fx, geomean %.3fx, median opt/base %.2f)"
          % (len(common), tb, to, tb / to, geo, ratios[len(ratios) // 2]))
    reg = [k for k in common
           if opt[k] > base[k] * 1.10 and opt[k] - base[k] > 0.2]
    print("regressions >10%% and >0.2 s: %d" % len(reg))
    for k in sorted(reg, key=lambda k: base[k] - opt[k]):
        print("  %-38s %6.2f -> %6.2f" % (k, base[k], opt[k]))
    for label, side, other in (("base", base, opt), ("opt", opt, base)):
        only = set(side) - set(other)
        if only:
            print("only in %s: %d  cost %.1f s"
                  % (label, len(only), sum(side[k] for k in only)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", help="glob of the base series")
    ap.add_argument("opt", nargs="?", help="glob of the series to compare")
    ap.add_argument("--out", help="write the newest series' min-of-N JSON")
    a = ap.parse_args()
    series = []
    for label, pattern in (("base", a.base), ("opt", a.opt)):
        if pattern:
            runs = load(pattern)
            mins, failed = min_of(runs)
            summarize(label, pattern, runs, mins, failed)
            series.append((pattern, runs, mins, failed))
    if a.opt:
        compare(series[0][2], series[1][2])
    else:
        print("slowest (min):")
        for n, v in sorted(series[0][2].items(), key=lambda kv: -kv[1])[:12]:
            print("  %-32s %6.2f s" % (n, v))
    if a.out:
        pattern, runs, mins, failed = series[-1]
        with open(a.out, "w") as f:
            json.dump({"metric": "total", "value": sum(mins.values()),
                       "unit": "sec", "n": len(mins), "runs": len(runs),
                       "failed_entries": failed,
                       "cpus": runs[0][1].get("cpus"),
                       "cpus_source": runs[0][1].get("cpus_source"),
                       "protocol": "per-query min of %d runs (%s)"
                                   % (len(runs), pattern),
                       "queries": mins}, f)


if __name__ == "__main__":
    main()
