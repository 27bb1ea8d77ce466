#!/usr/bin/env python3
"""Rerun-context budgets for cache-sharing queries (the r14 q231 lesson).

A CACHE_UPSTREAM query's suite-cold budget is measured in a whole-suite
pass where alphabetically earlier queries already built the memoized state
it serves from. The gate's breach-attribution RERUN runs in a different
context — fresh JVM, scratch warehouse, the upstream chain warmed
explicitly — so comparing that rerun against the SUITE limit mis-gates in
both directions: a warmed rerun of genuinely regressed code can slip under
the (stale) suite limit, and an honest rerun can "confirm" a breach the
suite context never sees. This tool measures each CACHE_UPSTREAM member in
EXACTLY the gate's rerun context (budget_gate.warmup_chain — one shared
definition) across N fresh-JVM samples and records min/median/max as a
`rerun` sub-entry of the query's COLD_BUDGET row; budget_gate.py then
gates each context against its own number.

Usage: tools/rerun_budget.py <sf_dir> <cold_budget.json> [n_samples=2]
Run by tools/cold_budget.sh after the suite passes; rerunnable standalone
to refresh only the rerun entries.
"""
import os, re, sys, json, statistics, subprocess

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from budget_gate import CACHE_UPSTREAM, ROOT, warmup_chain


class MeasureError(Exception):
    pass


def measure(name, sf_dir):
    try:
        out = subprocess.run(
            ["tools/bench_one.sh", name, sf_dir, "1"],
            capture_output=True, text=True, timeout=900, cwd=ROOT,
            env={**os.environ, "SPARK_GRAFT_WARMUP": warmup_chain(name)})
    except Exception as e:  # TimeoutExpired, OSError, ...
        raise MeasureError(f"launch/timeout: {e}")
    m = re.search(rf"{re.escape(name)} run1: ([0-9.]+)s", out.stdout)
    if not m:
        tail = (out.stdout + out.stderr).strip().splitlines()[-5:]
        raise MeasureError(f"no timing in output: {tail}")
    return float(m.group(1))


def main():
    sf_dir = sys.argv[1]
    path = sys.argv[2] if len(sys.argv) > 2 else "COLD_BUDGET.json"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    budget = json.load(open(path))
    written, skipped = 0, []
    for name in sorted(CACHE_UPSTREAM):
        if name not in budget["queries"]:
            print(f"[rerun_budget] skip {name}: no suite budget entry")
            continue
        # One unmeasurable sample must not abort the whole run — collect
        # per-query, skip that query with a warning, and still write every
        # successfully measured entry at the end.
        ts = []
        try:
            for i in range(n):
                t = measure(name, sf_dir)
                ts.append(t)
                print(f"[rerun_budget] {name} sample {i + 1}/{n}: {t:.3f}s "
                      f"(warmup {warmup_chain(name)})")
        except MeasureError as e:
            print(f"[rerun_budget] WARNING: {name} sample "
                  f"{len(ts) + 1}/{n} unmeasurable, skipping query "
                  f"(its existing rerun entry, if any, is kept): {e}")
            skipped.append(name)
            continue
        ts.sort()
        budget["queries"][name]["rerun"] = {
            "min": round(ts[0], 3),
            "median": round(statistics.median(ts), 3),
            "max": round(ts[-1], 3),
            "warmup": warmup_chain(name),
        }
        written += 1
    with open(path, "w") as f:
        json.dump(budget, f, indent=1, sort_keys=True)
    print(f"[rerun_budget] wrote rerun entries for {written} queries to {path}"
          + (f" (skipped unmeasurable: {', '.join(skipped)})" if skipped else ""))
    if skipped:
        sys.exit(2)


if __name__ == "__main__":
    main()
