#!/usr/bin/env python3
"""Per-query cold budgets (COLD_BUDGET.json): make them, and gate a cold
pass against them.

  tools/budget.py make [sf_dir] [n_passes=3] [out_json=COLD_BUDGET.json]
  tools/budget.py gate [sf_dir | bench_detail.json] [cold_budget.json] [tolerance=2.0]

Both modes first compile with sbt and stop on a failed compile: they gate on
sbt's EXIT STATUS, not on grepping its output (r10's `|| true` let stale
classes get benchmarked, and an up-to-date batch compile prints no
"success" line at all). Every fresh-JVM Bench pass runs in its own scratch
cwd: Bench writes BENCH_DETAIL.json (and spark-warehouse) relative to cwd,
and r10's in-repo runs clobbered the committed cold+warm artifact with
cold-only output.

make: run the whole-suite cold pass (`SPARK_GRAFT_COLD_ONLY=1`) n times,
each in a FRESH JVM, and record each query's min/median/max
first-execution seconds plus suite totals. Any driver-round cold deviation
is then attributable in one diff: a query far above its budget max on an
untouched plan is environment (page-cache displacement / box contention),
not a regression. Then measure the rerun-context budgets of the
cache-sharing queries (see below) over RERUN_SAMPLES (default 2) samples.
n_passes=0 keeps out_json's suite entries and refreshes only the rerun
entries. Exit 2 when a rerun sample was unmeasurable (that query keeps its
existing rerun entry, if any).

gate: compare one cold pass against the budgets and exit nonzero listing
every query whose cold time exceeds max(budget-max x TOLERANCE, budget-max
+ ABS_FLOOR). Given a sf dir (default /root/testdata/sf0.1) it runs that
pass itself, at 32 cores; given a BENCH_DETAIL.json it gates that file and
reruns offenders over BUDGET_GATE_SF (default /root/testdata/sf0.1). Quiet
box only — the tolerance absorbs page-cache/environment variance, not a
contended box.

Coverage is part of the gate (r11 hole: q217/q218 ran ungated for a round
because only the intersection of bench times and budgets was checked):
 - a bench query with NO budget entry FAILS the gate — `make` new budgets
   when the query surface grows;
 - a budget entry with NO bench time is reported as stale (renamed/removed
   query) so COLD_BUDGET.json can't silently rot.

Breach attribution (the r12 q56 lesson): this box is a guest with invisible
co-tenant contention, so a single-query breach inside an otherwise-green
board is usually a scheduling transient, while a uniform whole-board
elevation is host noise. The gate distinguishes:
 - <= RERUN_MAX offenders AND board median ratio normal: each offender gets
   ONE isolated fresh-JVM rerun (tools/bench_one.sh); a rerun inside its
   limit is recorded as a transient and does not fail the gate, a rerun
   still over it is a confirmed regression and fails.
 - more offenders, or an elevated board median: no rerun — fail with the
   host-noise note so the run is repeated on a quiet window instead of
   retried per query.

Dual-context budgets (the r14 q231 calibration lesson): the rerun executes
in a DIFFERENT context than the suite pass (fresh JVM, scratch warehouse,
warmed upstream chain), so cache-sharing queries carry a second `rerun`
budget entry measured in exactly that context (`warmup_chain` — one
definition for `make` and `gate`) and the rerun is gated against it.
Comparing a warmed rerun to the suite limit could both mask a real
regression and "confirm" an environmental transient.

Env: BUDGET_GATE_NO_RERUN=1 disables the rerun step (pure comparison);
     BUDGET_GATE_FAKE_RERUN="name=secs,..." stubs rerun measurements (the
     synthetic-regression test hook).
"""
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

# The checkout this script lives in: it compiles and runs that tree.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RERUN_MAX = 2        # at most this many offenders are attributable as transients
UNIFORM_MEDIAN = 1.25  # board median ratio above this = host-noise signature
ABS_FLOOR = 1.0      # seconds: limit = max(budget*tol, budget + ABS_FLOOR) —
                     # sub-second queries swing 2-3x on this co-tenanted box
                     # (two r13 gate runs named different sub-second "worst"
                     # queries at 1.70x/1.21x, both noise); a relative-only
                     # limit lets that jitter trip the gate and train readers
                     # to ignore it, while +1 s is far above scheduling noise
                     # yet far below any real plan regression on big queries.

# Suite-order upstream state map: these queries' suite-cold budgets were
# measured in a session where an alphabetically EARLIER query had already
# built the shared memoized state they serve from (decode checkpoints,
# trained coarse models, standing indexes). An isolated rerun without that
# upstream rebuilds everything and spuriously "confirms" a transient as a
# regression — exactly for the heavyweight layout/incremental queries most
# likely to breach. Values are comma-separated SPARK_GRAFT_WARMUP chains.
CACHE_UPSTREAM = {
    # layout serves: warmed by the live form that builds the memoized index
    "q228_media_index_layout": "q218_media_neardup",
    "q230_setsim_layout": "q151_setsim_prefix",
    "q231_crossmodal_index_layout": "q220_crossmodal_align",
    # q232 rides q231's at-rest tables AND the shared served-probe frame
    "q232_crossmodal_emb_layout":
        "q220_crossmodal_align,q231_crossmodal_index_layout",
    # cross-modal: both modality decodes + the image coarse model come from
    # the one-shot near-dups that precede it in suite order
    "q220_crossmodal_align": "q218_media_neardup,q219_audio_neardup",
    "q224_crossmodal_incremental":
        "q220_crossmodal_align,q221_media_neardup_incremental",
    # incremental/continuous media: decode + models from the modality's
    # one-shot form; q222 additionally serves off q221's store index
    "q221_media_neardup_incremental": "q218_media_neardup",
    "q222_media_stream_ingest": "q221_media_neardup_incremental",
    "q225_audio_neardup_incremental": "q219_audio_neardup",
    "q226_video_neardup_incremental": "q223_video_neardup",
    # maintenance folds: corpus decode + frozen model from the one-shot /
    # nightly forms (q233), curation memos from the incremental funnel (q234)
    "q233_media_ledger_fold": "q218_media_neardup,q221_media_neardup_incremental",
    "q234_curation_family_fold": "q215_curation_incremental",
}


def warmup_chain(name):
    """The exact untimed warmup a rerun of `name` uses: one generic query
    (absorbs JVM/session/codegen warmup — in the budget suite, that warmup
    is absorbed by alphabetically earlier queries, and without it an
    isolated run1 over-reads cheap queries by ~3 s) plus the suite-order
    upstream chain for cache-sharing queries."""
    generic = "q01_scan_project" if name != "q01_scan_project" else "q02_filter"
    upstream = CACHE_UPSTREAM.get(name)
    return f"{generic},{upstream}" if upstream else generic


class MeasureError(Exception):
    pass


def rerun_cold(name, sf_dir):
    """One isolated fresh-JVM cold run of a single query, in the rerun
    context `warmup_chain` defines."""
    try:
        out = subprocess.run(
            [os.path.join(ROOT, "tools", "bench_one.sh"), name, sf_dir, "1"],
            capture_output=True, text=True, timeout=900,
            env={**os.environ, "SPARK_GRAFT_WARMUP": warmup_chain(name)})
    except Exception as e:  # TimeoutExpired, OSError, ...
        raise MeasureError(f"launch/timeout: {e}")
    m = re.search(rf"{re.escape(name)} run1: ([0-9.]+)s", out.stdout)
    if not m:
        tail = (out.stdout + out.stderr).strip().splitlines()[-5:]
        raise MeasureError(f"no timing in output: {tail}")
    return float(m.group(1))


def compile_or_exit(tag):
    out = subprocess.run(["sbt", "-batch", "compile"], cwd=ROOT,
                         capture_output=True, text=True)
    if out.returncode != 0:
        print(f"[{tag}] compile failed:")
        lines = (out.stdout + out.stderr).splitlines()
        print("\n".join([l for l in lines if l.startswith("[error]")] or lines[-20:]))
        sys.exit(1)


def cold_pass(tag, sf_dir, passdir):
    """One whole-suite cold-only Bench pass in a fresh JVM with `passdir`
    as its cwd; returns its BENCH_DETAIL.json. The caller removes
    `passdir`."""
    os.makedirs(passdir, exist_ok=True)
    add_opens = subprocess.run(
        ["bash", "-c", '. "$0"; echo $ADD_OPENS', os.path.join(ROOT, "tools", "add_opens.sh")],
        capture_output=True, text=True, check=True).stdout.split()
    log = os.path.join(passdir, "stdout.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["java", *add_opens, "-Xmx8g", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"/opt/spark/jars/*:{ROOT}/target/scala-2.13/classes", "graft.Bench"],
            cwd=passdir, stdout=f, stderr=subprocess.STDOUT,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": "32",
                 "SPARK_GRAFT_COLD_ONLY": "1"}).returncode
    if rc != 0:
        print(f"[{tag}] cold pass failed (exit {rc}); the end of its log:")
        print("\n".join(open(log).read().splitlines()[-5:]))
        sys.exit(1)
    return os.path.join(passdir, "BENCH_DETAIL.json")


def spread(ts):
    ts = sorted(ts)
    return {"min": round(ts[0], 3), "median": round(statistics.median(ts), 3),
            "max": round(ts[-1], 3)}


def merge(sf_dir, paths):
    """min / median / max first-execution seconds per query across the
    fresh-JVM passes, plus suite totals."""
    runs = []
    for p in paths:
        d = json.load(open(p))
        if int(d.get("failed", 0)) != 0:
            raise SystemExit(f"pass {p} had failures: {d.get('errors')}")
        runs.append(d["queries"])
    names = sorted(runs[0])
    if any(sorted(r) != names for r in runs[1:]):
        raise SystemExit("query sets differ between passes")
    queries = {n: spread([r[n] for r in runs]) for n in names}
    return {
        "sf": sf_dir,
        "passes": len(runs),
        "tool": "tools/budget.py make (fresh-JVM whole-suite cold passes)",
        "total_min": round(sum(q["min"] for q in queries.values()), 1),
        "total_median": round(sum(q["median"] for q in queries.values()), 1),
        "queries": queries,
    }


def rerun_budgets(sf_dir, budget, n):
    """Measure each CACHE_UPSTREAM member in exactly the gate's rerun
    context across n fresh-JVM samples into a `rerun` sub-entry of its
    row. Returns the queries skipped as unmeasurable."""
    skipped = []
    for name in sorted(CACHE_UPSTREAM):
        if name not in budget["queries"]:
            print(f"[budget_make] skip {name}: no suite budget entry")
            continue
        # One unmeasurable sample must not abort the whole run: skip that
        # query with a warning and still write every measured entry.
        ts = []
        try:
            for i in range(n):
                ts.append(rerun_cold(name, sf_dir))
                print(f"[budget_make] {name} sample {i + 1}/{n}: {ts[-1]:.3f}s "
                      f"(warmup {warmup_chain(name)})")
        except MeasureError as e:
            print(f"[budget_make] WARNING: {name} sample {len(ts) + 1}/{n} "
                  f"unmeasurable, skipping query (its existing rerun entry, "
                  f"if any, is kept): {e}")
            skipped.append(name)
            continue
        budget["queries"][name]["rerun"] = {**spread(ts), "warmup": warmup_chain(name)}
    return skipped


def make(args):
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    n = int(args[1]) if len(args) > 1 else 3
    out = args[2] if len(args) > 2 else os.path.join(ROOT, "COLD_BUDGET.json")
    compile_or_exit("budget_make")

    def write(budget):
        with open(out, "w") as f:
            json.dump(budget, f, indent=1, sort_keys=True)

    if n > 0:
        # The pass dirs hold each pass's log, BENCH_DETAIL.json and layout
        # tables (tens of MB at sf0.01): removed however the passes end.
        tmp = tempfile.mkdtemp(prefix="cold_budget.")
        try:
            passes = []
            for i in range(1, n + 1):
                print(f"[budget_make] pass {i}/{n} (fresh JVM, cold-only, scratch cwd {tmp}/run_{i}) ...")
                passes.append(cold_pass("budget_make", sf_dir, f"{tmp}/run_{i}"))
            budget = merge(sf_dir, passes)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        write(budget)
    else:
        budget = json.load(open(out))
    skipped = rerun_budgets(sf_dir, budget, int(os.environ.get("RERUN_SAMPLES", "2")))
    write(budget)
    print(f"[budget_make] wrote {out}"
          + (f" (skipped unmeasurable reruns: {', '.join(skipped)})" if skipped else ""))
    return 2 if skipped else 0


def gate(args):
    src = args[0] if args else "/root/testdata/sf0.1"
    budget_path = args[1] if len(args) > 1 else os.path.join(ROOT, "COLD_BUDGET.json")
    tol = float(args[2]) if len(args) > 2 else 2.0
    if os.path.isdir(src):
        compile_or_exit("budget_gate")
        sf_dir = src
        tmp = tempfile.mkdtemp(prefix="budget_gate.")
        print(f"[budget_gate] cold pass (fresh JVM, scratch cwd {tmp}) ...")
        try:
            detail = json.load(open(cold_pass("budget_gate", sf_dir, tmp)))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    else:
        detail = json.load(open(src))
        sf_dir = os.environ.get("BUDGET_GATE_SF", "/root/testdata/sf0.1")
    no_rerun = os.environ.get("BUDGET_GATE_NO_RERUN") == "1"
    budget = json.load(open(budget_path))
    if int(detail.get("failed", 0)) != 0:
        print(f"[budget_gate] FAIL: bench pass had failures: {detail.get('errors')}")
        return 1
    times = detail["queries"]
    budgets = budget["queries"]
    failed = False
    missing = sorted(set(times) - set(budgets))
    if missing:
        print(f"[budget_gate] FAIL: {len(missing)} bench queries have no budget "
              f"entry (run tools/budget.py make): {', '.join(missing)}")
        failed = True
    stale = sorted(set(budgets) - set(times))
    if stale:
        print(f"[budget_gate] FAIL: {len(stale)} budget entries match no bench "
              f"query (renamed/removed?): {', '.join(stale)}")
        failed = True
    shared = sorted(set(times) & set(budgets))
    ratios = {n: times[n] / budgets[n]["max"] for n in shared}

    def limit_of(bmax):
        return max(bmax * tol, bmax + ABS_FLOOR)

    offenders = [(n, times[n], budgets[n]["max"], limit_of(budgets[n]["max"]))
                 for n in shared if times[n] > limit_of(budgets[n]["max"])]
    if offenders:
        med = statistics.median(ratios.values()) if ratios else 0.0
        print(f"[budget_gate] {len(offenders)} queries over budget-max x{tol} "
              f"(board median ratio {med:.2f}x):")
        for name, t, bmax, limit in offenders:
            print(f"  {name}: cold {t:.3f}s > {limit:.3f}s "
                  f"(budget max {bmax:.3f}s, ratio {t / bmax:.2f}x)")
        if no_rerun:
            print("[budget_gate] FAIL: reruns disabled (BUDGET_GATE_NO_RERUN=1)")
            failed = True
        elif med > UNIFORM_MEDIAN or len(offenders) > RERUN_MAX:
            print(f"[budget_gate] FAIL: breach is board-wide "
                  f"(median {med:.2f}x > {UNIFORM_MEDIAN} or "
                  f"{len(offenders)} > {RERUN_MAX} offenders) — host-noise "
                  f"signature; repeat the whole gate on a quiet window rather "
                  f"than rerunning queries")
            failed = True
        else:
            # A fabricated suite breach cannot inflate a REAL rerun of
            # unregressed code, so without this hook the attribution path
            # is untestable end-to-end.
            fake = {}
            for kv in os.environ.get("BUDGET_GATE_FAKE_RERUN", "").split(","):
                if "=" not in kv:
                    continue
                k, v = kv.split("=", 1)
                try:
                    fake[k] = float(v)
                except ValueError:
                    print(f"[budget_gate] FAIL: BUDGET_GATE_FAKE_RERUN entry "
                          f"{kv!r} has a non-numeric value")
                    return 1
            for name, t, bmax, limit in offenders:
                rb = budgets[name].get("rerun")
                if rb is None and name in CACHE_UPSTREAM:
                    # Falling back to the suite limit would reintroduce the
                    # r14 q231 mis-gating for any newly added CACHE_UPSTREAM
                    # member whose budgets were not refreshed.
                    print(f"[budget_gate] FAIL: {name} is in CACHE_UPSTREAM "
                          f"but its budget has no 'rerun' entry — regenerate "
                          f"with tools/budget.py make (the suite limit is "
                          f"the wrong context for a warmed rerun)")
                    failed = True
                    continue
                print(f"[budget_gate]   isolated fresh-JVM rerun of {name} ...")
                if name in fake:
                    t2 = fake[name]
                else:
                    try:
                        t2 = rerun_cold(name, sf_dir)
                    except MeasureError as e:
                        print(f"[budget_gate]   rerun of {name}: {e}")
                        t2 = None
                rlimit = limit_of(rb["max"]) if rb else limit
                ctx = "rerun budget" if rb else "suite budget (no rerun entry)"
                if t2 is None:
                    print(f"[budget_gate] FAIL: {name} rerun unmeasurable")
                    failed = True
                elif t2 > rlimit:
                    print(f"[budget_gate] FAIL: {name} confirmed over budget on "
                          f"rerun: {t2:.3f}s > {rlimit:.3f}s (vs {ctx})")
                    failed = True
                else:
                    print(f"[budget_gate]   {name} transient: rerun {t2:.3f}s "
                          f"<= {rlimit:.3f}s vs {ctx} (first pass {t:.3f}s) "
                          f"— not a regression")
    if failed:
        return 1
    # Worst margin against the ACTUAL limit (floor included) — the relative
    # ratio alone over-dramatizes sub-second jitter the floor absorbs.
    worst = max(((times[n] / limit_of(budgets[n]["max"]), n) for n in shared),
                default=(0.0, "-"))
    worst_ratio = max(((ratios[n], n) for n in shared), default=(0.0, "-"))
    print(f"[budget_gate] ok: {len(shared)} queries within "
          f"max(budget x{tol}, budget + {ABS_FLOOR:.0f}s) "
          f"(worst margin {worst[0]:.2f}x of limit on {worst[1]}; "
          f"worst raw ratio {worst_ratio[0]:.2f}x on {worst_ratio[1]}"
          f"{'; ' + str(len(offenders)) + ' transient(s) attributed by rerun' if offenders else ''})")
    return 0


if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] not in ("make", "gate"):
        sys.exit(__doc__)
    sys.exit({"make": make, "gate": gate}[sys.argv[1]](sys.argv[2:]))
