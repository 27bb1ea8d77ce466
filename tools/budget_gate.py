#!/usr/bin/env python3
"""Budget-drift gate: compare a cold bench pass (BENCH_DETAIL.json format)
against the committed per-query cold budgets (COLD_BUDGET.json) and exit
nonzero listing every query whose cold time exceeds
max(budget-max x TOLERANCE, budget-max + 1 s) — the absolute floor keeps
sub-second-query scheduling jitter from tripping the gate.

COLD_BUDGET.json existed since r10 but nothing FAILED when a plan change
blew a budget — a regression could ride until the judge's cross-round diff.
This makes the budget a gate: run after any plan-affecting change (quiet box
only — the x2 tolerance absorbs page-cache/contention variance, not a
contended box).

Coverage is part of the gate (r11 hole: q217/q218 ran ungated for a round
because only the intersection of bench times and budgets was checked):
 - a bench query with NO budget entry FAILS the gate — regenerate budgets
   (tools/cold_budget.sh) when the query surface grows;
 - a budget entry with NO bench time is reported as stale (renamed/removed
   query) so COLD_BUDGET.json can't silently rot.

Breach attribution (the r12 q56 lesson, now encoded instead of documented):
this box is a guest with invisible co-tenant contention, so a single-query
breach inside an otherwise-green board is usually a scheduling transient,
while a uniform whole-board elevation is host noise. The gate distinguishes:
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
budget entry measured in exactly that context (tools/rerun_budget.py, run
by cold_budget.sh) and the rerun is gated against it — comparing a warmed
rerun to the suite limit could both mask a real regression and "confirm"
an environmental transient.

Usage: tools/budget_gate.py <bench_detail.json> [cold_budget.json] [tolerance]
Env: BUDGET_GATE_SF (sf dir for offender reruns, default /root/testdata/sf0.1),
     BUDGET_GATE_NO_RERUN=1 to disable the rerun step (pure comparison),
     BUDGET_GATE_FAKE_RERUN="name=secs,..." to stub rerun measurements (the
     synthetic-regression test hook).
"""
import os, sys, json, re, statistics, subprocess

# The checkout this script lives in: its bench_one.sh runs that tree.
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
    (absorbs JVM/session/codegen warmup) plus the suite-order upstream
    chain for cache-sharing queries. tools/rerun_budget.py measures the
    rerun-context budgets with THIS function, so the gate's rerun and the
    budget it is compared against share one definition of the context."""
    generic = "q01_scan_project" if name != "q01_scan_project" else "q02_filter"
    upstream = CACHE_UPSTREAM.get(name)
    return f"{generic},{upstream}" if upstream else generic


def rerun_cold(name, sf_dir):
    """One isolated fresh-JVM cold run of a single query; None on any failure.

    A warmup query runs first (untimed) so the measurement matches the
    suite-cold semantics the budgets were taken under — in the budget suite,
    JVM/session/codegen warmup is absorbed by alphabetically earlier queries,
    and without it an isolated run1 over-reads cheap queries by ~3 s.
    Cache-sharing queries (CACHE_UPSTREAM) additionally warm with the exact
    suite-order upstream that builds their shared memoized state.
    """
    try:
        out = subprocess.run(
            ["tools/bench_one.sh", name, sf_dir, "1"],
            capture_output=True, text=True, timeout=900, cwd=ROOT,
            env={**os.environ, "SPARK_GRAFT_WARMUP": warmup_chain(name)})
    except Exception as e:
        print(f"[budget_gate]   rerun of {name} failed to launch: {e}")
        return None
    m = re.search(rf"{re.escape(name)} run1: ([0-9.]+)s", out.stdout)
    if not m:
        tail = (out.stdout + out.stderr).strip().splitlines()[-3:]
        print(f"[budget_gate]   rerun of {name} produced no timing: {tail}")
        return None
    return float(m.group(1))


def main():
    detail_path = sys.argv[1]
    budget_path = sys.argv[2] if len(sys.argv) > 2 else "COLD_BUDGET.json"
    tol = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
    sf_dir = os.environ.get("BUDGET_GATE_SF", "/root/testdata/sf0.1")
    no_rerun = os.environ.get("BUDGET_GATE_NO_RERUN") == "1"
    detail = json.load(open(detail_path))
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
              f"entry (run tools/cold_budget.sh): {', '.join(missing)}")
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
            # BUDGET_GATE_FAKE_RERUN="name=secs,name=secs": substitute rerun
            # measurements — the synthetic-regression test hook (a fabricated
            # suite breach cannot inflate a REAL rerun of unregressed code,
            # so the attribution path is otherwise untestable end-to-end).
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
                # The rerun runs in a DIFFERENT context than the suite pass
                # (fresh JVM, scratch warehouse, warmed upstream chain), so
                # it is gated against its OWN budget when one is recorded
                # (tools/rerun_budget.py) — comparing a warmed rerun against
                # the suite limit let any real regression on a cache-sharing
                # query pass as a "transient" (the r14 q231 calibration
                # defect: suite budget 2.0 s matched no real context).
                rb = budgets[name].get("rerun")
                if rb is None and name in CACHE_UPSTREAM:
                    # A cache-sharing offender MUST be gated against a budget
                    # measured in the rerun's own warmed-upstream context —
                    # silently falling back to the suite limit reintroduces
                    # the r14 q231 mis-gating for any newly added
                    # CACHE_UPSTREAM member whose budgets were not refreshed.
                    print(f"[budget_gate] FAIL: {name} is in CACHE_UPSTREAM "
                          f"but its budget has no 'rerun' entry — regenerate "
                          f"with tools/rerun_budget.py (the suite limit is "
                          f"the wrong context for a warmed rerun)")
                    failed = True
                    continue
                print(f"[budget_gate]   isolated fresh-JVM rerun of {name} ...")
                t2 = (fake[name] if name in fake
                      else rerun_cold(name, sf_dir))
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
    sys.exit(main())
