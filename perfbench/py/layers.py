"""Per-layer metrics of a traced run, from the JVM's result.json.

Cold-pass figures (one-time work) come from the traced cold pass; steady
figures are medians over the traced warm passes. The traced run alternates
traced and untraced warm passes, and `trace.overhead_frac` is the relative
difference of their median walls.
"""
import statistics

KERNELS = ("shingle_join", "pq_adc", "nearest_centroids", "hamming_cosine_top1",
           "cosine_similarity")


def per_layer(res, env, sched_errors, out_rows):
    cold, warm, extra = res["cold_layers"], res["warm_layers"], res["extra"]
    traced_wall = res["warm_traced_wall_s"]
    untraced_wall = statistics.median(res["warm_s"])
    ops = res["ops"]
    compile_s = cold["compile_ns"] / 1e9
    one_time = sum(max(0.0, o["cold_s"] - o["warm_s"] - o["compile_s"]) for o in ops)
    stream_rows = statistics.median(res["warm_stream_rows"])
    scan_rows = warm["in_recs"]
    task_s = warm["task_ms"] / 1e3
    mb = 1048576.0
    m = {
        "tables.session_s": (statistics.median(res["session_s"]), "s"),
        "tables.warm_s": (statistics.median(res["tables_s"]), "s"),
        "operators.construct_s": (sum(o["construct_s"] for o in ops), "s"),
        "operators.one_time_s": (one_time, "s"),
        "operators.unattributed_s": (res["cold_s"] - traced_wall - one_time - compile_s, "s"),
        "operators.out_rows": (out_rows, "count"),
        "plans.optimize_s": (warm["optimize_ms"] / 1e3, "s"),
        "plans.physical_s": (warm["planning_ms"] / 1e3, "s"),
        "plans.rule_s": (warm["rule_ns"] / 1e9, "s"),
        "plans.rule_runs": (warm["rule_runs"], "count"),
        "plans.rule_effective_frac": (warm["rule_eff"] / max(1.0, warm["rule_runs"]), "ratio"),
        "codegen.compiles": (cold["compiles"], "count"),
        "codegen.compile_s": (compile_s, "s"),
        "codegen.bytecode_kb": (cold["bytecode"] / 1024, "KB"),
        "jvm.jit_s": (cold["jit_ms"] / 1e3, "s"),
        "scheduler.jobs": (warm["jobs"], "count"),
        "scheduler.stages": (warm["stages"], "count"),
        "scheduler.tasks": (warm["tasks"], "count"),
        "scheduler.task_s": (task_s, "s"),
        "scheduler.task_cpu_s": (warm["task_cpu_ns"] / 1e9, "s"),
        "scheduler.core_busy_frac": (task_s / (traced_wall * res["cores"]), "ratio"),
        "scheduler.log_errors": (sched_errors, "count"),
        "shuffle.write_mb": (warm["shuf_w"] / mb, "MB"),
        "shuffle.read_mb": (warm["shuf_r"] / mb, "MB"),
        "shuffle.spill_mb": (warm["spill"] / mb, "MB"),
        "sources.scan_mb": (warm["in_bytes"] / mb, "MB"),
        "sources.scan_rows": (scan_rows, "count"),
        "sources.rows_examined_per_out": (scan_rows / max(1.0, out_rows + stream_rows), "ratio"),
        "sources.write_mb": (cold["out_bytes"] / mb, "MB"),
        "sources.pivot_s": (extra.get("sources.pivot_s", 0.0), "s"),
        "sources.row_jobs": (warm["row_jobs"], "count"),
        "jvm.gc_s": (warm["gc_ms"] / 1e3, "s"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "env.steal_frac": (env["steal_frac"], "ratio"),
        "env.load1": (env["load1"], "load"),
        "trace.overhead_frac": ((traced_wall - untraced_wall) / untraced_wall, "ratio"),
    }
    for k in KERNELS:
        name = f"functions.{k}.ns_per_row"
        m[name] = (extra[name], "ns")
    return m
