#!/usr/bin/env python3
"""Benchmark entry point: build the engine from source, make the fixture,
run one workload in a fresh JVM, check every output, print one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 32 --trace 0

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
sys.path.insert(0, os.path.join(HERE, "py"))
import checks  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("analytics", "llm_pipeline", "etl_rows")
SF = 0.02            # fixture scale factor (TPC-H-style, see py/gen_data.py)
ROW_COPIES = 4       # lineitem replicas in the etl_rows row-stream fixture
HEAP = "2g"
SETUPS = 3           # set-ups per run; setup_s is their median
RUN_DEADLINE_S = 170  # the whole run, build excluded
# Cold-pass and warm-pass seconds of each workload on a 4-core box. They turn
# --seconds into a fixed number of warm passes. A count that followed the
# clock would drop a warm pass whenever the cold pass ran slow, and as the
# first warm passes still carry JIT work, the warm means would jump with it.
PACE = {"analytics": (8.0, 3.5), "llm_pipeline": (16.5, 5.8), "etl_rows": (10.5, 3.6)}
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# ERROR lines logged by Spark's scheduler package (DAGScheduler, TaskSetManager, ...)
SCHED_ERROR = re.compile(r"\bERROR (DAGScheduler|TaskSetManager|TaskSchedulerImpl|"
                         r"TaskResultGetter|AsyncEventQueue|LiveListenerBus)\b")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("no Spark jars found: set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for base, _, files in os.walk(root):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def fingerprint(paths, *extra):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for e in extra:
        h.update(str(e).encode())
    return h.hexdigest()[:16]


def build(root, build_dir, jars):
    """Compile the engine (src/main/scala) and the harness with scalac from
    the Spark distribution; reuse the classes while the sources are unchanged."""
    engine = sources(os.path.join(root, "src", "main", "scala"))
    if not engine:
        die("no engine sources under src/main/scala; run from the root of a checkout")
    harness = sources(os.path.join(HERE, "src"))
    rel = [os.path.relpath(p, root) for p in engine + harness]
    key = fingerprint([os.path.join(root, p) for p in rel], *rel)
    classes = os.path.join(build_dir, f"classes-{key}")
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, key
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scalac = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
              "-nowarn", "-d", tmp]
    for cp, files in ((f"{jars}/*", engine), (f"{jars}/*:{tmp}", harness)):
        r = subprocess.run(scalac + ["-classpath", cp] + files, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode:
            die("compilation failed")
    with open(os.path.join(tmp, ".ok"), "w"):
        pass
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, key


def fixture(build_dir):
    gen = os.path.join(HERE, "py", "gen_data.py")
    data = os.path.join(build_dir, "data-" + fingerprint([gen], SF, ROW_COPIES))
    if not os.path.exists(os.path.join(data, ".ok")):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        r = subprocess.run([sys.executable, gen, tmp, str(SF), str(ROW_COPIES)],
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode:
            die("fixture generation failed")
        with open(os.path.join(tmp, ".ok"), "w"):
            pass
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return data


def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]  # total (guest time is already inside user), steal


def run_jvm(args, classes, jars, data, run_dir, cores, deadline):
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = ["java", *JDK17_OPENS, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{jars}/*:{classes}", "perfbench.PerfBench",
           f"workload={args.workload}", f"seed={args.seed}", f"warm={warm_passes(args)}",
           f"trace={args.trace}", f"data={data}", f"out={run_dir}", f"cores={cores}",
           f"setups={SETUPS}"]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, errors="replace",
                            start_new_session=True)
    sched_errors = [0]

    def pump():
        # The JVM's log goes to our stderr unfiltered; scheduler ERRORs are counted.
        for line in proc.stdout:
            if SCHED_ERROR.search(line):
                sched_errors[0] += 1
            sys.stderr.write(line)
    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("run exceeded its time limit")
    finally:
        # the JVM runs in its own session: stop it on every way out
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reader.join()
    if proc.returncode:
        die(f"benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f), sched_errors[0]


def warm_passes(args):
    cold, warm = PACE[args.workload]
    return max(2, round((args.seconds - cold) / warm))


def quantile(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM and the run directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars()
    classes, commit = build(root, build_dir, jars)
    data = fixture(build_dir)
    # Spark's task threads get half the cores. The JIT compiler threads use
    # more CPU than the tasks here (a warm llm_pipeline pass: tasks about
    # 2 s, JIT 7-13 s, process 13-20 s), and with a core each they no longer
    # queue behind the tasks: same times, about half the spread of local[3]
    # on a 4-core box (see README.md).
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    ticks0, load0 = cpu_ticks(), os.getloadavg()[0]
    try:
        res, sched_errors = run_jvm(args, classes, jars, data, run_dir, cores,
                                    time.time() + RUN_DEADLINE_S)
        failures = checks.check_outputs(res, data, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ticks1 = cpu_ticks()
    env = {"steal_frac": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
           "load1": max(load0, os.getloadavg()[0])}
    failed = res["failed"] + len(failures)
    for o in sorted(res["ops"], key=lambda o: -o["cold_s"]):
        print(f"perfbench: op {o['name']} cold_s={o['cold_s']:.3f} warm_s={o['warm_s']:.3f} "
              f"compile_s={o['compile_s']:.3f}", file=sys.stderr)
    # Per warm pass: the JIT compiler threads' share of the process CPU and
    # the codegen compiles show how far the JVM still is from steady state.
    print(f"perfbench: warm passes wall_s={[round(x, 3) for x in res['warm_s']]} "
          f"cpu_s={[round(x, 2) for x in res['warm_cpu_s']]} jit_s={[round(x, 2) for x in res['warm_jit_s']]} "
          f"codegen_compiles={res['warm_compiles']}", file=sys.stderr)
    for f in res["errors"]:
        print(f"perfbench: FAILED {f['op']}: {f['error']}", file=sys.stderr)
    for f in failures:
        print(f"perfbench: FAILED check {f}", file=sys.stderr)

    out_rows = sum(o["rows"] for o in res["outputs"])
    # Warm figures are means over the warm passes, not medians: the JIT
    # compiler threads finish the cold pass's work during the first warm
    # passes, and which pass their CPU lands on varies from run to run. The
    # sum over all warm passes counts that work once however it falls.
    warm_s = statistics.fmean(res["warm_s"])
    op_ms = res["warm_op_ms"]  # per operation, its mean over the warm passes
    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={nproc} spark_cores={cores} heap={HEAP} jvm={res['jvm']} spark={res['spark']} "
          f"source={commit} sf={SF} warm_passes={len(res['warm_s'])} "
          f"measured_s={res['measured_s']:.1f} ops={len(op_ms)} attempted={res['attempted']} "
          f"failed={failed} failed_frac={failed / res['attempted']:.4f} "
          f"scheduler_errors={sched_errors} steal_frac={env['steal_frac']:.4f} load1={env['load1']:.2f} "
          f"wall_s={time.time() - started:.1f}")
    if args.trace == 0:
        metrics = {
            "setup_s": (statistics.median(res["setup_s"]), "s"),
            "cold_s": (res["cold_s"], "s"),
            "warm_s": (warm_s, "s"),
            "op_p50_ms": (statistics.median(op_ms), "ms"),
            "op_p90_ms": (quantile(op_ms, 90), "ms"),
            "cpu_s": (statistics.fmean(res["warm_cpu_s"]), "s"),
            "rows_per_s": ((out_rows + statistics.median(res["warm_stream_rows"])) / warm_s,
                           "rows/s"),
            "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        }
    else:
        metrics = layers.per_layer(res, env, sched_errors, out_rows)
        trace = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace), exist_ok=True)
        with open(trace, "w") as f:
            json.dump({"columns": ["id", "parent", "name", "start_ms", "end_ms"],
                       "spans": res["spans"], "metrics": metrics}, f)
        print(f"perfbench: spans written to {trace}")
    print(json.dumps({
        "correct": failed == 0, "attempted": res["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
