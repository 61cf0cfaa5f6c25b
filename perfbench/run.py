#!/usr/bin/env python3
"""Benchmark of the engine's stream ingest and of its analyst and
warehouse-upkeep queries.

    python3 perfbench/run.py --workload {ingest,queries} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
benchmark's JVM side from source into ``.bench_build/``; later runs reuse
that build while the sources are unchanged. Each run makes its inputs from
the seed, warms up, measures for ``--seconds`` seconds in whole rounds,
checks the outputs against computations made apart from the program, and
prints one JSON object as the last line of standard output.
``--trace 1`` gives the per-layer metrics instead of the end-to-end ones
and writes the run's spans to ``.bench_out/``.
"""
import time

T0 = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest", "queries")
END_TO_END = {"setup_s": "s", "round_work_cpu_s": "s"}
FAMILIES = ("olap", "star", "route", "mv", "snapshots", "ann", "text", "dedup")
PER_LAYER = {
    "calib.cpu_kernel_ms": "ms", "machine.steal_share": "ratio", "jvm.peak_rss_mb": "MB",
    "round_s": "s", "round_cpu_s": "s", "op_ms_p50": "ms", "op_ms_gmean": "ms",
    "jvm.compiler_cpu_s_per_round": "s", "jvm.jit_s_per_round": "s", "jvm.gc_s_per_round": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.wall_per_job_ms": "ms",
    "spark.off_job_ms_per_op": "ms", "spark.executor_run_s_per_round": "s",
    "spark.executor_cpu_s_per_round": "s", "spark.executor_utilisation": "ratio",
    "spark.gc_s_per_round": "s", "spark.shuffle_write_bytes_per_round": "bytes",
    "spark.spill_bytes_per_round": "bytes", "spark.output_bytes_per_round": "bytes",
    "ingest.rows_per_s": "rows/s", "ingest.scan_rows_per_input_row": "ratio",
    "stream.validated.add_batch_ms": "ms", "stream.rejected.add_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.commit_ms": "ms",
    **{f"queries.{f}.wall_s": "s" for f in FAMILIES},
    **{f"queries.{f}.jobs": "count" for f in FAMILIES},
}
# the scale of the queries workload's timed pass, and of its warm pass
QUERIES_SF = 0.004
WARM_SF = 0.0005
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """$SPARK_HOME/jars, else the directory build.sbt takes the Spark jars
    from (its `unmanagedBase`)."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def build(root, jars):
    """Compile the program's sources and the benchmark's JVM side with the
    Scala compiler that ships in the Spark jars; skip when the sources are
    unchanged. Returns (classes dir, seconds spent building)."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    out = os.path.join(root, ".bench_build", "perfbench", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "perfbench", "Main.class")):
        return out, 0.0
    t = time.time()
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)  # older builds
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    log(f"building {len(srcs)} sources")
    try:
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", tmp] + srcs,
                       check=True, stdout=sys.stderr, timeout=800)
        os.replace(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out, time.time() - t


def cpu_ticks():
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(classes, jars, args, run_root, cores):
    heap = "3g" if args.workload == "queries" else "2g"
    # compiler threads that live as long as the JVM: their CPU is taken
    # out of round_work_cpu_s (Main.compilerCpuS)
    cmd = (["java", f"-Xmx{heap}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={run_root}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
              args.workload, str(args.seed), str(args.seconds), str(args.trace),
              run_root, str(cores)])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: JVM run failed (exit {rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars(root)
    classes, build_s = build(root, jars)
    # local[k]: 4 cores, or fewer on a smaller machine; PERFBENCH_CORES=1
    # gives the single-thread baseline
    cores = int(os.environ.get("PERFBENCH_CORES", min(4, len(os.sched_getaffinity(0)))))
    run_root = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    try:
        for d in ("tmp", "local", "in", "out"):
            os.makedirs(os.path.join(run_root, d))
        if args.workload == "queries":
            gen.tables(os.path.join(run_root, "in", "warm"), WARM_SF, args.seed + 1)
            gen.tables(os.path.join(run_root, "in", "sf"), QUERIES_SF, args.seed)
        log(f"inputs made at {time.time() - T0 - build_s:.1f} s")
        ticks0 = cpu_ticks()
        run_jvm(classes, jars, args, run_root, cores)
        steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
        log(f"JVM done at {time.time() - T0 - build_s:.1f} s")
        with open(os.path.join(run_root, "result.json")) as f:
            res = json.load(f)
        setup_s = res["ready_ms"] / 1000.0 - T0 - build_s
        info = res["check"]
        fails = (checks.queries_check(info) if args.workload == "queries"
                 else checks.ingest_check(info))
        log(f"checks done at {time.time() - T0 - build_s:.1f} s")
        for msg in fails[:20]:
            log(f"CHECK FAILED: {msg}")
        if args.trace:
            names, values = PER_LAYER, dict(res["metrics"], **res["layer"])
            values["machine.steal_share"] = steal[0] / max(1, steal[1])
            out = os.path.join(root, ".bench_out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(run_root, "spans.json"),
                        os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
        else:
            names, values = END_TO_END, dict(res["metrics"], setup_s=setup_s)
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in names.items()}
        print(json.dumps({"correct": not fails, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
