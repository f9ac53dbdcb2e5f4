#!/usr/bin/env python3
"""The graft benchmark.

    python3 perfbench/run.py --workload {olap_star,ingest_serve}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Builds the program and the harness from source (sbt,
offline; the first run in a checkout compiles), generates the workload's inputs from
the seed, runs one JVM with one client thread on local[nproc], checks the outputs
and prints every metric by name with its unit. The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}
--trace 0 reports the end-to-end metrics; --trace 1 a separate traced run's
per-layer metrics. Every file a run writes lives under .perfbench_runs/ in the
checkout and is deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics as m  # noqa: E402

OLAP_SF = 0.01
INGEST_KEYS = 2000
# A run's work is a function of --seconds alone, never of how fast the program runs,
# so every metric covers the same operations on every commit: every WORK_UNIT_S
# seconds buy one unit of work, OLAP_WARM_PASSES warm passes of olap_star or
# INGEST_BATCHES micro-batches of ingest_serve (an even number: every second batch
# compacts, so each unit holds the same share of compactions).
WORK_UNIT_S = 10
OLAP_WARM_PASSES = 2
INGEST_BATCHES = 2
# set-ups per run (median reported): olap_star's set-up builds a star, ingest_serve's
# only a session, so it affords more repetitions
SETUP_REPS = {"olap_star": 3, "ingest_serve": 9}
JVM_TIMEOUT_S = 160

# The end-to-end metrics every workload reports; README.md says what each means on
# each workload. Times are the JVM's CPU time; the wall-clock figures (WALL_CLOCK) are
# printed beside them and reported per layer by the traced run.
END_TO_END = {
    "setup_s": "s", "cold_cpu_ms": "ms", "warm_cpu_ms": "ms", "throughput_per_cpu_s": "1/s",
    "bytes_stored_per_byte": "B/B",
}
WALL_CLOCK = {"setup_wall_s": "s", "cold_pass_ms": "ms", "warm_pass_ms": "ms",
              "throughput_per_s": "1/s", "timed_ms": "ms"}

PER_LAYER = {
    "session.build_s": "s", "sources.star_build_s": "s",
    "sources.scan_bytes": "B", "sources.scan_rows": "count",
    "sources.upsert_ms": "ms", "sources.append_ms": "ms", "sources.bytes_written": "B",
    "sources.compact_ms": "ms", "sources.compact_bytes_rewritten": "B",
    "sources.table_files": "count", "sources.files_touched_per_read": "count",
    "sources.read_file_yield": "ratio",
    "plans.build_ms": "ms", "plans.optimize_ms": "ms", "plans.physical_ms": "ms",
    "plans.exchanges": "count", "plans.reused_exchanges": "count", "plans.smj": "count",
    "plans.bhj": "count", "plans.scans": "count", "plans.topk_nodes": "count",
    "operators.exec_ms.tpch": "ms", "operators.exec_ms.ssb": "ms",
    "functions.minhash_docs_per_s": "1/s", "functions.topk_ms": "ms",
    "pipeline.clean_ms": "ms", "pipeline.candidate_pairs": "count",
    "pipeline.verified_pairs": "count", "pipeline.pair_yield": "ratio",
    "streaming.admit_ms": "ms", "streaming.admit_ratio": "ratio",
    "streaming.index_rows": "count",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.task_cpu_ms": "ms", "engine.gc_ms": "ms", "engine.shuffle_write_bytes": "B",
    "engine.shuffle_read_bytes": "B", "engine.spill_bytes": "B",
    "engine.failed_tasks": "count", "engine.cpu_util": "ratio", "engine.peak_rss_mb": "MB",
    "engine.jit_ms": "ms",
    "host.calib_before_ms": "ms", "host.calib_after_ms": "ms",
    "host.mem_calib_before_ms": "ms", "host.mem_calib_after_ms": "ms",
}
LAYERS = ["bench", "session", "sources", "plans", "operators", "functions", "pipeline",
          "streaming"]
for _layer in LAYERS:
    PER_LAYER[f"self_ms.{_layer}"] = "ms"
    PER_LAYER[f"calls.{_layer}"] = "count"
for _name, _unit in {**END_TO_END, **WALL_CLOCK}.items():
    PER_LAYER[f"traced.{_name}"] = _unit

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----------------------------------------------------------------------------

def _source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if p.endswith((".scala", ".java", ".sbt", ".properties")) and os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness (sbt, incremental); returns the JVM classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the graft sources (build.sbt, src/main/scala/graft) are not in this checkout")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = _source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeClasspath"], cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if proc.returncode != 0 or not os.path.isfile(cp_file):
        print(proc.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"build: {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file) as g:
        return g.read().strip()


# ---- one run ---------------------------------------------------------------------------

def heap_size():
    """The tier-1 heap formula: half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def work_units(seconds):
    return max(1, int(seconds // WORK_UNIT_S))


def generate(workload, seed, seconds, input_dir):
    if workload == "olap_star":
        gen.tpch(input_dir, seed, OLAP_SF)
    else:
        gen.ingest(input_dir, seed, INGEST_BATCHES * work_units(seconds), n_keys=INGEST_KEYS)


def run_jvm(classpath, args, run_dir):
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"),
               SPARK_LOCAL_HOSTNAME=os.environ.get("SPARK_LOCAL_HOSTNAME", "localhost"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM') or heap_size()}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", classpath, "perfbench.Main", f"cpus={cpus}"]
           + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also when this process is told to stop
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            print(f.read()[-6000:], file=sys.stderr)
        fail(f"benchmark JVM failed ({rc})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=checks.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the JVM is stopped and the run directory deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        input_dir = os.path.join(run_dir, "input")
        work_dir = os.path.join(run_dir, "work")
        for d in (input_dir, work_dir, os.path.join(run_dir, "tmp")):
            os.makedirs(d)
        t0 = time.time()
        generate(a.workload, a.seed, a.seconds, input_dir)
        input_bytes = gen.input_bytes(input_dir)
        t1 = time.time()
        report_path = os.path.join(run_dir, "report.json")
        run_jvm(classpath, {"workload": a.workload, "input": input_dir, "work": work_dir,
                            "trace": a.trace, "seed": a.seed,
                            "setupReps": SETUP_REPS[a.workload],
                            "warmPasses": OLAP_WARM_PASSES * work_units(a.seconds),
                            "keys": INGEST_KEYS, "out": report_path}, run_dir)
        with open(report_path) as f:
            report = json.load(f)
        t2 = time.time()
        wrong, notes = checks.check(a.workload, input_dir, report)
        print(f"perfbench: generate {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, "
              f"check {time.time() - t2:.1f} s", file=sys.stderr)
        e2e, wall_clock = checks.end_to_end(a.workload, input_dir, report)
        result_metrics = e2e if a.trace == 0 else checks.per_layer(
            a.workload, input_dir, report, e2e, wall_clock, PER_LAYER)
        units = END_TO_END if a.trace == 0 else PER_LAYER
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # only when no other run is using it
        except OSError:
            pass

    failed_ops = [o for o in report["ops"] if not o["ok"]]
    for o in failed_ops[:5]:
        notes.append(f"op {o['kind']}/{o['name']} failed: {o['error']}")
    res = m.outcome([o["ok"] for o in report["ops"]], wrong)
    print(f"workload={a.workload} seed={a.seed} input_bytes={input_bytes} "
          f"seconds={a.seconds:g} trace={a.trace} ops={res['attempted']} failed={res['failed']} error_rate={res['error_rate']:.4f} "
          f"host.calib_before_ms={report['calib_before_ms']:.1f} "
          f"host.calib_after_ms={report['calib_after_ms']:.1f} "
          f"host.mem_calib_before_ms={report['mem_calib_before_ms']:.1f} "
          f"host.mem_calib_after_ms={report['mem_calib_after_ms']:.1f}")
    ok_ops = [o for o in report["ops"] if o["ok"]]
    cold_ms = [o["ms"] for o in ok_ops if o["cold"]]
    warm_ms = [o["ms"] for o in ok_ops if not o["cold"]]
    print(f"samples: cold={len(cold_ms)} (median {m.median(cold_ms):.1f} ms) "
          f"warm={len(warm_ms)} (median {m.median(warm_ms):.1f} ms); highest percentile with "
          f"ten warm samples beyond it: {m.supported_percentile(len(warm_ms))}")
    print("wall clock: " + " ".join(f"{k}={v:.6g} {WALL_CLOCK[k]}"
                                    for k, v in wall_clock.items()))
    for n in notes:
        print(f"check: {n}")
    for name, value in result_metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in result_metrics.items()}}))


if __name__ == "__main__":
    main()
