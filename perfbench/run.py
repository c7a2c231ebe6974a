#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Steps:
  1. build the engine and the harness from source with sbt (skipped when
     the sources hash to the last build's stamp), into .bench_build/;
  2. generate the workload's inputs (gen.py) into
     .bench_build/data/<workload>/;
  3. run the JVM harness (src/main/scala/graft/perfbench/Harness.scala):
     set-up, two untimed warm passes (the first writes every job's
     output), then timed passes for S seconds;
  4. check every warm-pass output against DuckDB running the job's
     SparkEntry.oracleSql (oracle.py);
  5. print the metrics as the last stdout line:
     {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
     with the end-to-end metrics for --trace 0 and the per-layer ones
     for --trace 1 (names and units in BENCHMARK.json).
Exits 1 when a job throws or mismatches its oracle, 2 on bad arguments.
Workload definitions (jobs, sizes, reasons) are in workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

HEAP = "3g"
JVM_TIMEOUT_S = 150
# Spark task slots. On 4 cores the jobs ran as fast with two slots as
# with four (the inputs are small and per-query overhead dominates), and
# the cores left over run the JVM's compiler, GC, listener-bus and
# stream threads instead of taking them from running tasks.
TASK_SLOTS = 2


def load_metrics():
    """(end-to-end, per-layer) {name: unit} tables from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]}
                 for k in ("end_to_end", "per_layer"))


END_TO_END, PER_LAYER = load_metrics()

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


# ---- build ----------------------------------------------------------------

def source_stamp():
    """sha256 over every file the build reads, so an edit rebuilds."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled engine + harness, building if stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit(f"perfbench: no engine sources under {ROOT}")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines()
             if "scala-2.13" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---- inputs ---------------------------------------------------------------

def generate(spec, seed, data_dir):
    """Writes the inputs once; returns (seconds, fingerprint). Per-seed
    determinism is selftest.py's GeneratorTest."""
    shutil.rmtree(data_dir, ignore_errors=True)
    t0 = time.perf_counter()
    fingerprint = gen.write(gen.build(seed, spec["sizes"]), data_dir)
    return time.perf_counter() - t0, fingerprint


# ---- harness --------------------------------------------------------------

def run_harness(classpath, workload, jobs, data_dir, out_dir, seconds,
                trace):
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (work, tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # C1 only: with C2, compiler threads kept about two of four cores
    # busy through the whole run (user CPU 4m21s vs 2m09s over the same
    # eight passes) and every timed pass ran faster than the one before,
    # so pass times measured how far the JIT had got. No code cache
    # flushing: the sweeper flushed compiled code about 40 s into every
    # run, and the pass that recompiled it ran 25-40% slower. Without
    # flushing the code cache only grows (C1 keeps compiling through
    # every pass), and C1-only's 48 MB default filled after about ten
    # passes of `trading`, which then stops the compiler; 512 MB is
    # reserved, committed as it fills. GC threads capped at the task
    # slot count (see TASK_SLOTS).
    cmd += [f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            "-XX:-UseCodeCacheFlushing", "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=100",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", classpath, "graft.perfbench.Harness",
            "--workload", workload, "--data", data_dir, "--out", out_dir,
            "--jobs", ",".join(jobs), "--seconds", str(seconds),
            "--trace", str(trace)]
    cores = min(TASK_SLOTS, len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    launch_ms = int(time.time() * 1000)
    cmd += ["--launch-ms", str(launch_ms)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: harness timed out")
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


# ---- metrics --------------------------------------------------------------

def job_medians(passes):
    """{job: median latency (construct + execute) over the passes}."""
    per_job = {}
    for p in passes:
        for job, t in p["jobs"].items():
            per_job.setdefault(job, []).append(sum(t))
    return {job: statistics.median(v) for job, v in per_job.items()}


def tail(passes):
    """(label, value) of the job-latency tail: the highest percentile of
    the pooled samples that leaves ten samples beyond it, once that is
    at least p90; with fewer than 100 samples (a run here times five
    jobs a few times, where that percentile would mix the jobs) it is
    the slowest job's median latency."""
    xs = sorted(sum(t) for p in passes for t in p["jobs"].values())
    n = len(xs)
    if n >= 100:
        return f"p{100.0 * (n - 10) / n:.1f} of {n} samples", xs[n - 11]
    return (f"slowest job's median ({n} samples)",
            max(job_medians(passes).values()))


def end_to_end(res, gen_s):
    passes = res["passes"]
    label, tail_v = tail(passes)
    log(f"job_s_tail is the {label}, {len(passes)} passes")
    return {
        "setup_s": gen_s + res["setup"]["first_call_s"],
        # a typical pass: each job at its median, so a burst of host
        # noise that slows one job in one pass is left out
        "pass_s": sum(job_medians(passes).values()),
        "job_s_tail": tail_v,
        "live_heap_mb": res["live_heap_mb"],
    }


def pass_clocks(out_dir):
    """Per pass, from trace.json: (wall seconds of the pass span,
    construct self seconds, execute self seconds). The pass span also
    covers the harness's between-job housekeeping, so it is a clock
    independent of the construct/execute/Spark-job spans inside it."""
    with open(os.path.join(out_dir, "trace.json")) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}
    per_pass = {s["id"]: [(s["end_us"] - s["start_us"]) / 1e6, 0.0, 0.0]
                for s in spans if s["kind"] == "pass"}
    for s in spans:
        if s["kind"] in ("construct", "execute"):
            pass_id = by_id[s["parent"]]["parent"]
            per_pass[pass_id][1 + (s["kind"] == "execute")] += \
                s["self_us"] / 1e6
    return [per_pass[k] for k in sorted(per_pass)]


def per_layer(res, gen_s, check_s, out_dir):
    """Per-layer metrics, each the median over the traced passes. Only
    the stream.* counters may be absent from a pass (they read 0 without
    a drain); any other absent one means a listener did not fire, and
    the run fails rather than report a silent 0."""
    passes = res["passes"]
    rows = []
    for p, (wall, c_self, e_self) in zip(passes, pass_clocks(out_dir)):
        m = {k: 0.0 for k in PER_LAYER if k.startswith("stream.")}
        m.update(p["layers"])
        m["construct.self_s"] = c_self
        m["execute.self_s"] = e_self
        m["exec.slot_idle_frac"] = (
            1 - m["exec.task_busy_s"] / (m["exec_s"] * res["cores"]))
        m["trace.accounted_frac"] = (c_self + e_self + m["exec_s"]) / wall
        rows.append(m)
    s = res["setup"]
    out = {"setup.gen_s": gen_s, "setup.session_s": s["session_s"],
           "setup.warm_s": s["warm_s"], "setup.fixture_s": s["fixture_s"],
           "setup.check_s": check_s}
    out["trace.pass_s"] = sum(job_medians(passes).values())
    out["job_s_p50"] = statistics.median(
        sum(t) for p in passes for t in p["jobs"].values())
    out["host.cal_s"] = min(v for v in res["host"].values() if v is not None)
    missing = sorted(k for k in PER_LAYER if k not in out
                     and any(k not in r for r in rows))
    if missing:
        raise ValueError(f"traced run did not record {', '.join(missing)}")
    out.update({k: statistics.median(r[k] for r in rows)
                for k in PER_LAYER if k not in out})
    return out


def result_line(correct, attempted, failed, values, units):
    """The contract's last stdout line: every metric of `units`, once."""
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units}})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    workloads = load_workloads()
    if a.workload not in workloads:
        ap.error(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    spec = workloads[a.workload]

    classpath = build()
    jobs = spec["jobs"]
    data_dir = os.path.join(BUILD, "data", a.workload)
    gen_s, fingerprint = generate(spec, a.seed, data_dir)

    out_dir = os.path.join(BUILD, "out", a.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    res = run_harness(classpath, a.workload, jobs, data_dir, out_dir,
                      a.seconds, a.trace)

    t0 = time.perf_counter()
    verdict = oracle.check(data_dir, fingerprint,
                           os.path.join(out_dir, "warm"), res["oracle_sql"],
                           jobs, os.path.join(BUILD, "duckdb_tmp"))
    check_s = time.perf_counter() - t0
    for job, msg in res["warm_failures"].items():
        verdict[job] = f"threw: {msg}"
    bad = {j: m for j, m in verdict.items() if m}
    for job, msg in sorted(bad.items()):
        log(f"FAIL {job}: {msg}")
    for key, msg in sorted(res["failures"].items()):
        log(f"FAIL {key} (timed): {msg}")
    failed = len(bad) + len(res["failures"])
    attempted = len(jobs) + res["attempted"]

    if a.trace:
        values = per_layer(res, gen_s, check_s, out_dir)
        units = PER_LAYER
    else:
        values = end_to_end(res, gen_s)
        units = END_TO_END
    shutil.rmtree(os.path.join(out_dir, "warm"), ignore_errors=True)
    print(result_line(failed == 0, attempted, failed, values, units),
          flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
