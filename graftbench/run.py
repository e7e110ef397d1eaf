#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 graftbench/run.py --workload etl_full --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under .bench_build/;
later runs of the same sources reuse it. Inputs are generated from the
seed (gen.py) and cached per (workload, seed, gen.py). Each run gets a private
scratch root for Spark local dirs, outputs and index stores, removed at
exit. The last line of stdout is the result JSON; per-op records and
provenance go to .bench_build/results/.
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

import checks
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170
XMX = "3g"
# Per workload: the fewest timed ops of a run (see README.md).
MIN_OPS = {"etl_full": 1, "search": 5}

END_TO_END = {"setup_s": "s", "op_s": "s", "cpu_s": "s", "heap_mb": "MB"}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.checkpoint_jobs": "count", "spark.build_s": "s", "spark.exec_s": "s",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.codegen_compiles": "count",
    "spark.codegen_s": "s", "jvm.jit_s": "s", "jvm.nontask_cpu_s": "s",
    "spark.unattributed_job_s": "s",
    "bughistory.reconstruct_s": "s", "bughistory.nest_s": "s",
    "comments.stream_s": "s", "screening.deletes_s": "s", "etl.b5_s": "s",
    "sources.bulk_mb": "MB", "etl.lines": "count",
    "curation.x1_s": "s", "dedup.job_s": "s", "curation.job_s": "s",
    "etl.run_s": "s", "bughistory.delta_reconstruct_s": "s",
    "sources.write_s": "s", "etl.touched": "count", "etl.versions": "count",
    "similarity.ensure_s": "s", "similarity.walk_s": "s",
    "similarity.store_mb": "MB", "similarity.job_s": "s",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compiles engine + harness once per source hash; returns the classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{src_hash}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log = os.path.join(BUILD, "build.log")
    out_file = os.path.join(BUILD, "build.out")
    with open(log, "w") as err, open(out_file, "w") as out:
        status = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/compile",
                            "export bench/Runtime/fullClasspath"],
                           time.monotonic() + 850, cwd=BENCH, stdout=out, stderr=err)
    with open(out_file) as f:
        stdout = f.read()
    lines = [l for l in stdout.splitlines() if l.strip()]
    if status or not lines or "graftbench" not in lines[-1]:
        fail(f"build failed ({status or 'no classpath'}), see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def inputs(workload, seed):
    """Generated inputs for (workload, seed): made once per version of
    gen.py, then reused."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def steal_seconds():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def calibrate():
    """A fixed single-thread loop: box speed at the time of the run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, workload, inp, run, seconds, trace, slots, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-cp", cp, "graftbench.Bench", "--workload", workload, "--inputs", inp,
        "--run", run, "--seconds", str(seconds),
        "--min-ops", str(MIN_OPS[workload]), "--trace", str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(slots))
    env.pop("GRAFT_STORE_ROOT", None)
    with open(os.path.join(run, "jvm.log"), "w") as log:
        return run_group(cmd, deadline, cwd=run, env=env, stdout=log, stderr=log)


def run_group(cmd, deadline, **kw):
    """Runs cmd in its own process group until it exits or the deadline
    passes; the whole group is killed on timeout or on a signal to this
    process. Returns None on success, else what went wrong."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def stop(signum, frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timed out"
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return None if code == 0 else f"exit code {code}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MIN_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {BENCH}")
    os.makedirs(BUILD, exist_ok=True)
    src = source_hash()
    cp = build(src)
    # the build may take long; the run's own deadline starts after it
    start = time.monotonic()
    inp = inputs(a.workload, a.seed)
    slots = max(1, len(os.sched_getaffinity(0)) // 2)
    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    try:
        prov = {"nproc": os.cpu_count(), "task_slots": slots, "xmx": XMX,
                "commit": commit(), "sources": src, "calibration_s": calibrate()}
        steal0 = steal_seconds()
        t_jvm = time.monotonic()
        err = run_jvm(cp, a.workload, inp, run, a.seconds, a.trace, slots,
                      start + DEADLINE_S)
        prov["steal_s"] = steal_seconds() - steal0
        prov["jvm_s"] = time.monotonic() - t_jvm
        if err:
            with open(os.path.join(run, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail(f"{a.workload} run failed ({err}):\n{tail}")
        with open(os.path.join(run, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(run, "ops.jsonl")) as f:
            ops = [json.loads(l) for l in f if l.strip()]
        t_check = time.monotonic()
        problems = checks.check(a.workload, inp, run, ops)
        prov["check_s"] = time.monotonic() - t_check
        names = PER_LAYER if a.trace else END_TO_END
        # a layer the workload never calls reads 0; op_s and cpu_s are
        # absent (null) only when no op completed, and then the checks fail
        got = result["metrics"]
        metrics = {k: {"value": float(got[k]) if k in got else None if k in END_TO_END
                       else 0.0, "unit": u} for k, u in names.items()}
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        detail = os.path.join(BUILD, "results", "%s-%d-t%d-%d.json" % (
            a.workload, a.seed, a.trace, time.time()))
        with open(detail, "w") as f:
            json.dump({"provenance": prov, "result": result, "ops": ops,
                       "problems": problems}, f, indent=1, default=str)
        for p in problems:
            print(f"graftbench: check failed: {p}", file=sys.stderr)
        print(json.dumps({"correct": not problems, "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
