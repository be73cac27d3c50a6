#!/usr/bin/env python3
"""Warehouse-chain and query-mix benchmark of the graft Spark engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_daily|query_mix \
      --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (perfbench/build.py)
and, once per build, a class-data-sharing archive per workload; then
generates the workload's inputs from the seed (perfbench/gen.py), runs
one JVM at local[<cores>] that drives the workload as a closed loop of
one client for S seconds (perfbench/scala), checks every output, and
prints one JSON line last on stdout:

  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and writes the span file, the per-layer self-time table and the tracing
overhead under .bench_build/trace/<workload>-seed<N>/. A human-readable
report goes to stderr. Exits 1 when a correctness gate fails, 2 when the
program cannot be built or run.
"""
import argparse
import ctypes
import fcntl
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Input sizes per workload (see perfbench/DESIGN.md for why). query_mix
# reads a copy of the repository's seed-42 sf0.01 test tables, the same
# for every seed.
SIZES = {
    "etl_daily": {"years": 3, "deltas": 60, "months": 12},
    "query_mix": {"tables": os.path.join(HERE, "data", "sf0.01")},
}
# Fewest timed operations in a run, however short --seconds is.
MIN_OPS = {"etl_daily": 4, "query_mix": 3}
# Inputs of the training run that writes a workload's class archive: the
# smallest that still load every class a measured run loads.
TRAIN_SIZES = {"etl_daily": {"years": 1, "deltas": 3}}

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "call_p50_s": "s",
             "write_amp": "ratio", "peak_rss_mb": "MB"}

# The warehouse's own names for the end-to-end figures, shown in the report.
ALIASES = {
    "etl_daily": {"op_p50_s": "load_p50_s"},
    "query_mix": {"op_p50_s": "mix_s", "call_p50_s": "query_p50_s"},
}

ETL_SPANS = ["sources.scan", "stg.normalize", "stg.upsert", "stg.audit",
             "ods.dims", "ods.fact", "mart.extract"]
MODULES = ["Relational", "TextOps", "VectorOps", "EventOps", "StatsOps",
           "CustomOps", "EventStream", "Scale"]


def layer_units():
    """Every per-layer metric with its unit, in report order."""
    u = {f"{s}_s": "s" for s in ETL_SPANS}
    u["backfill.chain_s"] = "s"
    u.update({f"backfill.{s}_s": "s" for s in ETL_SPANS})
    u.update({f"{m}.s": "s" for m in MODULES})
    for layer in ["sources", "stg", "ods", "mart"] + MODULES:
        u[f"{layer}.idle_s"] = "s"
        u[f"{layer}.tasks"] = "count"
    u.update({
        "sources.rows_read": "rows", "sources.bytes_written": "bytes",
        "stg.rows_rewritten": "rows", "stg.useful_ratio": "ratio",
        "stg.bytes_written": "bytes", "ods.bytes_written": "bytes",
        "ods.fact_rows": "rows", "ods.fact_busy_ratio": "ratio",
        "mart.bytes_written": "bytes",
        "Staged.builds": "count", "Staged.bytes": "bytes",
        "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
        "spark.busy_ratio": "ratio", "spark.idle_s": "s",
        "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.gc_ms": "ms", "spark.peak_exec_mb": "MB", "spark.block_hw_mb": "MB",
        "trace.traced_op_s": "s", "trace.untraced_op_s": "s",
        "trace.overhead_s": "s", "trace.glue_s": "s", "trace.layer_self_s": "s"})
    return u


LAYER_UNITS = layer_units()

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def generate(workload, seed, data, sizes):
    """The workload's inputs, made from the seed alone; returns the
    directory the JVM reads them from and their manifest."""
    if workload == "query_mix":
        import pyarrow.parquet as pq
        d = sizes["tables"]
        tables = {os.path.basename(p)[:-len(".parquet")]:
                  {"rows": pq.read_metadata(p).num_rows, "bytes": os.path.getsize(p)}
                  for p in sorted(glob.glob(os.path.join(d, "*.parquet")))}
        return d, {"tables_dir": os.path.relpath(d, build.ROOT), "tables": tables}
    return data, gen.warehouse(seed, sizes["years"], sizes["deltas"], sizes["months"], data)


def archive_path(jar, workload):
    return f"{jar[:-len('.jar')]}-{workload}.jsa"


def make_archives(jar, cores):
    """Once per build, before any measured run: a class-data-sharing
    archive per workload, written at exit by an unmeasured training run
    of that workload on small inputs, so that every measured run maps
    the same archive instead of loading and verifying those classes."""
    with open(os.path.join(build.OUT, "archive.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for workload in sorted(SIZES):
            path = archive_path(jar, workload)
            if os.path.exists(path):
                continue
            run = os.path.join(build.OUT, "runs", f"train-{workload}-{os.getpid()}")
            shutil.rmtree(run, ignore_errors=True)
            try:
                sizes = dict(SIZES[workload], **TRAIN_SIZES.get(workload, {}))
                data, _ = generate(workload, 0, os.path.join(run, "data"), sizes)
                _, log, err = run_jvm(jar, workload, seed=0, seconds=0, min_ops=1, trace=0,
                                      run=run, data=data, cores=cores,
                                      deadline=time.time() + 300,
                                      archive=[f"-XX:ArchiveClassesAtExit={path}.tmp"])
                if err or not os.path.exists(f"{path}.tmp"):
                    keep = os.path.join(build.OUT, "logs", f"train-{workload}.log")
                    os.makedirs(os.path.dirname(keep), exist_ok=True)
                    shutil.copyfile(log, keep)
                    fail(f"the training run of {workload} failed ({err}); log in {keep}")
                os.replace(f"{path}.tmp", path)
            finally:
                shutil.rmtree(run, ignore_errors=True)


def die_with_parent():
    """In the child: ask the kernel to kill it if this script dies."""
    PR_SET_PDEATHSIG = 1
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def run_jvm(jar, workload, seed, seconds, min_ops, trace, run, data, cores, deadline,
            archive):
    out = os.path.join(run, "result.json")
    env = dict(os.environ)
    env.update(SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"),
               SPARK_GRAFT_CKPT_BASE=os.path.join(run, "ckpt"))
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([jar] + build.spark_classpath())
    cmd = (["java"] + JDK17_OPENS + archive + [
        "-Xmx2g", "-Xmn256m", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--min-ops", str(min_ops), "--trace", str(trace),
        "--data", data, "--run", run, "--cores", str(cores), "--out", out])
    log = os.path.join(run, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                               timeout=max(10.0, deadline - time.time()),
                               preexec_fn=die_with_parent)
        except subprocess.TimeoutExpired:
            return None, log, "timed out"
    if r.returncode != 0 or not os.path.exists(out):
        return None, log, f"exit code {r.returncode}"
    with open(out) as f:
        return json.load(f), log, None


def report(workload, metrics, res, trace_dir):
    """Human-readable figures on stderr, under their aliases too."""
    names = ALIASES.get(workload, {})
    for k, v in metrics.items():
        alias = f" ({names[k]})" if k in names else ""
        print(f"[perfbench] {workload} {k}{alias} = {v['value']:.6g} {v['unit']}",
              file=sys.stderr)
    for c in res["checks"]:
        print(f"[perfbench] check {c['name']}: {'ok' if c['ok'] else 'FAILED'} "
              f"({c['detail']})", file=sys.stderr)
    print(f"[perfbench] error_rate = {res['failed']}/{res['attempted']}", file=sys.stderr)
    for i, o in enumerate(res["ops"]):
        print(f"[perfbench] op {i}: {o['wall_s']:.3f} s{' (traced)' if o['traced'] else ''}",
              file=sys.stderr)
    if trace_dir:
        print(f"[perfbench] spans, self times and overhead in {trace_dir}", file=sys.stderr)
        with open(os.path.join(trace_dir, "self_times.tsv")) as f:
            sys.stderr.write(f.read())


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    try:
        jar = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    cores = len(os.sched_getaffinity(0))
    make_archives(jar, cores)
    started = time.time()
    deadline = started + 170.0
    run = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    try:
        data, manifest = generate(args.workload, args.seed, os.path.join(run, "data"),
                                  SIZES[args.workload])
        t_gen = time.time()
        res, log, err = run_jvm(jar, args.workload, args.seed, args.seconds,
                                MIN_OPS[args.workload], args.trace, run, data, cores,
                                deadline, [f"-XX:SharedArchiveFile={archive_path(jar, args.workload)}"])
        t_jvm = time.time()
        if err:
            keep = os.path.join(build.OUT, "logs", f"{args.workload}-seed{args.seed}.log")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(log, keep)
            fail(f"the benchmark JVM failed ({err}); log in {keep}")
        checks = res["checks"]
        if args.workload == "query_mix":
            for name, why in oracle.check(data, os.path.join(run, "verify")):
                checks.append({"name": f"oracle_{name}", "ok": why is None,
                               "detail": why or "matches DuckDB"})
        print(f"[perfbench] phases: generate {t_gen - started:.1f} s, JVM {t_jvm - t_gen:.1f} s, "
              f"checks {time.time() - t_jvm:.1f} s", file=sys.stderr)
        attempted = res["ops_attempted"] + len(checks)
        failed = res["ops_failed"] + sum(not c["ok"] for c in checks)
        res.update(checks=checks, attempted=attempted, failed=failed)
        trace_dir = None
        if args.trace:
            trace_dir = os.path.join(build.OUT, "trace", f"{args.workload}-seed{args.seed}")
            shutil.rmtree(trace_dir, ignore_errors=True)
            shutil.copytree(os.path.join(run, "trace"), trace_dir)
            with open(os.path.join(trace_dir, "overhead.json"), "w") as f:
                json.dump({k: res["layer"][k] for k in res["layer"] if k.startswith("trace.")},
                          f, indent=1)
            with open(os.path.join(trace_dir, "inputs.json"), "w") as f:
                json.dump(manifest, f, indent=1)
            values = res["layer"]
            units = LAYER_UNITS
        else:
            values = dict(res["e2e"], setup_s=res["loop_start_ms"] / 1000.0 - started,
                          peak_rss_mb=res["peak_rss_mb"])
            units = E2E_UNITS
        missing = sorted(set(units) - set(values))
        if missing:
            fail(f"the JVM did not report {missing}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        report(args.workload, metrics, res, trace_dir)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
