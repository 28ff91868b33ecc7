#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]
    python3 perfbench/run.py --selftest

Run it from the repository root. The first call builds the engine and the
harness from source (perfbench/build.sbt, offline sbt); later calls reuse
the build while no source file changes. Every call gets its own warehouse,
Spark local dirs and temp root under perfbench/out/, removed at the end.

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones in
BENCHMARK.json; with --trace 1 the per-layer ones, and the span trace is
kept in perfbench/out/ for perfbench/summarize.py. Any failed or wrong op
makes the exit code 1.
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
OUT = os.path.join(HERE, "out")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
WORKLOADS = ["hiveql_scripts", "warehouse_queries", "cow_dml", "dedup_increments"]
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "op_p90_ms": "ms",
         "cpu_ms_per_op": "ms", "heap_peak_mb": "MB", "heap_live_mb": "MB",
         "write_p50_ms": "ms", "write_p90_ms": "ms", "read_p50_ms": "ms",
         "write_amp": "ratio", "space_amp": "ratio", "docs_per_s": "1/s",
         "error_rate": "ratio", "edit_recall": "ratio"}
# generated inputs per workload: (scale factor, tables)
INPUTS = {"warehouse_queries": (0.1, ["region", "nation", "customer", "orders", "lineitem"]),
          "cow_dml": (0.1, ["orders", "lineitem"]),
          "dedup_increments": (0.02, ["documents"])}
JAVA_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_root():
    """The engine resolves some resources by cwd-relative paths (the golden
    corpus, the UDF jars), so everything runs from the repository root."""
    need = ["build.sbt", "src/main/scala/graft/Engine.scala", "src/test/resources/golden"]
    missing = [p for p in need if not os.path.exists(p)]
    if missing or os.path.realpath(HERE) != os.path.realpath("perfbench"):
        die("run from the repository root (missing: %s)" % ", ".join(missing or ["perfbench/"]))
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found in {SPARK_JARS} (set SPARK_JARS_DIR)")


def source_stamp():
    h = hashlib.sha256()
    roots = ["src/main", os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isfile(BUILD_STAMP) and open(BUILD_STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine + harness (sbt compile)", file=sys.stderr)
    r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"], cwd=HERE,
                  env=env, timeout=840, capture=True)
    if r is None or r[0] != 0:
        tail = (r[1] if r else "timed out")[-3000:]
        die("build failed:\n" + tail)
    with open(BUILD_STAMP, "w") as f:
        f.write(stamp)


def run_group(cmd, cwd=None, env=None, timeout=None, capture=False):
    """Runs cmd in its own process group and always reaps the whole group.
    Returns (code, output) or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=subprocess.STDOUT if capture else sys.stderr,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def java_cmd(run_dir, main, args, heap="3g"):
    cp = CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={run_dir}/local"] + opens + ["-cp", cp, main] + args)


def oracle_check(run_dir):
    """DuckDB oracle for warehouse_queries: {query: failure message}."""
    import duckdb
    import oracle
    res = os.path.join(run_dir, "results")
    if not os.path.isdir(res):
        return {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    data = os.path.join(run_dir, "data")
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data}/{t}')")
    bad = {}
    for f in sorted(os.listdir(res)):
        if not f.endswith(".sql"):
            continue
        name = f[:-4]
        ok, why = oracle.run(con, open(os.path.join(res, f)).read(), os.path.join(res, name))
        if not ok:
            bad[name] = why
    return bad


def run_workload(workload, seed, seconds, trace):
    os.makedirs(OUT, exist_ok=True)
    run_dir = os.path.join(OUT, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "data"):
        os.makedirs(os.path.join(run_dir, d))
    input_s = 0.0
    if workload in INPUTS:
        import datagen
        t0 = time.monotonic()
        sf, names = INPUTS[workload]
        datagen.write(os.path.join(run_dir, "data"), seed, sf, set(names))
        input_s = time.monotonic() - t0
    result_file = os.path.join(OUT, f"last_{workload}_trace{trace}.json")
    trace_file = os.path.join(OUT, f"trace_{workload}.jsonl")
    if os.path.exists(result_file):
        os.remove(result_file)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               TMPDIR=os.path.join(run_dir, "tmp"))
    env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--run-dir", run_dir, "--out", result_file,
                "--trace-file", trace_file]
        r = run_group(java_cmd(run_dir, "perfbench.Main", args), env=env,
                      timeout=JAVA_TIMEOUT_S)
        if r is None or r[0] != 0 or not os.path.isfile(result_file):
            die(f"{workload}: harness failed (exit {r[0] if r else 'timeout'})")
        with open(result_file) as f:
            res = json.load(f)
        if workload == "warehouse_queries":
            bad = oracle_check(run_dir)
            for name, why in bad.items():
                n = res["label_counts"].get(name, 0)
                res["failed"] += n
                res["failures"].append(f"{name}: oracle mismatch: {why}")
            res["annotations"]["oracle_checked"] = len(res["label_counts"])
        res["annotations"]["error_rate"] = res["failed"] / max(1, res["attempted"])
        res["annotations"]["input_s"] = input_s
        with open(result_file, "w") as f:
            json.dump(res, f)
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(res, trace):
    w = res["workload"]
    print(f"== {w} (seed {res['seed']}, trace {trace}): {res['attempted']} ops, "
          f"{res['failed']} failed, by kind {res['ops']}")
    for k, v in sorted(res["end_to_end"].items()) + sorted(res["extras"].items()):
        print(f"  {k:24s} {v:14.4f} {UNITS.get(k, '')}")
    a = res["annotations"]
    print("  host: steal %.2f s, cpu %.2f s, load1 %.2f, nproc %d, setup reps %s" % (
        a["steal_s"], a["cpu_s"], a["load1"], a["nproc"],
        ", ".join("%.2f" % x for x in a["setup_reps_s"])))
    for f in res["failures"][:10]:
        print(f"  FAILED {f}")


def metrics_line(res, trace):
    m = res["per_layer"] if trace else res["end_to_end"]
    spec = json.load(open("BENCHMARK.json")) if os.path.isfile("BENCHMARK.json") else None
    if spec:
        units = {x["name"]: x["unit"] for x in spec["per_layer" if trace else "end_to_end"]}
        m = {k: m[k] for k in units}
    else:
        units = {k: UNITS.get(k, "count") for k in m}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()}}


def selftest():
    sys.path.insert(0, HERE)
    import oracle
    oracle.selftest()
    os.makedirs(OUT, exist_ok=True)
    run_dir = os.path.join(OUT, f"selftest-{os.getpid()}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        r = run_group(java_cmd(run_dir, "perfbench.SelfTest", ["--run-dir", run_dir], heap="2g"),
                      env=env, timeout=JAVA_TIMEOUT_S)
        if r is None or r[0] != 0:
            die("Scala self-test failed")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench selftest: ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--selftest", action="store_true", help="check that every check catches a wrong answer")
    a = ap.parse_args()
    check_root()
    sys.path.insert(0, HERE)
    build()
    if a.selftest:
        return selftest()
    if a.all:
        bad = 0
        for w in WORKLOADS:
            res = run_workload(w, a.seed, a.seconds, a.trace)
            report(res, a.trace)
            bad += res["failed"]
        sys.exit(1 if bad else 0)
    if not a.workload:
        die("--workload, --all or --selftest is required")
    res = run_workload(a.workload, a.seed, a.seconds, a.trace)
    report(res, a.trace)
    print(json.dumps(metrics_line(res, a.trace)))
    sys.stdout.flush()
    sys.exit(1 if res["failed"] else 0)


if __name__ == "__main__":
    main()
