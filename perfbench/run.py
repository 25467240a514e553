#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the
benchmark and the library from source with sbt (perfbench/build.sbt);
later runs reuse the build until a source file changes. Each run starts
one fresh local[4] JVM, which sets up the workload from the seed, runs
an untimed warm pass and then whole passes for S seconds from a single
client thread, checking every output. This script then checks the dumped
query results against their DuckDB oracle SQL, measures what the run
left on disk, deletes it, and prints every metric as
`metric <name> <value> <unit>`. The last line is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
A traced run also keeps its spans in .bench_build/traces/.

The exit code is 0 only when the run completed and every check passed.
"""
import argparse
import fcntl
import glob
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
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
sys.path.insert(0, HERE)
import benchstats  # noqa: E402

WORKLOADS = ("catalog", "pairs", "catalog-read", "catalog-monitor")
TIME_LIMIT_S = 170
HEAP = "2g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
QUERIES = ("q199", "q59", "q134")
MB = 1024.0 * 1024.0


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    """Hash of every input of the build: library and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project",
                                                           "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(spark_home):
    """Compile with sbt unless the classes match the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources src/main/scala/graft not found: run from the "
             "root of a source checkout")
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        stamp = source_stamp()
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and \
                open(stamp_file).read() == stamp:
            return
        log = os.path.join(BUILD, "build.log")
        env = dict(os.environ, SPARK_HOME=spark_home)
        with open(log, "w") as out:
            rc = subprocess.call(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env,
                stdin=subprocess.DEVNULL)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (sbt exit {rc}); log in {log}", 1)
        with open(stamp_file, "w") as f:
            f.write(stamp)


def du_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total / MB


def free_mb(path):
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / MB


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (total, steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def run_jvm(args, out, spark_home):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("no java: set JAVA_HOME")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={out}/tmp", "-Dspark.ui.enabled=false"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home}/jars/*", "graft.bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out]
    # library tuning knobs would make runs depend on the caller's shell
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    env["MALLOC_ARENA_MAX"] = "2"
    launched = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log,
                                stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    return rc, launched


def oracle_failures(result):
    """Names whose dumped result differs from its DuckDB oracle SQL."""
    queries = result["oracle"]["queries"]
    if not queries:
        return {}
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    data = result["oracle"]["data"]
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{p}/*.parquet')")
    bad = {}
    for name, q in queries.items():
        got = pq.read_table(glob.glob(os.path.join(q["dump"], "*.parquet")))
        try:
            want = con.execute(q["sql"]).arrow()
        except Exception as e:  # the oracle itself failing is a failure
            bad[name] = f"oracle SQL failed: {e}"
            continue
        g = benchstats.table_key(got.column_names, got.to_pylist())
        w = benchstats.table_key(want.column_names, want.to_pylist())
        if g != w:
            bad[name] = (f"differs from DuckDB oracle: {len(g[1])} rows vs "
                         f"{len(w[1])}, columns {g[0]} vs {w[0]}")
    return bad


def layer_self_ms(trace_path, passes):
    """Self time per layer in the timed phase, per pass, from the spans."""
    per = {}
    with open(trace_path) as f:
        for line in f:
            s = json.loads(line)
            if s["phase"] == "timed":
                per[s["layer"]] = per.get(s["layer"], 0.0) + s["self_ms"]
    return {k: v / max(passes, 1) for k, v in sorted(per.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-only", action="store_true",
                    help="build if the sources changed, then exit")
    args = ap.parse_args()
    if not args.build_only and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    spark_home = spark_jars()
    build(spark_home)
    if args.build_only:
        return

    host = {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0],
            "checkout_free_mb": free_mb(ROOT)}
    if os.path.isdir("/dev/shm"):
        host["shm_free_mb"] = free_mb("/dev/shm")
    out = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-"
                       f"{args.trace}-{os.getpid()}-{int(time.time())}")
    os.makedirs(out)
    cpu0 = cpu_times()
    rc, launched = run_jvm(args, out, spark_home)
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to others while this run waited
    host["steal_share"] = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        logs = os.path.join(BUILD, "logs")
        os.makedirs(logs, exist_ok=True)
        kept = os.path.join(logs, os.path.basename(out) + ".log")
        shutil.copy(os.path.join(out, "jvm.log"), kept)
        shutil.rmtree(out, ignore_errors=True)
        why = "timed out" if rc is None else f"exited {rc}"
        fail(f"benchmark JVM {why} without a result; log in {kept}", 1)
    with open(res_path) as f:
        result = json.load(f)

    failures = list(result["failures"])
    bad = oracle_failures(result)
    failures += [f"{n}: {m}" for n, m in bad.items()]
    ops = result["ops"]
    timed = [o for o in ops if o["pass"] > 0]
    if not timed:
        fail("the timed phase completed no pass", 1)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    if result["failures"] and failed == 0:
        failed = attempted  # a whole-run check failed: no op can be trusted

    trace_path = os.path.join(out, "trace.jsonl")
    kept_trace = None
    if args.trace and os.path.exists(trace_path):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        kept_trace = os.path.join(BUILD, "traces", f"{args.workload}-"
                                  f"{args.seed}-{int(time.time())}.jsonl")
        shutil.move(trace_path, kept_trace)
    for f in ("result.json", "jvm.log"):
        os.remove(os.path.join(out, f))
    leftover = du_mb(out)
    shutil.rmtree(out)

    ms = [o["ms"] for o in timed]
    passes = result["passes_s"]
    run_s = statistics.median(passes)
    m = {
        "setup_s": (result["ready_epoch_ms"] / 1000.0 - launched)
        + statistics.median(result["setup_reps_s"]) + result["warm_s"],
        "run_s": run_s,
        "cpu_s": statistics.median(result["passes_cpu_s"]),
        "op_p50_ms": statistics.median(ms),
        "peak_rss_mb": result["peak_rss_mb"],
        "failed_ratio": failed / attempted,
    }
    m.update(result["extras"])
    t = benchstats.tail(ms)
    if t:
        m["op_tail_ms"] = t[1]
    by_kind = {}
    for o in timed:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
        by_kind.setdefault(o["name"].split("_")[0], []).append(o["ms"])
    layers = dict(result["layers"])
    if args.trace:
        for k in ("pruned", "fullscan", "lookup"):
            layers[f"catalog.{k}_p50_ms"] = statistics.median(
                by_kind.get(k, [0.0]))
        for q in QUERIES:
            layers[f"query.{q}_s"] = statistics.median(
                by_kind.get(q, [0.0])) / 1000.0
        layers["scratch.leftover_mb"] = leftover
        layers["trace.run_s"] = run_s

    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    extra_units = {"failed_ratio": "ratio", "op_tail_ms": "ms",
                   "scenes_per_s": "1/s"}
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"trace={args.trace} passes={len(passes)} ops={len(timed)} "
          f"app={result['app_id']}")
    print("host: " + " ".join(f"{k}={v:.6g}" if isinstance(v, float) else
                              f"{k}={v}" for k, v in host.items()))
    if t:
        print(f"tail: p{t[0]:g} of {t[2]} op samples")
    else:
        print(f"tail: omitted, {len(ms)} op samples support no percentile")
    for k, v in list(m.items()) + (list(layers.items()) if args.trace else []):
        print(f"metric {k} {v:.6g} {units.get(k, extra_units.get(k, ''))}")
    if kept_trace:
        print(f"trace: {kept_trace}")
        for layer, v in layer_self_ms(kept_trace, len(passes)).items():
            print(f"self_ms_per_pass {layer} {v:.6g}")
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for x in want:
        src = layers if args.trace else m
        metrics[x["name"]] = {"value": src.get(x["name"], 0.0),
                              "unit": x["unit"]}
    correct = failed == 0 and not failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
