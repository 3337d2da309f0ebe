#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, outputs checked.

Run from the root of a checkout:

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source with the Scala
compiler shipped in the Spark jars (into $CARGO_TARGET_DIR, default
.bench_build), makes the workload's inputs from the seed, runs the
harness (perfbench/harness) in one JVM on a local Spark session sized to
the CPUs this process may use, checks the outputs, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.

    python3 perfbench/run.py --refresh-oracle

recomputes the stored DuckDB results (perfbench/oracle/*.json) from
DuckDB alone. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

DATASET = "sf0.01"
DATA_DIR = os.path.join("perfbench", "data", DATASET)
ORACLE_STORE = os.path.join("perfbench", "oracle", DATASET + ".json")
ORACLE_COMMAND = "python3 perfbench/run.py --refresh-oracle"

WORKLOADS = {
    "curate": {"kind": "query", "queries": [
        "q_dedup_clusters", "q_text_wordpiece", "q_multimodal_audiosim"]},
    # minibatch 65,536 and a constant lr of 0.05, as graft.Bench and
    # examples/DistProbe train. Steps per model and path: the linear
    # posterior meets its target from step 200 on, the RFF-GP from step
    # 40 (the draw stream is the same in every run), so 230 and 80 steps
    # leave 30 and 40 steps of margin; the distributed path runs its
    # last 10 steps unfused.
    "train": {"kind": "train", "args": {
        "linear_steps": 230, "rff_steps": 80, "dist_unfused_steps": 10,
        "chunk": 10, "batch": 65536, "lr": 0.05,
        "trace_local_steps": 100, "trace_dist_steps": 40}},
}
QUERY_NAMES = [q for w in WORKLOADS.values() for q in w.get("queries", [])]

# Generator and quality targets of the training workloads.
TRAIN_ROWS, HELDOUT_ROWS = 200_000, 20_000
LIN_A, LIN_B, SIGMA_LIN, SIGMA_RFF = 0.4, 0.6, 0.8, 0.5
TARGETS = {"tol_coef": 0.05, "tol_noise": 0.15, "tol_rmse": 0.15,
           "max_rmse_share": 0.7}

END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
              ("cpu_s", "s"), ("target_s", "s")]

JVM_HEAP = "3g"
# A hung harness JVM is killed after JVM_LIMIT_S + 3 * --seconds, counted
# from the end of the build: 168 s at --seconds 6, where runs measured
# 47-67 s, so only a hung JVM meets it.
JVM_LIMIT_S = 150
BUILD_TIMEOUT_S = 800


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark jars the program builds against: $SPARK_HOME/jars, else
    the directory build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = None
        if os.path.exists("build.sbt"):
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase")
        d = m.group(1)
    if not os.path.isdir(d):
        fail("no Spark jars at %s (set SPARK_HOME)" % d)
    return d


def scala_sources(root):
    out = []
    for base, _, files in os.walk(root):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(build, jars, classpath, files, dest, log):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(build, "tmp"),
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-cp", classpath, "-d", dest, "@" + argfile]
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("compile failed (%s)" % log)


def build(build_dir):
    """Compile src/main and the harness unless their sources are
    unchanged since the last build. Returns the runtime classpath."""
    jars = spark_jars()
    prog = scala_sources(os.path.join("src", "main", "scala"))
    harness = scala_sources(os.path.join("perfbench", "harness"))
    if not prog:
        fail("no program sources under src/main/scala: run from a checkout root")
    if not harness:
        fail("no harness sources under perfbench/harness")
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    classes = os.path.join(build_dir, "classes")
    hclasses = os.path.join(build_dir, "harness")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp(prog) + source_stamp(harness)
    old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if old[:64] != stamp[:64]:
        scalac(build_dir, jars, os.path.join(jars, "*"), prog, classes,
               os.path.join(build_dir, "build-program.log"))
        old = ""
    if old != stamp:
        scalac(build_dir, jars, os.path.join(jars, "*") + os.pathsep + classes,
               harness, hclasses, os.path.join(build_dir, "build-harness.log"))
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([os.path.join(jars, "*"), classes, hclasses])


# ---------------------------------------------------------------- inputs

def train_inputs(build_dir, seed):
    """Regression data from the seed: y_lin = LIN_A + LIN_B x + N(0, SIGMA_LIN^2)
    and y_rff = 1.2 sin(1.1 x) + N(0, SIGMA_RFF^2), x ~ U(-2, 2). Returns
    the directory and the reference values the checks use."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import duckdb
    gen = hashlib.sha256(repr((TRAIN_ROWS, HELDOUT_ROWS, LIN_A, LIN_B, SIGMA_LIN, SIGMA_RFF,
                               "1.2 sin(1.1 x)", "U(-2, 2)")).encode()).hexdigest()[:12]
    d = os.path.join(build_dir, "inputs", "train-%s-%d" % (gen, seed))
    ref_file = os.path.join(d, "ref.json")
    if os.path.exists(ref_file):
        return d, json.load(open(ref_file))
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)

    def table(n):
        x = rng.uniform(-2.0, 2.0, n)
        return pa.table({
            "x": x,
            "y_lin": LIN_A + LIN_B * x + SIGMA_LIN * rng.standard_normal(n),
            "y_rff": 1.2 * np.sin(1.1 * x) + SIGMA_RFF * rng.standard_normal(n)})
    train, held = table(TRAIN_ROWS), table(HELDOUT_ROWS)
    pq.write_table(train, os.path.join(d, "train.parquet"))
    # held-out (x, y_rff) pairs as little-endian float64, read by the harness
    hx, hy = held.column("x").to_numpy(), held.column("y_rff").to_numpy()
    np.column_stack([hx, hy]).astype("<f8").tofile(os.path.join(d, "heldout.f64"))
    con = duckdb.connect()
    ols_a, ols_b, mean_rff = con.execute(
        "SELECT regr_intercept(y_lin, x), regr_slope(y_lin, x), avg(y_rff) "
        "FROM read_parquet('%s')" % os.path.join(d, "train.parquet")).fetchone()
    con.close()
    const_rmse = float(np.sqrt(np.mean((hy - mean_rff) ** 2)))
    ref = {"ols_a": ols_a, "ols_b": ols_b, "sigma_lin": SIGMA_LIN,
           "sigma_rff": SIGMA_RFF, "const_rmse": const_rmse}
    with open(ref_file, "w") as fh:
        json.dump(ref, fh)
    return d, ref


# ---------------------------------------------------------------- host

def cpu_times():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = f[:8]
    return {"busy": (user + nice + system + irq + softirq) / hz,
            "steal": steal / hz, "t": time.time()}


def calibration_s():
    """Seconds a fixed single-threaded Python loop takes: how fast this
    host runs at launch, beside (not inside) the metrics."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def host_record(before, after, load, calib):
    wall = max(1e-9, after["t"] - before["t"])
    return {"steal_s": after["steal"] - before["steal"],
            "busy_cores": (after["busy"] - before["busy"]) / wall,
            "load_at_launch": load, "calib_s": calib, "wall_s": wall}


# ---------------------------------------------------------------- JVM

def jvm_command(cp, build_dir, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-XX:-UsePerfData", "-Xmx" + JVM_HEAP,
           "-Djava.io.tmpdir=" + os.path.abspath(os.path.join(build_dir, "tmp"))]
    for p in opens:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return cmd + ["-cp", cp, "perfbench.Harness"] + ["%s=%s" % kv for kv in args.items()]


def run_jvm(cp, build_dir, out, args, timeout):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    log = os.path.join(out, "jvm.log")
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # temporary files in the run directory whatever the caller exported
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    with open(log, "w") as lf:
        p = subprocess.Popen(jvm_command(cp, build_dir, args), cwd=out, env=env,
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness JVM timed out after %ds (log: %s)" % (timeout, log), 3)
    res = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("harness JVM exited with %d (log: %s)" % (code, log), 3)
    with open(res) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- oracle

def canon(v):
    """Canonical text of a DuckDB value: exact floats, bytes in hex,
    nested lists and structs element by element."""
    if v is None:
        return "null"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join("%s:%s" % (k, canon(x)) for k, x in v.items()) + "}"
    return str(v)


def digest_rows(cur):
    """(sorted column names, row count, SHA-256 of the sorted canonical
    rows with columns in name order) of an executed DuckDB cursor."""
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return sorted(cols), len(rows), h.hexdigest()


def duckdb_con(data_dir):
    """An in-memory DuckDB with one view per Parquet table of data_dir."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (f[:-len(".parquet")], os.path.join(data_dir, f)))
    return con


def oracle_entry(con, sql):
    cols, n, dg = digest_rows(con.execute(sql))
    return {"sql_sha256": hashlib.sha256(sql.encode()).hexdigest(),
            "columns": cols, "rows": n, "digest": dg}


def check_queries(res, build_dir):
    """Compare each query's cold-pass rows with DuckDB's evaluation of
    its oracle SQL. A stored result is used only when it was computed
    from the same SQL text; otherwise DuckDB evaluates the SQL now (kept
    in the build directory, never in the tracked store). Returns
    {query: failure message} for the queries that did not match."""
    store = {}
    if os.path.exists(ORACLE_STORE):
        store = json.load(open(ORACLE_STORE))["queries"]
    cache_dir = os.path.join(build_dir, "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb_con(DATA_DIR)
    bad = {}
    for name, chk in res["checks"].items():
        sql = chk["sql"]
        if not sql:
            bad[name] = "no oracle SQL"
            continue
        sha = hashlib.sha256(sql.encode()).hexdigest()
        exp = store.get(name)
        if not exp or exp["sql_sha256"] != sha:
            cached = os.path.join(cache_dir, sha + ".json")
            if os.path.exists(cached):
                exp = json.load(open(cached))
            else:
                exp = oracle_entry(con, sql)
                with open(cached, "w") as fh:
                    json.dump(exp, fh)
        got = digest_rows(con.execute(
            "SELECT * FROM read_parquet('%s/*.parquet')" % chk["path"]))
        if got != (exp["columns"], exp["rows"], exp["digest"]):
            bad[name] = "differs from DuckDB: spark %s rows %s, oracle %s rows %s" % (
                got[1], got[0], exp["rows"], exp["columns"])
    con.close()
    return bad


def refresh_oracle(build_dir):
    """Recompute the stored DuckDB results of every benchmark query. The
    SQL text comes from the program (SparkEntry.oracleSql); the results
    come from DuckDB alone."""
    cp = build(build_dir)
    out = os.path.join(build_dir, "runs", "oracle-sql")
    res = run_jvm(cp, build_dir, out, {
        "workload": "oracle_sql", "seed": 0, "seconds": 0, "trace": 0,
        "cpus": 1, "out": os.path.abspath(out), "queries": ",".join(QUERY_NAMES)},
        timeout=JVM_LIMIT_S)
    con = duckdb_con(DATA_DIR)
    queries = {}
    for name in QUERY_NAMES:
        t0 = time.time()
        queries[name] = oracle_entry(con, res["checks"][name]["sql"])
        print("%-32s %6d rows  %6.1f s" % (name, queries[name]["rows"], time.time() - t0))
    os.makedirs(os.path.dirname(ORACLE_STORE), exist_ok=True)
    with open(ORACLE_STORE, "w") as fh:
        json.dump({"command": ORACLE_COMMAND, "data": DATA_DIR,
                   "queries": queries}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote " + ORACLE_STORE)


# ---------------------------------------------------------------- metrics

def e2e_metrics(res, kind):
    e = res["e2e"]
    m = {"setup_s": e["setup_s"], "first_pass_s": e["first_pass_s"],
         "pass_s": stats.median(e["pass_s"]), "cpu_s": stats.median(e["cpu_s"])}
    # a query pass is correct only once every query has returned, so its
    # time to a checked result is the pass time
    m["target_s"] = stats.median(e["target_s"] if kind == "train" else e["pass_s"])
    return {k: (m[k], u) for k, u in END_TO_END}


def layer_metrics(res, spans, host, workload):
    """Every per-layer metric; a layer that the workload does not reach
    reads 0."""
    lay = res["layers"]
    kind = WORKLOADS[workload]["kind"]

    def med(k):
        v = lay.get(k)
        if v is None:
            return 0.0
        return stats.median(v) if isinstance(v, list) else float(v)
    m = {}
    m["registry.init_s"] = (med("registry.init_s"), "s")
    for part in ("build", "plan", "exec"):
        total = sum(med("q.%s.%s_s" % (q, part)) for q in QUERY_NAMES)
        m["query.%s_s" % part] = (total, "s")
    for q in QUERY_NAMES:
        m["q.%s.build_s" % q] = (med("q.%s.build_s" % q), "s")
        m["q.%s_s" % q] = (med("q.%s_s" % q), "s")
    for k, u in [("spark.jobs", "count"), ("spark.stages", "count"),
                 ("spark.tasks", "count"), ("spark.task_cpu_s", "s"),
                 ("spark.task_gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
                 ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB")]:
        m[k] = (med(k), u)
    tasks = lay.get("spark.task_s") or [0.0]
    m["spark.task_p50_s"] = (stats.median(tasks), "s")
    m["spark.task_max_s"] = (max(tasks), "s")
    cached = lay.get("spark.cached_mb") or [0.0]
    m["spark.cached_mb"] = (max(cached), "MB")
    for k in ("image", "gif", "audio", "frame"):
        m["codec.%s_ms" % k] = (med("codec.%s_ms" % k), "ms")
    m["tape.compile_s"] = (sum(lay.get("tape.compile_s", [0.0])), "s")
    m["tape.row_ns.linear"] = (med("tape.row_ns.linear"), "ns")
    m["tape.row_ns.rff"] = (med("tape.row_ns.rff"), "ns")
    m["data.split_s"] = (sum(lay.get("data.split_s", [0.0])), "s")
    m["data.sample_s"] = (med("data.sample_s"), "s")
    for path in ("local", "dist"):
        steps = lay.get("step.%s_s" % path) or [0.0]
        p99 = stats.percentile(steps, 99)
        m["step.%s.p50_s" % path] = (stats.median(steps), "s")
        m["step.%s.p99_s" % path] = (p99 if p99 is not None else 0.0, "s")
        m["step.%s.eval_s" % path] = (med("step.%s.eval_s" % path), "s")
    m["step.local.jobs"] = (med("step.local.jobs"), "count")
    m["step.dist.jobs"] = (med("spark.jobs") if kind == "train" else 0.0, "count")
    m["host.steal_s"] = (host["steal_s"], "s")
    m["host.busy_cores"] = (host["busy_cores"], "cores")
    m["host.calib_s"] = (host["calib_s"], "s")
    m["host.peak_rss_mb"] = (host["peak_rss_mb"], "MB")
    # the least heap a warm pass left behind: which query ran last moves
    # a single reading by about 50 MB on curate
    m["mem.live_heap_mb"] = (min(lay["mem.live_heap_mb"][2:]), "MB")
    m["trace.pass_s"] = (stats.median(res["e2e"]["pass_s"]), "s")
    selft = stats.self_times(spans)
    for k in ("setup.spark", "setup.registry", "build", "exec", "chunk", "check"):
        m["self.%s_s" % k] = (selft.get(k, 0.0), "s")
    return m


def read_spans(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-oracle", action="store_true")
    a = ap.parse_args()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("no program sources under src/main/scala: run from a checkout root")
    if a.refresh_oracle:
        refresh_oracle(build_dir)
        return 0
    if not a.workload:
        fail("--workload is required")
    cp = build(build_dir)
    t_built = time.time()
    w = WORKLOADS[a.workload]
    out = os.path.abspath(os.path.join(
        build_dir, "runs", "%s-s%d-t%d" % (a.workload, a.seed, a.trace)))
    jargs = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "cpus": len(os.sched_getaffinity(0)), "out": out}
    if w["kind"] == "query":
        if not os.path.isdir(DATA_DIR):
            fail("no input data at " + DATA_DIR)
        jargs.update(data=os.path.abspath(DATA_DIR), queries=",".join(w["queries"]))
    else:
        d, ref = train_inputs(build_dir, a.seed)
        jargs.update(train=os.path.abspath(d), **ref)
        jargs.update(TARGETS)
        jargs.update(w["args"])
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    calib = calibration_s()
    before = cpu_times()
    timeout = JVM_LIMIT_S + 3 * a.seconds - (time.time() - t_built)
    res = run_jvm(cp, build_dir, out, jargs, timeout)
    host = host_record(before, cpu_times(), load, calib)
    host["peak_rss_mb"] = res["layers"].get("peak_rss_mb", 0.0)

    failed = res["failed"]
    attempted = res["attempted"]
    errors = list(res["errors"])
    if w["kind"] == "query" and not errors:
        for name, why in sorted(check_queries(res, build_dir).items()):
            # every warm pass returned the cold pass's rows, so all are wrong
            failed += 1 + len(res["layers"].get("q.%s_s" % name, []))
            errors.append("%s: %s" % (name, why))
    failed = min(failed, attempted) if attempted else failed
    for e in errors:
        print("FAILED " + e)
    print("host " + json.dumps(host))
    with open(os.path.join(out, "host.json"), "w") as fh:
        json.dump(host, fh)
    if attempted < 1:
        fail("the run attempted no operation", 4)
    try:
        if a.trace:
            metrics = layer_metrics(res, read_spans(os.path.join(out, "spans.jsonl")),
                                    host, a.workload)
        else:
            metrics = e2e_metrics(res, w["kind"])
    except (KeyError, IndexError, ValueError) as e:
        fail("the run ended without its measurements (%r)" % (e,), 4)
    for k, (v, u) in metrics.items():
        print("metric %-40s %14.6f %s" % (k, v, u))
    print(stats.format_result_line(failed == 0, attempted, failed, metrics))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
