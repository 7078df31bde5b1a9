#!/usr/bin/env python3
"""graft benchmark: one command runs one workload for one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the engine from source together with the benchmark's Scala runner (sbt, offline)
and caches the classpath under perfbench/target, keyed on a hash of the
build's sources; a run whose sources differ from the last build's builds again.

Workloads (see perfbench/METRICS.md for every metric and what moves it):
  fraud_pipeline  open-loop CSV micro-files through FraudStream's three sinks,
                  then the nightly load DAG over the landed sink
  batch_queries   closed-loop passes over a fixed mix of SparkEntry.queries

Each run generates its inputs from the seed, measures for --seconds,
checks every output, prints each metric by name with its unit, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (the traced run also reports its own tracing overhead and
writes its spans to perfbench/.work/<workload>/trace.json).

`--record-hashes` recomputes the committed batch-query result hashes
after checking each query against its DuckDB oracle SQL.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("fraud_pipeline", "batch_queries")
CLASSPATH_FILE = os.path.join(HERE, "target", "classpath.txt")
HASHES_FILE = os.path.join(HERE, "batch_hashes.json")
JVM_TIMEOUT_S = 165

# Fixed sizes. The stream's steady phase publishes 20 files over
# --seconds. At 2 files/s the scored sink's triggers (3-4 s each on 4
# cores, next to the two trend queries) take 6-8 files, so even a host
# running twice as slow stays within the 16-file cap of
# maxFilesPerTrigger and the backlog does not grow. The backlog is one
# full trigger.
STREAM = dict(warmup_files=4, steady_files=20, backlog_files=16, rows_per_file=100,
              event_span_ms=6000)
CORPUS_SF = 0.01
GEN_REPEATS = 3

JAVA_OPTS = [
    f"--add-opens={m}=ALL-UNNAMED" for m in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
] + ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
     # no hsperfdata file in the system temp directory
     "-XX:-UsePerfData"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# What the build reads: the engine's sources and build definition and the
# runner's. The cached classpath is reused only while their hash is unchanged.
BUILD_INPUTS = ("build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
                "perfbench/src")


def sources_hash(root=ROOT):
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else []
        for d, dirs, fs in os.walk(base):
            # sbt's own output (target/, project/project/) is not an input
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += sorted(os.path.join(d, f) for f in fs)
        for path in paths:
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Build the engine and the runner from source; return the classpath.

    sbt runs again whenever a build input differs from the last build's,
    so a checkout whose sources change between runs never times classes
    compiled from other sources."""
    digest = sources_hash()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            built, cp = (f.read().split("\n", 1) + [""])[:2]
        if built == digest and cp.strip():
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log("building engine and benchmark runner (sources changed since the last build)")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(f"{digest}\n{cp}")
    return cp


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, work, workload, seed, seconds, trace, extra):
    args = dict(workload=workload, work=work, seconds=seconds, trace=int(trace),
                seed=seed, cores=cores(), **extra)
    # every file the engine writes stays in the run's directory: Spark's
    # shuffle and block files, JVM temp files, Derby's home and log
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(work, "jvm.log")
    launch = time.time()
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"engine run exceeded {JVM_TIMEOUT_S}s; see {log_path}", 3)
    res_path = os.path.join(work, "jvm_result.json")
    if not os.path.exists(res_path):
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"engine run exited {p.returncode} without a result", 3)
    with open(res_path) as f:
        res = json.load(f)
    res["launch_ms"] = launch * 1000
    return res


def timed_generation(make):
    """Generate the inputs GEN_REPEATS times (same seed, same files);
    return the median generation time in seconds."""
    times = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        make()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def setup_seconds(gen_s, res):
    """Set-up: input generation (median of repeats), JVM start up to the
    runner's main, session build and the workload's warm-up."""
    parts = dict(gen=gen_s, jvm=(res["main_wall_ms"] - res["launch_ms"]) / 1000,
                 session=res["session_s"], warmup=res["warmup_s"])
    log("set-up " + ", ".join(f"{k} {v:.2f}s" for k, v in parts.items()))
    return sum(parts.values())


# ---------------------------------------------------------------- workloads

def fraud_pipeline(cp, work, seed, seconds, trace):
    d = os.path.join(work, "stream")
    n_files = STREAM["warmup_files"] + STREAM["steady_files"] + STREAM["backlog_files"]

    def make():
        shutil.rmtree(d, ignore_errors=True)
        gen.stream_inputs(d, seed, n_files, STREAM["rows_per_file"], STREAM["event_span_ms"])

    gen_s = timed_generation(make)
    res = run_jvm(cp, work, "fraud_pipeline", seed, seconds, trace,
                  {k: STREAM[k] for k in ("warmup_files", "steady_files", "backlog_files")})
    out = dict(setup_s=setup_seconds(gen_s, res))
    failures = list(res.get("failures", []))
    tasks = ("audit", "merge", "jdbc", "compact")
    attempted = n_files + len(tasks)
    if "load" not in res:
        return out, {}, attempted, failures, res

    lat = {q: stats.file_latencies(os.path.join(d, "ck", q), res["generated"])
           for q in res["queries"]}
    missing = sorted(set().union(*[set(f for f, v in l.items() if v is None)
                                   for l in lat.values()]))
    failures += [f"file {f} never committed by every sink" for f in missing]

    def phase_lat(q, phase):
        return [lat[q][g["file"]] for g in res["generated"]
                if g["phase"] == phase and lat[q].get(g["file"]) is not None]

    scored = phase_lat("scored", "steady")
    trend = [max(a, b) for a, b in zip(phase_lat("user_trend", "steady"),
                                       phase_lat("category_trend", "steady"))]
    tail_p, tail = stats.tail_percentile(scored)
    # from publishing the backlog to the last sink's commit of it
    drain_s = max((v for q in res["queries"] for v in phase_lat(q, "backlog")),
                  default=float("nan")) / 1000
    load = res["load"]
    load_s = sum(load[f"{t}_ms"] for t in tasks) / 1000
    out.update(
        unit_p50_ms=stats.median(scored),
        unit_geomean_ms=stats.geomean([stats.median(phase_lat(q, "steady"))
                                       for q in res["queries"]]),
        # from publishing the backlog: drain, stop, nightly load
        job_s=res["job_s"])
    report = {
        "stream_latency_p50_ms": (stats.median(scored), "ms"),
        "stream_latency_samples": (len(scored), "count"),
        "stream_trend_latency_p50_ms": (stats.median(trend), "ms"),
        "stream_drain_rows_per_s": (STREAM["backlog_files"] * STREAM["rows_per_file"] / drain_s,
                                    "rows/s"),
        "stream_gen_lag_ms": (res["steady"]["gen_lag_ms"], "ms"),
        "load_total_s": (load_s, "s"),
    }
    if tail_p > 50:  # with fewer than 21 samples the median is the tail
        report[f"stream_latency_p{tail_p}_ms"] = (tail, "ms")
    for t in tasks:
        report[f"load_{t}_ms"] = (load[f"{t}_ms"], "ms")

    import duckdb
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE src AS SELECT * FROM read_csv('{d}/watch/*/*.csv', header=true,
        columns={{'transaction_id':'VARCHAR','user_id':'INTEGER','product_id':'INTEGER',
        'store_id':'VARCHAR','amount':'DOUBLE','payment_method':'VARCHAR','country':'VARCHAR',
        'timestamp':'TIMESTAMP'}})""")
    failures += check_stream(con, d)
    failures += check_warehouse(con, os.path.join(work, "wh"))
    attempted += 6  # the checks: scored rows, scored sums, two trends, two warehouses

    layers = {}
    if trace and "layers" in res:
        layers = dict(res["layers"])
        layers.update({
            "streaming.backlog_files": stats.peak_backlog(
                lat["scored"], [g for g in res["generated"] if g["phase"] == "steady"]),
            "sources.land_files": res["land_files"],
            "sources.land_bytes": res["land_bytes"],
            "sources.merge_ms": load["merge_ms"],
            "sources.merge_bytes_rewritten": load["merge_bytes_rewritten"],
            "sources.merge_write_amp": load["merge_bytes_rewritten"] / res["land_bytes"],
            "sources.jdbc_ms": load["jdbc_ms"],
            "sources.jdbc_rows": res["jdbc_rows"],
            "sources.compact_ms": load["compact_ms"],
            "sources.compact_files_in": load["compact_files_in"],
            "sources.compact_files_out": load["compact_files_out"],
            "operators.audit_ms": load["audit_ms"],
        })
    return out, dict(report=report, layers=layers), attempted, failures, res


def check_stream(con, d):
    """Every published row (DuckDB table `src`) lands exactly once in the
    scored sink with the generator's Σamount per (payment_method, day);
    the trend sinks' final window sums equal a batch recompute over the
    same rows."""
    con.execute(f"CREATE VIEW scored AS SELECT * FROM read_parquet('{d}/sink/scored/**/*.parquet', "
                "hive_partitioning=true)")
    failures = []
    n_src, n_ids = con.execute("SELECT count(*), count(DISTINCT transaction_id) FROM src").fetchone()
    n_out, n_out_ids = con.execute(
        "SELECT count(*), count(DISTINCT transaction_id) FROM scored").fetchone()
    if (n_out, n_out_ids) != (n_src, n_ids):
        failures.append(f"scored sink holds {n_out} rows / {n_out_ids} ids, generated {n_src} / {n_ids}")
    diff = con.execute("""
        WITH g AS (SELECT payment_method, CAST("timestamp" AS DATE) AS day,
                          sum(CAST(round(amount * 100) AS BIGINT)) AS cents FROM src GROUP BY ALL),
             s AS (SELECT payment_method, make_date(tx_year, tx_month, tx_day) AS day,
                          sum(CAST(round(amount * 100) AS BIGINT)) AS cents FROM scored GROUP BY ALL)
        SELECT count(*) FROM g FULL JOIN s USING (payment_method, day)
        WHERE g.cents IS DISTINCT FROM s.cents""").fetchone()[0]
    if diff:
        failures.append(f"scored sink: {diff} (payment_method, day) amount sums differ")
    trend_sql = {
        "user_trend": ("user_id", "total_spent", "src"),
        "category_trend": ("category", "total_sales",
                           f"(SELECT src.*, p.category FROM src LEFT JOIN read_csv('{d}/dims/products.csv',"
                           " header=true) p USING (product_id))"),
    }
    for q, (key, total, rel) in trend_sql.items():
        diff = con.execute(f"""
            WITH latest AS (
                SELECT window_start, coalesce(CAST({key} AS VARCHAR), '') AS k,
                       arg_max({total}, batch_id) AS v
                FROM read_parquet('{d}/sink/{q}/*.parquet') GROUP BY ALL),
            recompute AS (
                SELECT strftime(time_bucket(INTERVAL 1 MINUTE, "timestamp"), '%Y-%m-%d %H:%M:%S')
                           AS window_start, coalesce(CAST({key} AS VARCHAR), '') AS k,
                       sum(amount) AS v
                FROM {rel} GROUP BY ALL)
            SELECT count(*) FROM latest FULL JOIN recompute USING (window_start, k)
            WHERE latest.v IS NULL OR recompute.v IS NULL
               OR round(latest.v * 100) <> round(recompute.v * 100)""").fetchone()[0]
        if diff:
            failures.append(f"{q}: {diff} window sums differ from the batch recompute")
    return failures


def check_warehouse(con, wh):
    """The parquet warehouse and the Derby table both hold the latest
    version of every published transaction (`src`), once. Set-up loaded an
    older version of the warm-up's keys (another amount, an earlier batch
    id) into both; the measured load must have replaced it."""
    failures = []
    cols = "transaction_id, user_id, product_id, store_id, amount, payment_method, country"
    for label, path in (("warehouse", f"{wh}/warehouse"), ("derby", f"{wh}/derby_dump")):
        diff = con.execute(f"""
            WITH expected AS (SELECT {cols}, epoch_us("timestamp") AS ts FROM src),
                 actual AS (SELECT {cols}, epoch_us("timestamp") AS ts
                            FROM read_parquet('{path}/*.parquet'))
            SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM actual))
                 + (SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected))
            """).fetchone()[0]
        if diff:
            failures.append(f"{label}: {diff} rows differ from the published transactions")
    return failures


def batch_queries(cp, work, seed, seconds, trace, dump=False):
    d = os.path.join(work, "corpus")

    def make():
        shutil.rmtree(d, ignore_errors=True)
        gen.corpus(d, CORPUS_SF)

    gen_s = timed_generation(make)
    res = run_jvm(cp, work, "batch_queries", seed, seconds, trace,
                  dict(corpus=d, dump=int(dump)))
    out = dict(setup_s=setup_seconds(gen_s, res))
    failures = list(res.get("failures", []))
    if "runs" not in res:
        return out, {}, 1, failures, res
    runs = res["runs"]

    def per_pass(rs):
        passes = {}
        for r in rs:
            passes[r["pass"]] = passes.get(r["pass"], 0) + r["build_ms"] + r["exec_ms"]
        return list(passes.values())

    def per_query(rs, key=lambda r: r["build_ms"] + r["exec_ms"]):
        qs = {}
        for r in rs:
            qs.setdefault(r["query"], []).append(key(r))
        return {q: stats.median(v) for q, v in sorted(qs.items())}

    pass_ms = per_pass(runs)
    q_ms = per_query(runs)
    # The unit of work is one pass of the mix; the job runs each query once
    # at its median time. With one pass per run (a pass takes about 10 s on
    # 4 cores) the two read the same. A median over the six single queries
    # would not, but it jumps whenever two of them swap ranks.
    out.update(unit_p50_ms=stats.median(pass_ms),
               unit_geomean_ms=stats.geomean(list(q_ms.values())),
               job_s=sum(q_ms.values()) / 1000)
    report = {
        "batch_pass_s": (stats.median(pass_ms) / 1000, "s"),
        "batch_geomean_s": (stats.geomean(list(q_ms.values())) / 1000, "s"),
        "batch_passes": (len(pass_ms), "count"),
    }
    for q, v in q_ms.items():
        report[f"batch.{q}_ms"] = (v, "ms")

    # every execution, the warm-up's and each measured pass's, is checked
    warm = res.get("warmup_runs", [])
    attempted = len(warm) + len(runs)
    if not dump:
        with open(HASHES_FILE) as f:
            committed = json.load(f)["hashes"]
        for r in warm + runs:
            if committed.get(r["query"]) != r["out"]:
                failures.append(f"{r['query']} (pass {r['pass']}): result hash {r['out']} "
                                f"!= committed {committed.get(r['query'])}")

    layers = {}
    if trace and "layers" in res:
        layers = dict(res["layers"])
        for q, v in per_query(runs, lambda r: r["build_ms"]).items():
            layers[f"operators.{q}.build_ms"] = v
        for q, v in per_query(runs, lambda r: r["exec_ms"]).items():
            layers[f"operators.{q}.exec_ms"] = v
    return out, dict(report=report, layers=layers), attempted, failures, res


def record_hashes(cp, seed):
    """Check each mix query against its DuckDB oracle SQL on the corpus,
    then commit the order-insensitive result hashes."""
    work = os.path.join(HERE, ".work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _, _, _, failures, res = batch_queries(cp, work, seed, 1, False, dump=True)
    if failures:
        fail("\n".join(failures))
    verifier = os.path.join(ROOT, "tools", "local_verify.py")
    p = subprocess.run([sys.executable, verifier, os.path.join(work, "corpus"),
                        os.path.join(work, "dump")], text=True, stdout=subprocess.PIPE)
    print(p.stdout)
    if p.returncode != 0:
        fail("a mix query disagrees with its DuckDB oracle; hashes not recorded")
    hashes = {r["query"]: r["out"] for r in res["warmup_runs"]}
    with open(HASHES_FILE, "w") as f:
        json.dump({"corpus_sf": CORPUS_SF, "hashes": hashes}, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {len(hashes)} hashes")


# ------------------------------------------------------------------- main

END_TO_END = {  # name -> unit
    "setup_s": "s", "unit_p50_ms": "ms", "unit_geomean_ms": "ms", "job_s": "s",
}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from a checkout of the graft repository: engine sources not found")
    if a.seconds <= 0:
        fail("--seconds must be positive")
    cp = classpath()
    if a.record_hashes:
        return record_hashes(cp, a.seed)
    if a.workload is None:
        fail("--workload is required")

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fn = {"fraud_pipeline": fraud_pipeline, "batch_queries": batch_queries}[a.workload]
    out, extra, attempted, failures, res = fn(cp, work, a.seed, a.seconds, bool(a.trace))

    for f in failures:
        log(f"FAILED: {f.splitlines()[0] if f else f}")
    attempted = max(attempted, 1)
    failed = min(len(failures), attempted)
    print(f"failed_ratio: {failed / attempted:.6g} ratio ({failed} of {attempted})")
    # memory: the peak swings with collector timing, the live heap after a
    # full collection with retained listener and state data between runs
    heap = {"jvm.heap_peak_mb": res.get("peak_heap_mb"), "jvm.heap_live_mb": res.get("heap_live_mb")}
    # CPU of the whole process and of its JIT compilers while the measured
    # phase ran: compilation shares the cores with the tasks
    jvm = {"jvm.cpu_ms": res.get("cpu_ms"), "jvm.jit_ms": res.get("jit_ms")}
    for k, (v, unit) in extra.get("report", {}).items():
        print(f"{k}: {v:.6g} {unit}")
    for k, v in heap.items():
        if v is not None:
            print(f"{k}: {v:.6g} MB")
    for k, v in jvm.items():
        if v is not None:
            print(f"{k}: {v:.6g} ms")
    for k, unit in END_TO_END.items():
        if out.get(k) is not None:
            print(f"{k}: {out[k]:.6g} {unit}")

    if a.trace:
        names = per_layer_names()
        layers = dict(extra.get("layers", {}))
        layers.update({k: v for k, v in {**heap, **jvm}.items() if v is not None})
        # the traced run's own end-to-end readings: against the untraced
        # runs' readings they give the tracing overhead
        layers.update({f"trace.{k}": v for k, v in out.items() if k in END_TO_END})
        for k in sorted(layers):
            print(f"layer {k}: {layers[k]:.6g} {names.get(k, '')}")
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": layers,
                       "spans": res.get("spans", []), "triggers": res.get("triggers", [])}, f)
        # a layer this workload's path never enters reads 0 here
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in names.items()}
    else:
        metrics = {k: {"value": float(out[k]), "unit": u} for k, u in END_TO_END.items()
                   if out.get(k) is not None}
    correct = not failures and (bool(a.trace) or len(metrics) == len(END_TO_END))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
