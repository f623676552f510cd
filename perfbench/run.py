#!/usr/bin/env python3
"""Workload benchmark: times whole materialized results of the program's
public queries, end to end and (with --trace 1) layer by layer.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload star_sql --seed 1 --smoke     # sf0.001

Run from the root of a source checkout. The first run compiles the program
(src/main/scala) and the harness with the Scala compiler that ships in the
Spark jars; later runs reuse the build while the sources are unchanged. Each
run starts one fresh engine JVM (graft.Bench's session config, build.sbt's JVM
options, local[nproc]), then checks every query's result against DuckDB
running the program's own oracle SQL over the same input files. The last line
of stdout is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")
JVM_DEADLINE_S = 165
INPUT_SEED = 42  # inputs are fixed; the run seed permutes the query order

# build.sbt's JVM options (javaOptions), verbatim
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:+UseCodeCacheFlushing",
    # keeps the JVM's perf-data file out of the system /tmp; no effect on the program
    "-XX:+PerfDisableSharedMem",
]

MODULES = ["queries", "etl", "text", "vec", "graph", "multimodal", "sources", "streaming"]


# Each workload is a fixed query set, run in a seed-permuted order; the sets
# are small so that a run stays near 50 s (README, "Why two workloads").
STAR_SQL = (
    "q_flagship_top10",      # the reference's top-10 query (queries.RefQueries)
    "q_lineitem_agg",        # pricing-summary aggregate over lineitem
    "q_etl_star_build",      # etl: the reference ETL's star build
    "q_ptbr_normalize",      # etl: pt-BR number normalization
    "q_revenue_by_region",   # four-way star join
    "q_window_frames",       # window frames
    "q_hourly_windows",      # event-time windows over events
)
CURATION_LAKEHOUSE = (
    # curation over the 3x corpus: at least one query per operator module
    "x2_simhash",                 # text: fused graft_ simhash scan
    "x5_bigram_freq",             # text: a second Memo build, the bigram index
    "x6_centroids",               # vec: k-means centroids over the embeddings
    "x4_sim_clusters",            # graph: similarity join + components Memo build
    "m_media_features",           # multimodal: per-row media feature extraction
    # lakehouse lifecycles: writes beside reads
    "q_dsv2_mv_sql_ddl",          # sources: sink writes, MV DDL, refresh, MV-rewritten reads
    "s_shardsink_stream_parity",  # sources: micro-batches into the sink, with checkpoints
    "s_session_stream_parity",    # streaming: event-time session windows
)

# name -> (query set, corpus scale k, seconds of --seconds per timed round).
# A run makes round(--seconds / that) timed rounds, at least one, so every
# run of a workload does the same whole rounds.
WORKLOADS = {
    "star_sql": (STAR_SQL, 1, 4),
    "curation_lakehouse": (CURATION_LAKEHOUSE, 3, 12),
}

MODULE_METRICS = [("call_s", "s"), ("exec_s", "s"), ("analysis_s", "s"),
                  ("optimizer_s", "s"), ("planning_s", "s"), ("codegen_s", "s"),
                  ("jobs", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
                  ("input_mb", "MB"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                  ("driver_gap_s", "s")]
STREAM_METRICS = [("batches", "count"), ("batch_s", "s"), ("commit_s", "s")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def spark_jars():
    """The jars build.sbt compiles against (its unmanagedBase); $SPARK_HOME/jars
    overrides them."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise SystemExit("perfbench: no unmanagedBase in build.sbt and no $SPARK_HOME")
        jar_dir = m.group(1)
    jars = sorted(os.path.join(jar_dir, f) for f in os.listdir(jar_dir) if f.endswith(".jar"))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"perfbench: no scala-compiler jar in {jar_dir}")
    return jars


def scala_files(d):
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".scala"))


def scalac(out, classpath, files):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = ":".join(classpath)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:+PerfDisableSharedMem", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", cp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out})")


def build(jars):
    """Compile program + harness into BUILD unless the sources are unchanged."""
    program, harness = scala_files(PROGRAM_SRC), scala_files(HARNESS_SRC)
    if not program or not harness:
        raise SystemExit("perfbench: program or harness sources not found")
    h = hashlib.sha256()
    for f in program + harness:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        t0 = time.time()
        classes, hclasses = os.path.join(BUILD, "classes"), os.path.join(BUILD, "harness")
        scalac(classes, jars, program)
        scalac(hclasses, [classes] + jars, harness)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")


# -------------------------------------------------------------------- data

def input_dir(sf, corpus_k):
    """The generated tables (fixed generator seed), made once per checkout."""
    d = os.path.join(BUILD, "data", f"sf{sf}_k{corpus_k}_g{INPUT_SEED}")
    with open(os.path.join(BUILD, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(d, "DONE")):
            shutil.rmtree(d, ignore_errors=True)
            gen.generate(d, sf, INPUT_SEED, corpus_k)
            open(os.path.join(d, "DONE"), "w").close()
    return d


def round_dirs(run_dir, base, n):
    """n hard-linked copies of the input dir, one per round: each round's
    Memo keys are new, so every round rebuilds every index, as a pipeline run
    over fresh inputs does."""
    dirs = []
    for r in range(n):
        d = os.path.join(run_dir, "data", f"r{r}")
        os.makedirs(d)
        for f in os.listdir(base):
            if f.endswith(".parquet"):
                os.link(os.path.join(base, f), os.path.join(d, f))
        dirs.append(d)
    return dirs


# ------------------------------------------------------------------- check

def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def duckdb_check(data_dir, out_dir, names):
    """tools/local_verify.py's rule: columns sorted by name, rows exact and
    order-sensitive. Returns {query: reason} for every mismatch."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name in names:
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        try:
            exp = con.execute(oracle[name]).fetchall()
            ecols = [d[0] for d in con.description]
            got = con.execute(f"SELECT * FROM '{out_dir}/check/{name}/*.parquet'").fetchall()
            gcols = [d[0] for d in con.description]
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad[name] = f"unreadable: {str(e)[:200]}"
            continue
        if sorted(ecols) != sorted(gcols):
            bad[name] = f"columns differ: {sorted(ecols)} vs {sorted(gcols)}"
            continue
        ei = [i for _, i in sorted((c, i) for i, c in enumerate(ecols))]
        gi = [i for _, i in sorted((c, i) for i, c in enumerate(gcols))]
        if [tuple(norm(r[i]) for i in ei) for r in exp] != [tuple(norm(r[i]) for i in gi) for r in got]:
            bad[name] = f"values differ ({len(exp)} oracle vs {len(got)} rows)"
    return bad


# --------------------------------------------------------------------- run

def layer_metrics(res):
    recs = res["records"]
    m = {}
    for mod in MODULES:
        rs = [r for r in recs if r["module"] == mod]
        for key, unit in MODULE_METRICS:
            src = "codegen_ns" if key == "codegen_s" else key
            v = sum(r.get(src, 0) for r in rs)
            m[f"{mod}.{key}"] = (v / 1e9 if key == "codegen_s" else v, unit)
    m["memo.builds"] = (sum(r["memo_builds"] for r in recs), "count")
    m["memo.build_s"] = (sum(r["memo_build_s"] for r in recs), "s")
    for key in ["data_files_read", "mv_rewrites", "mv_fallbacks", "mv_driver_rows"]:
        m[f"sources.{key}"] = (sum(r[key] for r in recs), "count")
    m["sources.stored_files"] = (res["stored_files"], "count")
    m["sources.stored_mb"] = (res["stored_bytes"] / 1e6, "MB")
    for mod in ("sources", "streaming"):
        rs = [r for r in recs if r["module"] == mod]
        for key, unit in STREAM_METRICS:
            m[f"{mod}.{key}"] = (sum(r[key] for r in rs), unit)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true", help="sf0.001 inputs, one round")
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    queries, corpus_k, round_s = WORKLOADS[a.workload]
    sf = 0.001 if a.smoke else 0.1
    rounds = 1 if a.smoke else max(1, round(a.seconds / round_s))
    names = list(queries)
    random.Random(a.seed).shuffle(names)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, out = (os.path.join(run_dir, d) for d in ("tmp", "local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d)
    try:
        base = input_dir(sf, corpus_k)
        t_start = time.time()  # the run's deadline excludes the one-off build and inputs
        dirs = round_dirs(run_dir, base, rounds + 1) if corpus_k > 1 else [base]
        qfile = os.path.join(run_dir, "queries.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(names) + "\n")
        cpus = str(os.cpu_count() or 1)
        classpath = ":".join([os.path.join(BUILD, "harness"), os.path.join(BUILD, "classes")] + jars)
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={local}",
                                      "-cp", classpath, "perfbench.Harness",
               "--workload", a.workload, "--queries", qfile, "--data", ",".join(dirs),
               "--rounds", str(rounds), "--trace", str(a.trace),
               "--out", out, "--cpus", cpus, "--local", local])
        jvm_log = os.path.join(run_dir, "jvm.log")
        with open(jvm_log, "w") as lf:
            t_launch = time.time()  # setup_s runs from here to the warm session
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(10, JVM_DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit("perfbench: engine JVM timed out")
        res_file = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(res_file):
            with open(jvm_log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: engine JVM failed (rc={rc})")
        with open(res_file) as f:
            res = json.load(f)
        t_jvm = time.time()
        setup_s = res["setup_done_epoch_s"] - t_launch

        recs = res["records"]
        bad = duckdb_check(dirs[0], out, sorted(set(names)))
        bad.update({n: f"check run failed: {e}" for n, e in res["check_errors"].items()})
        for r in recs:
            if r["error"]:
                log(f"FAILED {r['query']} (round {r['round']}): {r['error']}")
        log(f"timing: start to JVM exit {t_jvm - t_start:.1f} s, DuckDB check {time.time() - t_jvm:.1f} s, "
            f"setup {setup_s:.2f} s, check run {res['check_s']:.1f} s")
        for n, why in sorted(bad.items()):
            log(f"MISMATCH {n}: {why}")
        failed = sum(1 for r in recs if r["error"] or r["query"] in bad)
        log("config: " + json.dumps(res["config"], sort_keys=True))
        for r in recs:
            log(f"  {r['query']}: call {r['call_s']:.3f} s, exec {r['exec_s']:.3f} s")
        log(f"median query time (call + exec): "
            f"{statistics.median(r['call_s'] + r['exec_s'] for r in recs):.3f} s")
        log(f"{a.workload}: {len(set(names))} queries x {rounds} rounds, "
            f"{len(recs) - failed}/{len(recs)} ok, memo builds {res['memo_builds_run']}")

        if a.trace:
            metrics = layer_metrics(res)
            covered = sum(r["call_s"] + r["exec_s"] for r in recs)
            rounds_s = sum(r["run_s"] for r in res["round_stats"])
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")
            shutil.copyfile(os.path.join(out, "spans.jsonl"), spans)
            log(f"trace: sum(call_s + exec_s) = {covered:.3f} s of {rounds_s:.3f} s in rounds "
                f"({covered / rounds_s:.1%}); spans in {spans}")
        else:
            rs = res["round_stats"]
            metrics = {
                "setup_s": (setup_s, "s"),
                "run_s": (statistics.median(r["run_s"] for r in rs), "s"),
                "cpu_s": (statistics.median(r["cpu_s"] for r in rs), "s"),
                "disk_write_mb": (statistics.median(r["wchar"] for r in rs) / 1e6, "MB"),
            }
            log("rounds: " + json.dumps(rs))
        for k, (v, u) in metrics.items():
            print(f"{a.workload} {k} = {v:.6g} {u}")
        # correct: every timed execution was recorded, none threw, and every
        # query's result matched DuckDB
        correct = failed == 0 and len(recs) == rounds * len(names)
        print(json.dumps({
            "correct": correct, "attempted": len(recs), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
