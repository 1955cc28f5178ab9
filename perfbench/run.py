#!/usr/bin/env python3
"""Repository benchmark: the sentiment stream with serving reads, and two
batch query mixes. See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --workload sentiment_stream --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark's Scala code with sbt on first use (SPARK_HOME, or
the Spark install holding `spark-submit` on PATH, supplies the jars),
runs one workload in one JVM, checks its outputs, and prints one JSON
object as the last line of standard output. `--trace 1` prints the
per-layer metrics instead of the end-to-end ones.
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

import benchlib as bl

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")

WORKLOADS = ("sentiment_stream", "analytics_mix")
STREAM_RATE = 2000   # posts/s, released open-loop
MIX_SF = 0.005       # table scale of the batch mix (lineitem = 6e6 * sf rows)
MIX_DATA_SEED = 42   # the mix's tables are fixed; --seed orders the queries
JVM_HEAP = "3g"
RUN_DEADLINE_S = 170

# The mix's queries, a few from each group of the query registry that the
# mix exercises (the full groups do not fit a run; see README.md). Each
# must have a DuckDB oracle in SparkEntry.oracleSql.
MIX_QUERIES = {
    "analytics_mix": ["q09_join_multiway", "q10_agg_hash", "q33_sessionize",
                      "q55_pagerank", "skew_salted_join"],
}
# The short, overhead-bound queries of the mix that an interactive
# client issues together, like one dashboard refresh: serve_* is the time
# a pass spends on them. A sum of several queries keeps run-to-run noise
# lower than one light query alone or a percentile taken across queries.
SERVE_QUERIES = {
    "analytics_mix": ["q10_agg_hash", "q33_sessionize", "skew_salted_join"],
}
MODULES = ("Relational", "Temporal", "Graph", "Skew")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# -------------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_digest():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(home):
    """Compiles the library and the benchmark's Scala code unless the classes match the sources.
    Returns whether it compiled."""
    stamp = os.path.join(WORK, "build.stamp")
    want = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == want:
        return False
    if not shutil.which("sbt"):
        die("sbt is not on PATH")
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    log("building with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false", "clean", "compile"],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        die(f"build failed (exit {rc}); see {os.path.relpath(WORK, ROOT)}/build.log")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")
    return True


# ---------------------------------------------------------------------- run

def run_jvm(home, args, cpus, run_dir, deadline):
    out = os.path.join(run_dir, "raw.json")
    jvm = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jvm += ["-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"), "perfbench.Main",
            f"workload={args.workload}", f"seed={args.seed}", f"seconds={args.seconds}",
            f"trace={args.trace}", f"cpus={cpus}", f"work={run_dir}", f"out={out}",
            f"rate={STREAM_RATE}", f"data={os.path.join(WORK, 'tables')}",
            f"queries={','.join(MIX_QUERIES.get(args.workload, []))}"]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        # Spark's scratch space stays in the work directory.
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        p = subprocess.Popen(jvm, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("workload exceeded its time limit", 1)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        die(f"JVM exited with {rc}:\n{tail}", 1)
    with open(out) as f:
        return json.load(f)


def read_spans(run_dir):
    path = os.path.join(run_dir, "spans.jsonl")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {s["name"]: s for s in map(json.loads, f) if s}


def span_ms(spans, name):
    s = spans.get(name)
    return s["end_ms"] - s["start_ms"] if s else None


def units_sum(engine, prefix):
    """Engine counters summed over the units under one prefix."""
    tot = {}
    for unit, acc in engine.items():
        if unit == prefix or unit.startswith(prefix + ":"):
            for k, v in acc.items():
                if k == "stage_skew":
                    tot.setdefault(k, []).extend(v)
                elif k == "peak_exec_mem_bytes":
                    tot[k] = max(tot.get(k, 0), v)
                else:
                    tot[k] = tot.get(k, 0) + v
    return tot


def spark_metrics(units, cpus):
    """Per-unit engine counters (list of (counters, wall_ms)) -> spark.* metrics."""
    units = [(u, w) for u, w in units if u]
    if not units:
        return {}
    med = lambda k: bl.median([u.get(k, 0) for u, _ in units])
    skews = sorted(x for u, _ in units for x in u.get("stage_skew", []))
    return {
        "spark.jobs": med("jobs"), "spark.stages": med("stages"), "spark.tasks": med("tasks"),
        "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
        "spark.input_bytes": med("input_bytes"), "spark.spill_bytes": med("spill_bytes"),
        "spark.peak_exec_mem_mb": max(u.get("peak_exec_mem_bytes", 0) for u, _ in units) / 2**20,
        "spark.task_skew_p90": bl.nearest_rank(skews, 0.9) if skews else 0.0,
        "spark.gc_ms": med("gc_ms"),
        "spark.cpu_busy_share": bl.median([u.get("cpu_ns", 0) / (w * 1e6 * cpus)
                                           for u, w in units if w > 0]),
    }


def stream_metrics(raw, run_dir, con, trace):
    files = raw["files"]
    file_batch = bl.parse_source_log(raw["source_log"])
    commit_end = {b["id"]: b["commit_end_ms"] for b in raw["batches"]}
    window = (raw["window_start_ms"], raw["window_end_ms"])
    samples, missing = bl.stream_latencies(files, file_batch, commit_end, window)
    reads = [r for r in raw["reads"] if window[0] <= r["start_ms"] < window[1]]
    ok_reads = [r for r in reads if r["ok"]]
    in_window = {b["id"]: b for b in raw["batches"] if window[0] <= b["start_ms"] < window[1]}
    prog = {p["id"]: p for p in raw["progress"]}
    trig = lambda ids: [prog[i]["duration_ms"]["triggerExecution"] for i in ids if i in prog]
    untraced = [i for i, b in in_window.items() if not b["traced"]]
    backlog = bl.backlog_series(files, file_batch, commit_end, window)
    growth = bl.backlog_growth(backlog)
    late = max(f["released_ms"] - f["sched_ms"] for f in files)

    fails = bl.check_sink(con, raw["table"], raw["reference"])
    for f in fails[:5]:
        log(f"sink check: {f}")
    attempted = raw["total_posts"] + len(raw["reads"])
    failed = len(fails) + missing + sum(1 for r in raw["reads"] if not r["ok"])
    valid = raw["drained"] and growth <= raw["rate"] * raw["trigger_ms"] / 1000.0
    if not valid:
        log(f"invalid run: drained={raw['drained']} backlog growth={growth:.0f} posts")
    q, p90 = bl.tail_percentile(samples)
    sq, s90 = bl.tail_percentile([(r["ms"], i) for i, r in enumerate(ok_reads)])
    batches = {file_batch[f] for _, f in samples}
    log(f"stream: {len(samples)} posts in {len(batches)} batches, latency tail at p{q * 100:.0f}; "
        f"{len(ok_reads)} reads, tail at p{sq * 100:.0f}; backlog growth {growth:.0f} posts; "
        f"generator late by at most {late} ms")
    e2e = {
        "latency_p50_ms": bl.median([v for v, _ in samples]),
        "latency_p90_ms": p90,
        "serve_p50_ms": bl.median([r["ms"] for r in ok_reads]),
        "serve_p90_ms": s90,
        "pass_s": bl.median(trig(untraced)) / 1000.0,
    }
    layer = {}
    if trace:
        spans = read_spans(run_dir)
        traced = [b for b in in_window.values() if b["traced"]]
        dur = lambda key, ids: bl.median([prog[i]["duration_ms"].get(key, 0) for i in ids if i in prog])
        eng = raw["engine"]
        offered = sum(b["scored"] for b in traced)
        written = sum(units_sum(eng, f"b{b['id']}:upsert").get("records_written", 0) for b in traced)
        rows_in = sum(prog[b["id"]]["rows"] for b in traced if b["id"] in prog)
        layer = {
            "streaming.trigger_ms_p50": dur("triggerExecution", untraced),
            "streaming.add_batch_ms_p50": dur("addBatch", untraced),
            "streaming.planning_ms_p50": dur("queryPlanning", untraced),
            "streaming.latest_offset_ms_p50": dur("latestOffset", untraced),
            "streaming.commit_ms_p50": dur("commitOffsets", untraced),
            "streaming.rows_per_batch_p50": bl.median([prog[i]["rows"] for i in in_window if i in prog]),
            "streaming.backlog_rows_max": max(backlog),
            "pipeline.ingest_ms_p50": bl.median([span_ms(spans, f"b{b['id']}:ingest") for b in traced]),
            "pipeline.ingest_dup_drop_ratio": 1 - sum(b["ingested"] for b in traced) / max(rows_in, 1),
            "enrich.score_ms_p50": bl.median([span_ms(spans, f"b{b['id']}:score") for b in traced]),
            "enrich.summarized_ratio": sum(b["summarized"] for b in traced) / max(sum(b["long"] for b in traced), 1),
            "sources.upsert_ms_p50": bl.median([span_ms(spans, f"b{b['id']}:upsert") for b in traced]),
            "sources.upsert_new_ratio": written / max(offered, 1),
            "sources.upsert_scan_bytes_p50": bl.median(
                [units_sum(eng, f"b{b['id']}:upsert").get("input_bytes", 0) for b in traced]),
            "sources.table_files_end": len([f for f in os.listdir(raw["table"]) if f.endswith(".parquet")]),
            "sources.read_ms_p50": bl.median([r["ms"] for r in ok_reads]),
            "first_pass_s": raw["setup_first_batch_ms"][0] / 1000.0,
            "bench.generator_late_ms_max": late,
            "bench.trace_overhead_ratio": bl.median(trig([b["id"] for b in traced])) /
                                          max(bl.median(trig(untraced)), 1e-9) - 1,
        }
        layer.update(spark_metrics([(units_sum(eng, f"b{b['id']}"),
                                     b["commit_end_ms"] - b["start_ms"]) for b in traced], raw["cpus"]))
    return e2e, layer, attempted, failed, valid


def mix_metrics(raw, con, workload, trace, data):
    passes = raw["passes"]
    warm = [p for p in passes if p["phase"] == "timed"]
    by_query = {}
    for p in warm:
        for q in p["queries"]:
            by_query.setdefault(q["name"], []).append(q["ms"])

    # Output checks on the first pass's results, each against its DuckDB oracle.
    wrong = set()
    for q in passes[0]["queries"]:
        name = q["name"]
        if not q["ok"]:
            wrong.add(name)
            continue
        res = bl.result_of(con, os.path.join(raw["check_dir"], name))
        if name in raw["oracle_sql"]:
            diff = bl.compare(res, bl.oracle_result(con, raw["oracle_sql"][name],
                                                    os.path.join(data, "oracle_cache")))
        else:
            diff = "no oracle to check against"
        if diff:
            log(f"check {name}: {diff}")
            wrong.add(name)

    execs = [q for p in passes for q in p["queries"]]
    attempted = len(execs)
    failed = sum(1 for q in execs if not q["ok"] or q["name"] in wrong)
    lat = [q["ms"] for p in warm if not p["traced"] for q in p["queries"] if q["ok"]]
    serve = [sum(q["ms"] for q in p["queries"] if q["name"] in SERVE_QUERIES[workload])
             for p in warm if not p["traced"]]
    _, p90 = bl.tail_percentile([(v, i) for i, v in enumerate(lat)])
    _, s90 = bl.tail_percentile([(v, i) for i, v in enumerate(serve)])
    untraced_walls = [p["wall_ms"] for p in warm if not p["traced"]]
    e2e = {
        "latency_p50_ms": bl.median(lat),
        "latency_p90_ms": p90,
        "serve_p50_ms": bl.median(serve),
        "serve_p90_ms": s90,
        "pass_s": bl.median(untraced_walls) / 1000.0,
    }
    log(f"{workload}: {len(passes)} passes, {len(lat)} timed executions, {len(wrong)} wrong results")
    layer = {}
    if trace:
        traced = [p for p in warm if p["traced"]]
        eng = raw["engine"]
        per_pass = lambda f: bl.median([sum(f(q, p) for q in p["queries"]) for p in traced])
        plan = lambda k: per_pass(lambda q, p: (q.get("plan") or {}).get(k, 0))
        layer = {
            "query.build_ms": per_pass(lambda q, p: q["build_ms"]),
            "query.exec_ms": per_pass(lambda q, p: q["exec_ms"]),
            "driver.build_jobs": per_pass(
                lambda q, p: eng.get(f"p{p['pass']}:{q['name']}:build", {}).get("jobs", 0)),
            "qh.collect_fallbacks": per_pass(lambda q, p: q["fallbacks"]),
            "plan.exchanges": plan("exchanges"), "plan.bhj": plan("bhj"), "plan.smj": plan("smj"),
            "first_pass_s": passes[0]["wall_ms"] / 1000.0,
            "bench.trace_overhead_ratio": bl.median([p["wall_ms"] for p in traced]) /
                                          max(bl.median(untraced_walls), 1e-9) - 1,
        }
        module = {q["name"]: q["module"] for q in passes[0]["queries"]}
        for m in MODULES:
            layer[f"operators.{m}_s"] = sum(bl.median(v) for n, v in by_query.items()
                                            if module[n] == m) / 1000.0
        for n, v in by_query.items():
            layer[f"query.{n}_ms"] = bl.median(v)
        layer.update(spark_metrics([(units_sum(eng, f"p{p['pass']}"), p["wall_ms"]) for p in traced],
                                   raw["cpus"]))
    return e2e, layer, attempted, failed, True


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count(),
                    help="local[N] threads (default: all cores); 1 gives the single-threaded baseline")
    args = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        die(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}")
    os.makedirs(WORK, exist_ok=True)
    home = spark_home()
    # A run that had to build gets its full time limit after the build.
    deadline = (time.time() if build(home) else started) + RUN_DEADLINE_S

    import duckdb
    run_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    con = duckdb.connect()
    if args.workload != "sentiment_stream":
        import gen_tables
        data = os.path.join(WORK, "tables")
        gen_tables.write(data, MIX_SF, MIX_DATA_SEED)
        for t in gen_tables.NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    raw = run_jvm(home, args, args.cpus, run_dir, deadline)
    if args.workload == "sentiment_stream":
        e2e, layer, attempted, failed, valid = stream_metrics(raw, run_dir, con, args.trace)
    else:
        e2e, layer, attempted, failed, valid = mix_metrics(raw, con, args.workload, args.trace,
                                                            os.path.join(WORK, "tables"))
    e2e["setup_s"] = bl.median(raw["setup_s"])
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = layer if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if not args.trace and missing:
        die(f"end-to-end metrics not measured: {missing}", 1)
    # A per-layer metric of a layer this workload does not run reads 0.
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and valid, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
