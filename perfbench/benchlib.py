"""Statistics, output checks and metric derivation for the benchmark.

Everything here works on the raw record the JVM side writes and on
files it leaves in the work directory, so each rule can be tested on
small hand-made inputs (see tests/).
"""
import glob
import hashlib
import json
import math
import os
import statistics

MIN_BEYOND = 10  # samples (or batches) that must lie beyond a reported tail percentile


# ---------------------------------------------------------------- statistics

def nearest_rank(sorted_vals, q):
    """The q-quantile of sorted values by the nearest-rank rule."""
    if not sorted_vals:
        raise ValueError("no samples")
    i = max(0, math.ceil(q * len(sorted_vals)) - 1)
    return sorted_vals[min(i, len(sorted_vals) - 1)]


def tail_percentile(samples, q_max=0.90, min_beyond=MIN_BEYOND):
    """Highest percentile, at most q_max, with at least `min_beyond`
    distinct groups holding a sample above it.

    `samples` is a list of (value, group). Samples of one group share a
    cause (the posts of one file share its release and commit), so they
    count once. Returns (q, value); when no percentile above the median
    has enough groups beyond it, returns (0.5, median).
    """
    vals = sorted(v for v, _ in samples)
    q = q_max
    while q > 0.5 and vals:
        v = nearest_rank(vals, q)
        if len({g for x, g in samples if x > v}) >= min_beyond:
            return round(q, 2), v
        q = round(q - 0.01, 2)
    return 0.5, median(vals)


def median(vals):
    """Median of a list (0.0 when empty), interpolating between the middle two."""
    return statistics.median(vals) if vals else 0.0


# ------------------------------------------------------------- stream timing

def parse_source_log(log_dir):
    """File name -> micro-batch id, from the file source's metadata log
    in the query checkpoint (plain and compacted entries alike)."""
    out = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def stream_latencies(files, file_batch, commit_end, window):
    """Per-post latency from scheduled release to the end of the upsert
    that committed the post's file, for files scheduled inside the window.

    Returns (samples, missing): samples are (latency_ms, file name), one
    per post, grouped by file because the posts of one file share their
    release and their commit; missing counts posts whose file never
    committed.
    """
    lo, hi = window
    samples, missing = [], 0
    for f in files:
        if not lo <= f["sched_ms"] < hi:
            continue
        b = file_batch.get(f["name"])
        end = commit_end.get(b) if b is not None else None
        if end is None:
            missing += f["posts"]
            continue
        samples.extend([(end - f["sched_ms"], f["name"])] * f["posts"])
    return samples, missing


def backlog_series(files, file_batch, commit_end, window, step_ms=100):
    """Posts released but not yet committed, sampled every step_ms."""
    rel = sorted((f["released_ms"], f["posts"]) for f in files)
    com = sorted((commit_end[file_batch[f["name"]]], f["posts"]) for f in files
                 if file_batch.get(f["name"]) in commit_end)
    series, t = [], window[0]
    while t < window[1]:
        r = sum(n for ts, n in rel if ts <= t)
        c = sum(n for ts, n in com if ts <= t)
        series.append(r - c)
        t += step_ms
    return series


def backlog_growth(series):
    """Mean backlog of the last quarter minus that of the first quarter."""
    k = max(1, len(series) // 4)
    return statistics.mean(series[-k:]) - statistics.mean(series[:k])


# ------------------------------------------------------------------- checks

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def check_sink(con, sink_dir, ref_dir):
    """Compares the sink table with the batch reference. Returns the list
    of failures: content_ids written more than once, missing, unexpected,
    or carrying another label or score than the reference."""
    sink = f"read_parquet('{sink_dir}/*.parquet')"
    ref = f"read_parquet('{ref_dir}/*.parquet')"
    fails = [f"written {n} times: {cid}" for cid, n in con.sql(
        f"SELECT content_id, count(*) FROM {sink} GROUP BY 1 HAVING count(*) > 1").fetchall()]
    fails += [f"missing: {cid}" for (cid,) in con.sql(
        f"SELECT content_id FROM {ref} EXCEPT SELECT content_id FROM {sink}").fetchall()]
    fails += [f"unexpected: {cid}" for (cid,) in con.sql(
        f"SELECT content_id FROM {sink} EXCEPT SELECT content_id FROM {ref}").fetchall()]
    fails += [f"differs: {cid} sink=({sl}, {ss!r}) reference=({rl}, {rs!r})"
              for cid, sl, ss, rl, rs in con.sql(
                  f"SELECT s.content_id, s.sentiment_label, s.sentiment_score, "
                  f"r.sentiment_label, r.sentiment_score FROM {sink} s JOIN {ref} r "
                  f"USING (content_id) WHERE s.sentiment_label IS DISTINCT FROM r.sentiment_label "
                  f"OR s.sentiment_score IS DISTINCT FROM r.sentiment_score").fetchall()]
    return fails


def rendered(con, rel):
    """A relation as (sorted column names, normalized rows, per-column
    pandas renderings): the comparison rules of tools/selfcheck.py."""
    cols = sorted(rel.columns)
    proj = rel.project(", ".join(f'"{c}"' for c in cols))
    rows = [[_norm(v) for v in r] for r in proj.fetchall()]
    df = proj.df()
    return {"cols": cols, "rows": rows, "pandas": {c: [str(x) for x in df[c]] for c in cols}}


def oracle_result(con, sql, cache_dir):
    """The oracle's rendered result, cached by the SQL text and tables."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = rendered(con, con.sql(sql))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def compare(spark, oracle):
    """None when two rendered results agree, else the first difference."""
    if spark["cols"] != oracle["cols"]:
        return f"columns {spark['cols']} != {oracle['cols']}"
    if spark["rows"] != oracle["rows"]:
        diffs = [i for i, (a, b) in enumerate(zip(spark["rows"], oracle["rows"])) if a != b]
        return (f"rows {len(spark['rows'])} vs {len(oracle['rows'])}, "
                f"first differing row {diffs[:1]}")
    drift = [c for c in spark["cols"] if spark["pandas"][c] != oracle["pandas"][c]]
    if drift:
        return f"values match but render differently in {drift}"
    return None


def result_of(con, path):
    return rendered(con, con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')"))

