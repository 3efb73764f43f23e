"""Correctness checks, made apart from the engine, and the end-to-end
metrics of a run.

Each check recomputes the expected answer from the generated inputs
(DuckDB over the same tables and files, Python and numpy for Jaccard and
cosine) or compares against the outcome the generator planted. An
operation whose check fails is counted as failed; a failure that no
single operation owns makes the run incorrect.
"""
import glob
import json
import math
import os
import sys
from collections import Counter, defaultdict
from datetime import datetime, timezone
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# the repository's exact oracle comparison, read from its tools directory
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import oracle_check  # noqa: E402

# end-to-end metrics, in BENCHMARK.json order, with their units
END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"),
              ("ops_per_s", "1/s"), ("items_per_s", "1/s")]


# tables each query_mix query scans, for its rows-read throughput
QUERY_TABLES = {"q01": ("events",), "q10": ("events",), "q36": ("events",),
                "q16": ("customer", "orders", "lineitem"),
                "q17": ("region", "nation", "supplier", "customer", "orders", "lineitem")}


def end_to_end(workload, inputs, res):
    if workload == "query_mix":
        rows_of = {t: pq.read_metadata(os.path.join(inputs, "tables", f"{t}.parquet")).num_rows
                   for ts in QUERY_TABLES.values() for t in ts}
        read = sum(rows_of[t] for q in res["ops"] for t in QUERY_TABLES[q[:3]])
        res["items_per_s"] = read / (len(res["ops"]) / res["ops_per_s"])
    return {name: {"value": float(res[name]), "unit": unit}
            for name, unit in END_TO_END}


def rows(path):
    t = pq.read_table(path)
    return t.column_names, t.to_pylist()


# ------------------------------------------------------------- query_mix

def oracle_diff(con, out_dir, name, sql):
    """None if the engine's result equals its oracle SQL's, exactly, by
    the repository's own oracle comparison (tools/oracle_check.py):
    columns by name, floats by their bits, DuckDB decimals read as pandas
    would read them."""
    t = pq.read_table(os.path.join(out_dir, name))
    cols = sorted(t.column_names)
    got = [tuple(r[c] for c in cols) for r in t.select(cols).to_pylist()]
    if not sql:
        return None if got else "empty result without an oracle"
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    if sorted(ocols) != cols:
        return f"columns {cols} vs oracle {sorted(ocols)}"
    perm = [ocols.index(c) for c in cols]
    want = [tuple(float(r[j]) if isinstance(r[j], Decimal) else r[j] for j in perm)
            for r in cur.fetchall()]
    d = oracle_check.compare(got, want, cols)
    return None if d == "OK" else d


def check_query_mix(inputs, run_dir, res):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "tables", "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in res["oracle"].items():
        d = oracle_diff(con, os.path.join(run_dir, "out"), name, sql)
        if d:
            bad[name] = d
    ops = res["ops"]
    return {"attempted": len(ops), "failed": sum(1 for o in ops if o in bad),
            "problems": [f"{q}: {d}" for q, d in bad.items()], "global_ok": True}


# ------------------------------------------------------------- stream_ingest

RULES = {"error": (180.0, 1.0), "signup": (190.0, 0.8)}


def parse_ts(s):
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)


def check_stream_ingest(inputs, run_dir, res):
    sdir = os.path.join(inputs, f"stream-{res['seconds']}")
    with open(os.path.join(sdir, "plan.json")) as f:
        plan = json.load(f)
    very_late = set(plan["very_late_ids"])
    files = res["files"]
    n_warm = plan["warmup_files"]
    paths = [os.path.join(sdir, "warmup", f"w{i:05d}.json") for i in range(n_warm)] + [
        os.path.join(sdir, "steady" if i < plan["steady_files"] else "burst", f)
        for i, f in enumerate(files)]
    recs, owner = [], {}
    for fi, p in enumerate(paths):
        with open(p) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    recs.append(r)
                    owner[r["event_id"]] = max(fi - n_warm, -1)   # -1: set-up
    out = os.path.join(run_dir, "out")
    failed_files, problems = set(), []

    def fail(eid, what):
        problems.append(f"event {eid}: {what}")
        failed_files.add(owner.get(eid, -1))

    required = ("ts", "user_id", "event_type")
    valid = [r for r in recs if all(r[k] is not None for k in required)]

    # quality_checked: every valid record exactly once, with its score
    _, qc = rows(os.path.join(out, "quality_checked"))
    seen = Counter(r["event_id"] for r in qc)
    for r in valid:
        if seen[r["event_id"]] != 1:
            fail(r["event_id"], f"in quality_checked {seen[r['event_id']]} times")
    valid_ids = {r["event_id"] for r in valid}
    for r in qc:
        if r["event_id"] not in valid_ids:
            fail(r["event_id"], "invalid record in quality_checked")
    by_id = {r["event_id"]: r for r in recs}
    for r in qc:
        src = by_id.get(r["event_id"])
        if src is not None:
            want = sum(src[k] is not None for k in
                       ("ts", "user_id", "event_type", "value", "props")) / 5.0
            if abs(r["quality_score"] - want) > 1e-12:
                fail(r["event_id"], f"quality_score {r['quality_score']} vs {want}")

    # anomalies: exactly the rule-matching valid records, scored by rule
    def rule(r):
        t = RULES.get(r["event_type"])
        return t[1] if t and r["value"] is not None and r["value"] > t[0] else 0.0
    want_an = {r["event_id"]: rule(r) for r in valid if rule(r) > 0}
    _, an = rows(os.path.join(out, "anomalies"))
    got_an = Counter(r["event_id"] for r in an)
    for eid, score in want_an.items():
        if got_an[eid] != 1:
            fail(eid, f"anomaly landed {got_an[eid]} times")
    for r in an:
        if r["event_id"] not in want_an:
            fail(r["event_id"], "not an anomaly")
        elif r["anomaly_score"] != want_an[r["event_id"]]:
            fail(r["event_id"], f"anomaly_score {r['anomaly_score']}")

    # no batch landed twice: each landed row's batch id is its only one
    for table, key in (("quality_checked", "event_id"), ("anomalies", "event_id")):
        _, t = rows(os.path.join(out, table))
        batches = defaultdict(set)
        for r in t:
            batches[r[key]].add(r["batch_id"])
        for k, b in batches.items():
            if len(b) > 1:
                fail(k, f"{table}: landed by batches {sorted(b)}")

    # windows: DuckDB recomputes every 1-minute window of the records the
    # watermark admits (valid and not planted behind the watermark)
    con = duckdb.connect()
    win_in = [r for r in valid if r["event_id"] not in very_late]
    con.register("e", pa.table({
        "event_id": pa.array([r["event_id"] for r in win_in], pa.int64()),
        "ts": pa.array([parse_ts(r["ts"]) for r in win_in], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([r["user_id"] for r in win_in], pa.int64()),
        "event_type": pa.array([r["event_type"] for r in win_in], pa.string()),
        "value": pa.array([r["value"] for r in win_in], pa.float64())}))
    con.execute("SET TimeZone = 'UTC'")
    want_w = {(ws, et): (n, avg, users, ids) for ws, et, n, avg, users, ids in con.execute(
        "SELECT epoch_us(time_bucket(INTERVAL 1 MINUTE, ts)) AS ws, event_type, "
        "count(*), avg(value), count(DISTINCT user_id), list(event_id) "
        "FROM e GROUP BY 1, 2").fetchall()}
    _, aw = rows(os.path.join(out, "analytics"))
    got_w = Counter()
    wm_us = int(parse_ts(res["watermark"]).timestamp() * 1e6) if res["watermark"] else 0

    def fail_window(key, what):
        problems.append(f"window {key}: {what}")
        for eid in want_w.get(key, (0, 0, 0, []))[3]:
            failed_files.add(owner.get(eid, -1))

    for r in aw:
        ws = r["window_start"]
        ws = ws if ws.tzinfo else ws.replace(tzinfo=timezone.utc)
        key = (int(ws.timestamp() * 1e6), r["event_type"])
        got_w[key] += 1
        if key not in want_w:
            fail_window(key, "unexpected window")
            continue
        n, avg, users, _ = want_w[key]
        if r["record_count"] != n:
            fail_window(key, f"record_count {r['record_count']} vs {n}")
        if avg is None and r["avg_value"] is not None or avg is not None and (
                r["avg_value"] is None or abs(r["avg_value"] - avg) > 1e-9 * max(1, abs(avg))):
            fail_window(key, f"avg_value {r['avg_value']} vs {avg}")
        # HyperLogLog++ at the default 5 % relative error: allow 3 sigma
        if abs(r["approx_users"] - users) > max(1, math.ceil(0.15 * users)):
            fail_window(key, f"approx_users {r['approx_users']} vs {users}")
    for key, c in got_w.items():
        if c > 1:
            fail_window(key, f"landed {c} times")
    for key in want_w:
        if key[0] + 60_000_000 <= wm_us and got_w[key] == 0:
            fail_window(key, "closed by the watermark but never landed")

    # alerts: every landed alert breaches its rule's threshold
    global_ok = True
    _, al = rows(os.path.join(out, "alerts"))
    breach = {"data_quality": lambda m, t: m < t,
              "low_quality_rate": lambda m, t: m > t,
              "no_data": lambda m, t: m == 0,
              "low_throughput": lambda m, t: m < t,
              "high_anomaly_rate": lambda m, t: m > t,
              "high_latency": lambda m, t: m > t}
    alert_keys = Counter()
    for r in al:
        rule_id = r["alert_id"].rsplit("_", 2)[0]
        alert_keys[(r["alert_id"], r["batch_id"])] += 1
        ok = rule_id in breach and breach[rule_id](r["metric_value"], r["threshold"])
        if not ok:
            problems.append(f"alert {r['alert_id']} does not breach its rule")
            global_ok = False
    if any(c > 1 for c in alert_keys.values()):
        problems.append("an alert landed twice in one batch")
        global_ok = False
    if not all(res["file_committed"]):
        problems.append("a file was never committed")
        global_ok = False
    if -1 in failed_files:     # a warm-up record is set-up, not an operation
        global_ok = False
        failed_files.discard(-1)
    return {"attempted": len(files), "failed": len(failed_files),
            "problems": problems, "global_ok": global_ok}


# ------------------------------------------------------------- curation_step

def shingles(text, n=3):
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def check_curation_step(inputs, run_dir, res):
    cdir = os.path.join(inputs, "curation")
    with open(os.path.join(cdir, "expected.json")) as f:
        exp = json.load(f)
    last = res["last_step"]
    texts = dict(zip(*[pq.read_table(os.path.join(inputs, "tables", "documents.parquet"))
                       .column(c).to_pylist() for c in ("doc_id", "text")]))
    e = pq.read_table(os.path.join(inputs, "tables", "embeddings.parquet"))
    vecs = dict(zip(e.column("vec_id").to_pylist(),
                    np.stack(e.column("embedding").to_numpy(zero_copy_only=False))))
    for s in range(last + 1):
        t = pq.read_table(os.path.join(cdir, f"step{s:03d}_docs.parquet"))
        texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        v = pq.read_table(os.path.join(cdir, f"step{s:03d}_vecs.parquet"))
        vecs.update(zip(v.column("vec_id").to_pylist(),
                        np.stack(v.column("embedding").to_numpy(zero_copy_only=False))))
    out = os.path.join(run_dir, "out")
    failed_steps, problems = set(), []

    def fail(step, what):
        problems.append(f"step {step}: {what}")
        failed_steps.add(step)

    thr = exp["sem_threshold"]
    for kind, fname, idcol in (("docs", "doc_decisions", "doc_id"),
                               ("vecs", "vec_decisions", "vec_id")):
        _, dec = rows(os.path.join(out, fname))
        got = defaultdict(list)
        for r in dec:
            got[r[idcol]].append(r)
        for key, o in exp[kind].items():
            if o["step"] > last:
                continue
            rs = got.get(int(key), [])
            if len(rs) != 1:
                fail(o["step"], f"{kind} {key} decided {len(rs)} times")
                continue
            r = rs[0]
            if "reason" in o:
                if r["keep"] != 0 or o["reason"] not in (r["reasons"] or "").split(","):
                    fail(o["step"], f"{key} ({o['kind']}) kept: {r}")
                continue
            if kind == "docs" and (r["keep"] != 1 or r["curated"] != int(o["status"] == "new")):
                fail(o["step"], f"{key} ({o['kind']}) keep/curated wrong: {r}")
            if r["status"] != o["status"] or r["dup_of"] != o.get("dup_of"):
                fail(o["step"], f"{key} ({o['kind']}) {r['status']}/{r['dup_of']} "
                                f"vs {o['status']}/{o.get('dup_of')}")
        for r in dec:
            step = exp[kind].get(str(r[idcol]), {}).get("step", -1)
            if str(r[idcol]) not in exp[kind]:
                fail(step, f"unplanned {kind} decision {r[idcol]}")
            if r["dup_of"] is None:
                continue
            if kind == "docs":
                j = jaccard(texts[r[idcol]], texts[r["dup_of"]])
                if j < 0.6:
                    fail(step, f"{r[idcol]} ~ {r['dup_of']} has Jaccard {j:.3f}")
            else:
                a = vecs[r[idcol]].astype(np.float64)
                b = vecs[r["dup_of"]].astype(np.float64)
                cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                if cos < thr:
                    fail(step, f"{r[idcol]} ~ {r['dup_of']} has cosine {cos:.4f}")

    # stores: bootstrap rows, minus the retention cut, plus the admitted
    global_ok = True
    _, dd = rows(os.path.join(out, "doc_decisions"))
    _, vd = rows(os.path.join(out, "vec_decisions"))
    want_lex = Counter([i for i in range(exp["bench_cut"], exp["corpus_docs"]) if i % 7 != 0] +
                       [r["doc_id"] for r in dd if r["keep"] == 1 and r["status"] == "new"
                        and len(shingles(texts[r["doc_id"]])) > 0])
    want_sem = Counter([i for i in range(exp["corpus_vecs"]) if i % 7 != 0] +
                       [r["vec_id"] for r in vd if r["status"] == "new"])
    for store, want in (("lexical_ids", want_lex), ("semantic_ids", want_sem)):
        _, ids = rows(os.path.join(out, store))
        got = Counter(r["id"] for r in ids)
        if got != want:
            extra = sorted((got - want).elements())[:5]
            missing = sorted((want - got).elements())[:5]
            problems.append(f"{store}: {sum(got.values())} rows vs {sum(want.values())} "
                            f"expected; extra {extra} missing {missing}")
            global_ok = False
    if -1 in failed_steps:     # a decision no step planned
        global_ok = False
    return {"attempted": last + 1,
            "failed": len([s for s in failed_steps if s >= 0]),
            "problems": problems, "global_ok": global_ok}


def check(workload, inputs, run_dir, res):
    v = {"query_mix": check_query_mix, "stream_ingest": check_stream_ingest,
         "curation_step": check_curation_step}[workload](inputs, run_dir, res)
    for p in v["problems"][:20]:
        print(f"[perfbench] check: {p}", file=sys.stderr)
    return {"correct": v["global_ok"], "attempted": v["attempted"],
            "failed": v["failed"]}
