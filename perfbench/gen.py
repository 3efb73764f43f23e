"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here, from `--seed`
alone, before the JVM starts, and cached per seed: the same seed always
gives byte-identical inputs, and generation never counts as set-up.

Layout of one seed's cache directory:

  tables/<name>.parquet   the ten engine tables in the sf0.01 shape
  stream-<n>/             stream_ingest input for an n-second run:
      warmup/w<i>.json    the files every set-up feeds first
      steady/s<i>.json    JSON-lines files fed one every STREAM_INTERVAL_S
      burst/b<i>.json     files fed all at once after the steady phase
      plan.json           the feed schedule and the planted records
  curation/               curation_step input:
      step<k>_docs.parquet, step<k>_vecs.parquet
      expected.json       the planted outcome of every batch item

The generator records each planted item's expected outcome; the checks
in check.py compare the engine's outputs against those outcomes and
against recomputations, never against a saved copy of engine output.
"""
import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

# sf0.01 row counts: at this size a query's driver-side work (DataFrame
# construction, schema inference, planning) outweighs its tasks, which is
# the read path query_mix measures; it also keeps a run inside its budget
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 5000,
        "embeddings": 2000}
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

# curation corpus: ids below BENCH_CUT are the decontamination benchmark,
# the rest is the standing corpus both stores are bootstrapped from
BENCH_CUT = 25
# both stores are bootstrapped from the first rows only, so that set-up
# and a step's store reads stay small: documents BENCH_CUT..CORPUS_DOCS-1
# and vectors 0..CORPUS_VECS-1
CORPUS_DOCS = 1000
CORPUS_VECS = 500
N_VOCAB = 4000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def vocabulary(rng):
    """Alphabetic pseudo-words, so no word looks like a number, an email
    address or any other pattern the PII scrub rewrites."""
    syll = ["ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na",
            "pe", "ri", "so", "tu", "va", "we", "xi", "yo", "zu"]
    words = set()
    while len(words) < N_VOCAB:
        k = rng.integers(2, 5)
        words.add("".join(syll[j] for j in rng.integers(0, len(syll), k)))
    return sorted(words)


def make_tables(rng, out, vocab):
    os.makedirs(out)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    write("customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n = ROWS["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    adj = ["large", "small", "hot", "blue", "red", "green", "cold", "shiny"]
    noun = ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "nut"]
    write("part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})
    n = ROWS["orders"]
    write("orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n)]})
    n = ROWS["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n)})
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    write("events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    words = np.array(vocab)
    texts = [" ".join(words[rng.integers(0, N_VOCAB, rng.integers(40, 91))])
             for _ in range(n)]
    write("documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n = ROWS["embeddings"]
    emb = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


# ---------------------------------------------------------------- stream

STREAM_INTERVAL_S = 0.2     # one steady file every 200 ms
STREAM_RECORDS = 40         # records per steady file
WARMUP_FILES = 8            # set-up: one file alone, then the other seven at once
BURST_FILES = 60
BURST_RECORDS = 200
EVENT_SPAN_S = 6.0          # event time one file advances the stream by
STREAM_T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
WARMUP_T0 = STREAM_T0 - timedelta(minutes=10)
LATE_FROM_FILE = 20         # very late records only from this timed file on
WARMUP_ID0 = 900_000_000


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _stream_file(rng, path, t0, seq, eid, n, very_late):
    """One JSON-lines file of n records from event id eid on, covering
    EVENT_SPAN_S of event time from t0 + seq * EVENT_SPAN_S, with the
    planted records; returns the next event id."""
    base = t0 + timedelta(seconds=seq * EVENT_SPAN_S)
    lines = []
    for j in range(n):
        rec = {"event_id": eid,
               "ts": base + timedelta(microseconds=int(
                   rng.integers(0, int(EVENT_SPAN_S * 1e6)))),
               "user_id": int(rng.integers(0, 300)),
               "event_type": EVENT_TYPES[rng.integers(0, 5)],
               "value": float(np.round(rng.exponential(40.0), 2)),
               "props": f'{{"k": {int(rng.integers(0, 100))}}}'}
        kind = j % 20
        if kind == 1:      # null required field, one of the three in turn
            rec[["ts", "user_id", "event_type"][(eid // 20) % 3]] = None
        elif kind == 2:    # rule-breaking value
            rec["event_type"] = "error" if (eid // 20) % 2 else "signup"
            rec["value"] = float(np.round(rng.uniform(195.0, 400.0), 2))
        elif kind == 3:    # null optional field
            rec["value" if (eid // 20) % 2 else "props"] = None
        elif kind == 4 and seq > 0:   # late, inside the watermark
            rec["ts"] = base - timedelta(seconds=float(rng.uniform(30, 60)))
        elif kind == 5 and very_late is not None and seq >= LATE_FROM_FILE:
            # behind the watermark
            rec["ts"] = STREAM_T0 - timedelta(hours=1) + timedelta(seconds=seq)
            very_late.append(eid)
        if rec["ts"] is not None:
            rec["ts"] = _iso(rec["ts"])
        lines.append(json.dumps(rec, separators=(",", ":")))
        eid += 1
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return eid


def make_stream(rng, out, seconds):
    """Warm-up files, steady files, then a burst. Each file advances
    event time by EVENT_SPAN_S. Planted in every file: records with a
    null required field (dropped by the quality stage), rule-breaking
    values (anomaly rows), records with a null optional field, records
    up to 60 s late (inside the 2-minute watermark, so always windowed)
    and, from timed file LATE_FROM_FILE on, records an hour late (behind
    the watermark, so never windowed). The warm-up files run ten minutes
    of event time ahead of the timed stream, with their own id range."""
    n_steady = int(round(seconds / STREAM_INTERVAL_S))
    for d in ("warmup", "steady", "burst"):
        os.makedirs(os.path.join(out, d))
    eid = WARMUP_ID0
    for i in range(WARMUP_FILES):
        eid = _stream_file(rng, os.path.join(out, "warmup", f"w{i:05d}.json"),
                           WARMUP_T0, i, eid, STREAM_RECORDS, None)
    files = [("steady", i, STREAM_RECORDS) for i in range(n_steady)] + \
            [("burst", i, BURST_RECORDS) for i in range(BURST_FILES)]
    eid = 0
    very_late = []
    for seq, (phase, i, n) in enumerate(files):
        eid = _stream_file(rng, os.path.join(out, phase, f"{phase[0]}{i:05d}.json"),
                           STREAM_T0, seq, eid, n, very_late)
    plan = {"interval_s": STREAM_INTERVAL_S, "warmup_files": WARMUP_FILES,
            "steady_files": n_steady, "burst_files": BURST_FILES, "records": eid,
            "burst_records": BURST_FILES * BURST_RECORDS,
            "very_late_ids": very_late}
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)


# ---------------------------------------------------------------- curation

CUR_STEPS = 12          # batches available; a run uses as many as it needs
CUR_FRESH = 24          # fresh documents per batch
CUR_VEC_FRESH = 20      # fresh vectors per batch
CUR_PLANTED = 4         # items of each planted kind per batch
SEM_THRESHOLD = 0.9     # cosine threshold of the semantic probe
COMPACT_AT = 0          # both stores are compacted after this step
DOC_ID0 = 1_000_000     # batch document ids: DOC_ID0 + step*1000 + j
VEC_ID0 = 100_000       # batch vector ids:   VEC_ID0 + step*1000 + j


def compacted_out(i):
    """The retention cut: bootstrap rows whose id is a multiple of 7."""
    return i < DOC_ID0 and i < VEC_ID0 and i % 7 == 0


def _perturb(rng, words, vocab, k):
    """Replace k well-separated words: with ~60 words this keeps the
    3-shingle Jaccard near 0.8, far above the 0.6 threshold."""
    w = list(words)
    for p in np.linspace(3, len(w) - 4, k).astype(int):
        w[p] = vocab[rng.integers(0, len(vocab))]
    return w


def make_curation(rng, out, vocab, texts, emb):
    os.makedirs(out)
    words = np.array(vocab)
    corpus_ids = [i for i in range(BENCH_CUT, CORPUS_DOCS) if not compacted_out(i)]
    vec_corpus = [i for i in range(CORPUS_VECS) if not compacted_out(i)]
    rng.shuffle(corpus_ids)
    rng.shuffle(vec_corpus)
    corpus_it, vec_it = iter(corpus_ids), iter(vec_corpus)
    bench_words = [texts[i].split() for i in range(BENCH_CUT)]
    expected = {"docs": {}, "vecs": {}, "steps": CUR_STEPS,
                "compact_at": COMPACT_AT, "sem_threshold": SEM_THRESHOLD,
                "bench_cut": BENCH_CUT, "corpus_docs": CORPUS_DOCS,
                "corpus_vecs": CORPUS_VECS}
    prev_fresh_docs, prev_fresh_vecs = [], []
    for s in range(CUR_STEPS):
        docs, vecs = [], []
        next_id = DOC_ID0 + s * 1000

        def add_doc(words, outcome):
            nonlocal next_id
            docs.append((next_id, " ".join(words)))
            expected["docs"][str(next_id)] = dict(outcome, step=s)
            next_id += 1
            return next_id - 1

        def fresh_words():
            return list(words[rng.integers(0, len(vocab), rng.integers(50, 71))])

        fresh = []
        for _ in range(CUR_FRESH):
            fw = fresh_words()
            fresh.append((add_doc(fw, {"kind": "fresh", "status": "new"}), fw))
        for _ in range(CUR_PLANTED):
            c = next(corpus_it)
            add_doc(texts[c].split(), {"kind": "exact_corpus",
                                       "status": "dup_of_corpus", "dup_of": c})
        for _ in range(CUR_PLANTED):
            c = next(corpus_it)
            add_doc(_perturb(rng, texts[c].split(), vocab, 2),
                    {"kind": "near_corpus", "status": "dup_of_corpus", "dup_of": c})
        for fid, fw in fresh[:CUR_PLANTED]:
            add_doc(fw, {"kind": "exact_in_batch", "status": "dup_in_batch",
                         "dup_of": fid})
        for fid, fw in prev_fresh_docs[CUR_PLANTED:2 * CUR_PLANTED]:
            add_doc(_perturb(rng, fw, vocab, 2),
                    {"kind": "near_admitted", "status": "dup_of_corpus",
                     "dup_of": fid})
        for _ in range(CUR_PLANTED):
            add_doc(list(words[rng.integers(0, len(vocab), 10)]),
                    {"kind": "too_short", "reason": "too_short"})
        for _ in range(CUR_PLANTED):
            fw = fresh_words()
            b = bench_words[rng.integers(0, BENCH_CUT)]
            p = rng.integers(0, len(b) - 5)
            add_doc(fw[:20] + b[p:p + 5] + fw[20:],
                    {"kind": "contaminated", "reason": "contaminated"})
        prev_fresh_docs = fresh

        vid = VEC_ID0 + s * 1000

        def add_vec(v, outcome):
            nonlocal vid
            vecs.append((vid, v))
            expected["vecs"][str(vid)] = dict(outcome, step=s)
            vid += 1
            return vid - 1

        def near(v):
            return (v + rng.standard_normal(EMB_DIM).astype(np.float32) * 0.002)

        fresh_v = []
        for _ in range(CUR_VEC_FRESH):
            v = rng.standard_normal(EMB_DIM).astype(np.float32)
            v /= np.linalg.norm(v)
            fresh_v.append((add_vec(v, {"kind": "fresh", "status": "new"}), v))
        for _ in range(CUR_PLANTED):
            c = next(vec_it)
            add_vec(near(emb[c]), {"kind": "near_corpus", "status": "dup_of_corpus",
                                   "dup_of": c})
        for fid, v in fresh_v[:CUR_PLANTED]:
            add_vec(near(v), {"kind": "near_in_batch", "status": "dup_in_batch",
                              "dup_of": fid})
        for fid, v in prev_fresh_vecs[CUR_PLANTED:2 * CUR_PLANTED]:
            add_vec(near(v), {"kind": "near_admitted", "status": "dup_of_corpus",
                              "dup_of": fid})
        prev_fresh_vecs = fresh_v

        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs]}),
            os.path.join(out, f"step{s:03d}_docs.parquet"))
        pq.write_table(pa.table({
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array([list(v[1]) for v in vecs], pa.list_(pa.float32()))}),
            os.path.join(out, f"step{s:03d}_vecs.parquet"))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


# ---------------------------------------------------------------- entry


def _atomic(dst, build):
    """Build into a temporary sibling, then rename: a cache directory is
    either complete or absent."""
    if os.path.isdir(dst):
        return
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    try:
        os.rename(tmp, dst)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(dst):
            raise


def ensure_inputs(cache, seed, workload, seconds):
    """Generate (once) and return the input directory for a run."""
    # keyed by this file's content too, so an edited generator never
    # reuses stale inputs
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    root = os.path.join(cache, f"seed-{seed}-{version}")
    os.makedirs(root, exist_ok=True)
    # each input family draws from its own stream of the seed, so a
    # family is the same whichever workload generated it first
    vocab = vocabulary(np.random.default_rng([seed, 0]))
    if workload in ("query_mix", "curation_step"):
        _atomic(os.path.join(root, "tables"),
                lambda tmp: make_tables(np.random.default_rng([seed, 1]), tmp, vocab))
    if workload == "stream_ingest":
        _atomic(os.path.join(root, f"stream-{seconds}"),
                lambda tmp: make_stream(np.random.default_rng([seed, 2]), tmp, seconds))
    if workload == "curation_step":
        def cur(tmp):
            t = pq.read_table(os.path.join(root, "tables", "documents.parquet"))
            e = pq.read_table(os.path.join(root, "tables", "embeddings.parquet"))
            emb = np.stack(e.column("embedding").to_numpy(zero_copy_only=False))
            make_curation(np.random.default_rng([seed, 3]), tmp, vocab,
                          t.column("text").to_pylist(), emb)
        _atomic(os.path.join(root, "curation"), cur)
    return root
