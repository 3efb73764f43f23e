"""Per-layer metrics of a traced run, computed from its spans.

A span is a benchmark call into a layer (`call`), a Spark job or stage
the listener saw (`job`, `stage`: a job hangs under the call span open
when it started, a stage under its job), the Catalyst phases of one
executed query (`qe`, placed under the call span whose interval holds
it) or one streaming micro-batch (`batch`, with the engine's own
duration breakdown). Every workload reports every metric of
PER_LAYER; a layer the workload never calls reads 0 there.
"""
import json
import sys
from collections import defaultdict

# the per-layer metrics of BENCHMARK.json, in its order
PER_LAYER = [
    ("queries.build_ms", "ms"), ("queries.plan_ms", "ms"),
    ("queries.exec_ms", "ms"), ("queries.driver_gap_ms", "ms"),
    ("queries.jobs", "count"), ("queries.stages", "count"),
    ("queries.tasks", "count"), ("queries.task_cpu_ms", "ms"),
    ("queries.shuffle_bytes", "B"), ("queries.spill_bytes", "B"),
    ("sources.load_ms", "ms"),
    ("streaming.trigger_ms", "ms"), ("streaming.get_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.jobs_per_batch", "count"),
    ("streaming.backlog_files_max", "count"), ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "B"), ("streaming.task_cpu_ms", "ms"),
    ("streaming.generator_late_ms", "ms"),
    ("sources.jdbc_add_batch_ms", "ms"), ("monitoring.alerts_add_batch_ms", "ms"),
    ("pipelines.step_ms", "ms"), ("pipelines.decisions_ms", "ms"),
    ("pipelines.jobs_per_step", "count"), ("pipelines.driver_gap_ms", "ms"),
    ("operators.sem_probe_ms", "ms"), ("operators.sem_append_ms", "ms"),
    ("operators.sem_jobs_per_step", "count"), ("operators.compact_ms", "ms"),
    ("operators.store_init_ms", "ms"), ("operators.store_files", "count"),
    ("operators.store_mb", "MB"), ("operators.task_cpu_ms", "ms"),
    ("operators.shuffle_bytes", "B"), ("jvm.heap_live_mb", "MB"),
]


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def dur(s):
    return s["end"] - s["start"]


class Tree:
    def __init__(self, spans):
        self.spans = spans
        self.kids = defaultdict(list)
        for s in spans:
            self.kids[s["parent"]].append(s)
        calls = [s for s in spans if s["kind"] == "call"]
        # a query execution's phases belong to the innermost call span
        # that holds them
        for q in (s for s in spans if s["kind"] == "qe"):
            holders = [c for c in calls if c["start"] <= q["start"] and q["end"] <= c["end"]]
            if holders:
                self.kids[max(holders, key=lambda c: c["start"])["id"]].append(q)

    def under(self, span, kind):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            for k in self.kids[s["id"]]:
                if k["kind"] == kind:
                    out.append(k)
                todo.append(k)
        return out

    def stage_sum(self, spans, stat):
        return sum(st["stats"].get(stat, 0.0)
                   for s in spans for j in self.under(s, "job")
                   for st in self.kids[j["id"]] if st["kind"] == "stage")

    def gap(self, span):
        """Time in `span` with no job of its subtree running."""
        iv = sorted((max(j["start"], span["start"]), min(j["end"], span["end"]))
                    for j in self.under(span, "job") if j["end"] == j["end"])
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return dur(span) - busy


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def calls(spans, layer, prefix):
    return [s for s in spans if s["kind"] == "call" and s["layer"] == layer
            and s["name"].startswith(prefix)]


def query_mix(t, res):
    ops = [s for s in calls(t.spans, "queries", "q")]
    n = max(len(ops), 1)
    plan = sum(q["stats"].get(k, 0.0) for o in ops for q in t.under(o, "qe")
               for k in ("analysis_ms", "optimization_ms", "planning_ms"))
    execs = calls(t.spans, "queries", "exec:")
    return {
        "queries.build_ms": mean(dur(s) for s in calls(t.spans, "queries", "build:")),
        "queries.plan_ms": plan / n,
        "queries.exec_ms": (sum(dur(s) for s in execs) - plan) / n,
        "queries.driver_gap_ms": mean(t.gap(o) for o in ops),
        "queries.jobs": sum(len(t.under(o, "job")) for o in ops) / n,
        "queries.stages": sum(len(t.under(o, "stage")) for o in ops) / n,
        "queries.tasks": t.stage_sum(ops, "tasks") / n,
        "queries.task_cpu_ms": t.stage_sum(ops, "cpu_ms") / n,
        "queries.shuffle_bytes": t.stage_sum(ops, "shuffle_bytes") / n,
        "queries.spill_bytes": t.stage_sum(ops, "spill_bytes") / n,
        "sources.load_ms": mean(dur(s) for s in calls(t.spans, "sources", "load:")),
    }


def stream_ingest(t, res):
    timed = calls(t.spans, "streaming", "timed")[0]
    batches = [s for s in t.spans if s["kind"] == "batch" and s["end"] >= timed["start"]]
    data = [b for b in batches if b["stats"].get("rows", 0) > 0]
    jobs = [s for s in t.spans if s["kind"] == "job" and s["parent"] == -1
            and s["start"] >= timed["start"] and s["name"]]
    cpu = sum(st["stats"].get("cpu_ms", 0.0) for j in jobs
              for st in t.kids[j["id"]] if st["kind"] == "stage")
    nb = max(len(batches), 1)

    def stat(bs, k):
        return mean(b["stats"].get(k, 0.0) for b in bs)
    sinks = [b for b in data if b["name"] != "alerts"]
    analytics = [b for b in batches if b["name"] == "analytics"]
    return {
        "streaming.trigger_ms": stat(data, "triggerExecution_ms"),
        "streaming.get_batch_ms": stat(data, "getBatch_ms"),
        "streaming.planning_ms": stat(data, "queryPlanning_ms"),
        "streaming.wal_commit_ms": stat(data, "walCommit_ms"),
        "streaming.batches": len(batches),
        "streaming.jobs_per_batch": len(jobs) / nb,
        "streaming.backlog_files_max": res["backlog_files_max"],
        "streaming.state_rows": max((b["stats"].get("state_rows", 0) for b in analytics), default=0),
        "streaming.state_bytes": max((b["stats"].get("state_bytes", 0) for b in analytics), default=0),
        "streaming.task_cpu_ms": cpu / nb,
        "streaming.generator_late_ms": res["generator_late_ms"],
        "sources.jdbc_add_batch_ms": stat(sinks, "addBatch_ms"),
        "monitoring.alerts_add_batch_ms": stat([b for b in data if b["name"] == "alerts"],
                                               "addBatch_ms"),
    }


def curation_step(t, res):
    steps = [s for s in calls(t.spans, "pipelines", "step:")]
    n = max(len(steps), 1)
    inc = [s for s in calls(t.spans, "pipelines", "incrementalStep:")]
    dec = [s for s in calls(t.spans, "pipelines", "decisions:")]
    probe = [s for s in calls(t.spans, "operators", "semProbe:")]
    append = [s for s in calls(t.spans, "operators", "semAppend:")]
    inits = sorted(dur(s) for s in calls(t.spans, "operators", "storeInit"))
    return {
        "pipelines.step_ms": mean(dur(s) for s in inc),
        "pipelines.decisions_ms": mean(dur(s) for s in dec),
        "pipelines.jobs_per_step": sum(len(t.under(s, "job")) for s in inc + dec) / n,
        "pipelines.driver_gap_ms": sum(t.gap(s) for s in inc + dec) / n,
        "operators.sem_probe_ms": mean(dur(s) for s in probe),
        "operators.sem_append_ms": mean(dur(s) for s in append),
        "operators.sem_jobs_per_step": sum(len(t.under(s, "job")) for s in probe + append) / n,
        "operators.compact_ms": sum(dur(s) for s in calls(t.spans, "operators", "compact")),
        "operators.store_init_ms": inits[len(inits) // 2] if inits else 0.0,
        "operators.store_files": res["store_files"],
        "operators.store_mb": res["store_mb"],
        "operators.task_cpu_ms": t.stage_sum(steps, "cpu_ms") / n,
        "operators.shuffle_bytes": t.stage_sum(steps, "shuffle_bytes") / n,
    }


def metrics(workload, spans, res):
    t = Tree(spans)
    got = {"query_mix": query_mix, "stream_ingest": stream_ingest,
           "curation_step": curation_step}[workload](t, res)
    got["jvm.heap_live_mb"] = res["heap_live_mb"]
    return {name: {"value": float(got.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER}


def print_self_times(spans):
    """Each layer's self time: its call spans' time minus their child
    calls' time, summed; listed on stderr."""
    kids = defaultdict(float)
    for s in spans:
        if s["kind"] == "call" and s["parent"] >= 0:
            kids[s["parent"]] += dur(s)
    self_ms = defaultdict(float)
    for s in spans:
        if s["kind"] == "call":
            self_ms[s["layer"]] += dur(s) - kids[s["id"]]
    for layer, ms in sorted(self_ms.items(), key=lambda kv: -kv[1]):
        print(f"[perfbench] self time {layer:12s} {ms:10.1f} ms", file=sys.stderr)
