"""Per-layer metrics from a traced run's spans and span counters.

Every value is per operation: per batch on ``ingest_*`` and per pass over
the gate list on ``analytics_mix``, averaged over the traced operations
(a traced run traces every second operation; the others give the
untraced latency that tracing overhead is measured against). Layers a
workload leaves idle report 0.
"""
import json
import statistics
from collections import defaultdict
from pathlib import Path

# Modules of the frozen analytics_mix gates, in first-seen order.
GATES = json.loads((Path(__file__).resolve().parent / "mix_gates.json").read_text())["gates"]
MODULES = list(dict.fromkeys(GATES.values()))

# name -> unit, in report order; BENCHMARK.json lists the same names.
METRICS = {
    "runner.jobs": "count", "runner.driver_s": "s",
    "scan.records": "count", "scan.bytes": "bytes", "scan.tasks": "count",
    "scan.busy_s": "s",
    "transform.busy_s": "s", "transform.shuffle_bytes": "bytes",
    "transform.rows_out_per_in": "ratio", "transform.dim_rows_rewritten": "count",
    "transform.dim_rows_added": "count", "transform.dim_added_per_rewritten": "ratio",
    "expr.uuid5_keys": "count", "expr.uuid5_busy_s": "s",
    "sinks.busy_s": "s", "sinks.bytes_written": "bytes",
    "sinks.files_written": "count", "sinks.rotations": "count",
    "validate.busy_s": "s", "validate.rows_scanned": "count",
    "validate.violations": "count",
    "table.loads": "count", "table.cache_hits": "count",
    "queries.plan_s": "s",
    **{f"queries.{m}.{k}": u for m in MODULES for k, u in (
        ("busy_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
        ("peak_exec_mb", "MB"))},
    "spark.tasks": "count", "spark.gc_s": "s", "spark.scheduler_delay_s": "s",
    "spark.spill_bytes": "bytes",
    "self.batch_s": "s", "self.runner_s": "s", "self.validate_s": "s",
    "self.pass_s": "s", "self.gate_s": "s", "self.plan_s": "s", "self.exec_s": "s",
    "trace.overhead_s": "s",
}


def _union(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Spans:
    def __init__(self, spans):
        self.all = spans
        self.kids = defaultdict(list)
        for s in spans:
            self.kids[s["parent"]].append(s)

    def named(self, name):
        return [s for s in self.all if s["name"] == name]

    def subtree(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += self.kids[x["id"]]
        return out

    def total(self, roots, field):
        return sum(x[field] for r in roots for x in self.subtree(r))

    @staticmethod
    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def self_s(self, s):
        """Duration not covered by child spans."""
        ch = [(c["start_ns"], c["end_ns"]) for c in self.kids[s["id"]]]
        return self.dur(s) - _union(ch, s["start_ns"], s["end_ns"]) / 1e9


def overhead(ops):
    traced = [o["latency_s"] for o in ops if o["traced"]]
    plain = [o["latency_s"] for o in ops if not o["traced"]]
    if not traced or not plain:
        return None, f"needs traced and untraced operations (have {len(traced)}/{len(plain)})"
    d = statistics.median(traced) - statistics.median(plain)
    return d, (f"{d:+.4f} s per operation (median traced {statistics.median(traced):.4f} s "
               f"over {len(traced)} vs untraced {statistics.median(plain):.4f} s over {len(plain)})")


def per_layer(res, workload):
    sp = Spans(res.get("spans", []))
    v = {k: 0.0 for k in METRICS}
    if workload == "analytics_mix":
        ops = [o for o in res["ops"] if o["kind"] == "pass"]
        _mix(v, sp, res)
    else:
        ops = [o for o in res["ops"] if o["kind"] == "batch"]
        _ingest(v, sp, res, ops, backfill=workload == "ingest_backfill")
    v["trace.overhead_s"], note = overhead(ops)
    return {k: (v[k], u) for k, u in METRICS.items()}, note


def _ingest(v, sp, res, batches, backfill):
    roots = sp.named("batch")
    n = len(roots)
    if not n:
        return
    off = res["nano_epoch_ms"]
    runners = sp.named("runner")
    v["runner.jobs"] = sp.total(runners, "jobs") / n
    driver = 0.0
    for r in runners:
        lo, hi = r["start_ns"] / 1e6 + off, r["end_ns"] / 1e6 + off
        jobs = [iv for x in sp.subtree(r) for iv in x["job_ms"]]
        driver += Spans.dur(r) - _union(jobs, lo, hi) / 1e3
    v["runner.driver_s"] = driver / n

    def probe(name, key):
        ps = sp.named(name)
        return sp.total(ps, key) / len(ps) if ps else 0.0
    v["scan.records"] = probe("probe.scan", "in_records")
    v["scan.bytes"] = probe("probe.scan", "in_bytes")
    v["scan.tasks"] = probe("probe.scan", "tasks")
    v["scan.busy_s"] = probe("probe.scan", "run_s")
    v["transform.busy_s"] = probe("probe.transform", "run_s")
    v["transform.shuffle_bytes"] = probe("probe.transform", "shuffle_write")
    v["expr.uuid5_busy_s"] = probe("probe.expr", "run_s")
    ex = sp.named("probe.expr")
    v["expr.uuid5_keys"] = sum(int(s["attrs"]["keys"]) for s in ex) / len(ex) if ex else 0.0
    v["sinks.busy_s"] = probe("probe.sinks", "run_s")
    v["sinks.bytes_written"] = sp.total(runners, "out_bytes") / n

    traced = [b for b in batches if b["traced"] and not b["error"]]
    rw, added, rin, rout = 0, 0, 0, 0
    prev_dim = 0  # backfill batches each start from an empty warehouse
    for b in batches:
        aud = {a["entity"]: a for a in b["audits"]}
        dim = sum(aud[e]["out"] for e in ("owners", "users") if e in aud)
        if b["traced"] and not b["error"]:
            rw += dim
            added += dim - (0 if backfill else prev_dim)
            rin += sum(aud[e]["in"] for e in ("repos", "branches", "issues"))
            rout += sum(aud[e]["out"] for e in ("repos", "branches", "issues"))
        prev_dim = dim
    if traced:
        k = len(traced)
        v["transform.dim_rows_rewritten"] = rw / k
        v["transform.dim_rows_added"] = added / k
        v["transform.dim_added_per_rewritten"] = added / rw if rw else 0.0
        v["transform.rows_out_per_in"] = rout / rin if rin else 0.0
        v["sinks.files_written"] = sum(b["files_written"] for b in traced) / k
        v["sinks.rotations"] = sum(b["rotations"] for b in traced) / k
        v["validate.violations"] = sum(sum(b["violations"].values()) for b in traced) / k
    vals = sp.named("validate")
    v["validate.busy_s"] = sp.total(vals, "run_s") / n
    v["validate.rows_scanned"] = sp.total(vals, "in_records") / n
    _spark(v, sp, roots, n)
    v["self.batch_s"] = sum(sp.self_s(s) for s in roots) / n
    v["self.runner_s"] = sum(sp.self_s(s) for s in runners) / n
    v["self.validate_s"] = sum(sp.self_s(s) for s in vals) / n


def _mix(v, sp, res):
    roots = sp.named("pass")
    n = len(roots)
    if not n:
        return
    traced_gates = [o for o in res["ops"] if o["kind"] == "gate" and o["traced"]]
    v["queries.plan_s"] = sum(o["plan_s"] for o in traced_gates) / n
    v["table.loads"] = sum(o["table_loads"] for o in traced_gates) / n
    v["table.cache_hits"] = sum(o["table_calls"] - o["table_loads"] for o in traced_gates) / n
    for m in MODULES:
        gs = sp.named(f"queries.{m}")
        if not gs:
            continue
        v[f"queries.{m}.busy_s"] = sp.total(gs, "run_s") / n
        v[f"queries.{m}.shuffle_bytes"] = sp.total(gs, "shuffle_write") / n
        v[f"queries.{m}.spill_bytes"] = sp.total(gs, "spill") / n
        v[f"queries.{m}.peak_exec_mb"] = max(
            x["peak_exec"] for g in gs for x in sp.subtree(g)) / 1048576.0
    _spark(v, sp, roots, n)
    gate_spans = [s for s in sp.all if s["name"].startswith("queries.")]
    v["self.pass_s"] = sum(sp.self_s(s) for s in roots) / n
    v["self.gate_s"] = sum(sp.self_s(s) for s in gate_spans) / n
    v["self.plan_s"] = sum(sp.self_s(s) for s in sp.named("plan")) / n
    v["self.exec_s"] = sum(sp.self_s(s) for s in sp.named("exec")) / n


def _spark(v, sp, roots, n):
    v["spark.tasks"] = sp.total(roots, "tasks") / n
    v["spark.gc_s"] = sp.total(roots, "gc_s") / n
    v["spark.scheduler_delay_s"] = sp.total(roots, "sched_delay_s") / n
    v["spark.spill_bytes"] = sp.total(roots, "spill") / n
