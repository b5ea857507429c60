"""Output checks and metrics for one benchmark run, from the JVM's raw report.

The report holds the timed ops (kind, name, start/end ns, error, per-op data)
and, in a traced run, the spans the harness recorded around each call into a
layer plus the Spark job intervals. Nothing here touches the JVM.
"""

import json
import math
import os
from statistics import geometric_mean


class Checks:
    def __init__(self):
        self.messages = []
        self.attempted = 0
        self.failed = 0

    @property
    def ok(self):
        return not self.messages

    def op(self, name, problems):
        """Count one op; ``problems`` is a list of failure messages."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.messages += [f"{name}: {p}" for p in problems]

    def run(self, problems):
        """A whole-run check: fails the run without being an op."""
        self.messages += problems


def _ops(rep, *kinds):
    return [o for o in rep["ops"] if o["kind"] in kinds]


def check(workload, rep, truth, plan):
    c = Checks()
    if workload == "queries_mix":
        frozen = truth["queries"]
        for o in _ops(rep, "query"):
            want = frozen[o["name"]]["digest"]
            if o["error"]:
                c.op(o["name"], [o["error"]])
                continue
            p = [] if o["digest"] == want else [f"digest {o['digest']} != frozen {want}"]
            # traced: the consuming action is a SQL execution, so its planning shows
            if o.get("plan_ms", 1) <= 0:
                p.append("traced run recorded no planning time")
            c.op(o["name"], p)
        return c

    deliveries = truth["deliveries"]
    ops = _ops(rep, "delivery")
    if len(ops) != len(deliveries):
        c.run([f"{len(ops)} delivery ops for {len(deliveries)} deliveries"])
    if workload == "etl_incremental":
        all_originals = set()
        for o, d in zip(ops, deliveries):
            originals = set(d["original_ids"])
            all_originals |= originals
            if o["error"]:
                c.op(o["name"], [o["error"]])
                continue
            got = set(o["survivor_ids"])
            c.op(o["name"], [] if got == originals else [
                f"{len(got)} survivors, planted truth {len(originals)} "
                f"(unexpected {sorted(got - originals)[:5]}, missing {sorted(originals - got)[:5]})"])
        for d in truth["warm"]:
            all_originals |= set(d["original_ids"])
        curated = _curated_ids(os.path.join(plan["out_dir"], "curated"))
        problems = []
        kept = set(curated)
        if sorted(curated) != sorted(all_originals):
            problems.append(f"curated output holds {len(curated)} docs, planted truth {len(all_originals)}")
        both = [p for d in truth["warm"] + deliveries for p in d["dup_pairs"]
                if p[0] in kept and p[1] in kept]
        if both:
            problems.append(f"{len(both)} planted duplicate pairs both survived, e.g. {both[:3]}")
        c.run(problems)
        return c

    # etl_finance_ml
    keys = {tuple(k) for d in truth["warm"] for k in d["loaded_keys"]}
    for o, d in zip(ops, deliveries):
        loaded_keys = d["loaded_keys"]
        keys |= {tuple(k) for k in loaded_keys}
        if o["error"]:
            c.op(o["name"], [o["error"]])
        else:
            c.op(o["name"], [] if o["table_rows"] == len(keys) else
                 [f"table holds {o['table_rows']} rows, expected {len(keys)}"])
    want = {(s, day + "T00:00:00Z"): vals for s, day, *vals in truth["table"]}
    got = {(s, day): vals for s, day, *vals in rep.get("table", [])}
    problems = []
    if set(got) != set(want):
        problems.append(f"table keys: {len(got)} rows, expected {len(want)} "
                        f"(distinct (symbol, date) pairs delivered past warm-up)")
    else:
        bad = [k for k in want if any(
            (a is None) != (b is None) or (a is not None and abs(a - b) > 1e-9 * max(1.0, abs(b)))
            for a, b in zip(got[k], want[k]))]
        if bad:
            problems.append(f"{len(bad)} bars do not hold their latest delivered values, e.g. {bad[:3]}")
    c.run(problems)
    for o in _ops(rep, "ml"):
        if o["error"]:
            c.op(o["name"], [o["error"]])
            continue
        p = []
        folds = o["ridge_folds"]
        if len(folds) != 5 or not all(math.isfinite(f[3]) for f in folds):
            p.append(f"ridge CV: {len(folds)} folds, RMSE {[f[3] for f in folds]}")
        if len(o["top_features"]) != 5:
            p.append(f"final fit: top features {o['top_features']}")
        c.op(o["name"], p)
    return c


def _curated_ids(path):
    ids = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.startswith("part-"):
                with open(os.path.join(path, f)) as fh:
                    for line in fh:
                        if line.strip():
                            ids.append(json.loads(line)["doc_id"])
    return ids


# ------------------------------------------------------------------ e2e

def _op_seconds(rep, *kinds):
    return [(o["end_ns"] - o["start_ns"]) / 1e9 for o in _ops(rep, *kinds)]


def end_to_end(workload, rep, launched):
    kind = "query" if workload == "queries_mix" else "delivery"
    return {
        "setup_s": (rep["setup_done_ms"] / 1000.0 - launched, "s"),
        "wall_s": ((rep["timed_end_ns"] - rep["timed_start_ns"]) / 1e9, "s"),
        "op_gmean_s": (geometric_mean(_op_seconds(rep, kind)), "s"),
    }


# ------------------------------------------------------------------ per layer

def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> self time in ns: its duration minus the union of its
    children's intervals, each clipped to the span."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_ms([(max(lo, k["start_ns"]), min(hi, k["end_ns"]))
                            for k in kids.get(s["id"], []) if k["end_ns"] > lo and k["start_ns"] < hi])
        out[s["id"]] = (hi - lo) - covered
    return out


TRANSFORMERS = ("incremental_dedup", "incremental_near_dedup",
                "pydantic_validation", "technical_indicators")
MB = 1024.0 * 1024.0


def per_layer(workload, rep, truth, plan):
    spans = rep["spans"]
    selft = self_times(spans)

    def named(prefix):
        return [s for s in spans if s["name"] == prefix]

    def total(prefix, field):
        return sum(s[field] for s in named(prefix))

    def ms(prefix):
        return sum(selft[s["id"]] for s in named(prefix)) / 1e6

    etl = workload != "queries_mix"
    deliveries = _ops(rep, "delivery")

    m = {}
    delivery_roots = [s for s in named("op") if s["op"] in {o["id"] for o in deliveries}]
    m["core.self_ms"] = (sum(selft[s["id"]] for s in delivery_roots) / 1e6, "ms")
    m["core.jobs"] = (sum(s["jobs"] for s in delivery_roots), "count")
    m["core.state_commit_ms"] = (ms("core.state_commit"), "ms")
    m["core.retry_ratio"] = (rep["retry_attempts"] / (2.0 * len(deliveries)) if etl else 0.0, "ratio")
    m["core.state_mb"] = (_dir_bytes(os.path.join(plan["out_dir"], "state")) / MB
                          if workload == "etl_incremental" else 0.0, "MB")
    m["sources.extract_ms"] = (ms("sources.extract"), "ms")
    m["sources.jobs"] = (total("sources.extract", "jobs"), "count")
    rows = sum(d["rows"] for d in truth["deliveries"]) if etl else 0
    m["sources.rows"] = (rows, "count")
    m["sources.rows_per_s"] = (rows / sum(_op_seconds(rep, "delivery")) if etl else 0.0, "rows/s")
    for t in TRANSFORMERS:
        m[f"transformers.{t}.call_ms"] = (ms(f"transformers.{t}"), "ms")
        m[f"transformers.{t}.jobs"] = (total(f"transformers.{t}", "jobs"), "count")
    m["sinks.load_ms"] = (ms("sinks.load"), "ms")
    m["sinks.jobs"] = (total("sinks.load", "jobs"), "count")
    if workload == "etl_incremental":
        sink_rows = sum(len(o["survivor_ids"]) for o in deliveries if not o["error"])
    elif workload == "etl_finance_ml":
        sink_rows = sum(d["loaded"] for d in truth["deliveries"])
    else:
        sink_rows = 0
    m["sinks.rows"] = (sink_rows, "count")
    m["sinks.task_run_ms"] = (total("sinks.load", "task_run_ms"), "ms")
    m["sinks.shuffle_write_mb"] = (total("sinks.load", "shuffle_write_b") / MB, "MB")

    q = [s for s in spans if s["name"].startswith("queries.")]
    qops = _ops(rep, "query")
    m["queries.build_ms"] = (ms("queries.build"), "ms")
    m["queries.consume_ms"] = (ms("queries.consume"), "ms")
    m["queries.plan_ms"] = (sum(o.get("plan_ms", 0) for o in qops), "ms")
    m["queries.driver_only_ms"] = (sum(_driver_only_ms(o, rep["jobs"]) for o in qops), "ms")
    for field, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                        ("task_run_ms", "task_run_ms"), ("sched_delay_ms", "sched_delay_ms")):
        m[f"queries.{name}"] = (sum(s[field] for s in q), "ms" if name.endswith("_ms") else "count")
    for field, name in (("shuffle_read_b", "shuffle_read_mb"), ("shuffle_write_b", "shuffle_write_mb"),
                        ("result_b", "result_mb")):
        m[f"queries.{name}"] = (sum(s[field] for s in q) / MB, "MB")
    m["queries.memo_build_ms"] = (sum(o.get("memo_build_ms", 0.0) for o in qops), "ms")
    hits = sum(o.get("memo_hits", 0) for o in qops)
    lookups = hits + sum(o.get("memo_built", 0) for o in qops)
    m["queries.memo_hit_ratio"] = (hits / lookups if lookups else 0.0, "ratio")

    for name in ("read", "ridge_cv", "final_fit"):
        m[f"ml.{name}_ms"] = (ms(f"ml.{name}"), "ms")
    m["ml.jobs"] = (sum(s["jobs"] for s in spans if s["name"].startswith("ml.")), "count")
    m["ml.protocol_ms"] = (sum(_op_seconds(rep, "ml")) * 1000.0, "ms")

    m["spark.codegen_ms"] = (rep["codegen_ms"], "ms")
    m["jvm.gc_ms"] = (rep["gc_ms"], "ms")
    m["jvm.heap_peak_mb"] = (rep["heap_peak_mb"], "MB")
    m["jvm.jit_ms"] = (rep["jit_ms"], "ms")
    m["trace.wall_s"] = ((rep["timed_end_ns"] - rep["timed_start_ns"]) / 1e9, "s")
    return m


def _driver_only_ms(op, jobs):
    lo, hi = op["start_ns"] / 1e6, op["end_ns"] / 1e6
    busy = union_ms([(max(lo, j["start_ms"]), min(hi, j["end_ms"]))
                     for j in jobs if j["end_ms"] > lo and j["start_ms"] < hi])
    return (hi - lo) - busy


def _dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total
