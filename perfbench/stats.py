"""Pure functions the benchmark derives its metrics from: the percentile
rule, file-to-batch attribution from a stream checkpoint, span self times,
and the per-layer metric table of a traced run."""
import json
import math
import os
import statistics


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p*n
    samples at or below it."""
    s = sorted(xs)
    return s[min(max(math.ceil(p * len(s)) - 1, 0), len(s) - 1)]


def tail(xs):
    """The highest percentile with at least ten samples beyond it (the
    eleventh-largest sample), or the median when that is higher; returned
    as (percentile, value)."""
    n = len(xs)
    p = max(0.5, (n - 10) / n)
    return round(100 * p, 1), percentile(xs, p)


def source_log_entries(paths):
    """(file name, batch id) for every entry of a file stream source's
    metadata log. A `.compact` file repeats the entries of the batches it
    folds in, so entries are de-duplicated on (name, batch)."""
    out = set()
    for p in paths:
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out.add((os.path.basename(e["path"]), int(e["batchId"])))
    return sorted(out)


def attribute_files(drops, entries, batches):
    """Join each dropped file to the micro-batch that read it.

    drops:   [{"file", "due", "dropped"}] from the dropper's log
    entries: [(file, batch id)] from the checkpoint's source log
    batches: [{"batch", "start", "trigger_s"}] from query progress
    Latency runs from the file's due time to the end (commit) of its batch;
    queue wait from its actual drop to the start of its batch."""
    batch_of = {}
    for name, b in entries:
        batch_of[name] = min(b, batch_of.get(name, b))
    by_id = {b["batch"]: b for b in batches}
    out = []
    for d in drops:
        b = by_id[batch_of[d["file"]]]
        commit = b["start"] + b["trigger_s"]
        out.append({"file": d["file"], "batch": b["batch"], "commit": commit,
                    "latency_s": commit - d["due"], "queue_wait_s": b["start"] - d["dropped"]})
    return out


def backlog_max(drops, attributed, batches):
    """Most files waiting (dropped, not yet in an earlier batch) at any
    batch start."""
    batch_of = {a["file"]: a["batch"] for a in attributed}
    best = 0
    for b in batches:
        waiting = sum(1 for d in drops
                      if d["dropped"] <= b["start"] and batch_of[d["file"]] >= b["batch"])
        best = max(best, waiting)
    return best


def self_times(spans):
    """{span id: self seconds}: duration minus the time its children cover."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    return {s["id"]: s["end_s"] - s["start_s"] - child.get(s["id"], 0.0) for s in spans}


ROOTS = ("streaming.batch", "suite.pass")


def task_seconds(task_ms_by_second, start, end):
    """Task run time (s) of the tasks that finished in [start, end], from
    [second, task ms] pairs."""
    return sum(ms for sec, ms in task_ms_by_second if start - 1 < sec <= end) / 1000.0


def layer_metrics(workload, res, plain, facts, names, phase_ops, cores):
    """Every per-layer metric listed in BENCHMARK.json; a layer the workload
    does not reach reports 0. The stream's `streaming.*` metrics come from
    the plain phase (the real pipeline's query progress and task time);
    span and listener counts from the traced phase."""
    layers = res.get("layers", {})
    spans = res.get("spans", [])
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    n_ops = max(sum(1 for s in spans if s["name"] in ROOTS), 1)
    per_op = {}
    for s in spans:
        per_op[s["name"]] = per_op.get(s["name"], 0.0) + selfs[s["id"]] / n_ops
    v = {n: 0.0 for n, _ in names}
    for name, sec in per_op.items():
        if name in ROOTS or name.startswith("suite.query"):
            continue
        v[name + "_s"] = sec
    for k, x in layers.items():
        if isinstance(x, (int, float)) and not isinstance(x, bool):
            v[k] = x
    v["hrfco.task_s"] = layers.get("hrfco.task_s", 0.0) / n_ops
    v["spark.shuffle_bytes"] = layers.get("shuffle_bytes", 0)
    v["spark.spill_bytes"] = layers.get("spill_bytes", 0)
    traced = phase_ops("traced")
    if workload == "hrfco_steady":
        b = plain["batches"]
        v["streaming.batches"] = len(b)
        v["streaming.rows_per_batch_p50"] = statistics.median([x["rows"] for x in b])
        v["streaming.trigger_s_p50"] = statistics.median([x["trigger_s"] for x in b])
        v["streaming.add_batch_s_p50"] = statistics.median([x["add_batch_s"] for x in b])
        v["streaming.fixed_s_p50"] = statistics.median([x["trigger_s"] - x["add_batch_s"] for x in b])
        v["streaming.queue_wait_s_p50"] = statistics.median(plain["queue_wait"])
        v["streaming.backlog_files_max"] = plain["backlog_max"]
        wall = sum(x["trigger_s"] for x in b)
        busy = task_seconds(res.get("task_ms_by_second", []), *plain["window"])
        v["streaming.core_busy_ratio"] = busy / max(wall * cores, 1e-9)
        rows_in = layers.get("hrfco.rows_in", 0)
        dlq = layers.get("hrfco.rows_parse_failed", 0)
        v["hrfco.rows_parse_failed"] = dlq
        v["hrfco.rows_required_dropped"] = rows_in - dlq - layers.get("hrfco.rows_classified", 0)
        v["sinks.fanout_s"] = sum(per_op.get(f"sinks.{n}", 0.0) for n in ("fanout", "archive", "timeseries", "raw"))
    if workload == "query_suite":
        # per pass, like the candidate pairs (the largest join of one pass)
        for k in ("dedup.postings_rows", "dedup.verified_pairs"):
            v[k] = layers.get(k, 0) / n_ops
        cand = layers.get("dedup.candidate_pairs", 0)
        v["dedup.pair_yield"] = v["dedup.verified_pairs"] / cand if cand else 0.0
        v["curation.docs_kept_ratio"] = facts.get("docs_kept_ratio", 0.0)
        backed = set(layers.get("artifact_backed", []))
        passes = max(sum(1 for s in spans if s["name"] == "suite.pass"), 1)
        v["artifacts.read_s"] = sum(
            selfs[s["id"]] for s in spans if s["name"] == "sparkentry.build"
            and by_id[s["parent"]]["name"].split(":", 1)[-1] in backed) / passes
    # tracing overhead on the workload's own rate, and how much of the
    # traced operations' wall time the spans' self times account for
    if workload == "hrfco_steady":
        v["trace.overhead_ratio"] = percentile(traced["lat"], 0.5) / percentile(plain["lat"], 0.5) - 1.0
    else:
        v["trace.overhead_ratio"] = plain["rate"] / traced["rate"] - 1.0
    roots = [s for s in spans if s["name"] in ROOTS]
    covered = sum(selfs[s["id"]] for s in spans
                  if s["name"] not in ROOTS and not s["name"].startswith("suite.query"))
    v["trace.span_coverage_ratio"] = covered / max(sum(s["end_s"] - s["start_s"] for s in roots), 1e-9)
    return {n: {"value": float(v.get(n, 0.0)), "unit": u} for n, u in names}
