#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the library and
the harness from source with sbt (offline). Each run generates its inputs
from --seed, starts a fresh JVM in an empty working directory (so write-once
artifacts, checkpoints and sinks start empty), measures the workload for
--seconds, checks the outputs, prints a report line with the per-workload
metrics named in README.md, and prints as its last line the JSON result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. It
exits non-zero, without a result, when the build fails or an output is wrong.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import stats  # noqa: E402

SUITE_QUERIES = [
    "q1_pricing_summary", "q_alerts", "q_alert_rollup", "dedup_components", "sim_topk_ivf",
    "q_quantiles_sketch", "q_multimodal_warc_gz", "text_train_ready"]

# Sizes. STEADY_RATE is a fixed constant (files/s): about a quarter of the
# backfill capacity measured when the benchmark was defined, and never
# re-tuned, so later changes move latency, not load.
STEADY_RATE = 2.0
STEADY_ROWS_PER_FILE = 1200
STEADY_TRIGGER_MS = 3000
BACKLOG_FILES = 10
BACKLOG_ROWS_PER_FILE = 5000
SUITE_SF = 0.001
SUITE_DOCS = 1000
SUITE_DUP_SHARE = 0.10
SUITE_PASSES = 1
DIM_EVENTS = 20000

JVM_FLAGS = ["-Xms1g", "-Xmx1g", "-Xmn384m", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    f for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
RUN_BUDGET_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def wait_group(proc, timeout):
    """Wait for a process started in its own session; on timeout kill its
    whole process group (the JVM's dropper, sbt's JVM) and return None."""
    try:
        return proc.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build(root):
    """Compile graft and the harness with sbt when any source is newer than
    the cached classpath; return the runtime classpath."""
    cp_file = os.path.join(BENCH, "target", "bench-classpath.txt")
    srcs = [p for d in ("src", "perfbench/src", "build.sbt", "perfbench/build.sbt")
            for p in ([os.path.join(root, d)] if d.endswith(".sbt") else
                      glob.glob(os.path.join(root, d, "**", "*"), recursive=True))]
    if not os.path.isfile(os.path.join(root, "build.sbt")) or not os.path.isdir(os.path.join(root, "src")):
        fail("no graft sources beside the benchmark (build.sbt, src/)")
    if os.path.exists(cp_file):
        newest = max((os.path.getmtime(p) for p in srcs if os.path.exists(p)), default=0)
        if newest < os.path.getmtime(cp_file):
            return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        code = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True), 850)
    with open(log_path) as f:
        out = f.read()
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def make_inputs(workload, seed, inp, trace):
    """Generate this workload's inputs from the seed; return their facts."""
    rng = np.random.default_rng(seed)
    facts = {}
    if workload == "hrfco_steady":
        os.makedirs(os.path.join(inp, "dim"))
        gen.write(gen.events_table(rng, DIM_EVENTS, 10**9), os.path.join(inp, "dim", "events.parquet"))
        gen.event_files(rng, os.path.join(inp, "warm"), 1, STEADY_ROWS_PER_FILE, 2 * 10**9)
        os.rename(os.path.join(inp, "warm", "part-00000.parquet"), os.path.join(inp, "warm", "part-1.parquet"))
        n = int(STEADY_RATE * ARGS.seconds)
        for phase in ("plain", "traced") if trace else ("plain",):
            gen.event_files(np.random.default_rng([seed, 1]), os.path.join(inp, f"stage_{phase}"),
                            n, STEADY_ROWS_PER_FILE)
        gen.event_files(rng, os.path.join(inp, "backlog"), BACKLOG_FILES, BACKLOG_ROWS_PER_FILE,
                        3 * 10**9)
        facts.update(files=n, rows_per_file=STEADY_ROWS_PER_FILE, rate_files_per_s=STEADY_RATE,
                     trigger_ms=STEADY_TRIGGER_MS, dim_events=DIM_EVENTS,
                     backlog_files=BACKLOG_FILES, backlog_rows_per_file=BACKLOG_ROWS_PER_FILE)
    else:
        pairs = gen.tables(rng, os.path.join(inp, "tables"), SUITE_SF, SUITE_DOCS, SUITE_DUP_SHARE)
        gen.write_json(pairs, os.path.join(inp, "planted.json"))
        with_docs = pq.read_table(os.path.join(inp, "tables", "documents.parquet"), columns=["text"])
        facts.update(sf=SUITE_SF, queries=len(SUITE_QUERIES), docs=SUITE_DOCS,
                     planted_pairs=len(pairs), dup_share=SUITE_DUP_SHARE,
                     mean_shingle_df=round(gen.mean_shingle_df(with_docs.column("text").to_pylist()), 3))
    return facts


def run_jvm(cp, workload, seed, phases, cores, inp, work, deadline):
    out = os.path.join(work, "result.json")
    args = ["java"] + JVM_FLAGS + ["-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--input", inp, "--work", work, "--seconds", str(ARGS.seconds),
            "--phases", ",".join(phases), "--cores", str(cores), "--seed", str(seed), "--out", out,
            "--rate", str(STEADY_RATE), "--trigger-ms", str(STEADY_TRIGGER_MS),
            "--dropper", os.path.join(BENCH, "dropper.py"), "--queries", ",".join(SUITE_QUERIES),
            "--passes", str(SUITE_PASSES)]
    # Spark's scratch files stay inside the run's directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    args.insert(1, f"-Djava.io.tmpdir={tmp}")
    log_path = os.path.join(work, "jvm.log")
    t0, steal0 = time.time(), steal_s()
    with open(log_path, "w") as log:
        code = wait_group(subprocess.Popen(args, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                           start_new_session=True), deadline - time.time())
    if code is None:
        fail(f"{workload} JVM exceeded the run budget; see {log_path}")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"{workload} JVM exited {code}")
    with open(out) as f:
        res = json.load(f)
    res["jvm_wall_s"] = time.time() - t0
    res["host_steal_s"] = steal_s() - steal0
    return res


# ---- checks made outside the JVM -------------------------------------------

def checkpoint_files(ckpt):
    """(file name, batch id) pairs from a file stream source's metadata log."""
    return stats.source_log_entries(glob.glob(os.path.join(ckpt, "sources", "0", "*")))


def check_source_log(ckpt, expected_names):
    """Every expected file was read exactly once; returns (ok, detail)."""
    entries = checkpoint_files(ckpt)
    seen = {}
    for name, batch in entries:
        seen.setdefault(name, set()).add(batch)
    lost = sorted(set(expected_names) - set(seen))
    twice = sorted(n for n, b in seen.items() if len(b) > 1)
    extra = sorted(set(seen) - set(expected_names))
    return not (lost or twice or extra), {"lost": lost, "read_twice": twice, "unexpected": extra}


def table_digest(path):
    """Digest of a parquet dataset's rows in sorted order, and its row count."""
    t = pq.read_table(path).to_pandas()
    cols = sorted(t.columns)
    t = t[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    return hashlib.sha256(t.to_csv(index=False).encode()).hexdigest()[:16], len(t)


def steal_s():
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def check_suite(res, inp):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inp, "tables", "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    out = []
    for c in res["checks"]:
        got = con.sql(f"SELECT * FROM '{c['out']}/*.parquet'").df()
        item = {"query": c["query"], "rows": len(got)}
        if not c["oracle"]:
            item.update(ok=len(got) > 0, oracle=False)
        else:
            want = con.sql(c["oracle"]).df()
            gc, wc = sorted(got.columns), sorted(want.columns)
            ok = gc == wc and len(got) == len(want)
            if ok:
                g, w = got[gc].copy(), want[wc].copy()
                for df in (g, w):
                    for col in df.columns:
                        if str(df[col].dtype).startswith("datetime"):
                            df[col] = df[col].astype(str)
                g = g.sort_values(gc, kind="mergesort").reset_index(drop=True)
                w = w.sort_values(wc, kind="mergesort").reset_index(drop=True)
                try:
                    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
                except AssertionError:
                    ok = False
            item.update(ok=ok, oracle=True)
        out.append(item)
    return out


# ---- metrics ----------------------------------------------------------------

WORKLOADS = ("hrfco_steady", "query_suite")


def steady_ops(phase_res, progress):
    """Per-file operations of one open-loop phase: latency from each file's
    due time to the commit of the micro-batch that read it."""
    base = phase_res["base"]
    with open(os.path.join(base, "drops.jsonl")) as f:
        drops = [json.loads(l) for l in f]
    batches = [p for p in progress if p["run"] == phase_res["query_run"] and p["start"] >= phase_res["t0"]]
    att = stats.attribute_files(drops, checkpoint_files(os.path.join(base, "ckpt")), batches)
    return dict(op="file", lat=[a["latency_s"] for a in att], units=len(drops) * STEADY_ROWS_PER_FILE,
                window=(phase_res["t0"], max(a["commit"] for a in att)),
                queue_wait=[a["queue_wait_s"] for a in att], batches=batches,
                backlog_max=stats.backlog_max(drops, att, batches),
                lateness=[d["dropped"] - d["due"] for d in drops])


def drain_rate(phase_res, progress):
    """Rows/s of one AvailableNow drain of the staged backlog."""
    batches = [p for p in progress if p["run"] == phase_res["query_run"]]
    return sum(b["rows"] for b in batches) / phase_res["seconds"], batches


def phase_ops(workload, phase_res, progress):
    if workload == "hrfco_steady":
        return steady_ops(phase_res, progress)
    # the suite's latency operation is a pass: a percentile over eight
    # queries of different sizes jumps between queries from run to run
    passes = phase_res["passes"]
    pass_s = [p["seconds"] for p in passes]
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            per_query.setdefault(q["q"], []).append(q["s"])
    return dict(op="pass", lat=pass_s, units=sum(len(v) for v in per_query.values()),
                rate=len(SUITE_QUERIES) * len(pass_s) / sum(pass_s), pass_s=pass_s,
                query_s={q: statistics.median(v) for q, v in per_query.items()})


def dir_bytes(path):
    """(bytes, files) of the data files under a sink directory."""
    total, files = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
                files += 1
    return total, files


def stream_checks(res, inp):
    checks = []
    for c in res["checks"]:
        if c["name"].endswith("_drain"):
            names = sorted(os.listdir(os.path.join(inp, "backlog")))
        else:
            with open(os.path.join(c["base"], "drops.jsonl")) as f:
                names = [json.loads(l)["file"] for l in f] + ["part-1.parquet"]
        ok, detail = check_source_log(os.path.join(c["base"], "ckpt"), names)
        checks.append({"name": c["name"], "ok": bool(c["ok"]) and ok, "wrong_rows": c["wrong_rows"],
                       "source_log": detail, "levels": c["levels"], "dlq_rows": c["dlq_rows"],
                       "base": c["base"], "rows_in": c["rows_in"]})
    return checks


def main():
    root = os.getcwd()
    deadline = time.time() + RUN_BUDGET_S
    cp = build(root)
    deadline = max(deadline, time.time() + RUN_BUDGET_S - 20)
    workload, seed, trace = ARGS.workload, ARGS.seed, ARGS.trace
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}")
    scratch = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench-runs")
    shutil.rmtree(scratch, ignore_errors=True)
    work = os.path.join(scratch, f"{workload}-{seed}")
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    t_gen = time.time()
    facts = make_inputs(workload, seed, inp, trace)
    facts["generate_s"] = round(time.time() - t_gen, 3)
    cores = len(os.sched_getaffinity(0))
    phases = ["plain"] + (["traced"] if trace else []) + (["drain"] if workload == "hrfco_steady" else [])
    res = run_jvm(cp, workload, seed, phases, cores, inp, work, deadline)

    checks = []
    plain = phase_ops(workload, res["plain"], res["progress"])
    if workload == "hrfco_steady":
        checks = stream_checks(res, inp)
        # the open loop's rows and the backlog's: the stream's throughput is
        # the backlog drain (hrfco_backfill), since the open loop's committed
        # rows per second would only repeat the dropper's fixed rate
        plain["rate"] = drain_rate(res["drain"], res["progress"])[0]
        attempted = plain["units"] + BACKLOG_FILES * BACKLOG_ROWS_PER_FILE
        bad = [c for c in checks if not c["ok"]]
        failed = min(attempted, sum(c["wrong_rows"] for c in bad) + (attempted if any(
            c["source_log"]["lost"] or c["source_log"]["read_twice"] for c in bad) else 0))
        drained = [c for c in checks if c["name"].endswith("_drain")][0]
        stored = sum(dir_bytes(os.path.join(drained["base"], s))[0] for s in ("archive", "timeseries", "raw", "dlq"))
        facts["stored_bytes_per_row"] = stored / max(drained["rows_in"], 1)
    else:
        per_query = check_suite(res, inp)
        bad = {c["query"] for c in per_query if not c["ok"]}
        checks.append({"name": "oracle_digests", "ok": not bad, "failed_queries": sorted(bad),
                       "checked": len(per_query)})
        with open(os.path.join(inp, "planted.json")) as f:
            planted = json.load(f)
        kept_path = os.path.join(work, "results", "train_ready_ids")
        digest, kept_n = table_digest(kept_path)
        kept = set(pq.read_table(kept_path).column("doc_id").to_pylist())
        present = [c for _, c in planted if c in kept]
        checks.append({"name": "planted_losers_absent", "ok": not present, "present": present[:10],
                       "train_ready_digest": digest, "kept_docs": kept_n})
        if present:
            bad.add("text_train_ready")
        facts["docs_kept_ratio"] = kept_n / SUITE_DOCS
        execs = [q["q"] for p in res["plain"]["passes"] for q in p["queries"]]
        attempted, failed = len(execs), sum(1 for q in execs if q in bad)
    correct = failed == 0 and all(c["ok"] for c in checks)

    setup_reps = res["setup_reps_s"] + ([res["plain"]["set_up_s"]] if "set_up_s" in res["plain"] else [])
    setup_s = statistics.median(setup_reps)
    lat = plain["lat"]
    p50 = stats.percentile(lat, 0.5)
    tail_label, tail = stats.tail(lat)
    rss_mb = res["vm_hwm_kb"] / 1024.0
    report = {
        "workload": workload, "seed": seed, "seconds": ARGS.seconds, "trace": trace,
        "nproc": cores, "master": f"local[{cores}]", "jvm_flags": JVM_FLAGS,
        "git_commit": git_commit(root), "python": platform.python_version(),
        "spark": res.get("spark_version"), "inputs": facts, "checks": checks,
        "session_ready_s": res["session_ready_s"], "warmup_s": res["warmup_s"],
        "setup_reps_s": setup_reps, "jvm_wall_s": res["jvm_wall_s"],
        "host_steal_s": res["host_steal_s"],
        "run_wall_s": time.time() - T_START,
        "setup_s": setup_s, "failed_ratio": failed / max(attempted, 1), "peak_rss_mb": rss_mb,
        "op": plain["op"], "op_samples": len(lat), "op_p50_s": p50,
        "batch_s": [round(b["trigger_s"], 3) for b in plain.get("batches", [])],
        "op_tail_s": {"value": tail, "percentile": tail_label},
    }
    report.update(named_metrics(workload, plain, facts))
    metrics = {"setup_s": {"value": setup_s, "unit": "s"},
               "op_p50_s": {"value": p50, "unit": "s"},
               "op_tail_s": {"value": tail, "unit": "s"},
               "throughput_per_s": {"value": plain["rate"], "unit": "1/s"},
               "peak_rss_mb": {"value": rss_mb, "unit": "MB"}}
    if trace:
        metrics = layer_metrics(workload, res, plain, facts, checks, cp, seed, inp, work, cores, deadline)
        report["spans_file"] = os.path.join(work, "spans.json")
        gen.write_json(res.get("spans", []), report["spans_file"])
        report["per_layer"] = {k: v["value"] for k, v in metrics.items()}
    print(json.dumps({"report": report}, default=str))
    if not correct:
        fail("output check failed: " + json.dumps([c for c in checks if not c["ok"]], default=str)[:2000])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


def named_metrics(workload, plain, facts):
    """The end-to-end metrics under their per-workload names, with samples."""
    lat = plain["lat"]
    n = len(lat)
    if workload == "hrfco_steady":
        label, value = stats.tail(lat)
        return {"stream_latency_p50_s": {"value": stats.percentile(lat, 0.5), "samples": n},
                "stream_latency_tail_s": {"value": value, "percentile": label, "samples": n},
                "backfill_rows_per_s": {"value": plain["rate"], "samples": 1},
                "stored_bytes_per_row": facts["stored_bytes_per_row"],
                "generator_lateness_max_s": max(plain["lateness"])}
    return {"suite_pass_s": {"value": stats.percentile(plain["pass_s"], 0.5),
                             "samples": len(plain["pass_s"])},
            "curate_docs_per_s": {"value": SUITE_DOCS / plain["query_s"]["text_train_ready"],
                                  "samples": len(plain["pass_s"]), "query": "text_train_ready"},
            "query_s_median": plain["query_s"]}


def layer_metrics(workload, res, plain, facts, checks, cp, seed, inp, work, cores, deadline):
    if workload == "hrfco_steady":
        traced = [c for c in checks if c["name"].endswith("_traced")][0]
        sizes = [dir_bytes(os.path.join(traced["base"], s)) for s in ("archive", "timeseries", "raw", "dlq")]
        res["layers"].update({"hrfco.rows_parse_failed": traced["dlq_rows"],
                              "sinks.bytes_written": sum(x[0] for x in sizes),
                              "sinks.files_written": sum(x[1] for x in sizes)})
        rate_n = plain["rate"]
        res["layers"]["streaming.backfill_rows_per_s"] = rate_n
        res["layers"]["streaming.speedup_1core"] = rate_n / one_core_rate(cp, seed, inp, work, deadline)
    return stats.layer_metrics(workload, res, plain, facts, layer_names(),
                               phase_ops=lambda ph: phase_ops(workload, res[ph], res["progress"]),
                               cores=cores)


def one_core_rate(cp, seed, inp, work, deadline):
    """Backfill rows/s of the same staged backlog at local[1]."""
    w1 = os.path.join(work, "one-core")
    os.makedirs(w1)
    res1 = run_jvm(cp, "hrfco_steady", seed, ["drain"], 1, inp, w1, deadline)
    return drain_rate(res1["drain"], res1["progress"])[0]


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def layer_names():
    """(name, unit) of every per-layer metric BENCHMARK.json lists."""
    with open("BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


if __name__ == "__main__":
    T_START = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ARGS = ap.parse_args()
    main()
