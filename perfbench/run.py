#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc,query_suite} --seed N \
        --seconds S --trace {0,1}

Builds the library and the harness from source (perfbench/build.py),
makes the workload's inputs from the seed, runs the JVM harness
(perfbench/scala), checks the outputs, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. A human-readable
table goes to stderr; the full report (raw samples, spans, checks) is
kept in .bench_work/last-<workload>-trace<T>-seed<N>.json. See
perfbench/WORKLOADS.md for what each metric means.
"""
import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 172
DATA_SF = 0.01

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
    "disk_bytes_per_op": "B", "rss_peak_mb": "MB"}

# Open defects the checks are known to hit on the current library (see
# perfbench/WORKLOADS.md). They are counted in `failed` like any other
# failure; a failure outside these signatures also clears `correct`.
KNOWN_PROBE_ERROR = "UNABLE_TO_INFER_SCHEMA"


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def harness_cmd(work, args):
    """The JVM command line of perfbench.Harness with `args`; temporary
    files go under `work`."""
    out, cp = build.build()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + build.jvm_flags(os.path.join(work, "tmp")) + build.archive_flags(out)
            + ["-cp", cp, "perfbench.Harness"] + [str(a) for a in args])


def run_harness(workload, seed, seconds, trace, work, extra, deadline):
    report = os.path.join(work, "report.json")
    cmd = harness_cmd(work, [workload, seed, seconds, trace, work, report] + extra)
    with open(os.path.join(work, "harness.log"), "w") as errf:
        p = subprocess.Popen(cmd, stdout=errf, stderr=subprocess.STDOUT, cwd=work)

        def stop(signum, _frame):  # never leave the JVM or its files behind
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("harness exceeded the run deadline")
    if rc != 0 or not os.path.exists(report):
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    with open(report) as f:
        return json.load(f)


# ---------------------------------------------------------------- cdc

def check_failures(check):
    """Records implicated by the sink check: wrong job rows, records
    whose status key has other than one row, and the fewest records whose
    action differs between the stream counters and the batch pipeline."""
    if check.get("error"):
        return None
    return (check["bad_job_rows"] + check["bad_status_records"]
            + check["counter_mismatch_records"])


def unexpected(check):
    """Check failures outside the known open defects."""
    if check.get("error"):
        return [f"check crashed: {check['error']}"]
    out = []
    if check["bad_job_rows"]:
        out.append(f"{check['bad_job_rows']} job rows wrong")
    if check["bad_status_keys"] != check["bad_status_keys_blank_guest"]:
        out.append("status rows wrong for non-blank guest ids")
    e, o = check["counters_expected"], check["counters_observed"]
    for k in ("total_records", "processed_records", "error_records"):
        if e[k] != o[k]:
            out.append(f"counter {k}: stream {o[k]} vs batch {e[k]}")
    return out


def segment_shards(stream, seg):
    return [s for s in stream["shards"] if s["segment"] == seg]


def segment_batches(stream, seg):
    w = stream["segments"].get(seg)
    if not w:
        return []
    return [b for b in stream["progress"] if w["start_ms"] <= b["start_ms"] <= w["end_ms"]]


def bulk_warmup_batches(stream):
    """The batches that take the bulk segment's untimed first shard."""
    return [b for b in (stats.covering_batch(s, stream["progress"])
                        for s in segment_shards(stream, "bulk_warmup")) if b is not None]


def bulk_rate(stream):
    """Closed-loop records/s of the bulk segment: its timed records over
    the time from the end of the batch that takes the untimed first
    shard to the end of the batch that commits the last one."""
    warm = bulk_warmup_batches(stream)
    start = max(stats.batch_end_ms(b) for b in warm) if warm else None
    return stats.throughput(segment_shards(stream, "bulk"), stream["progress"], start)[0]


def cdc_end_to_end(r):
    st = r["stream"]
    lat, uncovered = stats.latency_samples(segment_shards(st, "trickle"), st["progress"])
    p99, beyond = stats.percentile(lat, 99)
    m = {
        "setup_s": r["setup_s"],
        "ops_per_s": bulk_rate(st),
        "latency_p50_ms": stats.median(lat),
        "latency_p99_ms": p99,
        "disk_bytes_per_op": sum(st["disk_bytes_after_bulk"].values()) / sum(
            s["records"] for s in st["shards"]
            if s["segment"] in ("warmup", "bulk_warmup", "bulk")),
        "rss_peak_mb": r["rss_peak_mb"],
    }
    late = [s["published_ms"] - s["due_ms"] for s in segment_shards(st, "trickle")]
    info = {"records_per_s": m["ops_per_s"], "latency_samples": len(lat),
            "samples_beyond_p99": beyond, "uncovered_shards": len(uncovered),
            "publisher_late_ms_max": max(late) if late else 0}
    return m, info


def per_batch_mean(batches, key):
    vals = [b["durations"].get(key, 0) for b in batches]
    return sum(vals) / len(vals) if vals else 0.0


def sink_spans(trace):
    """Per-batch means of the sink's SQL executions, split by the table
    their plan touches: status-table executions before the batch's last
    jobs-table execution are the 'pending' → 'processing' CAS
    (StatusStore.casMerge), jobs-table ones the append
    (EmailJobSink.appendJobs), status-table ones after it the duplicate →
    'delivered' CAS."""
    by_batch = {}
    for s in (trace or {}).get("spans", []):
        if s["parent"].startswith("batch-"):
            by_batch.setdefault(s["parent"], []).append(s)
    cas, append, delivered = [], [], []
    for bid, spans in by_batch.items():
        last_append = max((s["end_ms"] for s in spans if s["name"] == "exec:sink.jobs"),
                          default=None)
        c = a = d = 0
        for s in spans:
            dur = s["end_ms"] - s["start_ms"]
            if s["name"] == "exec:sink.status":
                if last_append is not None and s["start_ms"] >= last_append:
                    d += dur
                else:
                    c += dur
            elif s["name"] == "exec:sink.jobs":
                a += dur
        cas.append(c)
        append.append(a)
        delivered.append(d)
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    return mean(cas), mean(append), mean(delivered)


def stream_layers(st, layers):
    """Per-layer metrics of the stream path: bulk batches for state and
    sink, trickle batches for the source and the engine's fixed per-batch
    cost, and the batch-mode layer timings."""
    bulk = [b for b in segment_batches(st, "bulk") if b["num_input_rows"] > 0]
    live = segment_batches(st, "trickle")
    bulk_trace = st["segments"]["bulk"]["trace"] or {}
    cas, append, delivered = sink_spans(bulk_trace)
    trickle = segment_shards(st, "trickle")
    first_offset = min(s["offset"] for s in trickle) if trickle else 0
    lag = []
    for b in live:
        end = stats.batch_end_ms(b)
        avail = sum(1 for s in trickle if s["published_ms"] <= end)
        done = max(0, int(b["end_offset"] or 0) - first_offset + 1)
        lag.append(max(0, avail - done))
    jobs = [v for k, v in bulk_trace.get("jobs_by_parent", {}).items()
            if k.startswith("batch-")]
    last = st["progress"][-1] if st["progress"] else {}
    ch = st["check"]
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    out = {
        "sources.lag_files": mean(lag),
        "sources.read_ms": layers["sources_read_s"] * 1000,
        "decode.self_ms": (layers["decode_s"] - layers["sources_read_s"]) * 1000,
        "rules.self_ms": (layers["rules_s"] - layers["decode_s"]) * 1000,
        "streaming.outcomes_ms": layers["outcomes_s"] * 1000,
        "streaming.state_update_ms": mean([b["state_update_ms"] for b in bulk]),
        "streaming.state_commit_ms": mean([b["state_commit_ms"] for b in bulk]),
        "streaming.state_rows": last.get("state_rows", 0),
        "streaming.state_bytes": last.get("state_bytes", 0),
        "sink.cas_merge_ms": cas,
        "sink.append_jobs_ms": append,
        "sink.mark_delivered_ms": delivered,
        "sink.cas_applied": layers["cas_applied"],
        "sink.cas_rejected": layers["cas_rejected"],
        "sink.status_rows": ch.get("status_rows", 0),
        "sink.status_keys": ch.get("status_keys", 0),
        "sink.snapshots": st["status_snapshots"],
        "sink.disk_bytes": sum(st["disk_bytes"].values()),
        "engine.trigger_ms": per_batch_mean(live, "triggerExecution"),
        "engine.query_planning_ms": per_batch_mean(live, "queryPlanning"),
        "engine.add_batch_ms": per_batch_mean(live, "addBatch"),
        "engine.wal_commit_ms": per_batch_mean(live, "walCommit"),
        "engine.commit_offsets_ms": per_batch_mean(live, "commitOffsets"),
        "engine.batches": len(segment_batches(st, "bulk")) + len(live),
        "engine.jobs_per_batch": mean(jobs),
        "plans.construct_ms": st["construct_ms"],
    }
    return out


def engine_layers(tr):
    c = tr.get("counters", {})
    return {
        "engine.tasks": c.get("tasks", 0),
        "engine.task_cpu_ms": c.get("task_cpu_ms", 0.0),
        "engine.shuffle_write_bytes": c.get("shuffle_write_bytes", 0.0),
        "engine.spill_bytes": c.get("spill_bytes", 0.0),
        "engine.gc_ms": c.get("gc_ms", 0.0),
        "plans.analysis_ms": c.get("phase_analysis_ms", 0.0),
        "plans.optimization_ms": c.get("phase_optimization_ms", 0.0),
        "plans.planning_ms": c.get("phase_planning_ms", 0.0),
        "codegen.compile_ms": tr.get("codegen_compile_ms", 0.0),
        "codegen.classes": tr.get("codegen_classes", 0),
    }


def cdc_result(r, trace):
    st, probe = r["stream"], r["probe"]
    check = st["check"]
    records = sum(s["records"] for s in st["shards"])
    attempted = records + 1
    f = check_failures(check)
    failed = (records if f is None else min(f, records)) + (0 if probe["ok"] else 1)
    problems = unexpected(check)
    if st.get("failure"):
        problems.append(f"stream query failed: {st['failure']}")
    if not probe["ok"] and KNOWN_PROBE_ERROR not in (probe["error"] or ""):
        problems.append(f"empty-start probe: {probe['error']}")
    e2e, info = cdc_end_to_end(r)
    if info["uncovered_shards"]:
        problems.append(f"{info['uncovered_shards']} trickle shards never committed")
    if info["samples_beyond_p99"] < 10:
        problems.append("fewer than 10 latency samples beyond p99")
    layer = None
    if trace:
        layer = stream_layers(st, r["layers"])
        bulk_trace = st["segments"]["bulk"]["trace"] or {}
        layer.update(engine_layers(bulk_trace))
        layer["trace.ops_per_s"] = e2e["ops_per_s"]
        layer["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        info["local1_records_per_s"] = bulk_rate(r["local1_bulk"])
    info["check"] = check
    info["probe"] = probe
    return attempted, failed, problems, e2e, layer, info


# -------------------------------------------------------- query suite

def oracle_compare(data_dir, out_dir, names):
    """{query: None | failure text}, by the comparison rule of
    tools/check_oracle.py (canonical column/row order, exact cells)."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    for t in co.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    res = {}
    for name in names:
        try:
            if name not in oracle:
                res[name] = "no oracle SQL"
                continue
            s = co.canon(duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            d = co.canon(con.sql(oracle[name]).df())
            if list(s.columns) != list(d.columns):
                res[name] = f"columns differ: {list(s.columns)} vs {list(d.columns)}"
            elif len(s) != len(d):
                res[name] = f"row count spark={len(s)} duck={len(d)}"
            else:
                sc = getattr(s, "map", s.applymap)(co.cell)
                dc = getattr(d, "map", d.applymap)(co.cell)
                bad = int((sc != dc).any(axis=1).sum())
                res[name] = f"{bad} mismatched rows" if bad else None
        except Exception as e:  # a compare that cannot run is a failed check
            res[name] = f"compare error: {str(e)[:200]}"
    return res


def suite_result(r, data_dir, work, trace):
    names = list(r["untimed_pass"].keys())
    oracle = oracle_compare(data_dir, os.path.join(work, "oracle"), names)
    problems, failed = [], 0
    for q in names:
        err = r["untimed_pass"][q]["error"] or oracle.get(q)
        if err:
            failed += 1
            problems.append(f"{q}: {err}")
    passes = r["passes"]
    for p in passes:
        for q, v in p.items():
            if v["error"]:
                failed += 1
                problems.append(f"{q} (timed): {v['error']}")
    attempted = len(names) * (1 + len(passes))
    med = {q: stats.median([p[q]["seconds"] for p in passes if not p[q]["error"]] or [0.0])
           for q in names}
    suite_s = sum(med.values())
    per_query_ms = [v * 1000 for v in med.values()]
    p99, _ = stats.percentile(per_query_ms, 99)
    e2e = {
        "setup_s": r["setup_s"],
        "ops_per_s": len(names) / suite_s,
        "latency_p50_ms": stats.median(per_query_ms),
        "latency_p99_ms": p99,
        "disk_bytes_per_op": r["shuffle_bytes"] / max(1, r["timed_queries"]),
        "rss_peak_mb": r["rss_peak_mb"],
    }
    info = {"suite_s": suite_s, "passes": len(passes), "query_median_s": med,
            "oracle": oracle}
    layer = None
    if trace:
        tr = r["trace"]
        layer = stream_layers(r["stream"], r["layers"])
        layer.update(engine_layers(tr))
        spans = tr["spans"]
        qspans = [s for s in spans if s["name"] in med]
        layer["plans.construct_ms"] = sum(r["traced_pass"][q].get("construct_s", 0)
                                          for q in names) * 1000
        fam = {}
        for s in qspans:
            fam[s["parent"]] = fam.get(s["parent"], 0) + (s["end_ms"] - s["start_ms"]) / 1000
        info["family_s"] = fam
        info["query_self_ms"] = {s["name"]: stats.self_time_ms(
            s, [c for c in spans if c["parent"] == s["name"]]) for s in qspans}
        traced_ms = [v["seconds"] * 1000 for v in r["traced_pass"].values()]
        layer["trace.ops_per_s"] = len(traced_ms) / (sum(traced_ms) / 1000)
        layer["trace.latency_p50_ms"] = stats.median(traced_ms)
    return attempted, failed, problems, e2e, layer, info


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cdc", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    work = os.path.join(WORK_ROOT, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        build.build()  # before the deadline clock matters: a cold build is allowed to be slow
        deadline = max(deadline, time.time() + DEADLINE_S - 8)
        extra = []
        data_dir = os.path.join(work, "data")
        if a.workload == "query_suite":
            gens = []
            for _ in range(3):
                t0 = time.perf_counter()
                shutil.rmtree(data_dir, ignore_errors=True)
                datagen.write(data_dir, a.seed, DATA_SF)
                gens.append(time.perf_counter() - t0)
            extra = [data_dir, repr(stats.median(gens))]
        r = run_harness(a.workload, a.seed, a.seconds, a.trace, work, extra, deadline)
        if a.workload == "cdc":
            attempted, failed, problems, e2e, layer, info = cdc_result(r, a.trace)
        else:
            attempted, failed, problems, e2e, layer, info = suite_result(
                r, data_dir, work, a.trace)
    except (build.BuildError, RuntimeError, KeyError, ValueError, OSError) as e:
        log(f"[perfbench] run failed: {e}")
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    host = r["host"]
    common_layer = {"host.steal_pct": host["steal_pct"], "host.load_avg": host["load_avg"],
                    "error_rate": failed / attempted}
    if a.trace:
        layer.update(common_layer)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    out = {"correct": not problems, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    full = {"args": vars(a), "result": out, "info": info, "problems": problems,
            "end_to_end": e2e, "per_layer": layer, "host": host, "raw": r}
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(os.path.join(WORK_ROOT, f"last-{a.workload}-trace{a.trace}-seed{a.seed}.json"),
              "w") as f:
        json.dump(full, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for k, v in sorted((layer or e2e).items()):
        log(f"  {k:32s} {v:14.4f}")
    for k, v in info.items():
        if not isinstance(v, (dict, list)):
            log(f"  {k:32s} {v}")
    if "family_s" in info:
        for k, v in sorted(info["family_s"].items()):
            log(f"  {'family.' + k + '.s':32s} {v:14.4f}")
    for p in problems:
        log(f"  PROBLEM {p}")
    log(f"  failed {failed} / attempted {attempted} (error_rate {failed / attempted:.5f})")
    print(json.dumps(out))


LAYER_UNITS = {
    "sources.lag_files": "count",
    "sources.read_ms": "ms", "decode.self_ms": "ms", "rules.self_ms": "ms",
    "streaming.outcomes_ms": "ms", "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "B", "sink.cas_merge_ms": "ms", "sink.append_jobs_ms": "ms",
    "sink.mark_delivered_ms": "ms", "sink.cas_applied": "count",
    "sink.cas_rejected": "count", "sink.status_rows": "count", "sink.status_keys": "count",
    "sink.snapshots": "count", "sink.disk_bytes": "B", "engine.trigger_ms": "ms",
    "engine.query_planning_ms": "ms", "engine.add_batch_ms": "ms", "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms", "engine.batches": "count", "engine.jobs_per_batch": "count",
    "engine.tasks": "count", "engine.task_cpu_ms": "ms", "engine.shuffle_write_bytes": "B",
    "engine.spill_bytes": "B", "engine.gc_ms": "ms", "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms", "plans.planning_ms": "ms", "plans.construct_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.classes": "count", "trace.ops_per_s": "1/s",
    "trace.latency_p50_ms": "ms",
    "host.steal_pct": "%", "host.load_avg": "count", "error_rate": "ratio"}

if __name__ == "__main__":
    main()
