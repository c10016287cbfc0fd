"""Reduce the JVM harness's raw measurements to the benchmark's metrics."""
from . import spans as spanlib
from .stats import gmean, median, tail

E2E = ["setup_s", "throughput_per_s", "latency_ms"]

# per-operation counters from the harness's SparkListener (Trace.scala);
# shuffle fetch wait is ~0 in local mode and goes to the report only
OP_LAYERS = ["build_jobs", "n_jobs", "n_stages", "n_stages_skipped", "n_tasks",
             "sched_delay_ms", "driver_gap_ms", "exec_run_ms", "exec_cpu_ms",
             "exec_gc_ms", "slot_util", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "task_skew", "input_bytes", "input_rows", "n_checkpoint_jobs"]
# plan_ms: analysis + optimization + physical planning per operation; the
# three-way split is in the report (micro-batches only expose the sum)
PLANNER = ["build_ms", "plan_ms"]
STREAM_COUNTS = ["decode_amplification", "mb_count", "mb_nodata_frac", "state_rows_max",
                 "state_mem_bytes_max", "late_rows_dropped", "sink_rows_buy_sessions",
                 "sink_rows_user_kpis", "sink_rows_departments"]
PER_LAYER = PLANNER + OP_LAYERS + STREAM_COUNTS + ["peak_rss_mb", "probe_ms"]


def _result_latencies(seg, check):
    """Open loop: emission time minus the scheduled wall time of the row's
    event-time end, for the rows whose end falls in the measured window."""
    base, start = seg["base_ts"], seg["loop_start_ms"]
    lo, hi = (base + w for w in seg["window_ms"])
    return [r["emit_ms"] - (start + (r["end_ts"] - base))
            for r in check["latency_rows"] if lo <= r["end_ts"] < hi]


def end_to_end(job, result):
    """The gated metrics, and the issue's per-workload names for the report.

    `latency_ms` is the typical operation's latency: the median chunk time
    (closed stream), the median result latency (open stream), or the
    geometric mean over the query list of each query's median run time
    (batch). The batch form weighs every query alike and does not jump
    between queries the way a median over all runs of a mixed list does."""
    m, c = result["measure"], result["check"]
    if job["kind"] == "batch":
        runs = [o["ms"] for o in m["ops"] if "name" in o]
        passes = [o["pass_ms"] for o in m["ops"] if "pass_ms" in o]
        thr = len(runs) / (sum(passes) / 1000.0)
        by_query = {}
        for o in m["ops"]:
            if "name" in o:
                by_query.setdefault(o["name"], []).append(o["ms"])
        lat = runs
        typical = gmean([median(v) for v in by_query.values()])
        p90, pct = tail(lat, cap=90.0)
        named = {"suite_s": median(passes) / 1000.0, "query_p50_ms": median(lat),
                 "query_p90_ms": p90, "query_p90_percentile": pct, "pass_ms": passes,
                 "query_ms": {q: sorted(round(x) for x in v) for q, v in sorted(by_query.items())}}
    else:
        seg = m["segment"]
        thr = seg["events"] / (seg["wall_ms"] / 1000.0)
        if job["mode"] == "closed":
            lat = seg["chunk_ms"]
            named = {"events_per_s": thr, "chunk_p50_ms": median(lat), "chunk_ms": lat}
        else:
            lat = _result_latencies(seg, c)
            p99, pct = tail(lat)
            named = {"latency_p50_ms": median(lat), "latency_p99_ms": p99,
                     "latency_p99_percentile": pct,
                     "backlog": seg["backlog"][::5]}
        typical = median(lat)
    metrics = {
        "setup_s": (result["setup_s"], "s"),
        "throughput_per_s": (thr, "1/s"),
        "latency_ms": (typical, "ms"),
    }
    named.update({"latency_samples": len(lat), "peak_rss_mb": result["peak_rss_mb"],
                  "probe_ms": result["probe_ms"]})
    return metrics, named


def trace_overhead_pct(job, m):
    """Traced against untraced operations of the same timed region, which
    interleave: per query (batch) or chunk (closed stream). An open loop
    traces all of its one segment, so it has no untraced twin: None."""
    if job["kind"] == "batch":
        by = {}
        for o in m["ops"]:
            if "name" in o and o["ok"]:
                by.setdefault(o["name"], {}).setdefault(o["traced"], []).append(o["ms"])
        both = [v for v in by.values() if True in v and False in v]
        if not both:
            return None
        return 100.0 * (sum(_mean(v[True]) for v in both) / sum(_mean(v[False]) for v in both) - 1)
    if job["mode"] == "open":
        return None
    seg = m["segment"]
    on = [t for t, tr in zip(seg["chunk_ms"], seg["chunk_traced"]) if tr]
    off = [t for t, tr in zip(seg["chunk_ms"], seg["chunk_traced"]) if not tr]
    return 100.0 * (median(on) / median(off) - 1) if on and off else None


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(job, result, spans):
    m = result["measure"]
    out = {k: 0.0 for k in PER_LAYER}
    detail = {}
    if job["kind"] == "batch":
        ops = [o for o in m["ops"] if o.get("traced") and "name" in o and o["ok"]]
        out["build_ms"] = _mean([o["build_ms"] for o in ops])
        split = ("analysis_ms", "optimize_ms", "physical_plan_ms")
        out["plan_ms"] = _mean([sum(o[k] for k in split) for o in ops])
        detail.update({k: _mean([o[k] for o in ops]) for k in split})
        lay = [o["layers"] for o in ops]
    else:
        mbs = m["micro_batches"]
        lay = [b["layers"] for b in mbs]
        out["build_ms"] = m["build_ms"]
        seg = m["segment"]
        fed = max(seg["traced_events"], 1)
        out["decode_amplification"] = sum(b["input_rows"] for b in mbs) / fed
        out["mb_count"] = len(mbs)
        out["mb_nodata_frac"] = _mean([1.0 if b["input_rows"] == 0 else 0.0 for b in mbs])
        out["state_rows_max"] = max([b["state_rows"] for b in mbs] or [0])
        out["state_mem_bytes_max"] = max([b["state_mem"] for b in mbs] or [0])
        out["late_rows_dropped"] = sum(b["late_rows"] for b in mbs)
        for sink in ("buy_sessions", "user_kpis", "departments"):
            out[f"sink_rows_{sink}"] = seg["sink_rows"].get(sink, 0)
        dur = lambda k: [b["duration"].get(k, 0.0) for b in mbs]
        out["plan_ms"] = _mean(dur("queryPlanning"))
        detail.update({
            "decode_ms_per_1k": m["decode_ms_per_1k"],
            "mb_trigger_p50_ms": median(dur("triggerExecution")),
            "mb_add_batch_ms": _mean(dur("addBatch")),
            "mb_query_planning_ms": _mean(dur("queryPlanning")),
            "mb_get_batch_ms": _mean(dur("getBatch")),
            "mb_latest_offset_ms": _mean(dur("latestOffset")),
            "mb_wal_commit_ms": _mean(dur("walCommit")),
            "mb_commit_offsets_ms": _mean(dur("commitOffsets")),
            "state_update_ms": _mean([b["state_update_ms"] for b in mbs]),
            "state_removal_ms": _mean([b["state_removal_ms"] for b in mbs]),
            "state_commit_ms": _mean([b["state_commit_ms"] for b in mbs]),
            "sink_ms": _mean(m["sink_ms"]),
        })
        if job.get("mode") == "open":
            detail["gen_lag_p99_ms"] = tail(seg["gen_lag_ms"])[0]
            detail["backlog_max_events"] = max(seg["backlog"])
    for k in OP_LAYERS:
        vals = [x[k] for x in lay if k in x]
        out[k] = median(vals) if k == "task_skew" else _mean(vals)
    detail["shuffle_fetch_wait_ms"] = _mean([x.get("shuffle_fetch_wait_ms", 0.0) for x in lay])
    # slot_util over all operations: executor time ÷ (wall × cores)
    run = sum(x.get("exec_run_ms", 0.0) for x in lay)
    busy = sum(x.get("exec_run_ms", 0.0) / x["slot_util"] for x in lay if x.get("slot_util"))
    out["slot_util"] = run / busy if busy else 0.0
    out["probe_ms"] = median(result["probe_ms"])
    out["peak_rss_mb"] = result["peak_rss_mb"]
    detail["trace_overhead_pct"] = trace_overhead_pct(job, m)
    if spans:
        detail["self_ms_by_layer"] = {k: round(v[0], 3) for k, v in spanlib.by_layer(spans).items()}
        detail["spans"] = len(spans)
    return {k: (float(v), UNITS.get(k, "count")) for k, v in out.items()}, detail


UNITS = {k: "ms" for k in PER_LAYER if k.endswith("_ms")}
UNITS.update({k: "bytes" for k in PER_LAYER if k.endswith("_bytes") or k.endswith("_bytes_max")})
UNITS.update({"peak_rss_mb": "MB", "slot_util": "ratio", "task_skew": "ratio", "decode_amplification": "ratio",
              "mb_nodata_frac": "ratio", "trace_overhead_pct": "%"})
