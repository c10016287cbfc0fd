#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the JVM harness from source (once per source
state), makes the workload's inputs from the seed, runs one fresh JVM,
checks every output, and prints one JSON object as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pbench import build, gen, metrics, oracle  # noqa: E402

DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def make_inputs(name, wl, params, seed, seconds, work):
    """Job fields for the workload's generated inputs (cached per seed)."""
    if wl["kind"] == "batch":
        d = os.path.join(work, "tables", f"sf{wl['scale_factor']}-s{seed}")
        gen.write_tables(seed, wl["scale_factor"], d)
        return {"data_dir": d, "queries": wl["queries"]}
    s = params["stream"]
    if wl["mode"] == "closed":
        n = wl["warmup_events"] + int(wl["max_rate_per_s"] * seconds)
        rate = s["event_time_rate_per_s"]
    else:
        # event time runs at wall speed: the stream's event rate is the feed rate
        rate = wl["rate_per_s"]
        n = wl["warmup_events"] + int(rate * (wl["lead_s"] + seconds + wl["tail_s"] + 2))
    path = os.path.join(work, "events", f"{name}-s{seed}-n{n}.bin")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ev = gen.click_events(seed, n, rate, s["users"], s["zipf_exponent"],
                              checkout_p=s["checkout_share"], noise_p=s["noise_share"])
        gen.write_events(path, *ev)
    job = {"events_path": path, "mode": wl["mode"], "chunk": wl["chunk"], "rate_per_s": rate,
           "warmup_events": wl["warmup_events"]}
    if wl["mode"] == "open":
        # an unmeasured lead-in and tail around the measured window
        ts = gen.read_event_times(path)
        n_ticks = int(round((wl["lead_s"] + seconds + wl["tail_s"]) * 1000 / wl["tick_ms"]))
        cuts = gen.open_loop_ticks(ts, wl["warmup_events"], wl["tick_ms"], n_ticks)
        job.update({"tick_ms": wl["tick_ms"], "lead_s": wl["lead_s"], "cuts": cuts.tolist()})
    return job


def run_jvm(cmd, job_path, log_path, deadline):
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd + [job_path], stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("benchmark JVM exceeded its time limit")
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {rc}")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] slots; default: every available core")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        params = json.load(fh)
    if a.workload not in params["workloads"]:
        sys.exit(f"unknown workload {a.workload}")
    wl = params["workloads"][a.workload]
    work = os.path.join(HERE, ".work")
    try:
        classes = build.build(root, HERE, os.path.join(HERE, ".build"))
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    # a first run that compiled gets the full deadline for its JVM
    deadline = time.time() + DEADLINE_S - min(time.time() - t_start, 20)
    cores = a.cores or len(os.sched_getaffinity(0))
    job = {"workload": a.workload, "kind": wl["kind"], "seed": a.seed,
           "seconds": a.seconds, "trace": bool(a.trace), "cores": cores}
    job.update(make_inputs(a.workload, wl, params, a.seed, a.seconds, work))
    run_dir = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    job["out_dir"] = run_dir
    job_path = os.path.join(run_dir, "job.json")
    with open(job_path, "w") as fh:
        json.dump(job, fh)
    try:
        scratch = os.path.join(run_dir, "tmp")
        os.makedirs(scratch)
        cmd = build.java_cmd(classes, params["heap"], os.path.join(HERE, "log4j2.properties"), scratch,
                             wl.get("jvm_flags", []))
        run_jvm(cmd, job_path, os.path.join(run_dir, "jvm.log"), deadline)
        with open(os.path.join(run_dir, "result.json")) as fh:
            result = json.load(fh)
        attempted, failed, failures = verify(job, result, run_dir)
        if a.trace:
            spans = []
            sp = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(sp):
                with open(sp) as fh:
                    spans = [json.loads(l) for l in fh if l.strip()]
            values, detail = metrics.per_layer(job, result, spans)
        else:
            values, detail = metrics.end_to_end(job, result)
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
                  "ops_failed_frac": failed / attempted, "failures": failures[:20],
                  "detail": detail,
                  "metrics": {k: v[0] for k, v in values.items()}}
        os.makedirs(os.path.join(work, "reports"), exist_ok=True)
        with open(os.path.join(work, "reports", f"{a.workload}-t{a.trace}.json"), "w") as fh:
            json.dump(report, fh, indent=1)
        log(json.dumps({k: report[k] for k in ("ops_failed_frac", "failures", "detail")})[:4000])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


def verify(job, result, run_dir):
    """(attempted, failed, failure notes) over every checked output."""
    failures = []
    if job["kind"] == "batch":
        ops = [o for o in result["measure"]["ops"] if "name" in o]
        bad_runs = [o["name"] for o in ops if not o["ok"]]
        failures += [f"{n}: threw" for n in sorted(set(bad_runs))]
        res_dir = os.path.join(run_dir, "results")
        got = oracle.check_results(res_dir, job["data_dir"], os.path.join(job["data_dir"], "oracle")) \
            if os.path.isdir(res_dir) else {}
        checked = result["check"]["queries"]
        wrong = []
        for q in checked:
            reason = got.get(q["name"], "no result written") if q["ok"] else "threw"
            if reason:
                wrong.append(q["name"])
                failures.append(f"{q['name']}: {reason}")
        return len(ops) + len(checked), len(bad_runs) + len(wrong), failures
    c = result["check"]
    # every sink row checked, plus the run's own health (failed queries,
    # backlog growth) and every input row a stateful operator dropped
    late = sum(c["late_rows"].values())
    attempted = sum(s["rows"] for s in c["sinks"].values()) + 1 + late
    failed = sum(s["missing"] + s["extra"] for s in c["sinks"].values()) + c["failed_batches"] + late
    for k, s in c["sinks"].items():
        if s["missing"] or s["extra"]:
            failures.append(f"{k}: {s['missing']} rows missing, e.g. {s['missing_sample'][:2]}; "
                            f"{s['extra']} extra, e.g. {s['extra_sample'][:2]}")
    if job["mode"] == "open" and backlog_grows(result["measure"]["segment"]["backlog"], job):
        failed += 1
        failures.append("backlog grows: the engine does not keep up with the rate")
    if c["failed_batches"]:
        failures.append(f"{c['failed_batches']} queries failed")
    if late:
        failures.append(f"rows dropped behind the watermark: {c['late_rows']}")
    return attempted, failed, failures


def backlog_grows(backlog, job):
    """The backlog grows if its floor (the queue left right after
    micro-batches finish) over the last third of the open loop sits more
    than one second of input above its floor over the middle third. The
    first third is the ramp from an idle engine to its steady queue; each
    third spans several micro-batches."""
    n = len(backlog)
    if n < 6:
        return False
    return min(backlog[2 * n // 3:]) - min(backlog[n // 3: 2 * n // 3]) > job["rate_per_s"]


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        sys.exit(f"[perfbench] failed: {e}")
