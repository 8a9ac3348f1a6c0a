"""Steady-state benchmark of the openoa_spark engine.

    python3 perfbench/run.py --workload plant_oa|query_suite|scada_stream
                             --seed N --seconds S --trace 0|1

One process runs one workload in one Spark session at local[nproc],
closed loop with a single client, in four steps:

1. set-up: session start, then the inputs generated from ``--seed``,
   staged and loaded three times (query_suite reads fixed reference
   tables and only checks them; ``setup_s`` = session start + the
   median of the three);
2. one cold pass, reported in the context line (its time between
   processes spreads more than a tenth, too much for a bounded metric);
3. a fixed number of untimed warm-up passes per workload, the count
   after which pass time was measured to stop falling;
4. timed passes until ``--seconds`` have passed (at least three).

Every run checks outputs (plant truths in every pass; DuckDB twins and
the rollup recompute once per run) and a failed check counts as a
failed op. The last stdout line is the result object; the line before
it records the run's context: host steal share, load, the warm-up
drift flag, per-pass and per-op times and the op-tail figure.

``--trace 1`` interleaves untraced and traced timed passes and prints
the per-layer metrics (median over the traced passes) with the tracing
overhead. End-to-end numbers come from ``--trace 0`` runs.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness as H  # noqa: E402

SETUPS = 3
# a median of three passes stays put when one is slowed by a burst of
# host contention; a median of two is their mean
MIN_TIMED = 3
# no timed pass starts past this point, so a run ends well inside its
# 180 s limit even on a slow host
DEADLINE_S = 130.0
WORKLOADS = {
    "plant_oa": ("perfbench.plant_oa", "PlantOA"),
    "query_suite": ("perfbench.query_suite", "QuerySuite"),
    "scada_stream": ("perfbench.scada_stream", "ScadaStream"),
}


def measure(wl, args, tracer) -> dict:
    """Set-up, cold pass, warm-up and timed passes; returns the raw
    timings and, for traced runs, one layer dict per traced pass."""
    tracer.enabled = bool(args.trace)
    setups = [H.timed(wl.setup)[0] for _ in range(1 if args.tiny else SETUPS)]
    tracer.enabled = False
    cold_s, _ = H.timed(wl.run_pass)
    warm = [H.timed(wl.run_pass)[0]
            for _ in range(0 if args.tiny else wl.warmup_passes)]

    plain, traced, layers = [], [], []
    t0 = time.perf_counter()
    while True:
        n = len(plain) + len(traced)
        done = n >= (1 if args.tiny else MIN_TIMED) and (
            time.perf_counter() - t0 >= args.seconds
            or time.perf_counter() - T_PROCESS >= DEADLINE_S
        )
        if done and (traced or not args.trace):
            break
        if args.trace and n % 2 == 1:
            tracer.values = {}
            before = tracer.jvm_counters()
            tracer.reset_heap_peak()
            tracer.enabled = True
            traced.append(H.timed(wl.run_pass))
            tracer.enabled = False
            after = tracer.jvm_counters()
            vals = dict(tracer.values)
            vals.update({k: after[k] - before[k] for k in after})
            vals["jvm.heap_peak_mib"] = tracer.heap_peak_mib()
            layers.append(vals)
        else:
            plain.append(H.timed(wl.run_pass))
    check_s, _ = H.timed(wl.final_check)
    return {"setups": setups, "cold": cold_s, "warm": warm, "plain": plain,
            "traced": traced, "layers": layers, "check": check_s}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs and passes (self-test only)")
    args = ap.parse_args()

    import openoa_spark  # noqa: F401 - fail before any set-up without it

    switches = H.plan_switches_set()
    if switches:
        print(f"refusing to run: plan-changing env switches set: {switches}",
              file=sys.stderr)
        return 2
    module, cls_name = WORKLOADS[args.workload]
    cls = getattr(importlib.import_module(module), cls_name)

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = H.fresh_dir(os.path.join(work_root, f"{args.workload}-{os.getpid()}"))
    guard = H.HostGuard()
    try:
        spark = H.start_session(work)
        try:
            session_s = time.perf_counter() - T_PROCESS
            tracer = H.Tracer(spark)
            wl = cls(spark, work, args.seed, args.tiny, tracer)
            m = measure(wl, args, tracer)
            rss = H.peak_rss_parts_mib(H.jvm_pid(spark))
        finally:
            H.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    pass_times = [dt for dt, _ in m["plain"]]
    # ops every timed pass completed (a failed drain lands no batches)
    common = set.intersection(*(set(ops) for _, ops in m["plain"]))
    op_passes = [{k: ops[k] for k in common} for _, ops in m["plain"]]
    tail, n_tail = H.op_tail(op_passes) if common else (0.0, 0)
    last_warm = m["warm"][-1] if m["warm"] else m["cold"]
    drift = abs(last_warm - pass_times[0]) / pass_times[0]

    if args.trace:
        want = spec["per_layer"]
        metrics = {x["name"]: 0.0 for x in want}
        for k in set().union(*m["layers"]):
            metrics[k] = H.median(v.get(k, 0.0) for v in m["layers"])
        for k in ("sources.stage_ms", "plant.load_ms", "plant.load_jobs"):
            vals = [s[k] for s in wl.setup_layers if k in s]
            if vals:
                metrics[k] = H.median(vals)
        metrics["session.start_ms"] = session_s * 1000.0
        metrics["jvm.heap_peak_mib"] = max(v["jvm.heap_peak_mib"] for v in m["layers"])
        metrics["trace.overhead_ms"] = 1000.0 * (
            H.median(dt for dt, _ in m["traced"]) - H.median(pass_times)
        )
    else:
        want = spec["end_to_end"]
        metrics = {
            "setup_s": session_s + H.median(m["setups"]),
            "pass_s": H.median(pass_times),
            "op_gmean_ms": H.op_gmean_ms(op_passes) if common else 0.0,
            "peak_rss_mib": sum(rss.values()),
        }
    bound = {x["name"]: x["bound"] for x in spec["end_to_end"]}
    counter = wl.counter
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": guard.report(),
        "session_s": round(session_s, 4),
        "setups_s": [round(s, 4) for s in m["setups"]],
        "cold_pass_s": round(m["cold"], 4),
        "warmup_passes_s": [round(s, 4) for s in m["warm"]],
        "timed_passes_s": [round(s, 4) for s in pass_times],
        "traced_passes_s": [round(dt, 4) for dt, _ in m["traced"]],
        "final_check_s": round(m["check"], 4),
        "warmup_drift": round(drift, 4),
        "warmup_flag": drift > bound["pass_s"],
        "op_tail_ms": round(tail, 3), "op_tail_samples": n_tail,
        "op_median_ms": {k: round(H.median(p[k] for p in op_passes), 2)
                         for k in sorted(common)},
        "errors": counter.errors[:20],
        "peak_rss_parts_mib": {k: round(v, 1) for k, v in rss.items()},
        "run_wall_s": round(time.perf_counter() - T_PROCESS, 2),
    }))
    print(json.dumps({
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {x["name"]: {"value": metrics[x["name"]], "unit": x["unit"]}
                    for x in want},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
