"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload oltp_accounts --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` the result's metrics
are the end-to-end metrics; with ``--trace 1`` the per-layer metrics,
and the spans plus an event-log digest go to ``.perfbench_out/``. The
line before the result starts with ``perfbench-info`` and carries the
core count, load average, sample counts and phase times, so outlier
runs can be explained. Anything that goes wrong before the result exits
non-zero without printing one.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# span name prefix -> layer; the analytics spans are named after queries
SPAN_LAYER = {"store": "store", "repository": "repository", "projection": "projection",
              "checkpoints": "checkpoints", "operators": "operators"}
WORKLOADS = {"oltp_accounts": "oltp", "analytics_battery": "analytics"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                   help="smoke shrinks every input, for the benchmark's own tests")
    return p.parse_args(argv)


class Context:
    """What a workload needs: session, seed, time budget, tracer, job counter."""

    def __init__(self, args, work_dir, spark):
        from harness import JobCounter, Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.scale == "smoke"
        self.work_dir = work_dir
        self.spark = spark
        self.tracer = Tracer(bool(args.trace))
        self.jobs = JobCounter(spark) if args.trace else None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "eventsourcing_spark")):
        print(f"no eventsourcing_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import harness

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.remove_tree(work_dir)
    os.makedirs(work_dir)
    harness.configure_env(work_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(work_dir, event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        ctx = Context(args, work_dir, spark)
        res = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        res["layers"]["session.start_s"] = (session_s, 1)
        harness.stop_spark(spark)  # also flushes the event log finish() reads
        spark = None
        result, info = finish(args, ctx, res, work_dir)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_tree(work_dir)
        try:  # the parent stays while another run still uses it
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass
    for err in res["errors"][:20]:
        print(f"error: {err}", file=sys.stderr)
    print("perfbench-info " + json.dumps(info))
    print(json.dumps(result))
    return 0


def finish(args, ctx, res, work_dir):
    """The result line (exactly the contract's keys) and the info line."""
    import harness
    from metrics import END_TO_END, PER_LAYER, UNITS

    if args.trace:
        layers = dict(res["layers"])
        log_dir = os.path.join(work_dir, "eventlog")
        groups = harness.parse_event_log(log_dir, res["timed_epoch"])
        for key in ("jobs", "job_s", "task_cpu_s", "shuffle_bytes"):
            layers[f"sparklog.{key}"] = (sum(g[key] for g in groups.values()), 1)
        spans_s, wall_s = res["reconcile"]
        layers["trace.wall_s"] = (wall_s, 1)
        layers["trace.spans_s"] = (spans_s, 1)
        layers["trace.reconcile_ratio"] = (spans_s / wall_s, 1)
        for name, (v, n) in res["e2e"].items():
            layers[f"traced.{name}"] = (v, n)
        for span, secs in ctx.tracer.self_times().items():
            key = f"self.{SPAN_LAYER.get(span.split('.', 1)[0], 'analytics')}_s"
            layers[key] = (layers.get(key, (0.0, 1))[0] + secs, 1)
        names = [name for name, _unit in PER_LAYER]
        values = {n: layers.get(n, (0.0, 0)) for n in names}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
            json.dump({"spans": ctx.tracer.spans, "self_s": ctx.tracer.self_times(),
                       "job_groups": groups}, f)
    else:
        names = [name for name, _unit, _better in END_TO_END]
        values = {n: res["e2e"][n] for n in names}
    metrics = {n: {"value": float(v), "unit": UNITS[n]} for n, (v, _k) in values.items()}
    samples = {n: int(k) for n, (_v, k) in values.items()}
    result = {
        "correct": bool(res["correct"]) and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": harness.cpu_count(), "loadavg": os.getloadavg(),
            "samples": samples, "phases_s": res.get("phases", {}),
            "errors": len(res["errors"])}
    return result, info


if __name__ == "__main__":
    sys.exit(main())
