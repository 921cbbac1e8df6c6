"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the seeded inputs, runs one
workload (see workloads.py) through the package's public entry points,
checks every output against a DuckDB oracle, and prints, as the last
line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics of one traced pass with ``--trace 1``. The full
record (box spec, raw samples, spans, plans) is written under
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPEATS = 3


def _measure_pass(wl, store, tracer=None) -> dict:
    """One pass with its Spark jobs and their summed task times."""
    before = store.last_job_id()
    ops = wl.run_pass(tracer)
    jobs = store.jobs_after(before)
    stages = [st for rows in store.pass_stages(jobs).values() for st in rows]
    totals = {k: sum(st[k] for st in stages)
              for k in ("run_s", "cpu_s", "input_rows", "input_mb",
                        "shuffle_write_mb", "spill_mb")}
    return {
        "ops": ops,
        "wall_s": sum(op["latency_s"] for op in ops),
        "jobs": jobs,
        "totals": totals,
    }


def _pass_record(p: dict) -> dict:
    return {
        "wall_s": p["wall_s"],
        "task_cpu_s": p["totals"]["cpu_s"],
        "task_run_s": p["totals"]["run_s"],
        "jobs": len(p["jobs"]),
        "ops": p["ops"],
    }


def end_to_end(setup_s: float, passes: list[dict], peak_rss: float) -> dict:
    ops = [op for p in passes for op in p["ops"]]
    lat = [op["latency_s"] for op in ops]
    run_s = statistics.median(p["wall_s"] for p in passes)
    rows = sum(op["rows"] for op in ops)
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "triples_per_s": (rows / sum(lat), "1/s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }


def traced(wl, store, tracer_mod, session_s: float) -> tuple[dict, dict, list]:
    """The cold pass, then an untraced and a traced warm pass of the
    same operations; returns (per-layer metrics, artifacts, ops)."""
    from layers import per_layer

    cold_ops = wl.run_pass()
    untraced = _measure_pass(wl, store)
    tracer = tracer_mod.Tracer(wl.spark.sparkContext)
    tracer_mod.install(tracer)
    try:
        tracer.pass_id = "traced"
        before = store.last_job_id()
        with tracer.span("pass") as root:
            ops = wl.run_pass(tracer, replay=True)
    finally:
        tracer.uninstall()
    jobs = store.jobs_after(before)
    tracer.join(store, jobs)
    output_rows = sum(op["rows"] for op in ops)
    m = per_layer(tracer.spans, root["total"], ops, output_rows, store.task_skew,
                  next((op["stage_rows"] for op in ops if "stage_rows" in op), {}))
    wall = sum(op["latency_s"] for op in ops)
    m["plans.session_s"] = session_s
    m["trace.run_s"] = wall
    m["trace.untraced_run_s"] = untraced["wall_s"]
    m["trace.overhead_s"] = wall - untraced["wall_s"]
    m["trace.jobs_traced"] = len(jobs)
    m["trace.jobs_untraced"] = len(untraced["jobs"])
    ops = cold_ops + untraced["ops"] + ops
    if m["trace.tracer_jobs"]:
        ops[-1].update(ok=False, error="the tracer's plan capture ran Spark jobs")
    rows = [op["stage_rows"] for op in ops if "stage_rows" in op]
    if any(r != rows[0] for r in rows):
        ops[-1].update(ok=False, error=f"pipeline stage rows drift: {rows}")
    spans = [{k: v for k, v in s.items() if k != "own_stages"} for s in tracer.spans]
    artifacts = {"spans": spans, "plans": tracer.plans,
                 "untraced_pass": _pass_record(untraced)}
    return m, artifacts, ops


def run(args) -> dict:
    import box
    import datagen
    import tracing as tracer_mod
    from layers import PER_LAYER
    from oracle import Oracle
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    sizes = datagen.Sizes()
    t0 = time.perf_counter()
    inputs = datagen.generate(args.seed, os.path.join(work, "inputs"), sizes)
    oracle = Oracle(inputs, work)
    prep_s = time.perf_counter() - t0

    cls = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    spark = box.build_session(work, cls.java_opts)
    session_s = time.perf_counter() - t0
    wl = None
    try:
        wl = cls(spark, inputs, sizes, oracle, work, args.seed)
        reps = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(reps)
        t0 = time.perf_counter()
        wl.expect()
        prep_s += time.perf_counter() - t0
        warm_ops, warm_up_s = [], 0.0
        if not args.trace:  # the traced run makes its own first pass
            t0 = time.perf_counter()
            for _ in range(wl.warm_up_passes):
                warm_ops += wl.run_pass()
            warm_up_s = time.perf_counter() - t0
            setup_s += warm_up_s

        store = tracer_mod.StatusStore(spark.sparkContext)
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "box": box.spec(spark, ROOT), "sizes": vars(sizes),
                  "setup": {"session_s": session_s, "repeat_s": reps,
                            "warm_up_s": warm_up_s},
                  "input_and_oracle_s": prep_s}
        if args.trace:
            metrics, artifacts, ops = traced(wl, store, tracer_mod, session_s)
            units = dict(PER_LAYER)
            out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
            for name in ("spans", "plans"):
                path = os.path.join(results, f"{args.workload}-seed{args.seed}-{name}.json")
                with open(path, "w") as fh:
                    json.dump(artifacts[name], fh, indent=1, default=str)
            record["untraced_pass"] = artifacts["untraced_pass"]
        else:
            passes = []
            with box.PeakRss() as rss:
                start = time.perf_counter()
                while True:
                    passes.append(_measure_pass(wl, store))
                    if (time.perf_counter() - start >= args.seconds
                            and len(passes) >= wl.min_passes):
                        break
            e2e = end_to_end(setup_s, passes, rss.peak)
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            ops = warm_ops + [op for p in passes for op in p["ops"]]
            record["passes"] = [_pass_record(p) for p in passes]
        failed = sum(1 for op in ops if not op["ok"])
        result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                  "metrics": out_metrics}
        record["result"] = result
        path = os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        return result
    finally:
        if wl is not None:
            wl.close()
        box.stop_session(spark)
        oracle.close()
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import morph_xr2rml_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
