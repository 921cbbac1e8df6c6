"""Per-layer metrics of one traced pass, derived from its joined spans.

Each metric names the package layer it measures. A metric of a layer
the workload does not use reads 0.
"""

from __future__ import annotations

import statistics

PIPELINE_STAGES = (
    "pages", "extracted", "aliases", "mentions", "entities",
    "triples_raw", "sameas", "canonical_map", "kg_triples",
)
_STAGE_METRICS = (
    ("s", "s"), ("task_cpu_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("jobs", "count"), ("rows", "count"),
)

PER_LAYER: tuple[tuple[str, str], ...] = (
    ("plans.session_s", "s"),
    ("mapping.parse_s", "s"),
    ("mapping.triples_maps", "count"),
    ("compiler.compile_s", "s"),
    ("compiler.compile_jobs", "count"),
    ("compiler.plan_s", "s"),
    ("compiler.plan_scans", "count"),
    ("compiler.plan_exchanges", "count"),
    ("compiler.plan_repartitions", "count"),
    ("compiler.scans_per_source", "ratio"),
    ("sources.input_rows", "count"),
    ("sources.input_mb", "MB"),
    ("sources.rows_read_per_triple", "ratio"),
    ("sinks.write_s", "s"),
    ("sinks.write_jobs", "count"),
    ("sinks.task_run_s", "s"),
    ("sinks.task_cpu_s", "s"),
    ("sinks.shuffle_write_mb", "MB"),
    ("sinks.spill_mb", "MB"),
    ("sinks.task_skew", "ratio"),
    ("sinks.triples", "count"),
    ("sparql.parse_s", "s"),
    ("sparql.bind_s", "s"),
    ("sparql.maps_compiled_ratio", "ratio"),
    ("sparql.plan_s", "s"),
    ("sparql.exec_s", "s"),
    ("sparql.http_s", "s"),
    ("sparql.jobs_per_query", "count"),
    ("sparql.shuffle_mb_per_query", "MB"),
    ("sparql.task_cpu_s_per_query", "s"),
    ("sparql.result_rows", "count"),
    *(
        (f"pipeline.{stage}.{m}", unit)
        for stage in PIPELINE_STAGES
        for m, unit in _STAGE_METRICS
    ),
    ("pipeline.extract_invariant_s", "s"),
    ("pipeline.lineage_rescan_s", "s"),
    ("trace.run_s", "s"),
    ("trace.untraced_run_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.jobs_traced", "count"),
    ("trace.jobs_untraced", "count"),
    ("trace.tracer_jobs", "count"),
)


def _outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` that have no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def _sum(spans, key) -> float:
    return sum(s["total"][key] if key in s["total"] else s[key] for s in spans)


def per_layer(spans: list[dict], pass_totals: dict, ops: list[dict],
              output_rows: int, skew, stage_rows: dict) -> dict[str, float]:
    """The per-layer metrics of one traced pass. ``pass_totals`` are the
    pass span's inclusive stage totals; ``skew`` gives max/median task
    time of a stage record; ``stage_rows`` are the pipeline's lineage
    row counts."""
    m: dict[str, float] = {name: 0.0 for name, _unit in PER_LAYER}

    parse = _outermost(spans, "mapping.parse")
    m["mapping.parse_s"] = _sum(parse, "seconds")
    m["mapping.triples_maps"] = max((s.get("triples_maps", 0) for s in parse), default=0)

    compile_ = _outermost(spans, "compiler.compile")
    m["compiler.compile_s"] = _sum(compile_, "seconds")
    m["compiler.compile_jobs"] = _sum(compile_, "jobs")
    plans = [s for s in spans if s["name"] == "compiler.plan"]
    m["compiler.plan_s"] = _sum(plans, "seconds")
    for key in ("scans", "exchanges", "repartitions"):
        m[f"compiler.plan_{key}"] = sum(s[key] for s in plans)
    sources = sum(s["sources"] for s in plans)
    m["compiler.scans_per_source"] = m["compiler.plan_scans"] / sources if sources else 0.0

    m["sources.input_rows"] = pass_totals["input_rows"]
    m["sources.input_mb"] = pass_totals["input_mb"]
    m["sources.rows_read_per_triple"] = (
        pass_totals["input_rows"] / output_rows if output_rows else 0.0
    )

    writes = _outermost(spans, "sinks.write")
    if writes:
        m["sinks.write_s"] = _sum(writes, "seconds")
        m["sinks.write_jobs"] = _sum(writes, "jobs")
        m["sinks.task_run_s"] = _sum(writes, "run_s")
        m["sinks.task_cpu_s"] = _sum(writes, "cpu_s")
        m["sinks.shuffle_write_mb"] = _sum(writes, "shuffle_write_mb")
        m["sinks.spill_mb"] = _sum(writes, "spill_mb")
        heavy = [s["heaviest_stage"] for s in writes if s["heaviest_stage"]]
        if heavy:
            m["sinks.task_skew"] = skew(max(heavy, key=lambda st: st["run_s"]))
    if any(s["name"].startswith(("sinks.", "pipeline.")) for s in spans):
        m["sinks.triples"] = output_rows

    requests = [s for s in spans if s["name"] == "sparql.request"]
    if requests:
        per_query = []
        for r in requests:
            mine = [s for s in spans if s["query"] == r["query"]]
            binds = _outermost(mine, "sparql.bind")
            evals = _outermost(mine, "sparql.evaluate")
            per_query.append({
                "parse_s": _sum(_outermost(mine, "sparql.parse"), "seconds"),
                "bind_s": _sum(binds, "seconds"),
                "maps_compiled_ratio": sum(
                    b["maps_compiled"] / b["maps_total"] for b in binds if b["maps_total"]
                ),
                "plan_s": _sum([s for s in mine if s["name"] == "sparql.plan"], "seconds"),
                "exec_s": r["total"]["job_wall_s"],
                "http_s": r["seconds"] - _sum(evals, "seconds"),
                "jobs_per_query": r["total"]["jobs"],
                "shuffle_mb_per_query": r["total"]["shuffle_write_mb"],
                "task_cpu_s_per_query": r["total"]["cpu_s"],
            })
        for key in per_query[0]:
            m[f"sparql.{key}"] = statistics.fmean(q[key] for q in per_query)
        m["sparql.result_rows"] = sum(op["rows"] for op in ops)

    by_stage = {s.get("stage"): s for s in spans if s["name"].startswith("pipeline.")
                and "stage" in s}
    for stage in PIPELINE_STAGES:
        s = by_stage.get(stage)
        if s is None:
            continue
        m[f"pipeline.{stage}.s"] = s["seconds"]
        m[f"pipeline.{stage}.task_cpu_s"] = s["total"]["cpu_s"]
        m[f"pipeline.{stage}.shuffle_write_mb"] = s["total"]["shuffle_write_mb"]
        m[f"pipeline.{stage}.spill_mb"] = s["total"]["spill_mb"]
        m[f"pipeline.{stage}.jobs"] = s["total"]["jobs"]
        m[f"pipeline.{stage}.rows"] = stage_rows.get(stage, 0)
    if "extracted" in by_stage and "aliases" in by_stage:
        # run_pipeline's byte-identity count runs between these stages
        m["pipeline.extract_invariant_s"] = (
            by_stage["aliases"]["start"] - by_stage["extracted"]["end"]
        )
    m["trace.tracer_jobs"] = _sum(
        [s for s in spans if s["name"].endswith(".plan")], "jobs"
    )
    m["pipeline.lineage_rescan_s"] = _sum(
        [s for s in spans if s["name"] == "pipeline.lineage_rescan"], "seconds"
    )
    return m
