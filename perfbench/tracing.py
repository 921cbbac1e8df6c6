"""Spans, Spark job accounting and plan capture for the traced run.

Everything here lives outside the package: the tracer wraps the
package's public callables by replacing module and class attributes at
run time and puts every original back on ``uninstall``. Each span
records name, start, end, parent span and pass/query id in memory, and
tags the Spark jobs it starts with its own job group, so the stage
metrics of the status store join back to the innermost span that ran
them. Tracing that is not installed costs nothing: the untraced run
installs no wrapper.
"""

from __future__ import annotations

import functools
import itertools
import re
import sys
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"

_NODE_RE = re.compile(r"^\((\d+)\) (\S+(?: \S+)?)", re.M)
_LOCATION_RE = re.compile(r"Location: \S+ \[([^\]]*)\]")
_REPARTITION_RE = re.compile(r"RoundRobinPartitioning|REPARTITION_BY")


def plan_string(df) -> str:
    """Formatted physical plan of ``df`` (plans it; runs no job)."""
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_counts(plan: str) -> dict:
    """Source scans, distinct sources, exchanges and repartitions of a
    formatted plan. Nodes are counted once each by their ``(id)`` in
    the details section, so a cached relation shared by several
    branches counts once."""
    details = plan.split("\n\n", 1)[1] if "\n\n" in plan else plan
    nodes: dict[str, tuple[str, str]] = {}
    blocks = re.split(r"\n(?=\(\d+\) )", details)
    for block in blocks:
        m = _NODE_RE.match(block.strip())
        if m:
            nodes.setdefault(m.group(1), (m.group(2).strip(), block))
    scans, locations, exchanges, repartitions = 0, set(), 0, 0
    for name, block in nodes.values():
        if name.startswith("Scan ") or name in ("BatchScan", "FileScan", "LocalTableScan"):
            scans += 1
            loc = _LOCATION_RE.search(block)
            locations.add(loc.group(1) if loc else f"{name}:{block.splitlines()[1:2]}")
        elif name in ("Exchange", "BroadcastExchange"):
            exchanges += 1
            if _REPARTITION_RE.search(block):
                repartitions += 1
    return {
        "scans": scans,
        "sources": len(locations),
        "exchanges": exchanges,
        "repartitions": repartitions,
    }


class StatusStore:
    """Read-only view of the SparkContext's status store (works with
    ``spark.ui.enabled=false``). Job ids are sequential, so the jobs of
    a pass are the ids after the last id seen before it."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_after(self, job_id: int) -> list[dict]:
        """Jobs with id > job_id: id, group, stage ids, wall seconds."""
        out = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= job_id:
                break
            group = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            wall = (
                (done.get().getTime() - sub.get().getTime()) / 1000.0
                if sub.isDefined() and done.isDefined()
                else 0.0
            )
            stage_ids = j.stageIds()
            out.append({
                "job": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "stages": [stage_ids.apply(i) for i in range(stage_ids.size())],
                "wall_s": wall,
            })
        out.reverse()
        return out

    def stage(self, stage_id: int) -> dict | None:
        s = self.store.lastStageAttempt(stage_id)
        if s.status().toString() != "COMPLETE":
            return None  # skipped: its work ran (and is counted) elsewhere
        return {
            "stage": stage_id,
            "attempt": s.attemptId(),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "input_rows": s.inputRecords(),
            "input_mb": s.inputBytes() / 1e6,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
        }

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage["stage"], stage["attempt"], q)
        if not summary.isDefined():
            return 1.0
        rt = summary.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0

    def pass_stages(self, jobs: list[dict]) -> dict[int, dict]:
        """Stage metrics keyed by job id. A stage listed by several jobs
        (a reused shuffle) belongs to the first job that lists it."""
        seen: set[int] = set()
        by_job: dict[int, list[dict]] = {}
        for j in jobs:
            rows = []
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.stage(sid)
                if st is not None:
                    rows.append(st)
            by_job[j["job"]] = rows
        return by_job


class Tracer:
    """In-memory spans with Spark job-group attribution."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.plans: list[dict] = []
        self.pass_id: str | None = None
        self.query_id: str | None = None
        # the closed-loop client's open request: spans that start on an
        # endpoint handler thread hang below it
        self.open_request: dict | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._planned: list = []  # DataFrames already captured

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.open_request
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "query": self.query_id,
            **attrs,
        }
        stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)

    def capture_plan(self, df, layer: str, owner: str) -> None:
        """Plan ``df`` under a ``<layer>.plan`` span and keep the
        formatted plan with its counts for the plans artifact. A frame
        already captured (a stage that returns the compiler's frame) is
        not planned twice."""
        if any(d is df for d in self._planned):
            return
        self._planned.append(df)
        with self.span(f"{layer}.plan", owner=owner) as rec:
            plan = plan_string(df)
        counts = plan_counts(plan)
        rec.update(counts)
        with self._lock:
            self.plans.append({
                "span": rec["id"], "pass": self.pass_id, "query": self.query_id,
                "layer": layer, "owner": owner, **counts, "plan": plan,
            })

    # -- patching ------------------------------------------------------------

    def _replace_everywhere(self, original, replacement) -> None:
        """Point every package module attribute that holds ``original``
        (``from x import f`` copies included) at ``replacement``."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("morph_xr2rml_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patches.append((mod, attr, original))
                    setattr(mod, attr, replacement)

    def _wrapper(self, original: Callable, name: str, after=None) -> Callable:
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = original(*args, **kwargs)
            if after is not None:
                after(rec, args, out)
            return out

        return wrapper

    def wrap_function(self, original: Callable, name: str, after=None) -> None:
        self._replace_everywhere(original, self._wrapper(original, name, after))

    def wrap_method(self, cls: type, attr: str, name: str, after=None) -> None:
        self.patch_method(cls, attr, lambda original: self._wrapper(original, name, after))

    def patch_method(self, cls: type, attr: str, make: Callable) -> None:
        """Install ``make(original)`` as ``cls.attr``."""
        original = cls.__dict__[attr]
        self._patches.append((cls, attr, original))
        setattr(cls, attr, make(original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- joining -------------------------------------------------------------

    def join(self, store: StatusStore, jobs: list[dict]) -> None:
        """Attach jobs and stage metrics to the spans whose group ran
        them, then compute self times and inclusive totals."""
        by_job = store.pass_stages(jobs)
        by_span: dict[int, list[dict]] = {}
        for j in jobs:
            g = j["group"] or ""
            if g.startswith(GROUP_PREFIX):
                by_span.setdefault(int(g[len(GROUP_PREFIX):]), []).append(j)
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            own = by_span.get(s["id"], [])
            stages = [st for j in own for st in by_job.get(j["job"], [])]
            s["own_jobs"] = [j["job"] for j in own]
            s["own_job_wall_s"] = sum(j["wall_s"] for j in own)
            s["own_stages"] = stages
            s["seconds"] = s["end"] - s["start"]
            s["self_s"] = s["seconds"] - _covered(s, children.get(s["id"], []))
        for s in self.spans:
            tot = {"jobs": 0, "job_wall_s": 0.0, "run_s": 0.0, "cpu_s": 0.0,
                   "input_rows": 0, "input_mb": 0.0, "shuffle_write_mb": 0.0,
                   "spill_mb": 0.0}
            heaviest = None
            for d in _descendants(s, children):
                tot["jobs"] += len(d["own_jobs"])
                tot["job_wall_s"] += d["own_job_wall_s"]
                for st in d["own_stages"]:
                    for k in ("run_s", "cpu_s", "input_rows", "input_mb",
                              "shuffle_write_mb", "spill_mb"):
                        tot[k] += st[k]
                    if heaviest is None or st["run_s"] > heaviest["run_s"]:
                        heaviest = st
            s["total"] = tot
            s["heaviest_stage"] = heaviest


def _descendants(span: dict, children: dict[int, list[dict]]):
    todo = [span]
    while todo:
        s = todo.pop()
        yield s
        todo.extend(children.get(s["id"], []))


def _covered(span: dict, kids: list[dict]) -> float:
    """Length of the part of ``span`` that its child spans cover."""
    ivs = sorted(
        (max(k["start"], span["start"]), min(k["end"], span["end"])) for k in kids
    )
    total, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def install(tracer: Tracer) -> None:
    """Wrap the public callables of every measured layer."""
    from morph_xr2rml_spark import mapping, sinks
    from morph_xr2rml_spark.compiler import MappingCompiler
    from morph_xr2rml_spark.pipeline.lineage import StageRunner
    from morph_xr2rml_spark.sparql import bgp, endpoint, results
    from morph_xr2rml_spark.sparql.virtual import VirtualGraph

    def note_maps(rec, _args, doc):
        rec["triples_maps"] = len(doc.triples_maps)

    def plan_compiled(_rec, _args, df):
        tracer.capture_plan(df, "compiler", "MappingCompiler.triples")

    def plan_described(_rec, _args, df):
        tracer.capture_plan(df, "sparql", "VirtualGraph.describe")

    tracer.wrap_function(mapping.parse_mapping, "mapping.parse", note_maps)
    tracer.wrap_method(MappingCompiler, "triples", "compiler.compile", plan_compiled)
    tracer.wrap_method(MappingCompiler, "triples_for", "compiler.compile")
    tracer.wrap_method(MappingCompiler, "quads_for", "compiler.compile")
    tracer.wrap_function(sinks.serialize.write_ntriples, "sinks.write")
    tracer.wrap_function(bgp.parse_sparql, "sparql.parse")
    tracer.wrap_function(bgp.sparql_select, "sparql.select")
    tracer.wrap_function(endpoint.evaluate, "sparql.evaluate")
    tracer.wrap_method(VirtualGraph, "describe", "sparql.describe", plan_described)
    tracer.wrap_method(StageRunner, "partition_counts", "pipeline.lineage_rescan")

    def traced_fragment(original):
        def fragment(self, query):
            before = len(self._compilers)
            with tracer.span("sparql.bind") as rec:
                df = original(self, query)
            rec["maps_compiled"] = len(self._compilers) - before
            rec["maps_total"] = len(self.doc.triples_maps)
            tracer.capture_plan(df, "compiler", "VirtualGraph.fragment")
            return df

        return fragment

    def traced_stage(original):
        def stage(self, name, fn, *args, **kwargs):
            def planned():
                df = fn()
                tracer.capture_plan(df, "pipeline", name)
                return df

            with tracer.span(f"pipeline.{name}", stage=name):
                return original(self, name, planned, *args, **kwargs)

        return stage

    tracer.patch_method(VirtualGraph, "fragment", traced_fragment)
    tracer.patch_method(StageRunner, "stage", traced_stage)

    to_json = results.to_sparql_json

    def to_sparql_json(df, limit=None):
        tracer.capture_plan(df, "sparql", "to_sparql_json")
        with tracer.span("sparql.serialize"):
            return to_json(df, limit)

    tracer._replace_everywhere(to_json, to_sparql_json)
