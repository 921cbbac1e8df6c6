"""The benchmark's workloads, each driven through the package's public
entry points and forced through a real sink.

* ``kg-pipeline``: ``pipeline.run_pipeline`` over the seeded documents
  into a fresh checkpoint directory (its sink is a partitioned parquet
  triple table), then the KG written to N-Triples files by
  ``sinks.write_ntriples``.
* ``sparql-rewrite``: one client, one request in flight, sends the
  seeded query mix over localhost HTTP to a ``SparqlEndpoint`` serving
  a ``VirtualGraph`` over one mapping document (the contract's
  relational maps plus generated taxref-shaped maps over one JSON
  collection) and its sources.

Each run is a fresh process, and each workload is measured in the state
its user meets it. ``kg-pipeline`` is a batch job: its measured pass is
the first one, JVM first-run cost included. ``sparql-rewrite`` is a
long-lived endpoint: its first round of queries is a warm-up (its time
counts in ``setup_s``), and the measured rounds are the ones after it.
"""

from __future__ import annotations

import http.client
import os
import shutil
import time

import numpy as np

import oracle as orc
from datagen import Inputs, Sizes


class Workload:
    #: extra JVM options for this workload's Spark session
    java_opts = ""
    #: untimed passes before measuring; their time counts in setup_s
    warm_up_passes = 0
    #: measure at least this many passes, however long they take
    min_passes = 1

    def __init__(self, spark, inputs: Inputs, sizes: Sizes, oracle: orc.Oracle,
                 work: str, seed: int):
        self.spark = spark
        self.inputs = inputs
        self.sizes = sizes
        self.oracle = oracle
        self.work = work
        self.seed = seed

    def setup(self) -> None:
        """The repeatable part of set-up (timed several times)."""

    def expect(self) -> None:
        """Compute the oracle's expected output (untimed)."""

    def run_pass(self, tracer=None, replay: bool = False) -> list[dict]:
        """One pass; returns one record per operation with its
        ``latency_s``, ``ok`` and ``rows``. ``replay`` repeats the
        previous pass's operations instead of drawing new ones."""
        raise NotImplementedError

    def close(self) -> None:
        pass


def _catalog(spark, tables: dict[str, str]):
    from morph_xr2rml_spark.sources import SourceCatalog

    r = spark.read.parquet
    return (
        SourceCatalog(spark)
        .register("nation", r(tables["nation"]), unique_key=["n_nationkey"])
        .register("customer", r(tables["customer"]), unique_key=["c_custkey"])
        .register("orders", r(tables["orders"]), unique_key=["o_orderkey"])
        .register("events", r(tables["events"]), unique_key=["event_id"])
        # lineitem is not unique on (l_orderkey, l_linenumber) in the
        # contract's data; registered the same way here
        .register("lineitem", r(tables["lineitem"]))
        .register("documents", r(tables["documents"]))
        .register("taxref", r(tables["taxref"]), doc_column="doc")
    )


class KgPipeline(Workload):
    """``run_pipeline`` into a fresh checkpoint directory, then the KG
    exported to N-Triples; one operation, checked at both sinks."""

    # C1 only: the process ends before C2's compiles pay off. On a
    # 4-core box the cold pass took 86 s of JVM CPU in 31 s with the
    # default tiered JIT and 42 s in 28 s with C1 only; with two
    # busy cores beside it, the pass slowed by 48% and by 21%.
    java_opts = "-XX:TieredStopAtLevel=1"

    def setup(self) -> None:
        self.documents = self.spark.read.parquet(self.inputs.tables["documents"])
        self.out = os.path.join(self.work, "kg")
        self.nt_out = os.path.join(self.work, "kg.nt")

    def expect(self) -> None:
        self.expected = self.oracle.kg_digest()

    def run_pass(self, tracer=None, replay: bool = False) -> list[dict]:
        from morph_xr2rml_spark import pipeline, sinks

        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(self.spark, self.documents, self.out, resume=False)
        sinks.write_ntriples(res["triples"], self.nt_out)
        dt = time.perf_counter() - t0
        table = self.oracle.parquet_digest(os.path.join(self.out, "kg_triples"))
        nt = orc.lines_digest(orc.ntriples_lines(self.nt_out))
        stage_rows = {m["stage"]: m["rows"] for m in res["metrics"] if "rows" in m}
        ok = table == nt == self.expected and res["mismatches"] == 0
        return [{"op": "kg-pipeline", "latency_s": dt, "ok": ok, "rows": nt[0],
                 "expected_rows": self.expected[0], "stage_rows": stage_rows}]


class SparqlRewrite(Workload):
    # the endpoint's first round ran 2x slower than the rounds after it
    # (about 21 s against 10-11 s on a 4-core box)
    warm_up_passes = 1
    min_passes = 2
    # One round: every template once, plus four more ASKs and two more
    # point lookups, the cheap requests most of an endpoint's traffic is
    # made of. With each template once, the median request of a round
    # was its one constant-object query, so query_p50_s rested on two
    # samples a run; here it falls among the sixteen ASKs and point
    # lookups of two rounds.
    MIX = ("ask", "point", "rom_2hop", "ask", "const_object", "point", "ask",
           "group_count", "ask", "describe", "point", "ask", "wide_2pred")

    def setup(self) -> None:
        from morph_xr2rml_spark import mapping, sparql
        from morph_xr2rml_spark.sparql.endpoint import SparqlEndpoint

        self.close()
        doc = mapping.parse_mapping(orc.RELATIONAL_TTL + self.inputs.wide_ttl)
        self.graph = sparql.VirtualGraph(
            self.spark, doc, _catalog(self.spark, self.inputs.tables))
        self.endpoint = SparqlEndpoint(self.graph).start()
        self.rng = np.random.default_rng(self.seed + 1)

    def mix(self) -> list[dict]:
        """One round of the query mix, seeded parameters."""
        return [
            {"template": t, **orc.make_query(t, self.rng, self.oracle, self.sizes)}
            for t in self.MIX
        ]

    def request(self, query: str) -> tuple[float, int, str]:
        """POST one query; (seconds from request sent to body read,
        HTTP status, body). A connection failure reads as status 0."""
        conn = http.client.HTTPConnection("127.0.0.1", self.endpoint.port, timeout=120)
        t0 = time.perf_counter()
        try:
            conn.request("POST", "/sparql", body=query.encode("utf-8"), headers={
                "Content-Type": "application/sparql-query",
                "Accept": "application/sparql-results+json",
            })
            resp = conn.getresponse()
            status, body = resp.status, resp.read().decode("utf-8")
        except OSError as e:
            status, body = 0, str(e)
        finally:
            conn.close()
        return time.perf_counter() - t0, status, body

    def run_pass(self, tracer=None, replay: bool = False) -> list[dict]:
        if not replay:
            self.last_mix = self.mix()
        out = []
        for i, q in enumerate(self.last_mix):
            if tracer is None:
                latency, status, body = self.request(q["text"])
            else:
                tracer.query_id = f"{tracer.pass_id}/{i}:{q['template']}"
                with tracer.span("sparql.request", template=q["template"]) as span:
                    tracer.open_request = span
                    try:
                        latency, status, body = self.request(q["text"])
                    finally:
                        tracer.open_request = None
            rec = {"op": q["template"], "latency_s": latency, "ok": False, "rows": 0}
            if status == 200:
                rec["ok"], rec["rows"] = orc.check_answer(q, body, self.oracle)
            else:
                rec["error"] = f"HTTP {status}: {body[:300]}"
            out.append(rec)
        return out

    def close(self) -> None:
        if getattr(self, "endpoint", None) is not None:
            self.endpoint.stop()
            self.graph.release()
            self.endpoint = None


WORKLOADS = {
    "kg-pipeline": KgPipeline,
    "sparql-rewrite": SparqlRewrite,
}
