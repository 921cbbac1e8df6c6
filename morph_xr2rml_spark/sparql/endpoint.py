"""SPARQL Protocol 1.1 query endpoint over a materialized or virtual graph.

The reference exposes its query translator as a JAX-RS REST service
(morph-xr2rml-dist SparqlRestService.scala: GET /sparql?query=...,
URL-encoded and application/sparql-query POST, a /sparql/test probe,
SELECT/ASK/DESCRIBE/CONSTRUCT forms, content-negotiated result
serialization). This is the same protocol surface over the Spark
engine: each query is parsed once, evaluates as Catalyst plans through
the method of its form on the one Graph interface (sparql/bgp.py), and
results serialize through sparql/results.py.

Driver-side by design: an endpoint answers interactive queries, so
result sets are bounded (``max_rows``); bulk exports go through the
distributed sinks instead.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from ..plans import caching
from .bgp import Graph, TripleTable
from .parse import parse_sparql
from .results import to_sparql_json, to_sparql_xml

_XML_TYPES = ("application/sparql-results+xml", "application/xml", "text/xml")

# requests share the process-global cache/checkpoint registries, so
# their evaluate + release pairs must not interleave
_request_lock = threading.Lock()


def as_graph(source) -> Graph:
    """The :class:`..bgp.Graph` an endpoint answers from: a Graph (a
    :class:`..virtual.VirtualGraph`) as is, a triple DataFrame as a
    :class:`..bgp.TripleTable`; a zero-argument provider is called
    first."""
    if callable(source):
        source = source()
    return source if isinstance(source, Graph) else TripleTable(source)


def evaluate(
    triples,
    query: str,
    accept: str = "",
    max_rows: int = 10_000,
    default_graphs: tuple[str, ...] = (),
    named_graphs: tuple[str, ...] = (),
) -> tuple[str, str]:
    """-> (content_type, body) for one SPARQL protocol request.

    The query is parsed once and answered by the graph method of its
    form — ``select`` / ``ask`` / ``construct`` / ``describe`` of the
    one :class:`..bgp.Graph` interface. ``triples`` is a materialized
    triple DataFrame, a zero-argument provider of one, or a Graph — a
    :class:`..sparql.virtual.VirtualGraph` answers each request in the
    reference's rewriting mode (per-request translation against the
    mapped sources, SparqlRestService -> MorphBaseRunner.runQuery:57-107)
    instead of from a materialized table. DESCRIBE takes one or more
    IRIs (written in full, as prefixed names or BASE-relative) and
    variables bound by a WHERE clause.

    ``default_graphs`` / ``named_graphs`` are the SPARQL protocol's
    RDF-dataset parameters (``default-graph-uri`` / ``named-graph-uri``,
    protocol §2.1.4), honored for SELECT, ASK and CONSTRUCT as if the
    query had written the equivalent FROM / FROM NAMED clauses.
    Supplying them together with in-query dataset clauses is an error
    (the protocol allows either refusal or override; refusal is
    unambiguous), as is supplying them on DESCRIBE (unsupported here).
    The reference's service accepts these parameters but silently
    ignores them (SparqlRestService.scala:51-52,90-91); honoring them is
    an intentional superset."""
    q = parse_sparql(query)
    if default_graphs or named_graphs:
        if q.from_graphs or q.from_named:
            raise ValueError(
                "dataset supplied both in the query (FROM/FROM NAMED) "
                "and as protocol parameters"
            )
        q.from_graphs = [f"<{g.strip('<>')}>" for g in default_graphs]
        q.from_named = [f"<{g.strip('<>')}>" for g in named_graphs]
    out = getattr(as_graph(triples), q.form.lower())(q)
    want_xml = any(t in accept for t in _XML_TYPES)
    if q.form == "SELECT":
        if want_xml:
            return ("application/sparql-results+xml", to_sparql_xml(out, max_rows))
        return ("application/sparql-results+json", to_sparql_json(out, max_rows))
    if q.form == "ASK":
        if want_xml:
            return (
                "application/sparql-results+xml",
                '<?xml version="1.0"?>\n<sparql xmlns="http://www.w3.org/2005/'
                f'sparql-results#"><head/><boolean>{str(out).lower()}</boolean>'
                "</sparql>",
            )
        return (
            "application/sparql-results+json",
            json.dumps({"head": {}, "boolean": out}),
        )
    rows = out.limit(max_rows).collect()
    nt = "".join(f"{r['subj']} {r['pred']} {r['obj']} .\n" for r in rows)
    return ("application/n-triples", nt)


class SparqlEndpoint:
    """Embedded HTTP server speaking the SPARQL 1.1 protocol (query
    operation) over one graph: a triple DataFrame or a
    :class:`..bgp.Graph` — or a zero-argument provider callable of
    either, resolved per request. The provider form is the
    incremental-answering hook (streaming.incremental.serve_incremental):
    a parquet-backed DataFrame freezes its file listing at analysis
    time, so a fixed frame would never see microbatches committed after
    endpoint construction, while a per-request ``spark.read.parquet``
    re-lists the sink directory. Passing a
    :class:`..sparql.virtual.VirtualGraph` (directly or from the
    provider) serves every request in the reference's rewriting mode —
    per-request translation against the mapped sources, never a full
    materialization (SparqlRestService -> runQuery).

    Every request is answered as in :func:`evaluate`: all four query
    forms, DESCRIBE of several IRIs (full, prefixed or BASE-relative)
    and of WHERE-bound variables. At the end of each request the graph
    is released (a VirtualGraph drops the compilers and cached
    fragments the request built), so a long-lived endpoint holds at
    most one request's footprint."""

    def __init__(self, triples, host: str = "127.0.0.1",
                 port: int = 0, max_rows: int = 10_000):
        self._source = triples
        self.max_rows = max_rows
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # noqa: N802 — quiet server
                pass

            def _respond(self, code: int, ctype: str, body: str) -> None:
                data = body.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", f"{ctype}; charset=utf-8")
                self.send_header("Content-Length", str(len(data)))
                self.send_header("Access-Control-Allow-Origin", "*")
                self.end_headers()
                self.wfile.write(data)

            def _run(
                self,
                query: str | None,
                default_graphs: tuple[str, ...] = (),
                named_graphs: tuple[str, ...] = (),
            ) -> None:
                if not query:
                    self._respond(400, "text/plain", "missing 'query' parameter")
                    return
                try:
                    # serialize requests around the process-global cache
                    # registry: each request is a job boundary, and the
                    # persists/checkpoints IT created (e.g. a property-
                    # path closure's fixpoint rounds) are released once
                    # its results are fully serialized — a long-lived
                    # endpoint holds at most one request's footprint.
                    # Pre-existing registrations (the caller's own
                    # cached/checkpointed triple frame) are left alone.
                    with _request_lock:
                        mark = caching.job_mark()
                        # a provider resolves anew for every request
                        graph = as_graph(endpoint._source)
                        try:
                            ctype, body = evaluate(
                                graph, query,
                                self.headers.get("Accept", ""),
                                endpoint.max_rows,
                                default_graphs=default_graphs,
                                named_graphs=named_graphs,
                            )
                        finally:
                            graph.release()
                            caching.release_since(mark)
                except Exception as e:  # noqa: BLE001 — protocol error reply
                    self._respond(400, "text/plain", f"query error: {e}")
                    return
                self._respond(200, ctype, body)

            @staticmethod
            def _dataset_params(params) -> tuple[tuple, tuple]:
                # SPARQL protocol RDF-dataset parameters (SS2.1.4)
                return (
                    tuple(params.get("default-graph-uri", ())),
                    tuple(params.get("named-graph-uri", ())),
                )

            def do_GET(self) -> None:  # noqa: N802
                url = urlsplit(self.path)
                if url.path.rstrip("/").endswith("/test"):
                    self._respond(200, "text/plain",
                                  "SPARQL REST service is up and running")
                    return
                params = parse_qs(url.query)
                dg, ng = self._dataset_params(params)
                self._run(params.get("query", [None])[0], dg, ng)

            def do_POST(self) -> None:  # noqa: N802
                # a malformed request gets a 400, never a dropped
                # connection (UnicodeDecodeError is a ValueError)
                try:
                    length = int(self.headers.get("Content-Length", "0"))
                    if length < 0:
                        raise ValueError(f"negative Content-Length {length}")
                    raw = self.rfile.read(length).decode("utf-8")
                except ValueError as e:
                    self._respond(400, "text/plain", f"malformed request: {e}")
                    return
                ctype = self.headers.get("Content-Type", "")
                if "application/sparql-query" in ctype:
                    q: str | None = raw
                    # dataset params ride the request URI for this form
                    dg, ng = self._dataset_params(
                        parse_qs(urlsplit(self.path).query)
                    )
                else:  # application/x-www-form-urlencoded
                    params = parse_qs(raw)
                    q = params.get("query", [None])[0]
                    dg, ng = self._dataset_params(params)
                self._run(q, dg, ng)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "SparqlEndpoint":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
