"""Independent expected outputs, computed by DuckDB from the generated
inputs, and the order-independent checks that compare them with what
the engine wrote.

A triple set is compared by its size and by the sum of a 60-bit md5
prefix of each N-Triples line, so a dropped, added, duplicated or
altered triple changes the result whatever order the sink wrote in.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb

from morph_xr2rml_spark import driver_contract as dc

from datagen import EX, ONT, TXP, Inputs

# the contract's relational maps, written as one mapping document
RELATIONAL_TTL = (
    dc.NATION_TTL + dc.ORDERS_TTL + dc.EVENTS_TTL + dc.LINEITEM_LIST_TTL + dc.DOCS_TTL
)
RELATIONAL_ORACLES = (
    dc.SQL_XR2RML_NATION,
    dc.SQL_XR2RML_REFOBJECTMAP,
    dc.SQL_XR2RML_MIXED_PATH,
    dc.SQL_XR2RML_RDF_LIST,
    dc.SQL_XR2RML_LANG_DT_BNODE,
)

_LINE_SQL = "subj || ' ' || pred || ' ' || obj || ' .'"
_HASH_SQL = f"('0x' || substr(md5({_LINE_SQL}), 1, 15))::BIGINT"


def line_hash(line: str) -> int:
    return int(hashlib.md5(line.encode("utf-8")).hexdigest()[:15], 16)


def lines_digest(lines) -> tuple[int, int]:
    """(count, checksum) of N-Triples lines."""
    n = total = 0
    for line in lines:
        n += 1
        total += line_hash(line)
    return n, total


def ntriples_lines(path: str):
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            yield from fh.read().splitlines()


class Oracle:
    """DuckDB over the generated tables. ``t`` holds the expected
    triples of the mapping that ``sparql-rewrite`` serves, built from
    the contract's oracle SQL plus the SQL generated with each wide
    map; the SPARQL templates are answered from it by hand-written
    SQL."""

    def __init__(self, inputs: Inputs, work: str):
        self.db = duckdb.connect()
        tmp = os.path.join(work, "duckdb-tmp")
        os.makedirs(tmp, exist_ok=True)
        self.db.execute(f"SET temp_directory = '{tmp}'")
        self.db.execute("SET threads = 2")
        for name, path in inputs.tables.items():
            self.db.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        parts = [*RELATIONAL_ORACLES, *inputs.wide_oracle_sql]
        union = " UNION ALL ".join(f"SELECT * FROM ({p.strip()})" for p in parts)
        self.db.execute(
            f"CREATE TABLE t AS SELECT DISTINCT subj, pred, obj FROM ({union})"
        )

    def digest(self, relation: str) -> tuple[int, int]:
        n, s = self.db.execute(
            f"SELECT count(*), coalesce(sum({_HASH_SQL}), 0) FROM {relation}"
        ).fetchone()
        return int(n), int(s)

    def kg_digest(self) -> tuple[int, int]:
        return self.digest(f"({dc.SQL_KG_TRIPLES_CANONICAL.strip()})")

    def parquet_digest(self, path: str) -> tuple[int, int]:
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        listing = ", ".join(f"'{f}'" for f in files)
        return self.digest(f"read_parquet([{listing}])")

    def rows(self, sql: str) -> list[tuple]:
        return sorted(tuple(r) for r in self.db.execute(sql).fetchall())

    def close(self) -> None:
        self.db.close()


# ---------------------------------------------------------------------------
# SPARQL query mix
# ---------------------------------------------------------------------------

PREFIXES = f"PREFIX ex: <{ONT}>\nPREFIX txp: <{TXP}>\n"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"


def _q(s: str) -> str:
    return s.replace("'", "''")


def make_query(template: str, rng, oracle: Oracle, sizes) -> dict:
    """One instance of ``template`` with seeded parameters: the query
    text, its kind and the SQL over ``t`` that answers it."""
    if template == "point":
        s = f"<{EX}customer/{int(rng.integers(1, sizes.customers + 1))}>"
        return {"kind": "select",
                "text": f"SELECT ?p ?o WHERE {{ {s} ?p ?o }}",
                "sql": f"SELECT pred, obj FROM t WHERE subj = '{s}'"}
    if template == "rom_2hop":
        key = int(rng.integers(1, sizes.customers + 1))
        (name,) = oracle.db.execute(
            f"SELECT c_name FROM customer WHERE c_custkey = {key}").fetchone()
        return {"kind": "select",
                "text": PREFIXES + "SELECT ?o ?st WHERE { ?o ex:customer ?c . "
                        f'?c ex:name "{name}" . ?o ex:status ?st }}',
                "sql": "SELECT a.subj, s.obj FROM t a JOIN t n ON a.obj = n.subj "
                       "JOIN t s ON s.subj = a.subj "
                       f"WHERE a.pred = '<{ONT}customer>' AND n.pred = '<{ONT}name>' "
                       f"AND n.obj = '\"{_q(name)}\"' AND s.pred = '<{ONT}status>'"}
    if template == "const_object":
        c = f"<{EX}customer/{int(rng.integers(1, sizes.customers + 1))}>"
        return {"kind": "select",
                "text": PREFIXES + f"SELECT ?o ?st WHERE {{ ?o ex:customer {c} . "
                        "?o ex:status ?st }",
                "sql": "SELECT a.subj, s.obj FROM t a JOIN t s ON s.subj = a.subj "
                       f"WHERE a.pred = '<{ONT}customer>' AND a.obj = '{c}' "
                       f"AND s.pred = '<{ONT}status>'"}
    if template == "group_count":
        return {"kind": "select",
                "text": PREFIXES + "SELECT ?t (COUNT(?e) AS ?n) WHERE { ?e ex:etype ?t } "
                        "GROUP BY ?t",
                "sql": "SELECT obj, '\"' || count(*) || '\"^^<" + XSD_INTEGER + ">' "
                       f"FROM t WHERE pred = '<{ONT}etype>' GROUP BY obj"}
    if template == "describe":
        n_orders = sizes.customers * sizes.orders_per_customer
        o = f"<{EX}order/{int(rng.integers(1, n_orders + 1))}>"
        return {"kind": "describe",
                "text": f"DESCRIBE {o}",
                "sql": f"SELECT {_LINE_SQL} FROM t WHERE subj = '{o}' OR obj = '{o}'"}
    if template == "ask":
        s = f"<{EX}nation/{int(rng.integers(0, 25))}>"
        return {"kind": "ask",
                "text": PREFIXES + f"ASK {{ {s} ex:name ?n }}",
                "sql": f"SELECT count(*) > 0 FROM t WHERE subj = '{s}' "
                       f"AND pred = '<{ONT}name>'"}
    if template == "wide_2pred":
        i = int(rng.integers(0, sizes.wide_maps))
        code = int(rng.integers(1, sizes.taxa + 1))
        (value,) = oracle.db.execute(
            f"SELECT json_extract_string(doc, '$.f{i}') FROM taxref "
            f"WHERE json_extract(doc, '$.codeTaxon')::INT = {code}").fetchone()
        return {"kind": "select",
                "text": PREFIXES + f'SELECT ?t ?x WHERE {{ ?t txp:p{i} "{value}" . '
                        f"?t txp:taxon{i} ?x }}",
                "sql": "SELECT a.subj, b.obj FROM t a JOIN t b ON a.subj = b.subj "
                       f"WHERE a.pred = '<{TXP}p{i}>' AND a.obj = '\"{_q(value)}\"' "
                       f"AND b.pred = '<{TXP}taxon{i}>'"}
    raise ValueError(template)


def _term(b: dict) -> str:
    """SPARQL JSON term -> N-Triples term."""
    if b["type"] == "uri":
        return f"<{b['value']}>"
    if b["type"] == "bnode":
        return f"_:{b['value']}"
    lex = '"' + b["value"] + '"'
    if "xml:lang" in b:
        return f"{lex}@{b['xml:lang']}"
    if "datatype" in b:
        return f"{lex}^^<{b['datatype']}>"
    return lex


def answer_rows(kind: str, body: str) -> list[tuple]:
    """The response body as sorted rows comparable with ``Oracle.rows``."""
    if kind == "describe":
        return sorted((line,) for line in body.splitlines() if line.strip())
    doc = json.loads(body)
    if kind == "ask":
        return [(doc["boolean"],)]
    names = doc["head"]["vars"]
    return sorted(
        tuple(_term(b[v]) if v in b else None for v in names)
        for b in doc["results"]["bindings"]
    )


def check_answer(query: dict, body: str, oracle: Oracle) -> tuple[bool, int]:
    """(matches the oracle, result rows) for one query response."""
    try:
        got = answer_rows(query["kind"], body)
    except (ValueError, KeyError):  # not a well-formed result document
        return False, 0
    want = oracle.rows(query["sql"])
    return got == want, len(got)
