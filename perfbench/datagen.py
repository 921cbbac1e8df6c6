"""Seeded benchmark inputs: TPC-H-shaped tables, a taxref-shaped JSON
document collection with its generated wide mapping, and the KG-pipeline
``documents`` table.

The seed decides every value (names, statuses, which customer owns which
orders, which tokens a document holds); the sizes and
the *shape* of the data are fixed, so the number of triples written,
rows per pipeline stage and result rows per query are the same for every
seed. Values are restricted to characters that need no N-Triples or IRI
escaping, so the DuckDB oracles can build expected terms by plain string
concatenation.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EX = "http://example.org/"
ONT = EX + "ontology#"
TAXON = "http://inpn.mnhn.fr/taxref/"
TXP = TAXON + "properties/"


@dataclass(frozen=True)
class Sizes:
    customers: int = 600
    orders_per_customer: int = 4
    events: int = 4000
    taxa: int = 400
    wide_maps: int = 24
    documents: int = 200
    kg_tokens_per_doc: int = 6


@dataclass
class Inputs:
    """Paths of the generated parquet tables plus the generated mapping
    parts and their oracle SQL."""

    tables: dict[str, str]
    wide_ttl: str
    wide_oracle_sql: list[str]


def _words(rng: np.random.Generator, n: int, length: int = 8) -> list[str]:
    """n distinct lowercase words (a-z only)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n:
        out.update(
            "".join(w) for w in rng.choice(letters, size=(n - len(out), length))
        )
    return sorted(out)


def _write(path: str, table: pa.Table) -> str:
    pq.write_table(table, path)
    return path


def md5_long(text: str) -> int:
    """Same value as ``ops.hashing.md5_long`` (first 60 bits of md5)."""
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# relational tables (the contract's xR2RML maps read these)
# ---------------------------------------------------------------------------


def _relational(rng, sizes: Sizes, out: str) -> dict[str, str]:
    n_cust = sizes.customers
    n_ord = n_cust * sizes.orders_per_customer
    nation_names = _words(rng, 25)
    tables = {
        "nation": _write(
            f"{out}/nation.parquet",
            pa.table({
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": nation_names,
                "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
            }),
        )
    }
    cust_names = [f"Customer {w}" for w in _words(rng, n_cust)]
    tables["customer"] = _write(
        f"{out}/customer.parquet",
        pa.table({
            "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
            "c_name": cust_names,
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        }),
    )
    # every customer owns exactly orders_per_customer orders; the seed
    # decides which ones
    owner = np.repeat(np.arange(1, n_cust + 1), sizes.orders_per_customer)
    rng.shuffle(owner)
    okeys = np.arange(1, n_ord + 1)
    tables["orders"] = _write(
        f"{out}/orders.parquet",
        pa.table({
            "o_orderkey": pa.array(okeys, pa.int64()),
            "o_custkey": pa.array(owner, pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        }),
    )
    # 1..4 lines per order, fixed by the order key so the list shape is
    # seed-independent
    n_lines = 1 + okeys % 4
    l_order = np.repeat(okeys, n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    tables["lineitem"] = _write(
        f"{out}/lineitem.parquet",
        pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_returnflag": rng.choice(["A", "N", "R"], len(l_order)).tolist(),
        }),
    )
    n_ev = sizes.events
    ev_types = rng.choice(["click", "view", "buy", "share", "like"], n_ev)
    ks = rng.integers(0, 1000, n_ev)
    tables["events"] = _write(
        f"{out}/events.parquet",
        pa.table({
            "event_id": pa.array(np.arange(1, n_ev + 1), pa.int64()),
            "event_type": ev_types.tolist(),
            "props": [
                json.dumps({"k": int(k), "src": str(t)}) for k, t in zip(ks, ev_types)
            ],
        }),
    )
    return tables


# ---------------------------------------------------------------------------
# taxref-shaped document collection + generated wide mapping
# ---------------------------------------------------------------------------


def _wide(rng, sizes: Sizes, out: str) -> tuple[str, str, list[str]]:
    """``wide_maps`` triples maps over ONE JSON collection (``taxref``).

    Map i gives every taxon a subject in its own namespace
    (``.../m{i}/{codeTaxon}``), a literal from field ``f{i}`` and an IRI
    link back to the taxon, so every map's triples are distinct and each
    map has a one-line oracle. Field values are distinct per taxon, so a
    constant-literal lookup matches one document."""
    n = sizes.taxa
    fields = [f"f{i}" for i in range(sizes.wide_maps)]
    values = {f: _words(rng, n, 10) for f in fields}
    perm = {f: rng.permutation(n) for f in fields}
    docs = []
    for t in range(n):
        d = {"codeTaxon": t + 1, "rang": str(rng.choice(["ES", "GN", "FM", "KD"]))}
        for f in fields:
            d[f] = values[f][perm[f][t]]
        docs.append(json.dumps(d))
    path = _write(f"{out}/taxref.parquet", pa.table({"doc": docs}))

    maps, sqls = [], []
    for i, f in enumerate(fields):
        subj = f"{TAXON}m{i}/{{$.codeTaxon}}"
        maps.append(f"""
<#TMWide{i}>
    xrr:logicalSource [ xrr:query "db.taxref.find({{}})";
                        xrr:referenceFormulation xrr:JSONPath ];
    rr:subjectMap [ rr:template "{subj}" ];
    rr:predicateObjectMap [
        rr:predicate txp:p{i}; rr:objectMap [ xrr:reference "$.{f}" ] ];
    rr:predicateObjectMap [
        rr:predicate txp:taxon{i};
        rr:objectMap [ rr:template "{TAXON}taxon/{{$.codeTaxon}}" ] ];
    .""")
        s = f"'<{TAXON}m{i}/' || json_extract_string(doc, '$.codeTaxon') || '>'"
        sqls.append(
            f"SELECT {s} AS subj, '<{TXP}p{i}>' AS pred, "
            f"'\"' || json_extract_string(doc, '$.{f}') || '\"' AS obj FROM taxref"
        )
        sqls.append(
            f"SELECT {s}, '<{TXP}taxon{i}>', "
            f"'<{TAXON}taxon/' || json_extract_string(doc, '$.codeTaxon') || '>' "
            "FROM taxref"
        )
    ttl = (
        "@prefix xrr: <http://i3s.unice.fr/xr2rml#> .\n"
        "@prefix rr:  <http://www.w3.org/ns/r2rml#> .\n"
        f"@prefix txp: <{TXP}> .\n" + "".join(maps) + "\n"
    )
    return path, ttl, sqls


# ---------------------------------------------------------------------------
# KG-pipeline documents
# ---------------------------------------------------------------------------


def kg_vocabulary(n_hub: int = 40, n_plain: int = 400) -> tuple[list[str], list[str]]:
    """Fixed vocabulary split by the pipeline's hub rule (md5 % 7 == 0,
    ``pages.synthesize_sameas``). Seed-independent, so the alias
    dictionary, the sameAs graph and the canonical map have the same
    size for every seed."""
    hub, plain = [], []
    i = 0
    while len(hub) < n_hub or len(plain) < n_plain:
        w = f"tok{i:05d}"
        i += 1
        if md5_long(w) % 7 == 0:
            if len(hub) < n_hub:
                hub.append(w)
        elif len(plain) < n_plain:
            plain.append(w)
    return hub, plain


def _documents(rng, sizes: Sizes, out: str) -> str:
    """The ``documents`` table read by the KG pipeline. Document d holds
    one hub token and ``kg_tokens_per_doc - 1`` plain tokens, the j-th
    repeated j times, taken cyclically from seeded permutations of the
    vocabulary so that every token occurs. The alias dictionary, the
    sameAs graph, per-page mention counts and the canonicalized triple
    count are then the same for every seed."""
    hub, plain = kg_vocabulary()
    k = sizes.kg_tokens_per_doc - 1
    if sizes.documents < len(hub) or sizes.documents * k < len(plain):
        raise ValueError("too few documents to hold the whole vocabulary")
    hub_order = rng.permutation(hub)
    plain_order = rng.permutation(plain)
    texts = []
    for d in range(sizes.documents):
        toks = [str(hub_order[d % len(hub)])] + [
            str(plain_order[(k * d + j) % len(plain)]) for j in range(k)
        ]
        rng.shuffle(toks)
        words = [t for j, t in enumerate(toks) for _ in range(j + 1)]
        rng.shuffle(words)
        texts.append(" ".join(words))
    n = sizes.documents
    return _write(
        f"{out}/documents.parquet",
        pa.table({
            "doc_id": pa.array(np.arange(1, n + 1), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "fr", "de"], n).tolist(),
            "source": rng.choice(["news", "blog", "wiki"], n).tolist(),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
    )


def generate(seed: int, out: str, sizes: Sizes = Sizes()) -> Inputs:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = _relational(rng, sizes, out)
    tables["taxref"], ttl, sqls = _wide(rng, sizes, out)
    tables["documents"] = _documents(rng, sizes, out)
    return Inputs(tables, ttl, sqls)
