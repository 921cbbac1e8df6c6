from .bgp import Graph, TripleTable, sparql_construct, sparql_describe, sparql_select
from .parse import SelectQuery, parse_sparql
from .results import ask, parse_term, to_sparql_json, to_sparql_xml, write_csv, write_tsv
from .virtual import VirtualGraph, bind_patterns

__all__ = [
    "Graph",
    "SelectQuery",
    "TripleTable",
    "VirtualGraph",
    "ask",
    "bind_patterns",
    "parse_sparql",
    "parse_term",
    "sparql_construct",
    "sparql_describe",
    "sparql_select",
    "to_sparql_json",
    "to_sparql_xml",
    "write_csv",
    "write_tsv",
]
