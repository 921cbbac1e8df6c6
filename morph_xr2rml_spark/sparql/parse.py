"""SPARQL query text -> the query model.

:func:`parse_sparql` is the one reader of query text. One tokenizer
(:func:`_tokens`) cuts the text into tokens; one recursive-descent
parser (:class:`_Parser`) walks them once for all four query forms
(SELECT, ASK, CONSTRUCT, DESCRIBE) and returns a :class:`SelectQuery`.
Constants become canonical N-Triples terms built by the same encoder
that builds the data terms (:func:`..functions.terms.make_literal`), so
a constant in a pattern equals its data term by construction.

Supported SPARQL subset (a superset of every query shape the
reference's abstract algebra models): PREFIX/BASE, SELECT
[DISTINCT|REDUCED] ?v... | (expr AS ?v)... | *, FROM / FROM NAMED,
basic graph patterns with ';'/',' lists and [ ... ] blank-node property
lists, property paths (p1/p2 sequence, p1|p2 alternation, ^p inverse,
!p / !(p1|^p2|...) negated property sets with forward and inverse
members, p+ / p* / p? closure — the closures evaluated as a
distributed semi-naive transitive-closure fixpoint; paths evaluate per
named graph inside GRAPH ?g), GRAPH <g>/{?g} groups over a quad table,
OPTIONAL { ... }, UNION of group graph patterns, MINUS { ... }, FILTER
with =, !=, <, <=, >, >=, BOUND, !, &&, ||, REGEX(text, pattern
[, flags]) with the i/s/m/x flags, IN / NOT IN, xsd:integer/double/...
casts, STR, arithmetic (+ - * /), STRLEN/UCASE/LCASE/CONCAT/SUBSTR,
STRSTARTS/STRENDS/CONTAINS, LANG/LANGMATCHES/DATATYPE,
isIRI/isURI/isLiteral/isBlank, COALESCE, IF, FILTER [NOT] EXISTS
{ ... } (semi/anti join), BIND(expr AS ?v), VALUES ?v { ... } /
VALUES (?a ?b) { (..) } (broadcast inline data; UNDEF joins as NULL),
subqueries ({ SELECT ... } evaluated bottom-up, projected variables
joining outward), GROUP BY + HAVING, aggregates
COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT (with DISTINCT; GROUP_CONCAT
sorted for determinism), ORDER BY [ASC|DESC], LIMIT, OFFSET.

Terms: IRIREFs (BASE-relative ones resolved), prefixed names (a
PN_PREFIX may hold interior dots), ?var and $var, string literals in
both quote styles, short and long (\"\"\"...\"\"\" / '''...'''), with
escapes, @lang and ^^datatype; bare integer, decimal, double and
boolean literals (``5``, ``-3``, ``5.5``, ``1e3``, ``true``) as their
xsd-typed terms. A ``_:b`` blank-node label in a pattern is a variable
hidden from SELECT *; one label names one variable throughout the
query. In a CONSTRUCT template a label stays a blank-node term.

Value semantics: positions hold N-Triples lexical forms (`<iri>`,
`"lit"`, `"lit"^^<dt>`, `"3"^^xsd:integer`); FILTER comparisons are on
the lexical form for equality and on the parsed numeric value for
numeric literals in </<=/>/>= (SPARQL's simple-literal subset), and on
the instant for two xsd:dateTime terms.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import NamedTuple
from urllib.parse import urljoin

from ..functions import terms

# ---------------------------------------------------------------------------
# query model
# ---------------------------------------------------------------------------

Term = str  # '?var' | '<iri>' | '"lit"' | '"lit"^^<dt>' | '"lit"@lang'


@dataclass
class TriplePattern:
    s: Term
    p: "Term | Path"  # a predicate term, or a property-path expression
    o: Term


@dataclass
class Filter:
    expr: "FilterNode"


@dataclass
class Path:
    """A SPARQL 1.1 property-path expression at the predicate position.

    op: 'seq' | 'alt' | 'inv' | 'plus' | 'star' | 'opt' | 'nps'
    (negated property set, args = excluded predicate IRIs), over Path
    or plain predicate-IRI strings (the leaf case never constructs a
    Path).
    """

    op: str
    args: list  # list[Path | str]


@dataclass
class Group:
    """A group graph pattern: required patterns, optional sub-groups,
    filters, union branches, GRAPH sub-groups, BIND assignments,
    VALUES inline data, FILTER [NOT] EXISTS sub-groups, MINUS
    sub-groups."""

    patterns: list[TriplePattern] = field(default_factory=list)
    optionals: list["Group"] = field(default_factory=list)
    filters: list[Filter] = field(default_factory=list)
    unions: list[list["Group"]] = field(default_factory=list)
    graphs: list[tuple[Term, "Group"]] = field(default_factory=list)
    binds: list[tuple[object, str]] = field(default_factory=list)  # (expr, var)
    values: list[tuple[list[str], list[list[str | None]]]] = field(
        default_factory=list
    )  # (vars, rows); None = UNDEF
    exists: list[tuple[bool, "Group"]] = field(
        default_factory=list
    )  # (positive, sub-group)
    minuses: list["Group"] = field(default_factory=list)
    subselects: list["SelectQuery"] = field(default_factory=list)


@dataclass
class Aggregate:
    func: str  # 'count'|'sum'|'avg'|'min'|'max'|'sample'|'group_concat'
    var: str | None  # None = COUNT(*)
    alias: str
    distinct: bool = False
    sep: str = " "  # GROUP_CONCAT separator
    # True when `var` is a pre-computed VALUE column (an aggregate over
    # an expression, SUM(?a * ?b): the input is materialized as a
    # hidden column before grouping) rather than a lexical term column
    # that needs numeric parsing
    raw: bool = False


@dataclass
class SelectQuery:
    variables: list[str]  # without '?'; empty = *
    where: Group
    distinct: bool = False
    # (key, asc): key is a variable name (str) or a FilterNode expression
    order_by: list[tuple[object, bool]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    aggregates: list[Aggregate] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    having: "FilterNode | None" = None
    # dataset clauses: FROM <g> graphs merge into the queried default
    # graph; FROM NAMED <g> graphs are the queried named graphs
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)
    # SELECT (expr AS ?alias) projection expressions (SPARQL 1.1 §18.4
    # Extend): (value-expression tree, alias) pairs, evaluated after
    # grouping (aggregate calls inside are pulled into hidden agg
    # columns like HAVING's) and in projection order, so a later
    # expression may reference an earlier alias. The alias also appears
    # in `variables` at its projection position.
    projections: list[tuple[object, str]] = field(default_factory=list)
    # GROUP BY expression conditions ((expr AS ?alias), (expr), or a
    # bare function call): (tree, name) pairs materialized as columns
    # on the pre-group frame; the name also appears in `group_by`
    # (unaliased conditions get a hidden __g{i} name, droppped from the
    # projection)
    group_exprs: list[tuple[object, str]] = field(default_factory=list)
    # the query form: SELECT | ASK | CONSTRUCT | DESCRIBE. ASK, CONSTRUCT
    # and DESCRIBE keep their WHERE pattern and modifiers here like a
    # SELECT * (a DESCRIBE projects its variables in `variables`)
    form: str = "SELECT"
    # CONSTRUCT: the template triple patterns instantiated per solution
    template: list[TriplePattern] = field(default_factory=list)
    # DESCRIBE: the resources named, IRIs (expanded and BASE-resolved)
    # or ?variables, in query order
    describe: list[Term] = field(default_factory=list)


# filter expression tree
@dataclass
class FilterNode:
    op: str  # cmp ops, 'and', 'or', 'not', 'bound', 'regex'
    args: list  # FilterNode | term strings


def _is_var(t: Term) -> bool:
    return t.startswith("?")


def _in_scope(g: Group) -> set[str]:
    """Names of the variables in scope in a group graph pattern (SPARQL
    1.1 §18.2.1): those its triple patterns, OPTIONAL / UNION / GRAPH
    parts, BIND, VALUES and subquery projections can bind — FILTER,
    MINUS and EXISTS bind none."""
    out = {
        t[1:]
        for tp in g.patterns
        for t in (tp.s, tp.p, tp.o)
        if isinstance(t, str) and _is_var(t)
    }
    out |= {t[1:] for t, _g in g.graphs if _is_var(t)}
    out |= {v for _e, v in g.binds}
    out |= {v for vs, _rows in g.values for v in vs}
    for sub in (
        g.optionals
        + [b for br in g.unions for b in br]
        + [sub for _t, sub in g.graphs]
    ):
        out |= _in_scope(sub)
    for s in g.subselects:
        out |= set(s.variables) or _in_scope(s.where)
    return out


def _new_alias(alias: str, scope: set[str]) -> str:
    """``alias`` once checked to name no in-scope variable (SPARQL 1.1
    §18.2.4.1) — rebinding one would silently overwrite its column.
    The alias joins ``scope``."""
    if alias in scope:
        raise ValueError(
            f"?{alias} is already in scope; (expr AS ?{alias}) must "
            "bind a new variable"
        )
    scope.add(alias)
    return alias


def _check_path_vars(node: "Term | Path") -> None:
    """SPARQL 1.1 forbids variables inside property-path expressions
    (a bare ?p predicate is fine — it never constructs a Path); raise
    rather than compile to a pred == '?p' filter that silently matches
    nothing."""
    if isinstance(node, Path):
        for a in node.args:
            _check_path_vars(a)
    elif isinstance(node, str) and node.startswith("?"):
        raise ValueError(
            "variables are not allowed inside property-path expressions"
        )


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

# One alternative per token kind, tried in order at each position; the
# group name is the kind. An IRIREF holds no whitespace, quote or '<',
# so '<' in FILTER(?x < 5) is the operator. Comments start only where a
# token could, so '#' inside an IRI or a string is text.
_TOKEN_RE = re.compile(
    r"""
      (?P<skip>\s+|\#[^\n\r]*)
    | (?P<iri><[^<>"{}|^`\\\x00-\x20]*>)
    | (?P<string>(?:"{3}(?:"{0,2}(?:[^"\\]|\\.))*"{3}
                  |'{3}(?:'{0,2}(?:[^'\\]|\\.))*'{3}
                  |"(?:[^"\\]|\\.)*"
                  |'(?:[^'\\]|\\.)*')
                 (?:@[A-Za-z]+(?:-[A-Za-z0-9]+)*)?)
    | (?P<bnode>_:\w(?:[\w.-]*[\w-])?)
    | (?P<var>[?$]\w+)
    | (?P<double>(?:\d+\.\d*|\.\d+|\d+)[eE][+-]?\d+)
    | (?P<decimal>\d*\.\d+)
    | (?P<integer>\d+)
    | (?P<pname>(?:[^\W\d_](?:[\w.-]*[\w-])?)?:(?:[\w:%-](?:[\w.:%-]*[\w:%-])?)?)
    | (?P<word>[^\W\d]\w*)
    | (?P<op>\^\^|\|\||&&|!=|<=|>=|[{}()\[\].,;|/^+*?!=<>-])
    | (?P<bad>.)
    """,
    re.VERBOSE | re.DOTALL,
)
_NUMBER_TYPES = {
    "integer": terms.XSD_INTEGER,
    "decimal": terms.XSD_DECIMAL,
    "double": terms.XSD_DOUBLE,
}
# string escapes (ECHAR, UCHAR)
_ESCAPE_RE = re.compile(r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.))", re.DOTALL)
_ECHAR = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


class _Tok(NamedTuple):
    """One token. ``kind`` is a group name of :data:`_TOKEN_RE` ('iri',
    'string', 'number', 'pname', 'var', 'bnode', 'word', 'op') or 'end';
    ``text`` is the source text; ``value`` is the IRI of an iri, the
    name of a var, the label of a bnode, the decoded text of a string
    and the XSD datatype of a number; ``lang`` is a string's tag."""

    kind: str
    text: str
    value: str
    pos: int
    lang: str = ""


def _unescape(body: str) -> str:
    def one(m: re.Match) -> str:
        if m.group(3) is None:
            return chr(int(m.group(1) or m.group(2), 16))
        if m.group(3) not in _ECHAR:
            raise ValueError(f"invalid escape \\{m.group(3)} in a string literal")
        return _ECHAR[m.group(3)]

    return _ESCAPE_RE.sub(one, body)


def _tokens(text: str) -> list[_Tok]:
    """The tokens of ``text``, comments and whitespace dropped, ending
    with an 'end' token."""
    out: list[_Tok] = []
    for m in _TOKEN_RE.finditer(text):
        kind, tok, pos = m.lastgroup, m.group(), m.start()
        if kind == "skip":
            continue
        if kind == "bad":
            what = (
                "unterminated string literal"
                if tok in "\"'"
                else f"unexpected character {tok!r}"
            )
            raise ValueError(f"{what} in SPARQL at {text[pos:pos + 40]!r}")
        if kind == "string":
            q = tok[:3] if tok[:3] in ('"""', "'''") else tok[0]
            close = tok.rindex(q[0]) + 1
            value = _unescape(tok[len(q) : close - len(q)])
            out.append(_Tok(kind, tok, value, pos, tok[close + 1 :]))
        elif kind in _NUMBER_TYPES:
            out.append(_Tok("number", tok, _NUMBER_TYPES[kind], pos))
        else:
            value = {"iri": tok[1:-1], "var": tok[1:], "bnode": tok[2:]}.get(
                kind, tok
            )
            out.append(_Tok(kind, tok, value, pos))
    out.append(_Tok("end", "", "", len(text)))
    return out


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

_RDF_TYPE = f"<{terms.RDF_TYPE}>"
_PATH_MODS = {"+": "plus", "*": "star", "?": "opt"}
_INT_CASTS = {
    "integer", "int", "long", "short", "byte", "nonNegativeInteger",
    "positiveInteger", "negativeInteger", "unsignedInt", "unsignedLong",
}
_FLOAT_CASTS = {"decimal", "double", "float"}
# SPARQL 1.1 built-in functions (beyond the reference's transFunction
# set): term tests, string tests, string/term accessors.
_FN_BOOL = {
    "ISIRI": "isiri", "ISURI": "isiri", "ISLITERAL": "isliteral",
    "ISBLANK": "isblank", "STRSTARTS": "strstarts", "STRENDS": "strends",
    "CONTAINS": "contains", "LANGMATCHES": "langmatches",
    "ISNUMERIC": "isnumeric", "SAMETERM": "sameterm", "REGEX": "regex",
}
_FN_VALUE = {
    "STR": "str", "STRLEN": "strlen", "UCASE": "ucase", "LCASE": "lcase",
    "CONCAT": "concat", "COALESCE": "coalesce", "IF": "if",
    "SUBSTR": "substr", "LANG": "lang", "DATATYPE": "datatype",
    "STRBEFORE": "strbefore", "STRAFTER": "strafter", "REPLACE": "replace",
    "ENCODE_FOR_URI": "encode_for_uri",
    "ABS": "abs", "CEIL": "ceil", "FLOOR": "floor", "ROUND": "round",
    "MD5": "md5", "SHA1": "sha1", "SHA256": "sha256", "SHA384": "sha384",
    "SHA512": "sha512",
    "IRI": "iri", "URI": "iri", "STRDT": "strdt", "STRLANG": "strlang",
    "YEAR": "dt_year", "MONTH": "dt_month", "DAY": "dt_day",
    "HOURS": "dt_hours", "MINUTES": "dt_minutes", "SECONDS": "dt_seconds",
    "TZ": "dt_tz",
}
_FN_NULLARY = {
    "NOW": "now", "UUID": "uuid", "STRUUID": "struuid", "RAND": "rand",
}
_CMP_OPS = ("=", "!=", "<", "<=", ">", ">=")
_BOOL_OPS = {"and", "or", "not", "bound", *_CMP_OPS, *_FN_BOOL.values()}
_AGG_FUNCS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}
_CALLS = {*_FN_BOOL, *_FN_VALUE, *_FN_NULLARY, *_AGG_FUNCS, "BOUND"}


def _has_scheme(iri: str) -> bool:
    scheme, colon, _rest = iri.partition(":")
    return (
        bool(colon)
        and scheme[:1].isascii()
        and scheme[:1].isalpha()
        and all(c.isascii() and (c.isalnum() or c in "+.-") for c in scheme)
    )


def _now_term() -> str:
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
    return terms.make_literal(stamp + "Z", terms.XSD_DATETIME)


def parse_sparql(text: str) -> SelectQuery:
    """Parse a SPARQL query of any form — the one reader of query text.

    The prologue's PREFIX/BASE declarations are read (BASE resolves
    every relative IRI, DESCRIBE terms included) and NOW() is stamped
    once for the whole query. Every form returns a SelectQuery whose
    ``form`` names it: ASK keeps its pattern as a SELECT *, CONSTRUCT
    adds its ``template``, and DESCRIBE lists its terms in ``describe``
    and projects its variables."""
    return _Parser(text).query()


class _Parser:
    """Recursive descent over the tokens of one query. NOW() is stamped
    once per parse: every NOW() node of the query, subqueries included,
    carries ``self.now`` (SPARQL 1.1 §17.4.5.1)."""

    def __init__(self, text: str):
        self.text = text
        self.toks = _tokens(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self.now = _now_term()
        # blank nodes: [ ... ] lists and _:labels become ?__bn{n}
        # variables, numbered through the query
        self.n_bnodes = 0
        self.labels: dict[str, str] = {}
        # whether the expression being parsed may call aggregates
        self.aggregates = False

    # -- token access -------------------------------------------------------

    def peek(self, ahead: int = 0) -> _Tok:
        return self.toks[min(self.i + ahead, len(self.toks) - 1)]

    def next(self) -> _Tok:
        tok = self.peek()
        if tok.kind == "end":
            raise ValueError("unexpected end of SPARQL query")
        self.i += 1
        return tok

    def at(self, *ops: str, ahead: int = 0) -> bool:
        tok = self.peek(ahead)
        return tok.kind == "op" and tok.text in ops

    def at_kw(self, *kws: str) -> bool:
        tok = self.peek()
        return tok.kind == "word" and tok.text.upper() in kws

    def accept(self, op: str) -> bool:
        if self.at(op):
            self.i += 1
            return True
        return False

    def accept_kw(self, kw: str) -> bool:
        if self.at_kw(kw):
            self.i += 1
            return True
        return False

    def expect(self, op: str) -> None:
        if not self.accept(op):
            raise self.error(f"expected {op!r}")

    def expect_kw(self, kw: str) -> None:
        if not self.accept_kw(kw):
            raise self.error(f"expected {kw}")

    def error(self, msg: str) -> ValueError:
        pos = self.peek().pos
        return ValueError(f"{msg} at: {self.text[pos:pos + 60].strip()!r}")

    def at_call(self) -> bool:
        """A function call starts here: a function name or an IRI, then
        '('."""
        tok = self.peek()
        return self.at("(", ahead=1) and (
            tok.kind in ("pname", "iri")
            or tok.kind == "word" and tok.text.upper() in _CALLS
        )

    # -- terms --------------------------------------------------------------

    def iri(self, tok: _Tok) -> str:
        """An IRIREF (BASE-resolved) or prefixed name -> ``<iri>``."""
        if tok.kind == "iri":
            iri = tok.value
            if self.base and not _has_scheme(iri):
                iri = urljoin(self.base, iri)
            return f"<{iri}>"
        if tok.kind == "pname":
            pfx, _colon, local = tok.text.partition(":")
            if pfx not in self.prefixes:
                raise ValueError(f"undeclared prefix {pfx}: in {tok.text!r}")
            return f"<{self.prefixes[pfx]}{local}>"
        if tok.kind == "word" and tok.text == "a":
            return _RDF_TYPE
        raise ValueError(f"expected an IRI, got {tok.text!r}")

    def term(self, *, label_var: bool = True) -> Term:
        """A variable, IRI or literal, or a blank-node label: a hidden
        variable, or the label itself when not ``label_var``."""
        tok = self.next()
        kind = tok.kind
        if kind == "var":
            return "?" + tok.value
        if kind == "string":
            if self.accept("^^"):
                return terms.make_literal(tok.value, self.iri(self.next())[1:-1])
            return terms.make_literal(tok.value, language=tok.lang or None)
        if kind == "number":
            return terms.make_literal(tok.text, tok.value)
        if kind == "op" and tok.text in "+-" and self.peek().kind == "number":
            num = self.next()
            return terms.make_literal(tok.text + num.text, num.value)
        if kind == "word" and tok.text.lower() in ("true", "false"):
            return terms.make_literal(tok.text.lower(), terms.XSD_BOOLEAN)
        if kind == "bnode":
            if not label_var:
                return tok.text
            if tok.value not in self.labels:
                self.labels[tok.value] = self.fresh_var()
            return self.labels[tok.value]
        if kind in ("iri", "pname") or tok.text == "a":
            return self.iri(tok)
        self.i -= 1
        raise self.error("cannot parse triple pattern")

    def var(self) -> str:
        tok = self.next()
        if tok.kind != "var":
            raise ValueError(f"expected a variable, got {tok.text!r}")
        return tok.value

    def string(self) -> str:
        tok = self.next()
        if tok.kind != "string":
            raise ValueError(f"expected a string literal, got {tok.text!r}")
        return tok.value

    def fresh_var(self) -> str:
        var = f"?__bn{self.n_bnodes}"
        self.n_bnodes += 1
        return var

    # -- query forms --------------------------------------------------------

    def query(self) -> SelectQuery:
        while True:
            if self.accept_kw("BASE"):
                self.base = self.iri(self.next())[1:-1]
            elif self.accept_kw("PREFIX"):
                tok = self.next()
                if tok.kind != "pname" or not tok.text.endswith(":"):
                    raise ValueError(f"expected a prefix name, got {tok.text!r}")
                self.prefixes[tok.text[:-1]] = self.iri(self.next())[1:-1]
            else:
                break
        tok = self.peek()
        form = tok.text.upper() if tok.kind == "word" else ""
        if form not in ("SELECT", "ASK", "CONSTRUCT", "DESCRIBE"):
            raise ValueError(
                "not a SPARQL query form (SELECT/ASK/CONSTRUCT/DESCRIBE)"
            )
        self.i += 1
        if form == "SELECT":
            q = self.select()
        elif form == "ASK":
            q = self.where(SelectQuery([], Group()))
        elif form == "CONSTRUCT":
            q = self.construct()
        else:
            q = self.describe()
        if self.peek().kind != "end":
            raise self.error("unparsed text after WHERE block")
        q.form = form
        return q

    def select(self) -> SelectQuery:
        """``SELECT`` (after the keyword) projection, WHERE and modifiers."""
        # REDUCED permits (without requiring) duplicate elimination
        # (SPARQL 1.1 §18.2.5.3.3); evaluating it as DISTINCT is
        # conformant and keeps results deterministic across plans
        distinct = self.accept_kw("DISTINCT") or self.accept_kw("REDUCED")
        items: list[tuple[str, object]] = []  # (name, expr or None)
        if not self.accept("*"):
            while not (self.at("{") or self.at_kw("WHERE", "FROM")):
                if self.peek().kind == "var":
                    items.append((self.var(), None))
                elif self.accept("("):
                    node = self.expression(aggregates=True)
                    if not self.accept_kw("AS"):
                        raise self.error(
                            "cannot parse SELECT expression "
                            "(expected (expr AS ?alias))"
                        )
                    items.append((self.var(), node))
                    self.expect(")")
                else:
                    raise self.error("cannot parse SELECT projection")
            if not items:
                raise self.error("empty SELECT projection")
        q = self.where(SelectQuery([], Group(), distinct=distinct))
        # a projection alias must name a new variable (SPARQL 1.1 §18.2.4.1)
        scope = _in_scope(q.where) | {n for _t, n in q.group_exprs}
        for name, node in items:
            if node is None:
                q.variables.append(name)
                continue
            alias = _new_alias(name, scope)
            if isinstance(node, FilterNode) and node.op == "agg" and not node.args[3]:
                func, var, dist, _expr, sep = node.args
                q.aggregates.append(Aggregate(func, var, alias, dist, sep))
            else:
                # general (expr AS ?alias) projection (SPARQL 1.1 §18.4);
                # aggregate calls inside are pulled post-group
                q.projections.append((node, alias))
            # keep the alias at its projection position so the result
            # column order follows the SELECT clause
            q.variables.append(alias)
        return q

    def construct(self) -> SelectQuery:
        """``CONSTRUCT { template } DatasetClause* WhereClause ...``, or
        the SPARQL 1.1 shorthand ``CONSTRUCT WHERE { triples }`` whose
        pattern is its own template (a plain BGP, per the spec)."""
        if self.accept("{"):
            template: list[TriplePattern] = []
            while not self.accept("}"):
                if not self.accept("."):
                    self.triples(template, label_var=False)
            q = self.where(SelectQuery([], Group()))
        else:
            q = self.where(SelectQuery([], Group()))
            template = list(q.where.patterns)
            if q.where != Group(patterns=template):
                raise ValueError(
                    "CONSTRUCT WHERE takes a basic graph pattern only"
                )
        if any(isinstance(tp.p, Path) for tp in template):
            raise ValueError(
                "property paths are not allowed in a CONSTRUCT template"
            )
        q.template = template
        return q

    def describe(self) -> SelectQuery:
        """``DESCRIBE term+ DatasetClause* WhereClause? ...``: the terms
        are IRIs, prefixed names or variables; variables need the
        WHERE."""
        described: list[str] = []
        while self.peek().kind in ("var", "iri", "pname"):
            described.append(self.term())
        if not described:
            raise ValueError(
                "DESCRIBE needs IRIs or variables (DESCRIBE * is not supported)"
            )
        q = SelectQuery([], Group())
        has_where = self.peek().kind != "end"
        if has_where:
            self.where(q)
        q.describe = described
        q.variables = [t[1:] for t in described if _is_var(t)]
        if q.variables and not has_where:
            raise ValueError("DESCRIBE ?var needs a WHERE clause")
        return q

    def where(self, q: SelectQuery) -> SelectQuery:
        """``DatasetClause* WHERE? GroupGraphPattern SolutionModifier``
        into ``q``. The modifiers come in any order; a second LIMIT,
        OFFSET or HAVING raises."""
        while self.accept_kw("FROM"):
            named = self.accept_kw("NAMED")
            (q.from_named if named else q.from_graphs).append(self.iri(self.next()))
        self.accept_kw("WHERE")
        q.where = self.group()
        while True:
            if self.accept_kw("GROUP"):
                self.expect_kw("BY")
                q.group_by, q.group_exprs = self.group_by(_in_scope(q.where))
            elif self.accept_kw("HAVING"):
                if q.having is not None:
                    raise ValueError("duplicate HAVING clause")
                q.having = self.constraint(aggregates=True)
            elif self.accept_kw("ORDER"):
                self.expect_kw("BY")
                q.order_by = self.order_by()
            elif self.accept_kw("LIMIT"):
                if q.limit is not None:
                    raise ValueError("duplicate LIMIT clause")
                q.limit = self.integer()
            elif self.accept_kw("OFFSET"):
                if q.offset is not None:
                    raise ValueError("duplicate OFFSET clause")
                q.offset = self.integer()
            else:
                return q

    def integer(self) -> int:
        tok = self.next()
        if tok.kind != "number" or tok.value != terms.XSD_INTEGER:
            raise ValueError(f"expected an integer, got {tok.text!r}")
        return int(tok.text)

    def group_by(self, scope: set[str]) -> tuple[list[str], list[tuple[object, str]]]:
        """GroupCondition list (SPARQL 1.1 grammar [20]): ?var |
        (expr AS ?alias) | (expr) | a bare function call. Expression
        conditions become (tree, name) pairs — aliased names are
        projectable (and must not name a variable in ``scope``);
        unaliased ones get hidden __g{i} names."""
        names: list[str] = []
        exprs: list[tuple[object, str]] = []
        hidden = 0
        while True:
            if self.peek().kind == "var":
                names.append(self.var())
                continue
            if self.accept("("):
                node = self.expression()
                name = _new_alias(self.var(), scope) if self.accept_kw("AS") else None
                self.expect(")")
            elif self.at_call():
                node, name = self.primary(), None
            else:
                break
            if name is None:
                name = f"__g{hidden}"
                hidden += 1
            exprs.append((node, name))
            names.append(name)
        if not names:
            raise self.error("cannot parse GROUP BY condition")
        return names, exprs

    def order_by(self) -> list[tuple[object, bool]]:
        """ORDER BY conditions: ?var | ASC(expr) | DESC(expr) | (expr) |
        a bare function call. A plain variable stays a string key (its
        name); anything else is a FilterNode (ORDER BY on aggregate
        aliases and expressions)."""
        out: list[tuple[object, bool]] = []
        while True:
            asc = True
            if self.at_kw("ASC", "DESC") and self.at("(", ahead=1):
                asc = self.next().text.upper() == "ASC"
                node = self.primary()
            elif self.at("(") or self.peek().kind == "var" or self.at_call():
                node = self.primary()
            else:
                break
            if isinstance(node, str) and _is_var(node):
                node = node[1:]
            out.append((node, asc))
        if not out:
            raise self.error("empty ORDER BY clause")
        return out

    # -- graph patterns -----------------------------------------------------

    def group(self) -> Group:
        """``{ ... }``: a group graph pattern, or a subquery as a group
        that holds only it."""
        node = self.group_or_select()
        return node if isinstance(node, Group) else Group(subselects=[node])

    def group_or_select(self) -> "Group | SelectQuery":
        self.expect("{")
        if self.accept_kw("SELECT"):
            sub = self.select()
            self.expect("}")
            return sub
        g = Group()
        while not self.accept("}"):
            if self.accept("."):
                continue
            if self.accept_kw("OPTIONAL"):
                g.optionals.append(self.group())
            elif self.accept_kw("MINUS"):
                g.minuses.append(self.group())
            elif self.accept_kw("FILTER"):
                if self.accept_kw("NOT"):
                    self.expect_kw("EXISTS")
                    g.exists.append((False, self.group()))
                elif self.accept_kw("EXISTS"):
                    g.exists.append((True, self.group()))
                else:
                    g.filters.append(Filter(self.constraint()))
            elif self.accept_kw("BIND"):
                self.expect("(")
                node = self.expression()
                self.expect_kw("AS")
                g.binds.append((node, self.var()))
                self.expect(")")
            elif self.accept_kw("VALUES"):
                g.values.append(self.values())
            elif self.accept_kw("GRAPH"):
                gterm = self.term()
                g.graphs.append((gterm, self.group()))
            elif self.at("{"):
                # a group — possibly a UNION chain { } UNION { } ...
                branches = [self.group_or_select()]
                while self.accept_kw("UNION"):
                    branches.append(self.group_or_select())
                if len(branches) == 1 and isinstance(branches[0], SelectQuery):
                    g.subselects.append(branches[0])
                else:
                    g.unions.append(
                        [
                            b if isinstance(b, Group) else Group(subselects=[b])
                            for b in branches
                        ]
                    )
            else:
                self.triples(g.patterns)
        return g

    def values(self) -> tuple[list[str], list[list[str | None]]]:
        """``VALUES ?v { t... }`` | ``VALUES (?a ?b) { (x y) ... }``;
        UNDEF becomes None."""
        tuples = self.accept("(")
        if tuples:
            variables = []
            while not self.accept(")"):
                variables.append(self.var())
        else:
            variables = [self.var()]
        self.expect("{")
        rows: list[list[str | None]] = []
        while not self.accept("}"):
            if not tuples:
                rows.append([self.data_value()])
                continue
            self.expect("(")
            row = []
            while not self.accept(")"):
                row.append(self.data_value())
            if len(row) != len(variables):
                raise self.error(
                    f"VALUES row arity mismatch (want {len(variables)})"
                )
            rows.append(row)
        return variables, rows

    def data_value(self) -> str | None:
        if self.accept_kw("UNDEF"):
            return None
        if self.peek().kind in ("var", "bnode"):
            raise self.error("VALUES takes IRIs, literals or UNDEF")
        return self.term()

    def triples(self, out: list[TriplePattern], label_var: bool = True) -> None:
        """One ``subject predicate-object-list`` statement into ``out``,
        with ';' predicate-object lists, ',' object lists and [ ... ]
        blank-node property lists (Turtle-style abbreviations, SPARQL
        1.1 §4.2.1-4.2.2). A property list may stand alone as the
        statement."""
        n = len(out)
        s = self.node(out, label_var)
        if len(out) > n and s.startswith("?__bn") and not self.at_verb():
            return  # '[ p o ] .' — a bare property list is a triple
        self.pred_obj_list(s, out, label_var)

    def node(self, out: list[TriplePattern], label_var: bool = True) -> Term:
        """Subject/object position: a term, or a [ ... ] property list
        (emitting its inner patterns with a fresh variable subject)."""
        if self.accept("["):
            var = self.fresh_var()
            if not self.accept("]"):
                self.pred_obj_list(var, out, label_var)
                self.expect("]")
            return var
        if self.at("("):
            raise self.error("RDF collections are not supported")
        return self.term(label_var=label_var)

    def at_verb(self) -> bool:
        tok = self.peek()
        return (
            tok.kind in ("var", "iri", "pname")
            or tok.text == "a"
            or self.at("^", "!", "(")
        )

    def pred_obj_list(
        self, s: Term, out: list[TriplePattern], label_var: bool = True
    ) -> None:
        while True:
            if not self.at_verb():
                raise self.error("cannot parse triple pattern")
            p = self.path()
            if isinstance(p, Path):
                _check_path_vars(p)
            out.append(TriplePattern(s, p, self.node(out, label_var)))
            while self.accept(","):
                out.append(TriplePattern(s, p, self.node(out, label_var)))
            if not self.accept(";"):
                return
            while self.accept(";"):
                pass
            if not self.at_verb():
                return  # a trailing ';' before '.' / ']' / '}'

    # Property-path grammar (SPARQL 1.1 §9):
    #   path := seq ('|' seq)*
    #   seq  := step ('/' step)*
    #   step := '^' step | '!' nps | primary ('+'|'*'|'?')*
    #   nps  := member | '(' member ('|' member)* ')'; member := '^'? iri
    #   primary := iri | prefixed | 'a' | ?var | '(' path ')'
    # A trivial path (a single forward predicate) stays a plain string,
    # so non-path triples compile exactly as before.

    def path(self) -> "Term | Path":
        branches = [self.path_seq()]
        while self.accept("|"):
            branches.append(self.path_seq())
        return branches[0] if len(branches) == 1 else Path("alt", branches)

    def path_seq(self) -> "Term | Path":
        steps = [self.path_step()]
        while self.accept("/"):
            steps.append(self.path_step())
        return steps[0] if len(steps) == 1 else Path("seq", steps)

    def path_step(self) -> "Term | Path":
        if self.accept("^"):
            node: Term | Path = Path("inv", [self.path_step()])
        elif self.accept("!"):
            node = self.negated_set()
        elif self.accept("("):
            node = self.path()
            self.expect(")")
        elif self.peek().kind == "var":
            node = "?" + self.var()
        else:
            node = self.iri(self.next())
        while self.at(*_PATH_MODS):
            node = Path(_PATH_MODS[self.next().text], [node])
        return node

    def negated_set(self) -> Path:
        """``!iri``, ``!^iri`` or ``!(m|m|...)``. Forward members form
        one negated set, inverse members another walked backwards; with
        both, the path is their alternation (SPARQL 1.1 §18.2.2.3)."""
        members: list[tuple[bool, str]] = []
        bracketed = self.accept("(")
        while True:
            inverse = self.accept("^")
            members.append((inverse, self.iri(self.next())))
            if not (bracketed and self.accept("|")):
                break
        if bracketed:
            self.expect(")")
        forward = [m for inv, m in members if not inv]
        backward = [m for inv, m in members if inv]
        parts = ([Path("nps", forward)] if forward else []) + (
            [Path("inv", [Path("nps", backward)])] if backward else []
        )
        return parts[0] if len(parts) == 1 else Path("alt", parts)

    # -- expressions --------------------------------------------------------
    # FILTER / BIND / HAVING / SELECT / GROUP BY / ORDER BY expressions
    # (covers the reference's transFilter / transFunction set,
    # MorphRDBQueryTranslator.scala:385-437, 988-1187, and the SPARQL 1.1
    # built-ins):
    #
    #   or     := and ('||' and)*
    #   and    := unary ('&&' unary)*
    #   unary  := '!' unary | rel
    #   rel    := add (cmp add | [NOT] IN '(' add (',' add)* ')')?
    #   add    := mul (('+'|'-') mul)*
    #   mul    := prim (('*'|'/') prim)*
    #   prim   := '(' or ')' | '-' prim | '+' prim | call
    #           | ?var | literal | number | boolean | <iri> | prefixed
    #
    # IN desugars to an OR of '=' nodes (NOT IN to an AND of '!='), so
    # its semantics are exactly chained equality.

    def expression(self, aggregates: bool = False):
        """One expression; aggregate calls (COUNT(?x) ...) are allowed
        only when ``aggregates`` (HAVING and SELECT expressions)."""
        outer, self.aggregates = self.aggregates, aggregates
        try:
            return self.or_expr()
        finally:
            self.aggregates = outer

    def constraint(self, aggregates: bool = False) -> FilterNode:
        """A FILTER / HAVING condition: a bracketed expression or a
        function call, which must be boolean."""
        if not (self.at("(") or self.at_call()):
            raise self.error("expected '(' or a function call")
        node = self.expression(aggregates)
        if not (isinstance(node, FilterNode) and node.op in _BOOL_OPS):
            raise ValueError("FILTER expression is not boolean")
        return node

    def or_expr(self):
        parts = [self.and_expr()]
        while self.accept("||"):
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else FilterNode("or", parts)

    def and_expr(self):
        parts = [self.unary()]
        while self.accept("&&"):
            parts.append(self.unary())
        return parts[0] if len(parts) == 1 else FilterNode("and", parts)

    def unary(self):
        if self.accept("!"):
            return FilterNode("not", [self.unary()])
        return self.relational()

    def relational(self):
        left = self.additive()
        if self.at(*_CMP_OPS):
            return FilterNode(self.next().text, [left, self.additive()])
        negated = self.accept_kw("NOT")
        if negated:
            self.expect_kw("IN")
        elif not self.accept_kw("IN"):
            return left  # a value node (inside a larger expression)
        self.expect("(")
        items = [self.additive()]
        while self.accept(","):
            items.append(self.additive())
        self.expect(")")
        if negated:
            return FilterNode("and", [FilterNode("!=", [left, x]) for x in items])
        return FilterNode("or", [FilterNode("=", [left, x]) for x in items])

    def additive(self):
        node = self.mult()
        while self.at("+", "-"):
            op = "add" if self.next().text == "+" else "sub"
            node = FilterNode(op, [node, self.mult()])
        return node

    def mult(self):
        node = self.primary()
        while self.at("*", "/"):
            op = "mul" if self.next().text == "*" else "div"
            node = FilterNode(op, [node, self.primary()])
        return node

    def primary(self):
        if self.accept("("):
            node = self.or_expr()
            self.expect(")")
            return node
        if self.accept("-"):
            return FilterNode("neg", [self.primary()])
        if self.accept("+"):
            return self.primary()
        if self.at_call():
            return self.call()
        tok = self.peek()
        if tok.kind == "word" and self.at("(", ahead=1):
            raise ValueError(f"unsupported FILTER function {tok.text}()")
        if tok.kind in ("var", "iri", "pname", "string", "number") or (
            tok.kind == "word" and tok.text.lower() in ("true", "false")
        ):
            return self.term()
        raise self.error("cannot parse expression")

    def call(self):
        tok = self.next()
        self.expect("(")
        if tok.kind != "word":
            return self.cast(tok)
        name = tok.text.upper()
        if self.aggregates and name in _AGG_FUNCS:
            return self.aggregate(name.lower())
        if name in _FN_NULLARY:
            self.expect(")")
            # NOW() carries the per-parse timestamp so every call in
            # the query evaluates to the same instant (§17.4.5.1)
            return FilterNode(_FN_NULLARY[name], [self.now] if name == "NOW" else [])
        if name == "BOUND":
            node = FilterNode("bound", [self.var()])
            self.expect(")")
            return node
        op = _FN_BOOL.get(name) or _FN_VALUE.get(name)
        if op is None:  # an aggregate outside HAVING / SELECT
            raise ValueError(f"unsupported FILTER function {tok.text}()")
        args = self.args()
        if op == "regex" and len(args) not in (2, 3):
            raise ValueError("REGEX takes (text, pattern[, flags])")
        return FilterNode(op, args[:1] if op == "str" else args)

    def args(self) -> list:
        """The comma-separated arguments of a call, through its ')'."""
        args = [self.or_expr()]
        while self.accept(","):
            args.append(self.or_expr())
        self.expect(")")
        return args

    def cast(self, tok: _Tok) -> FilterNode:
        """``xsd:T(expr)``: the casts to the XSD numeric and string
        types (``xsd:`` needs no PREFIX here)."""
        pfx, _colon, local = tok.text.partition(":")
        if tok.kind == "pname" and pfx == "xsd" and pfx not in self.prefixes:
            iri = terms.XSD + local
        else:
            iri = self.iri(tok)[1:-1]
        local = iri[len(terms.XSD) :] if iri.startswith(terms.XSD) else ""
        if local in _INT_CASTS:
            op = "cast_int"
        elif local in _FLOAT_CASTS:
            op = "cast_num"
        elif local == "string":
            op = "str"
        else:
            raise ValueError(f"unsupported FILTER function {tok.text}()")
        return FilterNode(op, self.args()[:1])

    def aggregate(self, func: str) -> FilterNode:
        """``AGG([DISTINCT] expr | *[; SEPARATOR="s"])`` after its '(' ->
        an 'agg' node: [func, var name | None (*) | expr tree, distinct,
        over-an-expression, separator]."""
        distinct = self.accept_kw("DISTINCT")
        if self.accept("*"):
            self.expect(")")
            return FilterNode("agg", [func, None, distinct, False, " "])
        node = self.or_expr()
        sep = " "
        if self.accept(";"):  # GROUP_CONCAT(...; SEPARATOR="x")
            self.expect_kw("SEPARATOR")
            self.expect("=")
            sep = self.string()
        self.expect(")")
        if isinstance(node, str) and _is_var(node):
            return FilterNode("agg", [func, node[1:], distinct, False, sep])
        # aggregate over an expression (SUM(?a * ?b), §18.4.1): the
        # input is materialized as a hidden value column pre-group
        return FilterNode("agg", [func, node, distinct, True, sep])
