"""SPARQL over a triple table as DataFrame composition.

:func:`parse_sparql` is the one reader of query text: it parses every
query form (SELECT, ASK, CONSTRUCT, DESCRIBE) into a
:class:`SelectQuery`, which the :class:`Graph` interface answers over
the query's fragment — the whole table for a :class:`TripleTable`, the
bound mapping branches for a :class:`..virtual.VirtualGraph`.

The reference evaluates SPARQL by rewriting it into MongoDB/SQL queries
through a bespoke abstract-query algebra (binder + AbstractQuery tree +
per-backend generators, SURVEY §2.12, §3.2-3.3:
MorphBaseTriplePatternBinder.bindm:50-213,
MorphMongoQueryTranslator.translate:72-124,
MorphRDBQueryTranslator.trans:262-315). On Spark the entire subsystem
collapses into plan composition over the (subj, pred, obj) table:

    triple pattern   -> filter on constant positions + projection to vars
    BGP (AND)        -> inner join on shared variables (J6/J9)
    OPTIONAL         -> left outer join on shared variables (J7)
    FILTER           -> Column predicate (F1-F3, F5)
    UNION            -> unionByName (U2)
    SELECT/DISTINCT  -> select/dropDuplicates (A3)
    ORDER/LIMIT/OFFSET -> orderBy/limit/offset (O1/O2)

Catalyst then does join reordering, predicate pushdown, and broadcast
selection — replacing the reference's hand-written optimizer rewrites
(SURVEY §4.1).

Supported SPARQL subset (a superset of every query shape the
reference's abstract algebra models): PREFIX, SELECT [DISTINCT]
?v... | *, basic graph patterns with ';'/',' lists and [ ... ]
blank-node property lists, property paths (p1/p2 sequence,
p1|p2 alternation, ^p inverse, !p / !(p1|p2) negated property sets,
p+ / p* / p? closure — the closures
evaluated as a distributed semi-naive transitive-closure fixpoint;
paths evaluate per named graph inside GRAPH ?g),
GRAPH <g>/{?g} groups over a quad table, OPTIONAL { ... }, UNION of
group graph patterns, MINUS { ... }, FILTER with =, !=, <, <=, >, >=,
BOUND, !, &&, ||, REGEX, IN / NOT IN, xsd:integer/double/... casts,
STR, arithmetic (+ - * /), STRLEN/UCASE/LCASE/CONCAT/SUBSTR,
STRSTARTS/STRENDS/CONTAINS, LANG/LANGMATCHES/DATATYPE,
isIRI/isURI/isLiteral/isBlank, COALESCE, IF,
FILTER [NOT] EXISTS { ... } (semi/anti join), BIND(expr AS ?v),
VALUES ?v { ... } / VALUES (?a ?b) { (..) } (broadcast inline data;
UNDEF joins as NULL), subqueries ({ SELECT ... } evaluated bottom-up,
projected variables joining outward), GROUP BY + HAVING, aggregates
COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT (with DISTINCT;
GROUP_CONCAT sorted for determinism), ORDER BY [ASC|DESC], LIMIT,
OFFSET.

Value semantics: positions hold N-Triples lexical forms (`<iri>`,
`"lit"`, `"lit"^^<dt>`, `"3"^^xsd:integer`); FILTER comparisons are on
the lexical form for equality and on the parsed numeric value for
numeric literals in </<=/>/>= (SPARQL's simple-literal subset).
"""

from __future__ import annotations

import functools
import re
import threading
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


# ---------------------------------------------------------------------------
# parser (regex/recursive-descent over the subset)
# ---------------------------------------------------------------------------

_PREFIX_RE = re.compile(r"PREFIX\s+([\w.-]*):\s*<([^>]*)>", re.IGNORECASE)
_FORM_RE = re.compile(r"(SELECT|ASK|CONSTRUCT|DESCRIBE)\b", re.IGNORECASE)
# DatasetClause* (FROM [NAMED] IRIref), then the WHERE group's opening
# '{'. WHERE is optional in the SPARQL grammar (SELECT * { ... } and
# ASK { ... } are valid); the lookbehind keeps a ?where variable from
# being eaten as the keyword.
_WHERE_PAT = (
    r"\s*(?P<dataset>(?:FROM\s+(?:NAMED\s+)?"
    r"(?:<[^<>\s]*>|\w+(?:\.\w+)*:[\w.%-]*)\s*)*)"
    r"(?:(?<![?\w])WHERE\s*)?\{"
)
_WHERE_RE = re.compile(_WHERE_PAT, re.IGNORECASE)
# the projection runs up to where the dataset clauses / WHERE block start
_SELECT_RE = re.compile(
    r"\s*SELECT\s+(DISTINCT\s+|REDUCED\s+)?(.*?)(?=" + _WHERE_PAT + ")",
    re.IGNORECASE | re.DOTALL,
)
# a DESCRIBE term: ?var, <iri> or a prefixed name
_DESCRIBE_TERM_RE = re.compile(r"\s*(\?\w+|<[^<>\s]*>|[\w.-]*:[\w.%-]*)")
# Solution modifiers after the WHERE block. SPARQL's LimitOffsetClauses
# allows LIMIT/OFFSET in either order; the scanner accepts any clause
# order and raises on unconsumed text (a silently-dropped OFFSET would
# return extra rows).
_CLAUSE_RE = re.compile(r"\b(GROUP\s+BY|ORDER\s+BY|LIMIT|OFFSET)\b", re.IGNORECASE)

# one DatasetClause of _WHERE_PAT's dataset capture
_DATASET_RE = re.compile(
    r"\bFROM\s+(NAMED\s+)?(<[^<>\s]*>|\w+(?:\.\w+)*:[\w.%-]*)",
    re.IGNORECASE
)

_AGG_RE = re.compile(
    r"^\(\s*(?P<func>COUNT|SUM|AVG|MIN|MAX|SAMPLE|GROUP_CONCAT)\s*\(\s*"
    r"(?P<distinct>DISTINCT\s+)?(?P<arg>\*|\?\w+)\s*"
    r"(?:;\s*SEPARATOR\s*=\s*\"(?P<sep>(?:[^\"\\]|\\.)*)\"\s*)?"
    r"\)\s+AS\s+\?(?P<alias>\w+)\s*\)$",
    re.IGNORECASE,
)

_TOKEN_RE = re.compile(
    r"""\?[\w]+           # variable
      | <[^>]*>           # iri
      | "(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[\w-]+)?   # literal
      | \w+(?:\.\w+)*:[\w.%-]*   # prefixed name (PN_PREFIX: interior dots)
      | a\b               # rdf:type shorthand
      | [{}().;,]
      | [\[\]]            # blank-node property lists
      | [/|^+*?!]         # property-path operators (incl. !negation)
      | \S+
    """,
    re.VERBOSE,
)

_RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


# reserved (non-PN_PREFIX) key under which the prologue's BASE IRI
# rides in the prefixes dict, so every _expand call site resolves
# relative IRIREFs without a signature change
_BASE_KEY = "\x00base"

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _expand(tok: str, prefixes: dict[str, str]) -> str:
    if tok == "a":
        return _RDF_TYPE
    m = re.match(r"^([\w.-]*):([\w.%-]*)$", tok)
    if m and m.group(1) in prefixes:
        return f"<{prefixes[m.group(1)]}{m.group(2)}>"
    # typed literal with a prefixed datatype ("1"^^xsd:integer)
    m = re.match(r'^("(?:[^"\\]|\\.)*"\^\^)([\w.-]*):([\w.%-]*)$', tok, re.S)
    if m and m.group(2) in prefixes:
        return f"{m.group(1)}<{prefixes[m.group(2)]}{m.group(3)}>"
    base = prefixes.get(_BASE_KEY)
    if (
        base
        and tok.startswith("<")
        and tok.endswith(">")
        and not _SCHEME_RE.match(tok[1:-1])
    ):
        # prologue BASE: relative IRIREFs resolve per RFC 3986 (the
        # Jena-backed reference resolves them; leaving them verbatim
        # silently matched nothing)
        from urllib.parse import urljoin

        return f"<{urljoin(base, tok[1:-1])}>"
    return tok


def _parse_prologue(prologue: str) -> dict[str, str]:
    """PREFIX map + the BASE IRI (under _BASE_KEY) from the
    comment-free prologue text; relative PREFIX IRIs themselves resolve
    against BASE."""
    from urllib.parse import urljoin

    prefixes = dict(_PREFIX_RE.findall(prologue))
    mb = re.search(r"\bBASE\s*<([^>]*)>", prologue, re.IGNORECASE)
    if mb:
        base = mb.group(1)
        prefixes = {
            k: v if _SCHEME_RE.match(v) else urljoin(base, v)
            for k, v in prefixes.items()
        }
        prefixes[_BASE_KEY] = base
    return prefixes


# prefix-name part: PN_PREFIX permits interior dots (SPARQL 1.1
# §19.8, e.g. ``PREFIX a.b:``), so the class is [\w.-]*, not [\w-]*
_PROLOGUE_RE = re.compile(
    r"\s*(?:(?:PREFIX\s+[\w.-]*:|BASE)\s*<[^>]*>\s*)*", re.IGNORECASE
)


def _strip_comments(text: str) -> str:
    """Remove '#'-to-end-of-line comments, ignoring '#' inside <IRI>
    refs and quoted strings (SPARQL 1.1 grammar: comments are outside
    tokens). A '<' counts as an IRI opener only when a matching '>'
    follows before any character an IRIREF cannot contain (whitespace,
    quote, another '<') — so the comparison in FILTER(?x < 5) does not
    swallow a later '#' comment."""
    out: list[str] = []
    in_str = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            out.append(ch)
            if ch == "\\" and i + 1 < n:
                out.append(text[i + 1])
                i += 2
                continue
            if ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
            out.append(ch)
        elif ch == "<":
            j = i + 1
            while j < n and text[j] not in '>"<' and not text[j].isspace():
                j += 1
            if j < n and text[j] == ">":  # a complete IRIREF: copy verbatim
                out.append(text[i : j + 1])
                i = j + 1
                continue
            out.append(ch)  # a bare '<' comparison operator
        elif ch == "#":
            while i < n and text[i] != "\n":
                i += 1
            continue
        else:
            out.append(ch)
        i += 1
    return "".join(out)


# NOW() must return ONE timestamp for the whole query (SPARQL 1.1
# §17.4.5.1); the parser stamps it once per top-level parse and every
# NOW() node carries that constant. Thread-local, so concurrent parses
# (the protocol endpoint serves per-request threads) cannot re-stamp
# each other mid-parse; nested _parse_select calls (subqueries) run on
# the stamping thread and share the outer stamp.
_QUERY_NOW = threading.local()


def _now_term() -> str:
    return (
        '"'
        + datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
        + f'Z"^^<{_XSD_NS}dateTime>'
    )


def parse_sparql(text: str) -> SelectQuery:
    """Parse a SPARQL query of any form — the one reader of query text.

    Comments are stripped, the prologue's PREFIX/BASE declarations are
    read (BASE resolves every relative IRI, DESCRIBE terms included)
    and NOW() is stamped once for the whole query. Every form returns a
    SelectQuery whose ``form`` names it: ASK keeps its pattern as a
    SELECT *, CONSTRUCT adds its ``template``, and DESCRIBE lists its
    terms in ``describe`` and projects its variables."""
    _QUERY_NOW.value = _now_term()
    text = _strip_comments(text)
    end = _PROLOGUE_RE.match(text).end()
    prefixes = _parse_prologue(text[:end])
    body = text[end:]
    m = _FORM_RE.match(body)
    if not m:
        raise ValueError(
            "not a SPARQL query form (SELECT/ASK/CONSTRUCT/DESCRIBE)"
        )
    form = m.group(1).upper()
    if form == "SELECT":
        return _parse_select(body, prefixes)
    if form == "ASK":
        q = _parse_where(body, m.end(), prefixes)
    elif form == "CONSTRUCT":
        q = _parse_construct(body, m.end(), prefixes)
    else:
        q = _parse_describe(body, m.end(), prefixes)
    q.form = form
    return q


def _parse_where(src: str, pos: int, prefixes: dict[str, str]) -> SelectQuery:
    """``DatasetClause* WhereClause SolutionModifier`` at ``src[pos:]``
    -> a SELECT * query over the pattern."""
    m = _WHERE_RE.match(src, pos)
    if not m:
        raise ValueError(
            f"expected a WHERE block at: {src[pos:pos + 60].strip()!r}"
        )
    q = SelectQuery([], Group())
    for md in _DATASET_RE.finditer(m.group("dataset")):
        (q.from_named if md.group(1) else q.from_graphs).append(
            _expand(md.group(2), prefixes)
        )
    start = m.end() - 1
    i = _match_brace(src, start)
    q.where = _parse_group(src[start + 1 : i], prefixes)
    tail = src[i + 1 :]

    # HAVING(expr) sits between GROUP BY and ORDER BY; cut it out
    # before the clause scan (its parens would confuse the clause split)
    mh = re.search(r"HAVING\s*\(", tail, re.IGNORECASE)
    if mh:
        j = _match_paren(tail, mh.end() - 1)
        q.having = _parse_having(tail[mh.end() : j], prefixes)
        tail = tail[: mh.start()] + tail[j + 1 :]

    q.group_by, q.group_exprs, q.order_by, q.limit, q.offset = _parse_tail(
        tail, prefixes, _in_scope(q.where)
    )
    return q


def _parse_select(body: str, prefixes: dict[str, str]) -> SelectQuery:
    msel = _SELECT_RE.match(body)
    if not msel:
        raise ValueError(f"cannot parse SELECT query: {body[:60].strip()!r}")
    q = _parse_where(body, msel.end(), prefixes)
    # REDUCED permits (without requiring) duplicate elimination
    # (SPARQL 1.1 §18.2.5.3.3); evaluating it as DISTINCT is conformant
    # and keeps results deterministic across plans
    q.distinct = bool(msel.group(1))
    proj = msel.group(2).strip()
    if proj == "*":
        return q
    # a projection alias must name a new variable (SPARQL 1.1 §18.2.4.1)
    scope = _in_scope(q.where) | {n for _t, n in q.group_exprs}
    for item in _projection_items(proj):
        if item.startswith("?"):
            q.variables.append(item[1:])
            continue
        ma = _AGG_RE.match(item)
        if ma:
            arg = ma.group("arg")
            sep = ma.group("sep")
            alias = _new_alias(ma.group("alias"), scope)
            q.aggregates.append(
                Aggregate(
                    ma.group("func").lower(),
                    None if arg == "*" else arg[1:],
                    alias,
                    distinct=bool(ma.group("distinct")),
                    sep=" " if sep is None else re.sub(r"\\(.)", r"\1", sep),
                )
            )
        else:
            # general (expr AS ?alias) projection (SPARQL 1.1 §18.4);
            # aggregate calls inside are legal and pulled post-group
            node, alias = _parse_projection_expr(item, prefixes, scope)
            q.projections.append((node, alias))
        # keep the alias at its projection position so the result
        # column order follows the SELECT clause
        q.variables.append(alias)
    return q


def _parse_construct(
    body: str, pos: int, prefixes: dict[str, str]
) -> SelectQuery:
    """``CONSTRUCT { template } DatasetClause* WhereClause ...``, or the
    SPARQL 1.1 shorthand ``CONSTRUCT WHERE { triples }`` whose pattern
    is its own template (a plain BGP, per the spec)."""
    m = re.compile(r"\s*\{").match(body, pos)
    if m:
        end = _match_brace(body, m.end() - 1)
        template = _parse_triples(body[m.end() : end], prefixes)
        q = _parse_where(body, end + 1, prefixes)
    else:
        q = _parse_where(body, pos, prefixes)
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


def _parse_describe(
    body: str, pos: int, prefixes: dict[str, str]
) -> SelectQuery:
    """``DESCRIBE term+ DatasetClause* WhereClause? ...``: the terms are
    IRIs, prefixed names or variables; variables need the WHERE."""
    terms: list[str] = []
    while m := _DESCRIBE_TERM_RE.match(body, pos):
        terms.append(_expand(m.group(1), prefixes))
        pos = m.end()
    if not terms:
        raise ValueError(
            "DESCRIBE needs IRIs or variables (DESCRIBE * is not supported)"
        )
    has_where = bool(body[pos:].strip())
    q = _parse_where(body, pos, prefixes) if has_where else SelectQuery([], Group())
    q.describe = terms
    q.variables = [t[1:] for t in terms if _is_var(t)]
    if q.variables and not has_where:
        raise ValueError("DESCRIBE ?var needs a WHERE clause")
    return q


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


def _projection_items(proj: str) -> list[str]:
    """Split a SELECT projection into its items: ``?var`` tokens and
    parenthesized ``(expr AS ?alias)`` groups (parens may nest). Raises
    on anything else — a silently-dropped projection item would change
    the result schema."""
    items: list[str] = []
    i = 0
    while i < len(proj):
        ch = proj[i]
        if ch.isspace():
            i += 1
        elif ch == "(":
            j = _match_paren(proj, i)
            items.append(proj[i : j + 1])
            i = j + 1
        else:
            m = re.match(r"\?\w+", proj[i:])
            if not m:
                raise ValueError(
                    f"cannot parse SELECT projection at: {proj[i:]!r}"
                )
            items.append(m.group(0))
            i += m.end()
    return items


def _parse_projection_expr(
    item: str, prefixes: dict[str, str], scope: set[str]
) -> tuple[object, str]:
    """``(expr AS ?alias)`` -> (value tree, alias). The expr reuses the
    HAVING grammar: the FILTER value grammar plus aggregate calls at
    the primary level (``(COUNT(?x) * 2 AS ?y)``). Raises when the
    alias names a variable in ``scope``."""
    inner = item[1:-1].strip()
    m = _BIND_RE.match(inner)
    if not m:
        raise ValueError(
            f"cannot parse SELECT expression {item!r} "
            "(expected (expr AS ?alias))"
        )
    p = _HavingParser(m.group("expr"), prefixes)
    node = p.or_expr()
    if p._peek() is not None:
        raise ValueError(f"unsupported SELECT expression tail: {item!r}")
    return node, _new_alias(m.group("var"), scope)


def _parse_tail(
    tail: str, prefixes: dict[str, str], scope: set[str]
) -> tuple[
    list[str],
    list[tuple[object, str]],
    list[tuple[object, bool]],
    int | None,
    int | None,
]:
    """GROUP BY / ORDER BY / LIMIT / OFFSET in any order; raises on any
    unconsumed text so no modifier is silently dropped."""
    matches = list(_CLAUSE_RE.finditer(tail))
    head = tail[: matches[0].start()] if matches else tail
    if head.strip():
        raise ValueError(
            f"unparsed text after WHERE block: {head.strip()!r}"
        )
    group_by: list[str] = []
    group_exprs: list[tuple[object, str]] = []
    order_by: list[tuple[object, bool]] = []
    limit = offset = None
    for idx, m in enumerate(matches):
        end = matches[idx + 1].start() if idx + 1 < len(matches) else len(tail)
        seg = tail[m.end() : end].strip()
        kw = re.sub(r"\s+", " ", m.group(1).upper())
        if kw == "GROUP BY":
            group_by, group_exprs = _parse_group_by(seg, prefixes, scope)
        elif kw == "ORDER BY":
            order_by = _parse_order(seg, prefixes)
        elif kw == "LIMIT":
            if limit is not None:
                raise ValueError("duplicate LIMIT clause")
            limit = int(seg)  # raises on junk after the number
        else:
            if offset is not None:
                raise ValueError("duplicate OFFSET clause")
            offset = int(seg)
    return group_by, group_exprs, order_by, limit, offset


def _parse_group_by(
    seg: str, prefixes: dict[str, str], scope: set[str]
) -> tuple[list[str], list[tuple[object, str]]]:
    """GroupCondition list (SPARQL 1.1 grammar [20]): ?var |
    (expr AS ?alias) | (expr) | a bare function call. Expression
    conditions become (tree, name) pairs — aliased names are
    projectable (and must not name a variable in ``scope``); unaliased
    ones get hidden __g{i} names."""
    names: list[str] = []
    exprs: list[tuple[object, str]] = []
    s = seg.strip()
    gi = 0

    def _value(src: str):
        p = _FilterParser(src, prefixes)
        node = p.or_expr()
        if p._peek() is not None:
            raise ValueError(f"unsupported GROUP BY expression: {src!r}")
        return node

    while s:
        if s.startswith("?"):
            m = re.match(r"\?(\w+)", s)
            if not m:
                raise ValueError(f"cannot parse GROUP BY condition: {s!r}")
            names.append(m.group(1))
            s = s[m.end() :].strip()
            continue
        if s.startswith("("):
            j = _match_paren(s, 0)
            inner = s[1:j].strip()
            s = s[j + 1 :].strip()
            mb = _BIND_RE.match(inner)
            if mb:
                name = _new_alias(mb.group("var"), scope)
                exprs.append((_value(mb.group("expr")), name))
            else:
                name = f"__g{gi}"
                gi += 1
                exprs.append((_value(inner), name))
            names.append(name)
            continue
        m = re.match(r"[\w.%-]+(?::[\w.%-]+)?\s*\(", s)
        if not m:
            raise ValueError(f"cannot parse GROUP BY condition: {s!r}")
        j = _match_paren(s, m.end() - 1)
        name = f"__g{gi}"
        gi += 1
        exprs.append((_value(s[: j + 1]), name))
        names.append(name)
        s = s[j + 1 :].strip()
    if not names:
        raise ValueError("empty GROUP BY clause")
    return names, exprs


def _parse_order(
    seg: str, prefixes: dict[str, str]
) -> list[tuple[object, bool]]:
    """ORDER BY conditions: ?var | ASC(expr) | DESC(expr) | (expr) |
    a bare function expression. A plain variable stays a string key;
    anything else parses through the FILTER value grammar into a
    FilterNode (ORDER BY on aggregate aliases and expressions)."""
    out: list[tuple[object, bool]] = []
    s = seg.strip()
    while s:
        asc = True
        m = re.match(r"(ASC|DESC)\s*\(", s, re.IGNORECASE)
        if m:
            j = _match_paren(s, m.end() - 1)
            expr_src = s[m.end() : j]
            asc = m.group(1).upper() == "ASC"
            s = s[j + 1 :].strip()
        elif s.startswith("("):
            j = _match_paren(s, 0)
            expr_src = s[1:j]
            s = s[j + 1 :].strip()
        elif s.startswith("?"):
            mv = re.match(r"\?\w+", s)
            expr_src = mv.group(0)
            s = s[mv.end() :].strip()
        else:
            mf = re.match(r"[A-Za-z_][\w:]*\s*\(", s)
            if not mf:
                raise ValueError(f"cannot parse ORDER BY condition at {s!r}")
            j = _match_paren(s, mf.end() - 1)
            expr_src = s[: j + 1]
            s = s[j + 1 :].strip()
        expr_src = expr_src.strip()
        mvar = re.match(r"^\?(\w+)$", expr_src)
        if mvar:
            out.append((mvar.group(1), asc))
        else:
            p = _FilterParser(expr_src, prefixes)
            node = p.or_expr()
            if p._peek() is not None:
                raise ValueError(
                    f"unsupported ORDER BY expression: {expr_src!r}"
                )
            out.append((node, asc))
    if not out:
        raise ValueError("empty ORDER BY clause")
    return out


def _split_blocks(src: str) -> list[tuple[str, str]]:
    """Split a group body into ('triples'|'optional'|'filter'|'union', src)
    blocks at brace level 0."""
    blocks: list[tuple[str, str]] = []
    i, n = 0, len(src)
    plain: list[str] = []

    def flush():
        chunk = "".join(plain).strip()
        if chunk:
            blocks.append(("triples", chunk))
        plain.clear()

    while i < n:
        mopt = re.match(r"\s*OPTIONAL\s*\{", src[i:], re.IGNORECASE)
        mfex = re.match(
            r"\s*FILTER\s+(NOT\s+)?EXISTS\s*\{", src[i:], re.IGNORECASE
        )
        mfil = re.match(r"\s*FILTER\s*\(", src[i:], re.IGNORECASE)
        mbind = re.match(r"\s*BIND\s*\(", src[i:], re.IGNORECASE)
        mvals = re.match(
            r"\s*VALUES\s+(\?\w+|\((?:\s*\?\w+)+\s*\))\s*\{",
            src[i:],
            re.IGNORECASE,
        )
        mgra = re.match(
            r"\s*GRAPH\s+(\?\w+|<[^<>\s]*>|\w+:[\w.%-]*)\s*\{",
            src[i:],
            re.IGNORECASE,
        )
        mmin = re.match(r"\s*MINUS\s*\{", src[i:], re.IGNORECASE)
        mgrp = re.match(r"\s*\{", src[i:])
        if mmin:
            flush()
            j = _match_brace(src, i + mmin.end() - 1)
            blocks.append(("minus", src[i + mmin.end() : j]))
            i = j + 1
        elif mopt:
            flush()
            j = _match_brace(src, i + mopt.end() - 1)
            blocks.append(("optional", src[i + mopt.end() : j]))
            i = j + 1
        elif mfex:
            flush()
            j = _match_brace(src, i + mfex.end() - 1)
            blocks.append(
                ("exists", (mfex.group(1) is None, src[i + mfex.end() : j]))
            )
            i = j + 1
        elif mbind:
            flush()
            j = _match_paren(src, i + mbind.end() - 1)
            blocks.append(("bind", src[i + mbind.end() : j]))
            i = j + 1
        elif mvals:
            flush()
            j = _match_brace(src, i + mvals.end() - 1)
            blocks.append(
                ("values", (mvals.group(1), src[i + mvals.end() : j]))
            )
            i = j + 1
        elif mgra:
            flush()
            j = _match_brace(src, i + mgra.end() - 1)
            blocks.append(("graph", (mgra.group(1), src[i + mgra.end() : j])))
            i = j + 1
        elif mfil:
            flush()
            j = _match_paren(src, i + mfil.end() - 1)
            blocks.append(("filter", src[i + mfil.end() : j]))
            i = j + 1
        elif mgrp:
            # group — possibly a UNION chain { } UNION { } ...
            flush()
            branches = []
            k = i
            while True:
                mb = re.match(r"\s*\{", src[k:])
                if not mb:
                    break
                j = _match_brace(src, k + mb.end() - 1)
                branches.append(src[k + mb.end() : j])
                k = j + 1
                mu = re.match(r"\s*UNION", src[k:], re.IGNORECASE)
                if mu:
                    k += mu.end()
                else:
                    break
            if len(branches) == 1 and re.match(
                r"\s*SELECT\b", branches[0], re.IGNORECASE
            ):
                # { SELECT ... } — a SPARQL 1.1 subquery
                blocks.append(("subselect", branches[0]))
            else:
                blocks.append(("union", branches))  # type: ignore[arg-type]
            i = k
        else:
            j = max(_token_end(src, i), i + 1)
            plain.append(src[i:j])
            i = j
    flush()
    return blocks


_IRIREF_AT = re.compile(r'<[^<>"\s]*>')


def _token_end(src: str, i: int) -> int:
    """The index just past the string literal or IRIREF opening at
    ``src[i]``, or ``i`` when neither opens there. A literal is single-
    or double-quoted, short or triple-quoted, backslash escapes
    included. A '<' opens an IRIREF under the rule of
    :func:`_strip_comments`, so an apostrophe inside an IRI opens no
    string."""
    q = src[i] if i < len(src) else ""
    if q == "<":
        m = _IRIREF_AT.match(src, i)
        return m.end() if m else i
    if q not in ("'", '"'):
        return i
    delim = q * 3 if src.startswith(q * 3, i) else q
    j = i + len(delim)
    while j < len(src):
        if src[j] == "\\":
            j += 2
        elif src.startswith(delim, j):
            return j + len(delim)
        else:
            j += 1
    raise ValueError("unterminated string literal in SPARQL")


def _match_brace(src: str, open_idx: int) -> int:
    depth = 0
    i = open_idx
    while i < len(src):
        end = _token_end(src, i)
        if end > i:
            i = end
            continue
        if src[i] == "{":
            depth += 1
        elif src[i] == "}":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced braces in SPARQL")


def _match_paren(src: str, open_idx: int) -> int:
    depth = 0
    in_str = False
    for i in range(open_idx, len(src)):
        c = src[i]
        if c == '"' and (i == 0 or src[i - 1] != "\\"):
            in_str = not in_str
        if in_str:
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parens in SPARQL FILTER")


def _parse_group(src: str, prefixes: dict[str, str]) -> Group:
    g = Group()
    for kind, chunk in _split_blocks(src):
        if kind == "triples":
            g.patterns.extend(_parse_triples(chunk, prefixes))
        elif kind == "optional":
            g.optionals.append(_parse_group(chunk, prefixes))
        elif kind == "filter":
            g.filters.append(Filter(_parse_filter(chunk, prefixes)))
        elif kind == "union":
            g.unions.append(
                [_parse_union_branch(b, prefixes) for b in chunk]
            )
        elif kind == "graph":
            gterm, body = chunk
            g.graphs.append((_expand(gterm, prefixes), _parse_group(body, prefixes)))
        elif kind == "bind":
            g.binds.append(_parse_bind(chunk, prefixes))
        elif kind == "values":
            var_spec, body = chunk
            g.values.append(_parse_values(var_spec, body, prefixes))
        elif kind == "exists":
            positive, body = chunk
            g.exists.append((positive, _parse_group(body, prefixes)))
        elif kind == "minus":
            g.minuses.append(_parse_group(chunk, prefixes))
        elif kind == "subselect":
            g.subselects.append(_parse_select(chunk, prefixes))
    return g


def _parse_union_branch(src: str, prefixes: dict[str, str]) -> Group:
    """A UNION branch may itself be a subquery ({ SELECT ... } UNION
    { ... }); anything else is an ordinary group graph pattern."""
    if re.match(r"\s*SELECT\b", src, re.IGNORECASE):
        return Group(subselects=[_parse_select(src, prefixes)])
    return _parse_group(src, prefixes)


_BIND_RE = re.compile(r"^(?P<expr>.*\S)\s+AS\s+\?(?P<var>\w+)\s*$", re.DOTALL)


def _parse_bind(src: str, prefixes: dict[str, str]) -> tuple[object, str]:
    """BIND(expr AS ?v): the expr reuses the FILTER value grammar."""
    m = _BIND_RE.match(src.strip())
    if not m:
        raise ValueError(f"cannot parse BIND: {src!r}")
    p = _FilterParser(m.group("expr"), prefixes)
    node = p.or_expr()
    if p._peek() is not None:
        raise ValueError(f"unsupported BIND expression tail: {src!r}")
    return node, m.group("var")


_XSD_INT_DT = "http://www.w3.org/2001/XMLSchema#integer"
_XSD_DEC_DT = "http://www.w3.org/2001/XMLSchema#decimal"

# VALUES-specific tokenizer: parens are always standalone tokens (the
# generic _TOKEN_RE's \S+ fallback would glue 'UNDEF)' together)
_VALUES_TOKEN_RE = re.compile(
    r"""<[^>]*>
      | "(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[\w-]+)?
      | [()]
      | [^\s()]+
    """,
    re.VERBOSE,
)


def _parse_values(
    var_spec: str, body: str, prefixes: dict[str, str]
) -> tuple[list[str], list[list[str | None]]]:
    """VALUES ?v { t... } | VALUES (?a ?b) { (x y) ... } — terms are
    N-Triples-encoded like every engine term; bare numbers become typed
    literals; UNDEF becomes NULL."""
    variables = re.findall(r"\?(\w+)", var_spec)

    def term(tok: str) -> str | None:
        if tok.upper() == "UNDEF":
            return None
        if re.match(r"^[-+]?\d+$", tok):
            return f'"{tok}"^^<{_XSD_INT_DT}>'
        # SPARQL 1.1 grammar: DOUBLE carries an exponent, DECIMAL is
        # [0-9]* '.' [0-9]+ (leading dot allowed)
        if re.match(r"^[-+]?(?:\d+\.?\d*|\.\d+)[eE][-+]?\d+$", tok):
            return f'"{tok}"^^<{_XSD_NS}double>'
        if re.match(r"^[-+]?\d*\.\d+$", tok):
            return f'"{tok}"^^<{_XSD_DEC_DT}>'
        return _expand(tok, prefixes)

    toks = [t for t in _VALUES_TOKEN_RE.findall(body) if t.strip()]
    rows: list[list[str | None]] = []
    if len(variables) == 1:
        rows = [[term(t)] for t in toks if t not in "()"]
        return variables, rows
    cur: list[str | None] | None = None
    for t in toks:
        if t == "(":
            if cur is not None:
                raise ValueError(f"nested '(' in VALUES rows: {body!r}")
            cur = []
        elif t == ")":
            if cur is None or len(cur) != len(variables):
                raise ValueError(
                    f"VALUES row arity mismatch (want {len(variables)}): {body!r}"
                )
            rows.append(cur)
            cur = None
        else:
            if cur is None:
                raise ValueError(f"VALUES term outside a row tuple: {t!r}")
            cur.append(term(t))
    if cur is not None:
        raise ValueError(f"unterminated VALUES row: {body!r}")
    return variables, rows


def _parse_triples(chunk: str, prefixes: dict[str, str]) -> list[TriplePattern]:
    """Triple patterns with ';' predicate-object lists, ',' object
    lists, and [ ... ] blank-node property lists (Turtle-style
    abbreviations, SPARQL 1.1 §4.2.1-4.2.2). Blank-node lists become
    fresh internal variables (?__bnN — hidden from SELECT *)."""
    out: list[TriplePattern] = []
    counter = [0]

    def parse_node(toks: list[str], i: int) -> tuple[str, int]:
        """Subject/object position: a term, or a [ ... ] property list
        (emitting its inner patterns with a fresh variable subject)."""
        if toks[i] == "[":
            var = f"?__bn{counter[0]}"
            counter[0] += 1
            i += 1
            if i < len(toks) and toks[i] != "]":
                i = parse_pred_obj_list(toks, i, var, stop="]")
            if i >= len(toks) or toks[i] != "]":
                raise ValueError("unbalanced [ ] in triple pattern")
            return var, i + 1
        return _expand(toks[i], prefixes), i + 1

    def parse_pred_obj_list(
        toks: list[str], i: int, s: str, stop: str | None = None
    ) -> int:
        more_preds = True
        while more_preds:
            if i >= len(toks) or toks[i] == stop:
                raise ValueError(f"cannot parse triple pattern: {toks!r}")
            p, i = _parse_path(toks, i, prefixes)
            if isinstance(p, Path):
                _check_path_vars(p)
            more_objs = True
            while more_objs:
                if i >= len(toks) or toks[i] == stop:
                    raise ValueError(f"cannot parse triple pattern: {toks!r}")
                o, i = parse_node(toks, i)
                out.append(TriplePattern(s, p, o))
                more_objs = i < len(toks) and toks[i] == ","
                if more_objs:
                    i += 1
            more_preds = i < len(toks) and toks[i] == ";"
            if more_preds:
                i += 1
                # tolerate a trailing ';' before '.' / ']' / end
                if i >= len(toks) or toks[i] == stop:
                    more_preds = False
        return i

    for stmt in _split_statements(chunk):
        toks = [t for t in _TOKEN_RE.findall(stmt) if t not in {".", ""}]
        i = 0
        while i < len(toks):
            s, i = parse_node(toks, i)
            if i >= len(toks) and s.startswith("?__bn"):
                break  # '[ p o ] .' — a bare property list is a triple
            i = parse_pred_obj_list(toks, i, s)
    return out


# Property-path grammar (SPARQL 1.1 §9, over the statement tokens):
#   path := seq ('|' seq)*
#   seq  := step ('/' step)*
#   step := '^' step | '!' nps | primary ('+'|'*'|'?')*
#   nps  := iri | '(' iri ('|' iri)* ')'    (forward members only)
#   primary := iri | prefixed | 'a' | '(' path ')'
# A trivial path (a single forward predicate) stays a plain string, so
# non-path triples compile exactly as before.


def _parse_path(
    toks: list[str], i: int, prefixes: dict[str, str]
) -> tuple["Term | Path", int]:
    node, i = _path_seq(toks, i, prefixes)
    branches = [node]
    while i < len(toks) and toks[i] == "|":
        nxt, i = _path_seq(toks, i + 1, prefixes)
        branches.append(nxt)
    return (branches[0] if len(branches) == 1 else Path("alt", branches)), i


def _path_seq(
    toks: list[str], i: int, prefixes: dict[str, str]
) -> tuple["Term | Path", int]:
    step, i = _path_step(toks, i, prefixes)
    steps = [step]
    while i < len(toks) and toks[i] == "/":
        nxt, i = _path_step(toks, i + 1, prefixes)
        steps.append(nxt)
    return (steps[0] if len(steps) == 1 else Path("seq", steps)), i


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


_PATH_MODS = {"+": "plus", "*": "star", "?": "opt"}


def _path_step(
    toks: list[str], i: int, prefixes: dict[str, str]
) -> tuple["Term | Path", int]:
    if i >= len(toks):
        raise ValueError("unexpected end of property path")
    if toks[i] == "^":
        inner, i = _path_step(toks, i + 1, prefixes)
        node: Term | Path = Path("inv", [inner])
    elif toks[i] == "!":
        # negated property set: !iri or !(iri|iri|...) — forward
        # members only (inverse members ^iri inside ! unsupported)
        i += 1
        members: list[str] = []
        if i < len(toks) and toks[i] == "(":
            i += 1
            while i < len(toks) and toks[i] != ")":
                if toks[i] == "|":
                    i += 1
                    continue
                if toks[i] == "^":
                    raise ValueError(
                        "inverse members in a negated property set "
                        "are not supported"
                    )
                members.append(_expand(toks[i], prefixes))
                i += 1
            if i >= len(toks):
                raise ValueError("unbalanced parens in property path")
            i += 1
        else:
            if i >= len(toks):
                raise ValueError("unexpected end of property path")
            members.append(_expand(toks[i], prefixes))
            i += 1
        node = Path("nps", members)
    elif toks[i] == "(":
        node, i = _parse_path(toks, i + 1, prefixes)
        if i >= len(toks) or toks[i] != ")":
            raise ValueError("unbalanced parens in property path")
        i += 1
    else:
        node = _expand(toks[i], prefixes)
        i += 1
    while i < len(toks) and toks[i] in _PATH_MODS:
        node = Path(_PATH_MODS[toks[i]], [node])
        i += 1
    return node, i


def _split_statements(chunk: str) -> list[str]:
    """Split on '.' statement separators only — not dots inside string
    literals, inside <IRI> tokens (http://... contains dots), or
    directly between two word characters (a dotted prefixed name like
    ``e.x:name`` per PN_PREFIX, or a decimal literal ``5.5``; a real
    separator in that position would glue two names, which the SPARQL
    grammar resolves the same way)."""
    stmts, cur, in_str, in_iri = [], [], False, False
    for i, c in enumerate(chunk):
        if c == '"' and not in_iri:
            in_str = not in_str
        elif not in_str:
            if c == "<":
                in_iri = True
            elif c == ">":
                in_iri = False
        in_name = (
            c == "."
            and i > 0
            and i + 1 < len(chunk)
            and (chunk[i - 1].isalnum() or chunk[i - 1] == "_")
            and (chunk[i + 1].isalnum() or chunk[i + 1] == "_")
        )
        if c == "." and not in_str and not in_iri and not in_name:
            stmts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    stmts.append("".join(cur))
    return [s for s in stmts if s.strip()]


# FILTER expression grammar (covers the reference's transFilter /
# transFunction set, MorphRDBQueryTranslator.scala:385-437, 988-1187:
# comparisons, logical ops, BOUND, REGEX, E_OneOf (IN / NOT IN), xsd
# casts, arithmetic, STR):
#
#   or     := and ('||' and)*
#   and    := unary ('&&' unary)*
#   unary  := '!' unary | rel
#   rel    := BOUND(?v) | REGEX(?v, "re")
#           | add (cmp add | [NOT] IN '(' add (',' add)* ')')?
#   add    := mul (('+'|'-') mul)*
#   mul    := prim (('*'|'/') prim)*
#   prim   := '(' or ')' | '-' prim | '+' prim | func '(' add ')'
#           | ?var | literal | number | <iri> | prefixed
#
# IN desugars to an OR of '=' nodes (NOT IN to an AND of '!='), so its
# semantics are exactly chained equality.

_F_TOKEN_RE = re.compile(
    r"""\s*(
      \?[\w]+
    | "(?:[^"\\]|\\.)*"(?:\^\^(?:<[^>]*>|[\w.-]*:[\w.%-]*)|@[\w-]+)?
    | <[^<>\s]*>
    | \|\||&&|!=|<=|>=|=|<|>|!
    | \d+\.\d+ | \d+
    | [+\-*/(),;]
    | \w+:[\w.%-]+
    | \w+
    )""",
    re.VERBOSE,
)

_XSD_NS = "http://www.w3.org/2001/XMLSchema#"
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
    "ISNUMERIC": "isnumeric", "SAMETERM": "sameterm",
}
_FN_VALUE = {
    "STRLEN": "strlen", "UCASE": "ucase", "LCASE": "lcase",
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
_BOOL_OPS = {
    "and", "or", "not", "bound", "regex",
    "=", "!=", "<", "<=", ">", ">=",
} | set(_FN_BOOL.values())
# xsd:dateTime / xsd:date lexical shape (YEAR..SECONDS/TZ accessors
# read the groups directly — see the _DT_GROUP case in _filter_operand)
_DT_LEX_RE = (
    r"^(-?\d{4,})-(\d{2})-(\d{2})"
    r"(?:T(\d{2}):(\d{2}):(\d{2}(?:\.\d+)?))?"
    r"(Z|[+-]\d{2}:\d{2})?$"
)
_DT_GROUP = {
    "dt_year": 1, "dt_month": 2, "dt_day": 3,
    "dt_hours": 4, "dt_minutes": 5, "dt_seconds": 6, "dt_tz": 7,
}
# an xsd:dateTime N-Triples term; group 1 is its lexical form
_DT_TERM_RE = r'^"([^"]*)"\^\^<http://www\.w3\.org/2001/XMLSchema#dateTime>$'
_CMP_FNS = {
    "=": Column.__eq__,
    "!=": Column.__ne__,
    "<": Column.__lt__,
    "<=": Column.__le__,
    ">": Column.__gt__,
    ">=": Column.__ge__,
}
_CMP_OPS = tuple(_CMP_FNS)
_AGG_FUNCS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}


class _FilterParser:
    def __init__(self, src: str, prefixes: dict[str, str]):
        self.prefixes = prefixes
        self.toks: list[str] = []
        pos = 0
        while pos < len(src):
            m = _F_TOKEN_RE.match(src, pos)
            if not m:
                if src[pos:].strip():
                    raise ValueError(f"cannot tokenize FILTER at: {src[pos:]!r}")
                break
            self.toks.append(m.group(1))
            pos = m.end()
        self.i = 0

    def _peek(self, ahead: int = 0) -> str | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def _pop(self) -> str:
        t = self._peek()
        if t is None:
            raise ValueError("unexpected end of FILTER expression")
        self.i += 1
        return t

    def _expect(self, want: str) -> None:
        got = self._pop()
        if got != want:
            raise ValueError(f"expected {want!r} in FILTER, got {got!r}")

    def parse(self) -> FilterNode:
        node = self.or_expr()
        if self._peek() is not None:
            raise ValueError(
                f"unsupported FILTER tail: {' '.join(self.toks[self.i:])!r}"
            )
        if not (isinstance(node, FilterNode) and node.op in _BOOL_OPS):
            raise ValueError("FILTER expression is not boolean")
        return node

    def or_expr(self):
        parts = [self.and_expr()]
        while self._peek() == "||":
            self._pop()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else FilterNode("or", parts)

    def and_expr(self):
        parts = [self.unary()]
        while self._peek() == "&&":
            self._pop()
            parts.append(self.unary())
        return parts[0] if len(parts) == 1 else FilterNode("and", parts)

    def unary(self):
        if self._peek() == "!":
            self._pop()
            return FilterNode("not", [self.unary()])
        return self.relational()

    def relational(self):
        t = self._peek()
        if t is not None and t.upper() == "BOUND" and self._peek(1) == "(":
            self._pop()
            self._expect("(")
            v = self._pop()
            self._expect(")")
            return FilterNode("bound", [v.lstrip("?")])
        if t is not None and t.upper() == "REGEX" and self._peek(1) == "(":
            self._pop()
            self._expect("(")
            v = self._pop()
            self._expect(",")
            pat = self._pop()
            self._expect(")")
            return FilterNode("regex", [v.lstrip("?"), _unquote(pat)])
        left = self.additive()
        nxt = self._peek()
        if nxt in _CMP_OPS:
            return FilterNode(self._pop(), [left, self.additive()])
        if nxt is not None and nxt.upper() in ("IN", "NOT"):
            negated = nxt.upper() == "NOT"
            self._pop()
            if negated:
                kw = self._pop()
                if kw.upper() != "IN":
                    raise ValueError(f"expected IN after NOT, got {kw!r}")
            self._expect("(")
            items = [self.additive()]
            while self._peek() == ",":
                self._pop()
                items.append(self.additive())
            self._expect(")")
            if negated:
                return FilterNode("and", [FilterNode("!=", [left, x]) for x in items])
            return FilterNode("or", [FilterNode("=", [left, x]) for x in items])
        return left  # value node (inside parens of a larger expression)

    def additive(self):
        node = self.mult()
        while self._peek() in ("+", "-"):
            op = self._pop()
            node = FilterNode("add" if op == "+" else "sub", [node, self.mult()])
        return node

    def mult(self):
        node = self.primary()
        while self._peek() in ("*", "/"):
            op = self._pop()
            node = FilterNode("mul" if op == "*" else "div", [node, self.primary()])
        return node

    def primary(self):
        t = self._peek()
        if t is None:
            raise ValueError("unexpected end of FILTER expression")
        if t == "(":
            self._pop()
            node = self.or_expr()
            self._expect(")")
            return node
        if t == "-":
            self._pop()
            return FilterNode("neg", [self.primary()])
        if t == "+":
            self._pop()
            return self.primary()
        u = t.upper()
        if u in _FN_NULLARY and self._peek(1) == "(" and self._peek(2) == ")":
            self._pop(), self._pop(), self._pop()
            # NOW() carries the per-parse timestamp so every call in
            # the query evaluates to the same instant (§17.4.5.1); the
            # fallback covers direct group parses (CONSTRUCT templates)
            # that never pass through parse_sparql
            if u == "NOW":
                args = [getattr(_QUERY_NOW, "value", None) or _now_term()]
            else:
                args = []
            return FilterNode(_FN_NULLARY[u], args)
        if self._peek(1) == "(" and (
            re.match(r"^\w+:[\w.%-]+$", t)
            or u == "STR"
            or u in _FN_BOOL
            or u in _FN_VALUE
        ):
            self._pop()
            self._expect("(")
            args = [self.or_expr()]
            while self._peek() == ",":
                self._pop()
                args.append(self.or_expr())
            self._expect(")")
            if u == "STR":
                return FilterNode("str", args[:1])
            if u in _FN_BOOL:
                return FilterNode(_FN_BOOL[u], args)
            if u in _FN_VALUE:
                return FilterNode(_FN_VALUE[u], args)
            pfx, local = t.split(":", 1)
            if pfx == "xsd" or self.prefixes.get(pfx) == _XSD_NS:
                if local in _INT_CASTS:
                    return FilterNode("cast_int", args[:1])
                if local in _FLOAT_CASTS:
                    return FilterNode("cast_num", args[:1])
                if local == "string":
                    return FilterNode("str", args[:1])
            raise ValueError(f"unsupported FILTER function {t}()")
        return _expand(self._pop(), self.prefixes)


class _HavingParser(_FilterParser):
    """The FILTER grammar plus aggregate calls at the primary level
    (HAVING(COUNT(?x) > 5) and friends)."""

    def primary(self):
        t = self._peek()
        if t is not None and t.upper() in _AGG_FUNCS and self._peek(1) == "(":
            func = self._pop().lower()
            self._expect("(")
            distinct = False
            nt = self._peek()
            if nt is not None and nt.upper() == "DISTINCT":
                self._pop()
                distinct = True
            if self._peek() == "*":
                self._pop()
                self._expect(")")
                return FilterNode("agg", [func, None, distinct, False, " "])
            node = self.or_expr()
            sep = " "
            if self._peek() == ";":  # GROUP_CONCAT(...; SEPARATOR="x")
                self._pop()
                kw = self._pop()
                if kw.upper() != "SEPARATOR":
                    raise ValueError(
                        f"expected SEPARATOR after ';', got {kw!r}"
                    )
                self._expect("=")
                # same escape handling as the _AGG_RE projection path
                sep = re.sub(r"\\(.)", r"\1", _unquote(self._pop()))
            self._expect(")")
            if isinstance(node, str) and node.startswith("?"):
                return FilterNode(
                    "agg", [func, node[1:], distinct, False, sep]
                )
            # aggregate over an expression (SUM(?a * ?b), §18.4.1): the
            # input is materialized as a hidden value column pre-group
            return FilterNode("agg", [func, node, distinct, True, sep])
        return super().primary()


def _parse_having(src: str, prefixes: dict[str, str]) -> FilterNode:
    return _HavingParser(src, prefixes).parse()


def _unquote(tok: str) -> str:
    m = re.match(r'^"((?:[^"\\]|\\.)*)"', tok)
    return m.group(1) if m else tok


def _parse_filter(src: str, prefixes: dict[str, str]) -> FilterNode:
    return _FilterParser(src, prefixes).parse()


# ---------------------------------------------------------------------------
# evaluator: Group -> DataFrame of variable bindings
# ---------------------------------------------------------------------------


def _is_var(t: Term) -> bool:
    return t.startswith("?")


def _pattern_df(
    triples: DataFrame, tp: TriplePattern, graph: Term | None = None
) -> DataFrame:
    """One triple pattern -> bindings. When the input has a ``graph``
    column (a quad table), RDF dataset semantics apply: patterns
    outside GRAPH match the default graph (graph IS NULL); GRAPH <iri>
    restricts to that named graph; GRAPH ?g ranges over named graphs
    and binds ?g (the reference's materializeQuad semantics,
    MorphBaseMaterializer.scala:77-152)."""
    df = triples
    cols: dict[str, Column] = {}
    if "graph" in triples.columns:
        if graph is None:
            df = df.where(F.col("graph").isNull())
        elif _is_var(graph):
            df = df.where(F.col("graph").isNotNull())
            cols[graph[1:]] = F.col("graph")
        else:
            df = df.where(F.col("graph") == F.lit(graph))
    elif graph is not None:
        raise ValueError("GRAPH pattern requires a quad table input "
                         "(use MappingCompiler.quads())")
    if isinstance(tp.p, Path):
        if graph is not None and _is_var(graph):
            # GRAPH ?g: the path evaluates independently per named
            # graph — every path frame carries the graph column and
            # joins/closures key on it, so one distributed evaluation
            # covers all graphs at once (no per-graph driver loop)
            df = _path_pairs(
                df.select("graph", "subj", "pred", "obj"), tp.p, by_graph=True
            )
        else:
            df = _path_pairs(df.select("subj", "pred", "obj"), tp.p)
        positions: tuple = (("subj", tp.s), ("obj", tp.o))
    else:
        positions = (("subj", tp.s), ("pred", tp.p), ("obj", tp.o))
    for pos, term in positions:
        if _is_var(term):
            var = term[1:]
            if var in cols:  # same var twice in one pattern: equality
                df = df.where(F.col(pos) == cols[var])
            else:
                cols[var] = F.col(pos)
        else:
            df = df.where(F.col(pos) == F.lit(term))
    return df.select([c.alias(v) for v, c in cols.items()])


def _path_pairs(
    triples: DataFrame, node: "Term | Path", by_graph: bool = False
) -> DataFrame:
    """Property-path expression -> (subj, obj) pair DataFrame (plus a
    leading graph column when ``by_graph``, for paths inside GRAPH ?g:
    joins and closures then key on the graph too, so the path evaluates
    per named graph in one distributed pass).

    seq/alt/inv are plan composition (join / union / swap); plus/star
    are the standard distributed transitive closure: semi-naive
    iteration, one shuffle equi-join per round, O(path diameter) rounds
    with each round's lineage cut by a parquet checkpoint so the plan
    doesn't grow with iteration count. Duplicate semantics: seq/alt are
    bag-shaped like Spark joins; +/*/? deduplicate (SPARQL defines the
    closure operators as set-valued reachability, §9.3 ALP)."""
    gs = ["graph"] if by_graph else []
    if isinstance(node, str):
        return triples.where(F.col("pred") == F.lit(node)).select(
            *gs, "subj", "obj"
        )
    if node.op == "nps":
        # negated property set: any edge whose predicate is NOT listed
        return triples.where(~F.col("pred").isin(node.args)).select(
            *gs, "subj", "obj"
        )
    if node.op == "inv":
        p = _path_pairs(triples, node.args[0], by_graph)
        return p.select(
            *gs, F.col("obj").alias("subj"), F.col("subj").alias("obj")
        )
    if node.op == "alt":
        return functools.reduce(
            DataFrame.unionByName,
            [_path_pairs(triples, a, by_graph) for a in node.args],
        )
    if node.op == "seq":
        cur = _path_pairs(triples, node.args[0], by_graph)
        for step in node.args[1:]:
            nxt = _path_pairs(triples, step, by_graph)
            cond = F.col("l.obj") == F.col("r.subj")
            if by_graph:
                cond = cond & (F.col("l.graph") == F.col("r.graph"))
            cur = (
                cur.alias("l")
                .join(nxt.alias("r"), cond)
                .select(
                    *[F.col(f"l.{g}").alias(g) for g in gs],
                    F.col("l.subj").alias("subj"),
                    F.col("r.obj").alias("obj"),
                )
            )
        return cur
    if node.op == "plus":
        return _transitive_pairs(
            _path_pairs(triples, node.args[0], by_graph), by_graph=by_graph
        )
    if node.op in ("star", "opt"):
        # zero-length path: every term of the (graph-restricted) input
        # matches itself (SPARQL 1.1 §9.3 zero-length-path semantics),
        # per named graph under GRAPH ?g
        nodes = (
            triples.select(*gs, F.col("subj").alias("n"))
            .union(triples.select(*gs, F.col("obj").alias("n")))
            .distinct()
        )
        zero = nodes.select(
            *gs, F.col("n").alias("subj"), F.col("n").alias("obj")
        )
        one = _path_pairs(triples, node.args[0], by_graph)
        more = _transitive_pairs(one, by_graph=by_graph) if node.op == "star" else one
        return zero.unionByName(more).distinct()
    raise ValueError(f"unknown path operator {node.op!r}")


def _transitive_pairs(
    edges: DataFrame, max_rounds: int = 64, by_graph: bool = False
) -> DataFrame:
    """Transitive closure of an edge set (one-or-more path): semi-naive
    fixpoint. Each round joins only the NEW pairs (the frontier)
    against the base edges, anti-joins out already-seen pairs, and
    truncates lineage; cycles terminate because the frontier shrinks to
    empty once every reachable pair is seen. Rounds = longest shortest
    path (graph diameter), each one shuffle join at edge-set scale."""
    from ..plans.caching import cache, checkpoint_parquet

    def _pin(df: DataFrame) -> DataFrame:
        # materialize the round with a REAL lineage cut: each frontier
        # references the previous one twice (extension join + the seen
        # union), so a persist-only pin leaves the logical plan doubling
        # per round — exponential analysis cost on deep closures.
        # localCheckpoint would cut lineage too but trips a Spark 4
        # attribute-resolution bug on AQE-finalized shuffle plans
        # (see plans.caching.checkpoint_parquet).
        return checkpoint_parquet(df, "path_closure_")

    gs = ["graph"] if by_graph else []
    keys = gs + ["subj", "obj"]
    # the base edge set is re-joined every round with fixed lineage:
    # keep it in memory rather than re-scanning parquet
    base = cache(_pin(edges.distinct()))
    layers = [base]
    frontier = base
    for _ in range(max_rounds):
        seen = functools.reduce(DataFrame.union, layers)
        cond = F.col("f.obj") == F.col("e.subj")
        if by_graph:
            cond = cond & (F.col("f.graph") == F.col("e.graph"))
        nxt = _pin(
            frontier.alias("f")
            .join(base.alias("e"), cond)
            .select(
                *[F.col(f"f.{g}").alias(g) for g in gs],
                F.col("f.subj").alias("subj"),
                F.col("e.obj").alias("obj"),
            )
            .distinct()
            .join(seen, keys, "left_anti")
        )
        if nxt.isEmpty():
            return functools.reduce(DataFrame.union, layers)
        layers.append(nxt)
        frontier = nxt
    raise RuntimeError(
        f"transitive path did not converge in {max_rounds} rounds"
    )


def _join_bindings(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
    shared = [c for c in left.columns if c in right.columns]
    if shared:
        return left.join(right, on=shared, how=how)
    if how == "left":
        # OPTIONAL with no shared vars: SPARQL leftjoin keeps every
        # left solution even when the optional group has zero rows, so
        # a plain crossJoin (which would yield zero rows then) is
        # wrong — left-join on a constant-true condition instead.
        return left.join(right, F.lit(True), "left")
    return left.crossJoin(right)


def _join_compat(
    left: DataFrame,
    lmn: set[str],
    right: DataFrame,
    rmn: set[str],
    how: str,
) -> tuple[DataFrame, set[str]]:
    """SPARQL-compatible join of two binding sets.

    SPARQL solution compatibility treats an UNBOUND shared variable as
    compatible with anything (SPARQL 1.1 §18.3), but a plain equi-join
    on the shared columns silently drops rows where either side left a
    shared var NULL — which happens when a UNION branch, OPTIONAL,
    subselect, or VALUES UNDEF doesn't bind it. ``lmn``/``rmn`` are the
    statically-computed maybe-unbound variable sets; when no shared
    variable is risky this is exactly the plain equi-join (zero
    overhead, the overwhelmingly common case).

    When shared risky vars exist, the join decomposes by null pattern:
    for each subset of risky vars null on the left x null on the right,
    filter both sides to that pattern and equi-join on the remaining
    shared vars, coalescing the vars one side left unbound. Every piece
    stays an equi-join (hash-joinable at scale, vs the non-equi
    `a=b OR a IS NULL OR b IS NULL` condition, which would force a
    nested-loop join over ALL rows including the bound majority).

    Returns (joined, maybe-unbound vars of the result)."""
    shared = [c for c in left.columns if c in right.columns]
    out_mn = _join_result_mn(left, lmn, right, rmn, how)
    risky = [c for c in shared if c in lmn or c in rmn]
    if not risky:
        return _join_bindings(left, right, how), out_mn
    lrisky = [c for c in risky if c in lmn]
    rrisky = [c for c in risky if c in rmn]
    if how == "left" or (1 << len(lrisky)) * (1 << len(rrisky)) > 16:
        # OPTIONAL with maybe-unbound shared vars (or a pathological
        # number of risky vars): fall back to an explicit null-tolerant
        # condition. This compiles to a nested-loop join — acceptable
        # for this rare shape, where unbound vars genuinely match
        # everything anyway.
        rren = right
        for c in shared:
            rren = rren.withColumnRenamed(c, f"__r_{c}")
        cond = functools.reduce(
            lambda a, b: a & b,
            [
                (F.col(c) == F.col(f"__r_{c}"))
                | F.col(c).isNull()
                | F.col(f"__r_{c}").isNull()
                for c in shared
            ],
        )
        joined = left.join(rren, cond, how)
        for c in shared:
            joined = joined.withColumn(
                c, F.coalesce(F.col(c), F.col(f"__r_{c}"))
            ).drop(f"__r_{c}")
        return joined, out_mn
    pieces: list[DataFrame] = []
    for lbits in range(1 << len(lrisky)):
        lnull = {c for i, c in enumerate(lrisky) if lbits >> i & 1}
        lpart = left
        for c in lrisky:
            lpart = lpart.where(
                F.col(c).isNull() if c in lnull else F.col(c).isNotNull()
            )
        for rbits in range(1 << len(rrisky)):
            rnull = {c for i, c in enumerate(rrisky) if rbits >> i & 1}
            rpart = right
            for c in rrisky:
                rpart = rpart.where(
                    F.col(c).isNull() if c in rnull else F.col(c).isNotNull()
                )
            unbound = lnull | rnull
            keys = [c for c in shared if c not in unbound]
            rren = rpart
            for c in unbound:
                rren = rren.withColumnRenamed(c, f"__r_{c}")
            if keys:
                piece = lpart.join(rren, on=keys, how="inner")
            else:
                piece = lpart.crossJoin(rren)
            for c in unbound:
                piece = piece.withColumn(
                    c, F.coalesce(F.col(c), F.col(f"__r_{c}"))
                ).drop(f"__r_{c}")
            pieces.append(piece)
    cols = pieces[0].columns
    return (
        functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [p.select(*cols) for p in pieces],
        ),
        out_mn,
    )


def _join_result_mn(
    left: DataFrame,
    lmn: set[str],
    right: DataFrame,
    rmn: set[str],
    how: str,
) -> set[str]:
    """Maybe-unbound vars after a compatible join: a shared var is
    unbound only when both sides left it unbound; right-side vars of an
    OPTIONAL are always maybe-unbound."""
    out: set[str] = set()
    for c in left.columns:
        if c in right.columns:
            if c in lmn and c in rmn:
                out.add(c)
        elif c in lmn:
            out.add(c)
    for c in right.columns:
        if c not in left.columns:
            if how == "left" or c in rmn:
                out.add(c)
    return out


def _values_df(
    triples: DataFrame, vals: tuple[list[str], list[list[str | None]]]
) -> DataFrame:
    variables, rows = vals
    spark = triples.sparkSession
    schema = T.StructType(
        [T.StructField(v, T.StringType(), True) for v in variables]
    )
    # inline data is tiny by construction — broadcast it into the join
    return F.broadcast(spark.createDataFrame(rows, schema))


def _group_df(
    triples: DataFrame, g: Group, graph: Term | None = None
) -> DataFrame:
    return _group_df_info(triples, g, graph)[0]


def _group_df_info(
    triples: DataFrame, g: Group, graph: Term | None = None
) -> tuple[DataFrame, set[str]]:
    """Group graph pattern -> (bindings, maybe-unbound vars). The
    maybe-unbound set is computed statically from the pattern structure
    (UNION branches with heterogeneous vars, OPTIONAL, VALUES UNDEF,
    BIND, subselect aggregates) and drives SPARQL-compatible joins in
    :func:`_join_compat` — plain equi-joins whenever it's empty."""
    parts: list[tuple[DataFrame, set[str]]] = [
        (_pattern_df(triples, tp, graph), set()) for tp in g.patterns
    ]
    for gterm, sub in g.graphs:
        parts.append(_group_df_info(triples, sub, gterm))
    # SPARQL 1.1 subqueries: evaluated bottom-up in the same graph
    # context; their projected variables join with the outer group
    parts.extend(_select_df_info(triples, sq, graph) for sq in g.subselects)
    for branches in g.unions:
        infos = [_group_df_info(triples, b, graph) for b in branches]
        # SPARQL UNION branches may bind different variable sets; a
        # variable absent from a branch is unbound (NULL) in its rows
        col_sets = [set(d.columns) for d, _ in infos]
        mn = (set.union(*col_sets) - set.intersection(*col_sets)) | set().union(
            *[m for _, m in infos]
        )
        parts.append(
            (
                functools.reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True),
                    [d for d, _ in infos],
                ),
                mn,
            )
        )
    for vals in g.values:
        variables, rows = vals
        undef = {
            v
            for i, v in enumerate(variables)
            if any(r[i] is None for r in rows)
        }
        parts.append((_values_df(triples, vals), undef))
    if not parts:
        raise ValueError("empty group graph pattern")
    df, mn = parts[0]
    for rdf, rmn in parts[1:]:
        df, mn = _join_compat(df, mn, rdf, rmn, "inner")
    for opt in g.optionals:
        odf, omn = _group_df_info(triples, opt, graph)
        df, mn = _join_compat(df, mn, odf, omn, "left")
    for node, var in g.binds:
        df = df.withColumn(var, _bind_col(node, df))
        mn.add(var)  # BIND expressions may evaluate to error/NULL
    for f in g.filters:
        df = df.where(_filter_col(f.expr, df))
    for positive, sub in g.exists:
        sdf = _group_df(triples, sub, graph)
        shared = [c for c in df.columns if c in sdf.columns]
        how = "left_semi" if positive else "left_anti"
        if shared:
            df = df.join(
                sdf.select(*shared).dropDuplicates(), on=shared, how=how
            )
        else:
            # no shared variables: EXISTS is a global emptiness test
            df = df.join(sdf.limit(1), F.lit(True), how)
    for sub in g.minuses:
        sdf = _group_df(triples, sub, graph)
        shared = [c for c in df.columns if c in sdf.columns]
        if shared:
            # SPARQL MINUS: drop solutions with a compatible solution on
            # the shared (bound) variables -> anti equi-join. (Unbound
            # shared variables — possible only via OPTIONAL feeding
            # MINUS — follow SQL null semantics here: null matches
            # nothing, so such rows are kept.)
            df = df.join(
                sdf.select(*shared).dropDuplicates(), on=shared, how="left_anti"
            )
        # disjoint domains: MINUS removes nothing (SPARQL 1.1 §8.3)
    return df, mn


_NUM_LIT_RE = re.compile(
    r'^"([-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)"(?:\^\^<[^>]*>)?$'
)


def _filter_operand(term, df: DataFrame) -> tuple[Column, str]:
    """-> (column, kind) with kind in {'num', 'str', 'plain'}.

    'num' operands are already numeric columns; 'str' operands are
    simple-string lexical forms (STR()/xsd:string()); 'plain' operands
    hold N-Triples lexical terms and coerce per comparison context."""
    if isinstance(term, FilterNode):
        op = term.op
        if op in ("add", "sub", "mul", "div"):
            l = _as_number(term.args[0], df)
            r = _as_number(term.args[1], df)
            col = {"add": l + r, "sub": l - r, "mul": l * r, "div": l / r}[op]
            return col, "num"
        if op == "neg":
            return -_as_number(term.args[0], df), "num"
        if op == "cast_num":
            return _as_number(term.args[0], df), "num"
        if op == "cast_int":
            # truncation toward zero, as SQL CAST(... AS INTEGER)
            return (
                _as_number(term.args[0], df).try_cast("long").cast("double"),
                "num",
            )
        if op == "str":
            return _as_lexical(term.args[0], df), "str"
        if op == "strlen":
            return F.length(_as_lexical(term.args[0], df)), "num"
        if op == "ucase":
            return F.upper(_as_lexical(term.args[0], df)), "str"
        if op == "lcase":
            return F.lower(_as_lexical(term.args[0], df)), "str"
        if op == "concat":
            return F.concat(*[_as_lexical(a, df) for a in term.args]), "str"
        if op == "substr":
            # SPARQL SUBSTR is 1-based like SQL SUBSTRING
            s = _as_lexical(term.args[0], df)
            start = _as_number(term.args[1], df).cast("int")
            if len(term.args) > 2:
                length = _as_number(term.args[2], df).cast("int")
            else:
                length = F.lit(2**31 - 1)
            return s.substr(start, length), "str"
        if op == "coalesce":
            cols = [_filter_operand(a, df)[0] for a in term.args]
            return F.coalesce(*cols), "plain"
        if op == "if":
            cond = _filter_col(term.args[0], df)
            a, ak = _filter_operand(term.args[1], df)
            b, bk = _filter_operand(term.args[2], df)
            return F.when(cond, a).otherwise(b), ak if ak == bk else "plain"
        if op == "lang":
            # language tag of a literal term; "" when absent (SPARQL LANG)
            return (
                F.regexp_extract(_raw_term(term.args[0], df), r"@([A-Za-z0-9-]+)$", 1),
                "str",
            )
        if op == "strbefore":
            # SPARQL 1.1 §17.4.3.4: empty arg2 -> "", no match -> "";
            # an unbound/NULL argument is a type error -> NULL (the
            # leading when() keeps instr's NULL from being swallowed
            # by the no-match "" branch)
            a = _as_lexical(term.args[0], df)
            b = _as_lexical(term.args[1], df)
            pos = F.instr(a, b)
            return (
                F.when(
                    a.isNull() | b.isNull(), F.lit(None).cast("string")
                )
                .when(F.length(b) == 0, F.lit(""))
                .when(pos > 0, F.substr(a, F.lit(1), pos - 1))
                .otherwise(F.lit("")),
                "str",
            )
        if op == "strafter":
            # SPARQL 1.1 §17.4.3.5: empty arg2 -> arg1, no match -> "";
            # unbound/NULL argument -> NULL (type error), as above
            a = _as_lexical(term.args[0], df)
            b = _as_lexical(term.args[1], df)
            pos = F.instr(a, b)
            return (
                F.when(
                    a.isNull() | b.isNull(), F.lit(None).cast("string")
                )
                .when(F.length(b) == 0, a)
                .when(pos > 0, F.substr(a, pos + F.length(b)))
                .otherwise(F.lit("")),
                "str",
            )
        if op == "replace":
            # REPLACE replaces every match (XPath fn:replace); Spark's
            # regexp_replace is global, a DuckDB oracle needs the 'g'
            # flag. The optional 4th flags argument must be a literal;
            # i/s/m/x map to Java inline flags, anything else raises
            # (silently dropping a flag would corrupt results).
            pat = _as_lexical(term.args[1], df)
            if len(term.args) > 3:
                fl = term.args[3]
                if not (isinstance(fl, str) and fl.startswith('"')):
                    raise ValueError(
                        "REPLACE flags must be a literal string"
                    )
                flags = _unquote(fl)
                if set(flags) - set("ismx"):
                    raise ValueError(
                        f"unsupported REPLACE flags {flags!r}"
                    )
                if flags:
                    pat = F.concat(F.lit(f"(?{flags})"), pat)
            return (
                F.regexp_replace(
                    _as_lexical(term.args[0], df),
                    pat,
                    _as_lexical(term.args[2], df),
                ),
                "str",
            )
        if op == "encode_for_uri":
            # XPath fn:encode-for-uri: percent-encode the UTF-8 bytes of
            # everything but unreserved A-Za-z0-9-_.~ (uppercase hex).
            # url_encode is the JVM-side form-encoder; patch its three
            # divergences (space->'+', '*' kept, '~' encoded). A literal
            # '+'/'*' in the input is already %2B/%2A by then, and a
            # literal "%7E" text becomes %257E, so the patches can't
            # double-fire.
            c = F.url_encode(_as_lexical(term.args[0], df))
            c = F.replace(c, F.lit("+"), F.lit("%20"))
            c = F.replace(c, F.lit("*"), F.lit("%2A"))
            c = F.replace(c, F.lit("%7E"), F.lit("~"))
            return c, "str"
        if op in ("abs", "ceil", "floor"):
            n = _as_number(term.args[0], df)
            fn = {"abs": F.abs, "ceil": F.ceil, "floor": F.floor}[op]
            return fn(n).cast("double"), "num"
        if op == "round":
            # XPath fn:round ties go toward +inf — floor(x + 0.5), which
            # a SQL oracle reproduces verbatim (HALF_UP round() does not:
            # round(-2.5) = -3 but fn:round(-2.5) = -2)
            return (
                F.floor(_as_number(term.args[0], df) + F.lit(0.5)).cast(
                    "double"
                ),
                "num",
            )
        if op in ("md5", "sha1"):
            b = F.encode(_as_lexical(term.args[0], df), "UTF-8")
            return (F.md5(b) if op == "md5" else F.sha1(b)), "str"
        if op in ("sha256", "sha384", "sha512"):
            b = F.encode(_as_lexical(term.args[0], df), "UTF-8")
            return F.sha2(b, int(op[3:])), "str"
        if op == "iri":
            # IRI()/URI(): string -> IRI term. Absolute IRIs only: the
            # prologue BASE is resolved at parse time against constant
            # terms (see virtual._resolve_base), not re-applied to
            # computed strings, matching engines without a runtime base
            return (
                F.concat(
                    F.lit("<"), _as_lexical(term.args[0], df), F.lit(">")
                ),
                "plain",
            )
        if op == "strdt":
            # STRDT(lexical, datatype-IRI) -> typed literal term
            return (
                F.concat(
                    F.lit('"'),
                    _as_lexical(term.args[0], df),
                    F.lit('"^^'),
                    _raw_term(term.args[1], df),
                ),
                "plain",
            )
        if op == "strlang":
            return (
                F.concat(
                    F.lit('"'),
                    _as_lexical(term.args[0], df),
                    F.lit('"@'),
                    _as_lexical(term.args[1], df),
                ),
                "plain",
            )
        if op == "now":
            # the constant xsd:dateTime term stamped at parse time
            return F.lit(term.args[0]), "plain"
        if op == "rand":
            return F.rand(), "num"
        if op in ("uuid", "struuid"):
            u = F.expr("uuid()")  # constant SQL text, no injection
            if op == "struuid":
                return u, "str"
            return F.concat(F.lit("<urn:uuid:"), u, F.lit(">")), "plain"
        if op in _DT_GROUP:
            # xsd:dateTime/date accessors evaluate on the LEXICAL form
            # (regexp groups), not via a timestamp cast: no session-
            # timezone dependence, and a SQL oracle reproduces the same
            # groups verbatim. No match / missing time part -> NULL
            # (SPARQL type-error semantics; HOURS of an xsd:date errors)
            lex = _as_lexical(term.args[0], df)
            part = F.regexp_extract(lex, _DT_LEX_RE, _DT_GROUP[op])
            if op == "dt_tz":
                # TZ of a timezone-less dateTime is "" but TZ of a
                # non-temporal term is a type error -> NULL; gate on
                # the overall lexical match to tell the two apart
                return (
                    F.when(lex.rlike(_DT_LEX_RE), part).otherwise(
                        F.lit(None).cast("string")
                    ),
                    "str",
                )
            return F.nullif(part, F.lit("")).try_cast("double"), "num"
        if op == "datatype":
            raw = _raw_term(term.args[0], df)
            return (
                F.when(
                    raw.rlike(r"\^\^<[^>]*>$"),
                    F.regexp_extract(raw, r"\^\^(<[^>]*>)$", 1),
                )
                .when(
                    raw.rlike(r'^".*"@[A-Za-z0-9-]+$'),
                    F.lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>"),
                )
                .when(raw.startswith('"'), F.lit(f"<{_XSD_NS}string>"))
                .otherwise(F.lit(None).cast("string")),
                "plain",
            )
        raise ValueError(f"value expression expected in FILTER, got {op!r}")
    if isinstance(term, str) and term.startswith("?"):
        return F.col(term[1:]), "plain"
    if isinstance(term, str):
        m = _NUM_LIT_RE.match(term)
        if m:
            return F.lit(float(m.group(1))), "num"
        if re.match(r"^[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?$", term):
            return F.lit(float(term)), "num"
        return F.lit(term), "plain"
    raise ValueError(f"bad filter operand {term!r}")


def _raw_term(term, df: DataFrame) -> Column:
    """The N-Triples term form itself (for LANG/DATATYPE/is* tests)."""
    if isinstance(term, str) and term.startswith("?"):
        return F.col(term[1:])
    if isinstance(term, str):
        return F.lit(term)
    col, _kind = _filter_operand(term, df)
    return col


def _as_number(term, df: DataFrame) -> Column:
    col, kind = _filter_operand(term, df)
    if kind == "num":
        return col
    return _numeric_value(col)


def _as_lexical(term, df: DataFrame) -> Column:
    """SPARQL STR(): lexical form of a term (quoted literal -> its
    lexical value, <iri> -> the iri string, else as-is)."""
    if isinstance(term, str) and not term.startswith("?"):
        if term.startswith('"'):
            return F.lit(_unquote(term))
        if term.startswith("<") and term.endswith(">"):
            return F.lit(term[1:-1])
    col, kind = _filter_operand(term, df)
    if kind == "num":
        return col.cast("string")
    if kind == "str":
        return col
    return (
        F.when(
            col.startswith('"'),
            F.regexp_extract(col, r'^"((?:[^"\\]|\\.)*)"', 1),
        )
        .when(col.startswith("<"), F.regexp_replace(col, r"^<|>$", ""))
        .otherwise(col)
    )


def _numeric_value(col: Column) -> Column:
    """Lexical N-Triples term -> numeric value (for </>/... on literals).

    Non-numeric terms (IRIs, plain strings) yield NULL, so the
    comparison evaluates to NULL and the row is filtered — SPARQL's
    type-error-is-false semantics. try_cast keeps that behavior under
    ANSI mode, where a plain cast of '' would throw instead.

    The pattern covers every xsd:double/decimal lexical shape a term
    can carry: exponent notation ("1.0E7" — Spark's double→string cast
    and Java Double.toString emit E-notation for |x| ≥ 1e7 or < 1e-3,
    and lex_value_col passes that through), leading-dot decimals
    (".5"), and trailing-dot integers ("3.").
    """
    return F.regexp_extract(
        col, r'^"?([-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)', 1
    ).try_cast("double")


def _datetime_value(col: Column) -> Column:
    """xsd:dateTime N-Triples term -> timestamp; NULL for any other
    term (try_cast, so a malformed lexical form is NULL under ANSI)."""
    return F.regexp_extract(col, _DT_TERM_RE, 1).try_cast("timestamp")


def _is_datetime(term) -> bool:
    """True for an operand known at parse time to be an xsd:dateTime:
    a typed literal or NOW()."""
    if isinstance(term, FilterNode):
        return term.op == "now"
    return isinstance(term, str) and re.match(_DT_TERM_RE, term) is not None


def _filter_col(node: FilterNode, df: DataFrame) -> Column:
    op = node.op
    if op == "and":
        return functools.reduce(
            lambda a, b: a & b, [_filter_col(a, df) for a in node.args]
        )
    if op == "or":
        return functools.reduce(
            lambda a, b: a | b, [_filter_col(a, df) for a in node.args]
        )
    if op == "not":
        return ~_filter_col(node.args[0], df)
    if op == "bound":
        return F.col(node.args[0]).isNotNull()
    if op == "regex":
        return F.col(node.args[0]).rlike(node.args[1])
    if op == "isiri":
        return _raw_term(node.args[0], df).startswith("<")
    if op == "isliteral":
        return _raw_term(node.args[0], df).startswith('"')
    if op == "isblank":
        return _raw_term(node.args[0], df).startswith("_:")
    if op == "isnumeric":
        col, kind = _filter_operand(node.args[0], df)
        if kind == "num":
            return col.isNotNull()
        # literal whose datatype is one of the XSD numeric types
        return _raw_term(node.args[0], df).rlike(
            r"\^\^<http://www\.w3\.org/2001/XMLSchema#(integer|decimal"
            r"|float|double|int|long|short|byte|nonNegativeInteger"
            r"|nonPositiveInteger|positiveInteger|negativeInteger"
            r"|unsignedLong|unsignedInt|unsignedShort|unsignedByte)>$"
        )
    if op == "sameterm":
        # term (not value) identity: the engine's terms are canonical
        # N-Triples strings, so raw equality IS sameTerm
        return _raw_term(node.args[0], df) == _raw_term(node.args[1], df)
    if op in ("strstarts", "strends", "contains"):
        a = _as_lexical(node.args[0], df)
        b = _as_lexical(node.args[1], df)
        return {
            "strstarts": a.startswith(b),
            "strends": a.endswith(b),
            "contains": a.contains(b),
        }[op]
    if op == "langmatches":
        # RFC 4647 basic filtering (SPARQL 1.1 langMatches): '*' matches
        # any non-empty tag; a basic range matches a tag it equals or
        # prefixes at a '-' boundary ('en' matches 'en-US')
        tag = F.lower(_as_lexical(node.args[0], df))
        rng = F.lower(_as_lexical(node.args[1], df))
        return F.when(rng == "*", tag != "").otherwise(
            (tag == rng) | tag.startswith(F.concat(rng, F.lit("-")))
        )
    if op not in _CMP_OPS:
        raise ValueError(f"boolean expression expected in FILTER, got {op!r}")
    l, lk = _filter_operand(node.args[0], df)
    r, rk = _filter_operand(node.args[1], df)
    cmp = _CMP_FNS[op]
    if lk == "str" or rk == "str":
        return cmp(
            l if lk == "str" else _as_lexical(node.args[0], df),
            r if rk == "str" else _as_lexical(node.args[1], df),
        )
    if lk == "num" or rk == "num":
        return cmp(
            l if lk == "num" else _numeric_value(l),
            r if rk == "num" else _numeric_value(r),
        )
    if op in ("=", "!="):
        return cmp(l, r)
    if _is_datetime(node.args[0]) or _is_datetime(node.args[1]):
        # ordering against an xsd:dateTime compares timestamps; a
        # non-dateTime term there is a type error (NULL, dropped)
        return cmp(_datetime_value(l), _datetime_value(r))
    return cmp(_numeric_value(l), _numeric_value(r))


def _bind_col(node, df: DataFrame) -> Column:
    """BIND expression -> Column: boolean expressions go through the
    FILTER compiler, value expressions through the operand compiler."""
    if isinstance(node, FilterNode) and node.op in _BOOL_OPS:
        return _filter_col(node, df)
    col, _kind = _filter_operand(node, df)
    return col


def _agg_input_col(node, func: str, df: DataFrame) -> Column:
    """Input of an aggregate over an expression, as a pre-group value
    column. SUM/AVG of a string value (SUM(UCASE(?x))) is a type error,
    so the input is NULL and the aggregate unbound, where ANSI's
    implicit string->double cast would fail the query; MIN/MAX order
    strings too, and numeric inputs keep their type."""
    if isinstance(node, FilterNode) and node.op in _BOOL_OPS:
        return _filter_col(node, df)
    col, kind = _filter_operand(node, df)
    if kind == "str" and func in ("sum", "avg"):
        return F.lit(None).cast("double")
    return col


def _agg_col(agg: Aggregate) -> Column:
    """SPARQL aggregate -> Spark aggregate (A1/A2: the reference
    supports single-variable AVG/SUM/COUNT/MAX/MIN,
    MorphRDBQueryTranslator.transGroup:439-530). COUNT counts
    bindings; the numeric aggregates operate on the parsed numeric
    value of the literal terms."""
    if agg.func == "count":
        if agg.var is None:
            c = F.count(F.lit(1))
        elif agg.distinct:
            c = F.count_distinct(F.col(agg.var))
        else:
            c = F.count(F.col(agg.var))
        return c.alias(agg.alias)
    if agg.func == "sample":
        # SAMPLE() may return any binding; min() is the deterministic
        # pick (and what lets a SQL oracle reproduce it exactly)
        return F.min(F.col(agg.var)).alias(agg.alias)
    if agg.func == "group_concat":
        src = F.col(agg.var).cast("string") if agg.raw else F.col(agg.var)
        coll = F.collect_set(src) if agg.distinct else F.collect_list(src)
        # SPARQL leaves concatenation order undefined; sorting makes it
        # deterministic (and oracle-reproducible via string_agg ORDER BY)
        return F.array_join(F.sort_array(coll), agg.sep).alias(agg.alias)
    v = F.col(agg.var) if agg.raw else _numeric_value(F.col(agg.var))
    if agg.distinct and agg.func == "sum":
        return F.sum_distinct(v).alias(agg.alias)
    if agg.distinct and agg.func == "avg":
        return (F.sum_distinct(v) / F.count_distinct(v)).alias(agg.alias)
    return {
        "sum": F.sum(v),
        "avg": F.avg(v),
        "min": F.min(v),
        "max": F.max(v),
    }[agg.func].alias(agg.alias)


def _order_cols(df: DataFrame, order_by: list[tuple[object, bool]]) -> list[Column]:
    """ORDER BY keys -> Spark sort columns with SPARQL value ordering.

    Typed numeric literals must order by VALUE ("9"^^xsd:integer before
    "10"^^xsd:integer), not lexically — the reference gets this free by
    re-evaluating the SPARQL with Jena ARQ over the temporary graph
    (MorphMongoQueryProcessor.process:45-150, ARQ eval at :55). Each
    lexical-term key becomes a composite (term-class rank, numeric
    value, lexical form) sort key: the rank orders term classes per
    SPARQL 1.1 §15.1 (unbound < blank node < IRI < literal), numerics
    order by value with the lexical form as the deterministic
    tie-break, and non-numeric terms (NULL numeric key, sorted before
    numerics within their class) order lexically. Columns that are
    already numeric (aggregate aliases) or expression keys compile
    directly."""
    cols: list[Column] = []
    fields = {f.name: f.dataType for f in df.schema.fields}

    def _term_keys(col: Column, asc: bool) -> list[Column]:
        rank = (
            F.when(col.isNull(), F.lit(0))
            .when(col.startswith("_:"), F.lit(1))
            .when(col.startswith("<"), F.lit(2))
            .otherwise(F.lit(3))
        )
        num = _numeric_value(col)
        if asc:
            return [rank.asc(), num.asc_nulls_first(), col.asc()]
        return [rank.desc(), num.desc_nulls_last(), col.desc()]

    for key, asc in order_by:
        if isinstance(key, str):
            col = F.col(key)
            if isinstance(fields.get(key), T.NumericType):
                cols.append(col.asc() if asc else col.desc())
                continue
            cols.extend(_term_keys(col, asc))
            continue
        ecol, kind = _filter_operand(key, df)
        if kind in ("num", "str"):
            cols.append(ecol.asc() if asc else ecol.desc())
        else:
            cols.extend(_term_keys(ecol, asc))
    return cols


def sparql_select(triples: DataFrame, query: str | SelectQuery) -> DataFrame:
    """Evaluate a SPARQL SELECT (subset) over a (subj, pred, obj)
    triple DataFrame; returns one column per projected variable."""
    return _select_df(triples, _parsed(query))


def _parsed(query: str | SelectQuery, form: str | None = None) -> SelectQuery:
    """``query`` parsed (text) or as given (a parsed query), checked to
    be of ``form`` when one is named."""
    q = parse_sparql(query) if isinstance(query, str) else query
    if form is not None and q.form != form:
        raise ValueError(f"not a {form} query: {q.form}")
    return q


def _select_df(
    triples: DataFrame, q: SelectQuery, graph: Term | None = None
) -> DataFrame:
    return _select_df_info(triples, q, graph)[0]


def _apply_dataset(triples: DataFrame, q: SelectQuery) -> DataFrame:
    """FROM / FROM NAMED dataset construction (SPARQL 1.1 §13.2): when
    any dataset clause is present, the queried dataset is *exactly* the
    described one — the default graph is the RDF merge (set union) of
    the FROM graphs (empty when only FROM NAMED is given), and the
    named graphs are exactly the FROM NAMED ones."""
    if not (q.from_graphs or q.from_named):
        return triples
    if "graph" not in triples.columns:
        raise ValueError(
            "FROM/FROM NAMED require a quad table input "
            "(use MappingCompiler.quads())"
        )
    cols = triples.columns
    default = named = None
    if q.from_graphs:
        default = (
            triples.where(F.col("graph").isin(q.from_graphs))
            .drop("graph")
            # the merge of several graphs is a set union, so a triple
            # present in two FROM graphs appears once
            .dropDuplicates()
            .withColumn("graph", F.lit(None).cast("string"))
            .select(*cols)
        )
    if q.from_named:
        named = triples.where(F.col("graph").isin(q.from_named))
    if default is None:
        return named
    if named is None:
        return default
    return default.unionByName(named)


def _select_df_info(
    triples: DataFrame, q: SelectQuery, graph: Term | None = None
) -> tuple[DataFrame, set[str]]:
    triples = _apply_dataset(triples, q)
    df, mn = _group_df_info(triples, q.where, graph)
    # HAVING and (expr AS ?alias) projections may contain aggregate
    # calls: pull them out into hidden agg columns, evaluate the rest
    # of the expression post-agg, then drop the hidden columns
    aggs = [_agg_col(a) for a in q.aggregates]
    hidden_n = 0
    # aggregate-over-expression inputs (SUM(?a * ?b)): materialized as
    # hidden value columns on the pre-group frame
    pre_cols: list[tuple[str, object, str]] = []

    def _pull(node):
        nonlocal hidden_n
        if isinstance(node, FilterNode):
            if node.op == "agg":
                alias = f"__h{hidden_n}"
                hidden_n += 1
                func, arg, distinct, is_expr, sep = node.args
                if is_expr:
                    iname = f"__ai{hidden_n}"
                    hidden_n += 1
                    pre_cols.append((iname, arg, func))
                    arg = iname
                aggs.append(
                    _agg_col(
                        Aggregate(
                            func, arg, alias, distinct, sep, raw=is_expr
                        )
                    )
                )
                return f"?{alias}"
            return FilterNode(node.op, [_pull(a) for a in node.args])
        return node

    having_tree = _pull(q.having) if q.having is not None else None
    proj_trees = [(_pull(t), alias) for t, alias in q.projections]
    if q.aggregates or q.having is not None or hidden_n or q.group_by:
        # materialize group-key expression columns, then aggregate
        # input columns, on the pre-group frame
        for tree, iname in q.group_exprs:
            df = df.withColumn(iname, _bind_col(tree, df))
        for iname, tree, func in pre_cols:
            df = df.withColumn(iname, _agg_input_col(tree, func, df))
        if not aggs and q.group_by:
            # GROUP BY without aggregates: one row per group
            df = df.select(*q.group_by).dropDuplicates()
        elif q.group_by:
            df = df.groupBy(*q.group_by).agg(*aggs)
        else:
            df = df.agg(*aggs)
        if having_tree is not None:
            df = df.where(_filter_col(having_tree, df))
        # Extend (§18.4) runs after grouping, in projection order, so a
        # later expression may reference an earlier alias
        for node, alias in proj_trees:
            df = df.withColumn(alias, _bind_col(node, df))
        shown_gb = [g for g in q.group_by if not g.startswith("__g")]
        # parser-built queries carry aggregate aliases in `variables`
        # at their projection position; the appended alias list only
        # matters for programmatically-built SelectQuery objects
        keep = (q.variables or shown_gb) + [a.alias for a in q.aggregates]
        seen: set[str] = set()
        df = df.select(
            *[
                c
                for c in keep
                if c in df.columns and not (c in seen or seen.add(c))
            ]
        )
        # aggregates other than COUNT yield NULL over all-NULL groups
        mn = (
            (mn & set(q.group_by))
            | {a.alias for a in q.aggregates if a.func != "count"}
            | {alias for _, alias in proj_trees}
            | {n for _, n in q.group_exprs}  # expression keys may be NULL
        )
    elif q.variables:
        for node, alias in proj_trees:
            df = df.withColumn(alias, _bind_col(node, df))
            mn.add(alias)  # expression errors evaluate to NULL
        df = df.select(*q.variables)
    else:
        # SELECT *: blank-node-property-list internals are not
        # projectable variables
        hidden = [c for c in df.columns if c.startswith("__bn")]
        if hidden:
            df = df.drop(*hidden)
    if q.distinct:
        df = df.dropDuplicates()
    if q.order_by:
        df = df.orderBy(*_order_cols(df, q.order_by))
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df, mn & set(df.columns)


class Graph:
    """An RDF graph answering the four SPARQL query forms.

    ``fragment(q)`` is the part of the graph query ``q`` needs: the
    whole table for a materialized graph (:class:`TripleTable`), the
    bound, pushed-down mapping branches for a virtual one
    (:class:`..sparql.virtual.VirtualGraph`). SELECT, ASK, CONSTRUCT
    and DESCRIBE of IRIs evaluate over it here, once for both kinds.
    Each method takes query text or a query from :func:`parse_sparql`.
    ``release()`` frees what the graph cached for the queries answered
    so far (a no-op for a table)."""

    def fragment(self, q: SelectQuery) -> DataFrame:
        raise NotImplementedError

    def release(self) -> None:
        pass

    def select(self, query: str | SelectQuery) -> DataFrame:
        q = _parsed(query, "SELECT")
        return sparql_select(self.fragment(q), q)

    def ask(self, query: str | SelectQuery) -> bool:
        q = _parsed(query, "ASK")
        return bool(sparql_select(self.fragment(q), q).take(1))

    def construct(self, query: str | SelectQuery) -> DataFrame:
        """Instantiate the template triple patterns from the WHERE
        solutions -> a (subj, pred, obj) frame (S9's CONSTRUCT->RDF
        path). Rows with an unbound template variable are dropped per
        SPARQL semantics; output is deduplicated (graph set semantics)."""
        q = _parsed(query, "CONSTRUCT")
        bindings = sparql_select(self.fragment(q), q)

        def term_col(t: Term) -> Column:
            return F.col(t[1:]) if _is_var(t) else F.lit(t)

        outs = [
            bindings.select(
                term_col(tp.s).alias("subj"),
                term_col(tp.p).alias("pred"),
                term_col(tp.o).alias("obj"),
            ).where(
                F.col("subj").isNotNull()
                & F.col("pred").isNotNull()
                & F.col("obj").isNotNull()
            )
            for tp in q.template
        ]
        return functools.reduce(DataFrame.unionByName, outs).dropDuplicates(
            ["subj", "pred", "obj"]
        )

    def describe(self, query: str | SelectQuery) -> DataFrame:
        """``DESCRIBE t... [WHERE {...}]``: every triple whose subject or
        object is a described resource — an IRI named, or a term a named
        variable binds to (the reference expands DESCRIBE the same way,
        SparqlQueryRewriter.expandDescribe). Named IRIs only: the
        fragment of the triples they can appear in is the description.
        With variables, fully distributed — the bound-node set stays a
        DataFrame and the description is two semi-joins (subject side,
        object side) against the whole graph, never a collect of the
        node list."""
        q = _parsed(query, "DESCRIBE")
        if q.from_graphs or q.from_named:
            raise ValueError("FROM / FROM NAMED are not supported on DESCRIBE")
        iris = [t for t in q.describe if not _is_var(t)]
        if not q.variables:
            about = [
                tp
                for iri in iris
                for tp in (
                    TriplePattern(iri, "?p", "?o"),
                    TriplePattern("?s", "?p2", iri),
                )
            ]
            frag = self.fragment(SelectQuery([], Group(patterns=about)))
            return frag.where(F.col("subj").isin(iris) | F.col("obj").isin(iris))
        bindings = sparql_select(self.fragment(q), q)
        nodes = bindings.select(
            F.explode(F.array(*[F.col(v) for v in q.variables])).alias("n")
        )
        if iris:
            nodes = nodes.union(
                bindings.sparkSession.createDataFrame(
                    [(i,) for i in iris], "n string"
                )
            )
        nodes = nodes.distinct()
        whole = self.fragment(
            SelectQuery([], Group(patterns=[TriplePattern("?s", "?p", "?o")]))
        )
        subj_side = whole.join(nodes, whole["subj"] == nodes["n"], "left_semi")
        obj_side = whole.join(nodes, whole["obj"] == nodes["n"], "left_semi")
        return subj_side.unionByName(obj_side).dropDuplicates()


class TripleTable(Graph):
    """A materialized (subj, pred, obj[, graph]) frame as a
    :class:`Graph`: every query's fragment is the whole table."""

    def __init__(self, triples: DataFrame):
        self.triples = triples

    def fragment(self, q: SelectQuery) -> DataFrame:
        return self.triples


def sparql_construct(triples: DataFrame, query: str | SelectQuery) -> DataFrame:
    """CONSTRUCT over a materialized triple frame (:meth:`Graph.construct`)."""
    return TripleTable(triples).construct(query)


def sparql_describe(triples: DataFrame, query: str | SelectQuery) -> DataFrame:
    """DESCRIBE over a materialized triple frame (:meth:`Graph.describe`)."""
    return TripleTable(triples).describe(query)
