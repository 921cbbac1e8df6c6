"""SPARQL over a triple table as DataFrame composition.

:func:`.parse.parse_sparql` reads every query form (SELECT, ASK,
CONSTRUCT, DESCRIBE) into a :class:`.parse.SelectQuery`, which the
:class:`Graph` interface answers over the query's fragment — the whole
table for a :class:`TripleTable`, the bound mapping branches for a
:class:`..virtual.VirtualGraph`.

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
(SURVEY §4.1). The supported SPARQL subset and the value semantics are
described in :mod:`.parse`.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import terms
from .parse import (
    _BOOL_OPS,
    Aggregate,
    FilterNode,
    Group,
    Path,
    SelectQuery,
    Term,
    TriplePattern,
    _is_var,
    parse_sparql,
)
from .results import _unescape

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


def _unquote(term: str) -> str:
    """The text between the quotes of a literal term, N-Triples
    escapes kept (the form the lexical-form functions read from data
    terms); any other term as it is."""
    return term[1 : term.rindex('"')] if term.startswith('"') else term


# ---------------------------------------------------------------------------
# evaluator: Group -> DataFrame of variable bindings
# ---------------------------------------------------------------------------


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
    df, mn = _bind_and_filter(df, mn, g)
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


def _bind_and_filter(
    df: DataFrame, mn: set[str], g: Group
) -> tuple[DataFrame, set[str]]:
    """A group's BINDs, then its FILTERs, over its joined bindings."""
    for node, var in g.binds:
        df = df.withColumn(var, _bind_col(node, df))
        mn = mn | {var}  # BIND expressions may evaluate to error/NULL
    for f in g.filters:
        df = df.where(_filter_col(f.expr, df))
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
            # flag.
            return (
                F.regexp_replace(
                    _as_lexical(term.args[0], df),
                    _pattern_col(term.args[1], term.args[3:], df),
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
            # terms (parse._Parser.iri), not re-applied to
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
                    terms.escape_ntriples_col(_as_lexical(term.args[0], df)),
                    F.lit('"^^'),
                    _raw_term(term.args[1], df),
                ),
                "plain",
            )
        if op == "strlang":
            return (
                F.concat(
                    F.lit('"'),
                    terms.escape_ntriples_col(_as_lexical(term.args[0], df)),
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
                .when(raw.startswith('"'), F.lit(f"<{terms.XSD_STRING}>"))
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
        return F.lit(term), "plain"
    raise ValueError(f"bad filter operand {term!r}")


def _pattern_col(pattern, flags: list, df: DataFrame) -> Column:
    """A REGEX / REPLACE pattern with its optional flags argument,
    which must be a literal: i/s/m/x become Java inline flags, anything
    else raises (silently dropping a flag would corrupt results)."""
    pat = _as_lexical(pattern, df)
    if not flags:
        return pat
    fl = flags[0]
    if not (isinstance(fl, str) and fl.startswith('"')):
        raise ValueError("regex flags must be a literal string")
    chars = _unquote(fl)
    if set(chars) - set("ismx"):
        raise ValueError(f"unsupported regex flags {chars!r}")
    return F.concat(F.lit(f"(?{chars})"), pat) if chars else pat


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
    lexical value with the N-Triples escapes decoded, <iri> -> the iri
    string, else as-is)."""
    if isinstance(term, str) and not term.startswith("?"):
        if term.startswith('"'):
            return F.lit(_unescape(_unquote(term)))
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
            _unescape_col(F.regexp_extract(col, r'^"((?:[^"\\]|\\.)*)"', 1)),
        )
        .when(col.startswith("<"), F.regexp_replace(col, r"^<|>$", ""))
        .otherwise(col)
    )


def _unescape_col(body: Column) -> Column:
    """The text an N-Triples-escaped literal body stands for (the
    column form of :func:`.results._unescape`). Splitting on the escaped
    backslash pairs, scanned left to right as the escapes are, leaves
    pieces in which every backslash opens one of the other escapes."""

    def decode(piece: Column) -> Column:
        for esc, ch in (("\\n", "\n"), ("\\r", "\r"), ("\\t", "\t"), ('\\"', '"')):
            piece = F.replace(piece, F.lit(esc), F.lit(ch))
        return piece

    decoded = F.transform(F.split(body, r"\\\\"), decode)
    return F.when(body.contains("\\"), F.array_join(decoded, "\\")).otherwise(body)


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
        # SPARQL §17.4.3.14: the pattern matches the lexical form
        return F.regexp_like(
            _as_lexical(node.args[0], df),
            _pattern_col(node.args[1], node.args[2:], df),
        )
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
    if op not in _CMP_FNS:
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
    # the row decides the kind: two xsd:dateTime terms order by
    # instant, one against a term of another kind is a type error
    # (NULL, dropped), and the rest order by numeric value
    ldt, rdt = _datetime_value(l), _datetime_value(r)
    return (
        F.when(ldt.isNotNull() & rdt.isNotNull(), cmp(ldt, rdt))
        .when(ldt.isNotNull() | rdt.isNotNull(), F.lit(None).cast("boolean"))
        .otherwise(cmp(_numeric_value(l), _numeric_value(r)))
    )


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
    return _solution_modifiers(df, mn, q)


def select_over_bindings(bindings: DataFrame, q: SelectQuery) -> DataFrame:
    """The solutions of ``q`` from the bindings of its basic graph
    pattern (one column per variable, all bound): the WHERE's BINDs and
    FILTERs, then the solution modifiers, as over a triple table."""
    df, mn = _bind_and_filter(bindings, set(), q.where)
    return _solution_modifiers(df, mn, q)[0]


def _solution_modifiers(
    df: DataFrame, mn: set[str], q: SelectQuery
) -> tuple[DataFrame, set[str]]:
    """Everything after the WHERE: grouping and aggregates, HAVING,
    projection, DISTINCT, ORDER BY, OFFSET and LIMIT."""
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

    def solutions(self, q: SelectQuery) -> DataFrame:
        """The solution frame of a parsed SELECT, ASK, CONSTRUCT or
        DESCRIBE query: one column per projected (described) variable."""
        return sparql_select(self.fragment(q), q)

    def release(self) -> None:
        pass

    def select(self, query: str | SelectQuery) -> DataFrame:
        return self.solutions(_parsed(query, "SELECT"))

    def ask(self, query: str | SelectQuery) -> bool:
        return bool(self.solutions(_parsed(query, "ASK")).take(1))

    def construct(self, query: str | SelectQuery) -> DataFrame:
        """Instantiate the template triple patterns from the WHERE
        solutions -> a (subj, pred, obj) frame (S9's CONSTRUCT->RDF
        path). Rows with an unbound template variable are dropped per
        SPARQL semantics; output is deduplicated (graph set semantics).

        A template blank node (a ``_:b`` label, or a ``[ ... ]`` list's
        ``?__bn`` variable) is fresh per solution and shared by that
        solution's triples (SPARQL 1.1 §16.2): its label hashes the
        solution's bound columns with the template label. Duplicate
        solutions instantiate the same triples, which the set semantics
        merges."""
        q = _parsed(query, "CONSTRUCT")
        bindings = self.solutions(q)
        solution = [F.col(c) for c in bindings.columns]

        def term_col(t: Term) -> Column:
            if t.startswith(("_:", "?__bn")):
                row = F.struct(F.lit(t).alias("__label"), *solution)
                return F.concat(F.lit("_:c"), F.md5(F.to_json(row)))
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
        bindings = self.solutions(q)
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
