"""Logical-source resolution: xR2RML logical sources -> DataFrames.

Covers the reference's source operators (SURVEY §2.1):
  S1 table scan        rr:tableName           (MorphRDBUnfolder.unfoldLogicalSource:65-97)
  S2 SQL-query scan    rr:sqlQuery            (same :76-93 — Catalyst parses)
  S3 collection scan   xrr:query "db.X.find({...}[, {projection}])"
                       (MongoDBQuery.parseQueryString:67-86) — find
                       documents with field equality, $eq/$ne/$gt/$gte/
                       $lt/$lte, $in/$nin, $exists, $size, $elemMatch,
                       $regex (+$options), $not, and $and/$or
                       compile to Catalyst predicates over the doc
                       column (the reference ships them to MongoDB; we
                       evaluate the same predicate on the JSON column);
                       the projection document is parsed and then left
                       to Catalyst column pruning
  S5 per-TM slice/offset  df.offset(m).limit(n)
  S6 source reuse      .persist() of parent-side scans across RefObjectMaps

Document-shaped sources (JSONPath/XPath formulations) expose one string
column holding the whole document per row (the reference's Mongo reader
hands each document to the translator as a JSON string,
MorphMongoDataSourceReader.scala:81-115). Row-shaped sources (Column
formulation) expose ordinary columns.
"""

from __future__ import annotations

import functools
import json
import operator
import re
from collections.abc import Iterable
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..mapping.model import LogicalSource

_MONGO_FIND_RE = re.compile(
    r"^\s*db\.(?P<collection>\w+)\.find\s*\(\s*(?P<args>.*?)\s*\)\s*$", re.DOTALL
)


def _split_find_args(args: str) -> tuple[str, str | None]:
    """Split ``find(query[, projection])`` arguments at the top-level
    comma (the reference passes both documents through to MongoDB,
    MongoDBQuery.parseQueryString:67-86). Depth-tracked over {}/[] and
    quoted strings so commas inside the query document don't split."""
    depth = 0
    quote: str | None = None
    i, n = 0, len(args)
    while i < n:
        c = args[i]
        if quote is not None:
            if c == "\\":
                i += 2
                continue
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c in "{[(":
            depth += 1
        elif c in "}])":
            depth -= 1
        elif c == "," and depth == 0:
            return args[:i].strip(), args[i + 1 :].strip()
        i += 1
    return args.strip(), None

_BARE_KEY_RE = re.compile(r"([{\s,])(\$?[\w.]+)\s*:")

_WHERE_CMP_RE = re.compile(
    r"^\s*this\.(?P<l>[\w.]+)\s*(?P<op>==|!=|<=|>=|<|>)\s*"
    r"(?:this\.(?P<r>[\w.]+)|'(?P<s>[^']*)'|\"(?P<s2>[^\"]*)\""
    r"|(?P<n>-?\d+(?:\.\d+)?))\s*$"
)


def _parse_find_json(q: str) -> dict:
    """Tolerant parse of a find() document: bare keys and single-quoted
    strings (as mapping authors write them) are normalized to JSON."""
    try:
        return json.loads(q)
    except ValueError:
        pass
    norm = _BARE_KEY_RE.sub(r'\1"\2":', q)
    norm = re.sub(r"'([^']*)'", r'"\1"', norm)
    try:
        return json.loads(norm)
    except ValueError as e:
        raise ValueError(f"cannot parse MongoDB find() query: {q!r}") from e


# variant kinds (schema_of_variant) read exactly as a bigint column
_INTEGRAL_KINDS = frozenset({"TINYINT", "SMALLINT", "INT", "BIGINT"})

# a \uD800-\uDFFF escape that is not half of a surrogate pair: json.loads
# keeps it as a lone surrogate, try_parse_json reads it as '?' (an
# escaped backslash before it also matches: such a document is only
# left to the evaluators)
_LONE_SURROGATE = (
    r"\\u[dD][89abAB][0-9a-fA-F]{2}(?!\\u[dD][c-fC-F][0-9a-fA-F]{2})"
    r"|(?<!\\u[dD][89abAB][0-9a-fA-F]{2})\\u[dD][c-fC-F][0-9a-fA-F]{2}"
)


def typed_column(field: str) -> str:
    """The column :meth:`SourceCatalog.resolve` adds for the proven
    simple JSONPath field ``field`` (``a.b``, for ``$.a.b``): ``$a$b``,
    a name that no field path shares (fields hold no ``$``) and that
    ``F.col`` and template groups take as it is."""
    return "$" + field.replace(".", "$")


class TypedField(NamedTuple):
    """What :meth:`SourceCatalog.typed_fields` proves of one JSONPath
    field of a document source."""

    type: str | None  # 'string' | 'bigint'; None: left to the evaluators
    unique: bool | None  # no two documents share a value; None: not asked


class RawSource(NamedTuple):
    """What a logical source scans before :meth:`SourceCatalog.resolve`
    applies find() predicates or synthesizes a document column: the
    registered table, its frame, and for a document-shaped source the
    raw document column (None for a row-shaped source). A filter on
    the frame's columns reaches the scan."""

    table: str
    frame: DataFrame
    doc_column: str | None


class SourceCatalog:
    """Resolves logical sources against registered DataFrames.

    ``tables``      name -> DataFrame (row- or document-shaped)
    ``doc_columns`` name -> column holding the JSON/XML document
                    (default: the single column of a 1-column source, else
                    the whole row serialized with ``to_json(struct(*))``).
    ``unique_keys`` name -> column tuple the rows are unique on — the
                    Spark-side stand-in for the RDB primary-key /
                    unique-constraint metadata a JDBC source exposes.
                    The compiler uses it to prove per-row distinctness
                    of emitted triples and elide set-dedup shuffles
                    entirely (S8); the caller asserts its truth.

    A document source also carries, once a compile first asks for it,
    the proof of which JSONPath fields are typed columns
    (:meth:`typed_fields`).
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame] | None = None,
        doc_columns: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.tables = dict(tables or {})
        self.doc_columns = dict(doc_columns or {})
        self.unique_keys: dict[str, tuple[str, ...]] = {}
        # name -> {field: TypedField}, shared with the filtered()
        # copies, which prove over the unfiltered frame kept in _bases
        self._proofs: dict[str, dict[str, TypedField]] = {}
        self._bases: dict[str, DataFrame] = {}

    def register(
        self,
        name: str,
        df: DataFrame,
        doc_column: str | None = None,
        unique_key: list[str] | tuple[str, ...] | None = None,
    ):
        self.tables[name] = df
        if doc_column:
            self.doc_columns[name] = doc_column
        if unique_key:
            self.unique_keys[name] = tuple(unique_key)
        # a new dict: filtered() copies keep the proofs of their frames
        self._proofs = {k: v for k, v in self._proofs.items() if k != name}
        self._bases.pop(name, None)
        return self

    def _table(self, name: str) -> DataFrame:
        if name in self.tables:
            return self.tables[name]
        return self.spark.table(name)

    def _doc_column(self, name: str | None, df: DataFrame) -> str | None:
        """The column holding the whole document: the registered one,
        else the single column of a one-string-column source."""
        doc_col = self.doc_columns.get(name) if name else None
        if doc_col is None and len(df.columns) == 1:
            if df.schema.fields[0].dataType.simpleString() == "string":
                doc_col = df.columns[0]
        return doc_col

    @staticmethod
    def table_of(ls: LogicalSource) -> str | None:
        """The registered table a logical source reads: its table name
        or its find() collection; None for a SQL query, whose tables are
        not known statically."""
        if ls.kind == "table":
            return ls.value
        m = _MONGO_FIND_RE.match(ls.value)
        return m.group("collection") if m else None

    def raw_source(self, ls: LogicalSource) -> RawSource | None:
        """The frame a table or find() source scans, shaped as
        :meth:`resolve` shapes it (Column formulation: row-shaped); None
        for a SQL query, an unknown table, or a document source whose
        document column ``resolve`` would synthesize (there is no raw
        column to filter yet)."""
        name = self.table_of(ls)
        if name is None:
            return None
        try:
            df = self._table(name)
        except AnalysisException:
            return None
        if ls.formulation == "Column":
            return RawSource(name, df, None)
        doc_col = self._doc_column(name, df)
        return RawSource(name, df, doc_col) if doc_col in df.columns else None

    def filtered(self, name: str, cond: Column) -> "SourceCatalog":
        """A copy of the catalog whose table ``name`` reads only the
        rows matching ``cond``; every other entry is shared."""
        cat = SourceCatalog(self.spark, self.tables, self.doc_columns)
        cat.unique_keys = dict(self.unique_keys)
        # a proof over the table holds for any filter of it
        cat._proofs = self._proofs
        cat._bases = {**self._bases, name: self._base(name)}
        cat.tables[name] = self._table(name).filter(cond)
        return cat

    def typed_fields(
        self, name: str, paths: Iterable[str], keys: Iterable[str] = ()
    ) -> dict[str, TypedField]:
        """The simple JSONPath fields among ``paths`` (``a.b`` for
        ``$.a.b``) that document source ``name`` proves to be typed
        columns, each with its type, ``'string'`` or ``'bigint'``, and,
        for the fields of ``keys``, whether it is unique.

        One aggregate job over the unfiltered table parses each
        document once with ``try_parse_json`` and takes, per field, the
        merged kind of its values (``schema_of_variant_agg``) and the
        count of its empty strings. It also counts the documents the
        pure-Python evaluators read differently: JSON that
        ``try_parse_json`` rejects (invalid text, duplicate keys,
        ``NaN``), that is followed by more text, which it ignores and
        ``json.loads`` rejects, or that escapes a lone surrogate, which
        it reads as ``?``. A field is typed when no document is
        such, and its kind is ``STRING`` with no empty string (a native
        template drops an all-empty term, the evaluator keeps it) or
        integral; a field missing or null everywhere is a string column
        of nulls. Decimals, doubles, booleans, objects, arrays and mixed
        kinds stay with the evaluators: Python's float and boolean
        printing and its key order have no exact native rendering.
        A field of ``keys`` is unique when no two documents share a
        non-null value (``count_distinct = count``, a second aggregate
        in the same job): it is then a row key of the source, as a
        registered ``unique_key`` is, and of any filter of it.

        Memoized per field: a later call proves only fields no earlier
        call has, or the uniqueness of typed fields no earlier call
        asked."""
        proven = self._proofs.setdefault(name, {})
        keys = set(keys)
        fields = set(paths) | keys
        todo = sorted(
            p for p in fields
            if p not in proven
            or p in keys and proven[p].type and proven[p].unique is None
        )
        if todo:
            df = self._base(name)
            doc_col = self._doc_column(name, df)
            if doc_col not in df.columns or not isinstance(
                df.schema[doc_col].dataType, T.StringType
            ):
                proven.update(dict.fromkeys(todo, TypedField(None, None)))
                return {}
            # parsed once per document: Catalyst keeps an expensive
            # column that several aggregates read in the Project below
            df = df.select(F.col(doc_col).alias("doc"), F.try_parse_json(doc_col).alias("v"))
            doc, v = F.col("doc"), F.col("v")
            # a lenient parse stops after the first value: wrapped in an
            # array and in an object, the document must be one element
            # and one member, so no text follows the value
            whole = (
                (F.json_array_length(F.concat(F.lit("["), doc, F.lit("]"))) == 1)
                & (F.size(F.json_object_keys(F.concat(F.lit('{"k":'), doc, F.lit("}")))) == 1)
            )
            rejected = doc.isNotNull() & ~F.coalesce(
                v.isNotNull() & whole & ~doc.rlike(_LONE_SURROGATE), F.lit(False)
            )
            text = {p: F.try_variant_get(v, "$." + p, "string") for p in todo}
            proof = df.select(
                F.count_if(rejected),
                *[F.schema_of_variant_agg(F.variant_get(v, "$." + p, "variant")) for p in todo],
                *[F.count_if(text[p] == "") for p in todo],
            )
            ask = [p for p in todo if p in keys]
            if ask:
                # its own aggregate, joined to the one row of the kinds:
                # in one, every distinct value would keep kind buffers
                # (a typed value is one kind, which renders injectively)
                proof = proof.crossJoin(df.select(
                    *[F.count_distinct(text[p]) == F.count(text[p]) for p in ask]
                ))
            row = proof.first()
            n = len(todo)
            unique = dict(zip(ask, row[2 * n + 1 :]))
            for p, kind, empty in zip(todo, row[1 : n + 1], row[n + 1 : 2 * n + 1]):
                typed = None
                if row[0] == 0 and kind in _INTEGRAL_KINDS:
                    typed = "bigint"
                elif row[0] == 0 and (kind == "VOID" or kind == "STRING" and not empty):
                    typed = "string"
                proven[p] = TypedField(typed, unique.get(p))
        return {p: proven[p] for p in fields if proven[p].type}

    def _base(self, name: str) -> DataFrame:
        """The unfiltered frame of ``name``, which its proofs read."""
        return self._bases[name] if name in self._bases else self._table(name)

    def resolve(
        self, ls: LogicalSource, paths: Iterable[str] = (), keys: Iterable[str] = ()
    ) -> tuple[DataFrame, str | None]:
        """Return (DataFrame, doc_column) for a logical source.

        doc_column is None for row-shaped (Column-formulation) sources.
        For a JSONPath source with its own document column, each field
        of ``paths`` that :meth:`typed_fields` proves becomes the column
        :func:`typed_column` (``variant_get`` of the parsed document);
        ``keys`` are the fields whose uniqueness the same proof takes.
        """
        name = self.table_of(ls)
        if name is None:
            # SQL query — registered tables must be visible as temp views
            for tname, tdf in self.tables.items():
                tdf.createOrReplaceTempView(tname)
            df = self.spark.sql(ls.value)
        else:
            df = self._table(name)
            if ls.kind != "table":
                args = _MONGO_FIND_RE.match(ls.value).group("args")
                query, projection = _split_find_args(args)
                if projection is not None and projection not in ("", "{}"):
                    # validate the projection document parses; it is then
                    # deliberately not applied: the document column flows
                    # whole into path evaluation (mixed-syntax paths may
                    # reference fields the projection excludes only on
                    # the DB side), and Catalyst column pruning already
                    # drops what the compiled term maps don't read
                    _parse_find_json(projection)
                df = self._apply_find_predicate(df, name, query)

        if ls.formulation == "Column":
            return df, None

        # Document-shaped source: find/derive the doc column
        doc_col = self._doc_column(name, df)
        if doc_col is None:
            df = df.withColumn("__doc__", F.to_json(F.struct(*df.columns)))
            doc_col = "__doc__"
        elif name is not None and ls.formulation == "JSONPath" and paths:
            typed = self.typed_fields(name, paths, keys)
            if typed:
                # the parsed document comes out of a Generate, one row
                # per row: a Filter on typed columns stops above it,
                # where pushed below a Project it would parse the
                # document again for each column it reads
                df = df.select("*", F.explode(F.array(F.try_parse_json(doc_col))).alias("$"))
                df = df.withColumns({
                    typed_column(p): F.variant_get("$", "$." + p, f.type)
                    for p, f in sorted(typed.items())
                }).drop("$")
        return df, doc_col

    def _apply_find_predicate(self, df: DataFrame, name: str, query: str) -> DataFrame:
        """Compile the db.X.find({...}) predicate subset to a filter.

        The reference passes arbitrary find documents straight through
        to MongoDB (MongoDBQuery.parseQueryString:67-86); here the
        common operator subset compiles to Catalyst predicates over the
        document column: field equality, $eq/$ne/$gt/$gte/$lt/$lte,
        $in/$nin, $exists, and $and/$or conjunction documents.
        Divergence from Mongo: $ne/$nin do not match documents where
        the field is missing (SQL three-valued semantics).
        """
        q = query.strip()
        if q in ("", "{}"):
            return df
        spec = _parse_find_json(q)
        return df.filter(self._compile_find(df, name, spec))

    def _compile_find(self, df: DataFrame, name: str, spec: dict) -> Column:
        if not isinstance(spec, dict) or not spec:
            raise ValueError(f"unsupported find() document: {spec!r}")
        conds: list[Column] = []
        for key, val in spec.items():
            if key in ("$and", "$or"):
                subs = [self._compile_find(df, name, s) for s in val]
                combined = functools.reduce(
                    operator.and_ if key == "$and" else operator.or_, subs
                )
                conds.append(combined)
                continue
            if key == "$where":
                conds.append(self._compile_where(df, name, val))
                continue
            col, json_field = self._field_col(df, name, key)
            if isinstance(val, dict):
                opts = val.get("$options", "")
                for op, operand in val.items():
                    if op == "$options":
                        continue  # consumed by the sibling $regex
                    if op == "$regex":
                        conds.append(_find_regex(col, operand, opts))
                    elif op == "$not":
                        conds.append(
                            _find_not(col, operand, json_field)
                        )
                    else:
                        conds.append(_find_op(col, op, operand, json_field))
            else:
                conds.append(_find_op(col, "$eq", val, json_field))
        return functools.reduce(operator.and_, conds)

    def _compile_where(self, df: DataFrame, name: str, expr: str) -> Column:
        """$where JavaScript predicate -> Catalyst (the JS subset the
        reference's JavascriptToMongoTranslator models and its taxref
        example mappings actually use: `this.f <cmp> this.g|literal`
        joined by &&)."""
        if not isinstance(expr, str) or not expr.strip():
            raise ValueError(f"unsupported $where expression: {expr!r}")
        def cmp(op: str, lhs: Column, rhs: Column) -> Column:
            return {
                "==": lhs == rhs,
                "!=": lhs != rhs,
                "<": lhs < rhs,
                "<=": lhs <= rhs,
                ">": lhs > rhs,
                ">=": lhs >= rhs,
            }[op]

        conds: list[Column] = []
        for part in expr.split("&&"):
            m = _WHERE_CMP_RE.match(part)
            if not m:
                raise ValueError(f"unsupported $where clause: {part!r}")
            op = m.group("op")
            lcol, _ = self._field_col(df, name, m.group("l"))
            if m.group("r") is not None:
                rcol = self._field_col(df, name, m.group("r"))[0]
                if op in ("<", "<=", ">", ">="):
                    # ordered field-to-field comparison: JSON text would
                    # compare lexicographically ('9' < '10' is false) —
                    # compare numerically when both sides parse as
                    # numbers (the JS semantics for numeric fields),
                    # lexically otherwise
                    ln, rn = lcol.try_cast("double"), rcol.try_cast("double")
                    both_num = ln.isNotNull() & rn.isNotNull()
                    conds.append(
                        F.when(both_num, cmp(op, ln, rn)).otherwise(
                            cmp(op, lcol, rcol)
                        )
                    )
                    continue
                lhs, rhs = lcol, rcol
            elif m.group("n") is not None:
                lhs, rhs = _find_cmp_value(lcol, float(m.group("n")))
            else:
                sval = m.group("s") if m.group("s") is not None else m.group("s2")
                lhs, rhs = lcol, F.lit(sval)
            conds.append(cmp(op, lhs, rhs))
        return functools.reduce(operator.and_, conds)

    def _field_col(self, df: DataFrame, name: str, field: str) -> tuple[Column, bool]:
        """-> (column, is_json): is_json means the column holds the
        field's JSON text extracted from a document column."""
        doc_col = self.doc_columns.get(name)
        if doc_col is None and len(df.columns) == 1:
            doc_col = df.columns[0]
        if doc_col is not None and doc_col in df.columns:
            return F.get_json_object(F.col(doc_col), "$." + field), True
        if field in df.columns:
            return F.col(field), False
        raise ValueError(f"find() field {field!r} not resolvable on {df.columns}")


def _find_cmp_value(col: Column, v) -> tuple[Column, Column]:
    """(lhs, rhs) with the comparison typing a JSON-string field needs:
    numbers compare numerically, booleans/strings lexically."""
    if isinstance(v, bool):
        return col, F.lit("true" if v else "false")
    if isinstance(v, (int, float)):
        # try_cast: a non-numeric field value compares as NULL (no
        # match) instead of throwing under ANSI mode
        return col.try_cast("double"), F.lit(float(v))
    if v is None:
        return col, F.lit(None).cast("string")
    return col, F.lit(str(v))


def _find_regex(col: Column, pattern, options: str = "") -> Column:
    """{field: {$regex: pat[, $options: "i"...]}} -> rlike. Mongo
    $regex is UNANCHORED substring matching, exactly rlike's contract;
    supported options map to Java embedded flags ((?i) etc.)."""
    if not isinstance(pattern, str):
        raise ValueError("$regex requires a string pattern")
    flags = "".join(sorted(set(options or "")))
    if flags:
        if not set(flags) <= set("imsx"):
            raise ValueError(f"unsupported $options {options!r}")
        pattern = f"(?{flags}){pattern}"
    return col.rlike(pattern)


def _find_not(col: Column, operand, json_field: bool) -> Column:
    """{field: {$not: {ops...}}}: Mongo $not also matches documents
    where the field is MISSING — coalesce(inner, false) keeps that
    semantics under SQL three-valued logic (a bare ~inner would drop
    null rows)."""
    if not isinstance(operand, dict) or not operand:
        raise ValueError("$not requires a non-empty operator document")
    opts = operand.get("$options", "")
    inner: list[Column] = []
    for op, v in operand.items():
        if op == "$options":
            continue
        if op == "$regex":
            inner.append(_find_regex(col, v, opts))
        else:
            inner.append(_find_op(col, op, v, json_field))
    combined = functools.reduce(operator.and_, inner)
    return ~F.coalesce(combined, F.lit(False))


def _find_elem_cmp(elem: Column, op: str, v) -> Column:
    """One $elemMatch sub-condition against an array element —
    delegates to _find_op so null handling ($eq null -> isNull) and the
    comparison typing stay identical to top-level field predicates."""
    if op not in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte"):
        raise ValueError(f"unsupported $elemMatch operator {op!r}")
    return _find_op(elem, op, v, json_field=False)


def _find_op(col: Column, op: str, operand, json_field: bool = True) -> Column:
    if op == "$size":
        # array cardinality (reference dump usage:
        # db.movies2.find({actors: {$size: 2, ...}}))
        if not isinstance(operand, int) or isinstance(operand, bool):
            raise ValueError("$size requires an integer")
        length = (
            F.json_array_length(col) if json_field else F.size(col)
        )
        return length == F.lit(operand)
    if op == "$elemMatch":
        # any array element satisfies every sub-condition; JSON array
        # text parses to array<string> (primitive elements render as
        # their lexical forms), row-shaped arrays pass through
        if not isinstance(operand, dict) or not operand:
            raise ValueError("$elemMatch requires a non-empty document")
        arr = F.from_json(col, "array<string>") if json_field else col
        return F.exists(
            arr,
            lambda e: functools.reduce(
                operator.and_,
                [_find_elem_cmp(e, o, v) for o, v in operand.items()],
            ),
        )
    if op == "$exists":
        want = operand in (1, True, "1", "true")
        return col.isNotNull() if want else col.isNull()
    if op in ("$in", "$nin"):
        if not isinstance(operand, list) or not operand:
            raise ValueError(f"{op} requires a non-empty list")
        eqs = [_find_op(col, "$eq", v) for v in operand]
        anyof = functools.reduce(operator.or_, eqs)
        return anyof if op == "$in" else ~anyof
    if op in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte"):
        if operand is None:
            if op == "$eq":
                return col.isNull()
            if op == "$ne":
                return col.isNotNull()
            raise ValueError(f"cannot order-compare against null ({op})")
        lhs, rhs = _find_cmp_value(col, operand)
        return {
            "$eq": lhs == rhs,
            "$ne": lhs != rhs,
            "$gt": lhs > rhs,
            "$gte": lhs >= rhs,
            "$lt": lhs < rhs,
            "$lte": lhs <= rhs,
        }[op]
    raise ValueError(f"unsupported find() operator {op!r}")
