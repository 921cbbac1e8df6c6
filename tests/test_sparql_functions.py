"""SPARQL 1.1 expression projections (SELECT (expr AS ?v)) and the
round-5 built-in additions: STRBEFORE/STRAFTER/REPLACE/ENCODE_FOR_URI,
ABS/CEIL/FLOOR/ROUND, MD5/SHA1/SHA256/SHA384/SHA512.

Reference scope note: the reference evaluates SPARQL through Jena ARQ
after materialization (SURVEY §2.12), so its users have all of these;
our engine must match the SPARQL 1.1 definitions (§17.4, §18.4), which
these tests pin — hashes against hashlib, ENCODE_FOR_URI against
urllib.parse.quote's RFC 3986 encoder, REPLACE's replace-all semantics,
and fn:round's ties-toward-+inf rule."""

from __future__ import annotations

import hashlib
import urllib.parse

import pytest

from morph_xr2rml_spark.sparql import parse_sparql, sparql_select
from morph_xr2rml_spark.sparql.results import parse_term

EX = "http://example.org/"


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        (f"<{EX}d/1>", f"<{EX}code>", '"AB-12-XY"'),
        (f"<{EX}d/2>", f"<{EX}code>", '"NOSEP"'),
        (f"<{EX}d/1>", f"<{EX}val>", '"2.5"^^<http://www.w3.org/2001/XMLSchema#decimal>'),
        (f"<{EX}d/2>", f"<{EX}val>", '"-2.5"^^<http://www.w3.org/2001/XMLSchema#decimal>'),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def rows(df):
    return {tuple(r) for r in df.collect()}


# ---------------------------------------------------------------------------
# expression projections
# ---------------------------------------------------------------------------


def test_expression_projection_basic(triples):
    out = sparql_select(
        triples,
        f"""SELECT ?s (STRLEN(STR(?c)) AS ?len) WHERE {{
            ?s <{EX}code> ?c }}""",
    )
    assert set(out.columns) == {"s", "len"}
    assert rows(out) == {(f"<{EX}d/1>", 8), (f"<{EX}d/2>", 5)}


def test_expression_projection_chained_alias(triples):
    # a later expression may reference an earlier alias (§18.4 Extend
    # is sequential)
    out = sparql_select(
        triples,
        f"""SELECT (STR(?c) AS ?lex) (STRLEN(?lex) AS ?len) WHERE {{
            ?s <{EX}code> ?c }} ORDER BY ?len""",
    )
    assert [tuple(r) for r in out.collect()] == [("NOSEP", 5), ("AB-12-XY", 8)]


def test_expression_projection_with_aggregate(triples):
    # aggregate calls inside a projection expression are pulled into
    # hidden agg columns (the HAVING machinery)
    out = sparql_select(
        triples, f"SELECT (COUNT(?c) * 2 AS ?c2) WHERE {{ ?s <{EX}code> ?c }}"
    )
    assert [tuple(r) for r in out.collect()] == [(4.0,)]


def test_expression_projection_grouped(triples):
    out = sparql_select(
        triples,
        f"""SELECT ?s (COUNT(?o) + 0 AS ?n) WHERE {{ ?s ?p ?o }}
            GROUP BY ?s ORDER BY ?s""",
    )
    assert [tuple(r) for r in out.collect()] == [
        (f"<{EX}d/1>", 2.0),
        (f"<{EX}d/2>", 2.0),
    ]


def test_projection_junk_raises():
    with pytest.raises(ValueError, match="projection"):
        parse_sparql("SELECT ?a junk WHERE { ?a ?b ?c }")


def test_projection_expr_without_alias_raises():
    with pytest.raises(ValueError, match="AS"):
        parse_sparql("SELECT (STRLEN(?a)) WHERE { ?a ?b ?c }")


# ---------------------------------------------------------------------------
# string built-ins
# ---------------------------------------------------------------------------


def test_strbefore_strafter(triples):
    out = sparql_select(
        triples,
        f"""SELECT ?s (STRBEFORE(STR(?c), "-") AS ?pre)
                   (STRAFTER(STR(?c), "-") AS ?post)
                   (STRBEFORE(STR(?c), "") AS ?be)
                   (STRAFTER(STR(?c), "") AS ?ae)
            WHERE {{ ?s <{EX}code> ?c }}""",
    )
    got = {r["s"]: (r["pre"], r["post"], r["be"], r["ae"]) for r in out.collect()}
    # SPARQL §17.4.3: STRAFTER returns the part after the FIRST match;
    # empty arg2 -> ""/arg1; no match -> ""
    assert got[f"<{EX}d/1>"] == ("AB", "12-XY", "", "AB-12-XY")
    assert got[f"<{EX}d/2>"] == ("", "", "", "NOSEP")


def test_replace_is_global(triples):
    out = sparql_select(
        triples,
        f"""SELECT (REPLACE(STR(?c), "-", "_") AS ?r) WHERE {{
            ?s <{EX}code> ?c . FILTER(STRSTARTS(STR(?c), "AB")) }}""",
    )
    assert [r["r"] for r in out.collect()] == ["AB_12_XY"]


def test_replace_regex_classes(triples):
    out = sparql_select(
        triples,
        f"""SELECT (REPLACE(STR(?c), "[0-9]+", "#") AS ?r) WHERE {{
            ?s <{EX}code> ?c . FILTER(CONTAINS(STR(?c), "12")) }}""",
    )
    assert [r["r"] for r in out.collect()] == ["AB-#-XY"]


def test_encode_for_uri_matches_rfc3986(spark):
    cases = [
        "a b", "x+y", "star*dot.", "tilde~keep", "slash/colon:",
        "pct%7E", "unicode-é-漢", "safe-AZaz09_.~", "q?&=#frag",
    ]
    t = spark.createDataFrame(
        [(f"<{EX}c/{i}>", f"<{EX}v>", f'"{c}"') for i, c in enumerate(cases)],
        "subj string, pred string, obj string",
    )
    out = sparql_select(
        t, f"SELECT ?o (ENCODE_FOR_URI(STR(?o)) AS ?e) WHERE {{ ?s <{EX}v> ?o }}"
    )
    got = {r["o"][1:-1]: r["e"] for r in out.collect()}
    for c in cases:
        # fn:encode-for-uri == percent-encode all but unreserved
        # (urllib always keeps ALPHA DIGIT '-' '.' '_' '~'; safe="")
        assert got[c] == urllib.parse.quote(c, safe=""), c


# ---------------------------------------------------------------------------
# numeric built-ins
# ---------------------------------------------------------------------------


def test_abs_ceil_floor_round(triples):
    out = sparql_select(
        triples,
        f"""SELECT ?s (ABS(?v) AS ?a) (CEIL(?v) AS ?c)
                   (FLOOR(?v) AS ?f) (ROUND(?v) AS ?r)
            WHERE {{ ?s <{EX}val> ?v }}""",
    )
    got = {r["s"]: (r["a"], r["c"], r["f"], r["r"]) for r in out.collect()}
    # fn:round ties go toward +inf: round(2.5)=3, round(-2.5)=-2
    assert got[f"<{EX}d/1>"] == (2.5, 3.0, 2.0, 3.0)
    assert got[f"<{EX}d/2>"] == (2.5, -2.0, -3.0, -2.0)


def test_round_in_filter(triples):
    out = sparql_select(
        triples,
        f"SELECT ?s WHERE {{ ?s <{EX}val> ?v . FILTER(ROUND(?v) = 3) }}",
    )
    assert rows(out) == {(f"<{EX}d/1>",)}


# ---------------------------------------------------------------------------
# hash built-ins
# ---------------------------------------------------------------------------


def test_hashes_match_hashlib(triples):
    out = sparql_select(
        triples,
        f"""SELECT ?c (MD5(STR(?c)) AS ?h1) (SHA1(STR(?c)) AS ?h2)
                   (SHA256(STR(?c)) AS ?h3) (SHA384(STR(?c)) AS ?h4)
                   (SHA512(STR(?c)) AS ?h5)
            WHERE {{ ?s <{EX}code> ?c }}""",
    )
    for r in out.collect():
        lex = r["c"][1:-1].encode()
        assert r["h1"] == hashlib.md5(lex).hexdigest()
        assert r["h2"] == hashlib.sha1(lex).hexdigest()
        assert r["h3"] == hashlib.sha256(lex).hexdigest()
        assert r["h4"] == hashlib.sha384(lex).hexdigest()
        assert r["h5"] == hashlib.sha512(lex).hexdigest()


# ---------------------------------------------------------------------------
# term constructors, term tests, date/time accessors
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dt_triples(spark):
    rows = [
        (f"<{EX}e1>", f"<{EX}at>",
         '"2021-03-05T14:30:07.25+02:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>'),
        (f"<{EX}e2>", f"<{EX}at>",
         '"2020-12-31"^^<http://www.w3.org/2001/XMLSchema#date>'),
        (f"<{EX}e3>", f"<{EX}at>",
         '"1999-01-02T03:04:05Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>'),
        (f"<{EX}e1>", f"<{EX}n>",
         '"5"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        (f"<{EX}e2>", f"<{EX}n>", '"abc"'),
        (f"<{EX}e3>", f"<{EX}n>",
         '"2.5"^^<http://www.w3.org/2001/XMLSchema#decimal>'),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_datetime_accessors(dt_triples):
    out = sparql_select(
        dt_triples,
        f"""SELECT ?s (YEAR(?t) AS ?y) (MONTH(?t) AS ?mo) (DAY(?t) AS ?d)
               (HOURS(?t) AS ?h) (MINUTES(?t) AS ?mi) (SECONDS(?t) AS ?sec)
               (TZ(?t) AS ?tz)
            WHERE {{ ?s <{EX}at> ?t }}""",
    )
    got = {r["s"]: tuple(r)[1:] for r in out.collect()}
    assert got[f"<{EX}e1>"] == (2021.0, 3.0, 5.0, 14.0, 30.0, 7.25, "+02:00")
    # xsd:date has no time part: HOURS/MINUTES/SECONDS are a type
    # error -> NULL (unbound); TZ of an untagged form is ""
    assert got[f"<{EX}e2>"] == (2020.0, 12.0, 31.0, None, None, None, "")
    assert got[f"<{EX}e3>"] == (1999.0, 1.0, 2.0, 3.0, 4.0, 5.0, "Z")


def test_term_constructors(dt_triples):
    out = sparql_select(
        dt_triples,
        f"""PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
            SELECT ?s (IRI(CONCAT(STR(?s), "/x")) AS ?xi)
                   (STRDT(STR(?n), xsd:token) AS ?td)
                   (STRLANG(STR(?n), "en-US") AS ?tl)
            WHERE {{ ?s <{EX}n> ?n . FILTER(STR(?n) = "5") }}""",
    )
    r = out.collect()[0]
    assert r["xi"] == f"<{EX}e1/x>"
    assert r["td"] == '"5"^^<http://www.w3.org/2001/XMLSchema#token>'
    assert r["tl"] == '"5"@en-US'


def test_isnumeric_and_sameterm(dt_triples):
    out = sparql_select(
        dt_triples,
        f"""SELECT ?s WHERE {{ ?s <{EX}n> ?n .
            FILTER(isNUMERIC(?n) && sameTerm(?s, ?s)) }}""",
    )
    assert rows(out) == {(f"<{EX}e1>",), (f"<{EX}e3>",)}
    out2 = sparql_select(
        dt_triples,
        f"SELECT ?s WHERE {{ ?s <{EX}n> ?n . FILTER(!isNUMERIC(?n)) }}",
    )
    assert rows(out2) == {(f"<{EX}e2>",)}
    # sameTerm is TERM identity: "2.5"^^decimal vs the plain value 2.5
    # compare =-equal but not sameTerm-equal against a re-typed literal
    out3 = sparql_select(
        dt_triples,
        f"""SELECT ?s WHERE {{ ?s <{EX}n> ?n .
            FILTER(sameTerm(?n,
                "5"^^<http://www.w3.org/2001/XMLSchema#integer>)) }}""",
    )
    assert rows(out3) == {(f"<{EX}e1>",)}


def test_new_functions_compose_in_bind_and_filter(triples):
    # the same grammar powers BIND and FILTER, so the additions work
    # there too
    out = sparql_select(
        triples,
        f"""SELECT ?s ?tag WHERE {{
            ?s <{EX}code> ?c .
            BIND(LCASE(STRBEFORE(STR(?c), "-")) AS ?tag)
            FILTER(STRLEN(?tag) > 0 && MD5(?tag) != "x") }}""",
    )
    assert rows(out) == {(f"<{EX}d/1>", "ab")}


def test_select_reduced(dt_triples):
    # REDUCED permits duplicate elimination; the engine evaluates it as
    # DISTINCT (conformant, deterministic)
    out = sparql_select(
        dt_triples, f"SELECT REDUCED ?p WHERE {{ ?s ?p ?o }}"
    )
    assert rows(out) == {(f"<{EX}at>",), (f"<{EX}n>",)}


def test_nullary_functions(dt_triples):
    out = sparql_select(
        dt_triples,
        f"""SELECT ?s (NOW() AS ?t1) (NOW() AS ?t2) (UUID() AS ?u)
                   (STRUUID() AS ?su) (RAND() AS ?r)
            WHERE {{ ?s <{EX}n> ?n }}""",
    )
    import re as _re

    got = out.collect()
    assert len(got) == 3
    ts = {r["t1"] for r in got} | {r["t2"] for r in got}
    # NOW() is one instant for the whole query (§17.4.5.1): every call
    # in every row sees the same stamped constant
    assert len(ts) == 1
    (t,) = ts
    assert _re.match(
        r'^"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}Z"'
        r"\^\^<http://www\.w3\.org/2001/XMLSchema#dateTime>$",
        t,
    )
    uuid_re = r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    assert all(_re.fullmatch(f"<urn:uuid:{uuid_re}>", r["u"]) for r in got)
    assert all(_re.fullmatch(uuid_re, r["su"]) for r in got)
    # UUIDs are fresh per row
    assert len({r["u"] for r in got}) == 3
    assert all(0.0 <= r["r"] < 1.0 for r in got)


# ---------------------------------------------------------------------------
# aggregates over expressions
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ab_triples(spark):
    EXI = "http://www.w3.org/2001/XMLSchema#integer"
    rows = []
    for i, (a, b, g) in enumerate([(1, 2, "x"), (3, 4, "x"), (5, 6, "y")]):
        rows += [
            (f"<{EX}r{i}>", f"<{EX}a>", f'"{a}"^^<{EXI}>'),
            (f"<{EX}r{i}>", f"<{EX}b>", f'"{b}"^^<{EXI}>'),
            (f"<{EX}r{i}>", f"<{EX}g>", f'"{g}"'),
        ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_aggregate_over_expression(ab_triples):
    out = sparql_select(
        ab_triples,
        f"""SELECT ?g (SUM(?a * ?b) AS ?sp) (MAX(?a + ?b) AS ?mx)
                   (COUNT(?a) AS ?n)
            WHERE {{ ?r <{EX}a> ?a . ?r <{EX}b> ?b . ?r <{EX}g> ?g }}
            GROUP BY ?g ORDER BY ?g""",
    )
    assert [tuple(r) for r in out.collect()] == [
        ('"x"', 14.0, 7.0, 2),
        ('"y"', 30.0, 11.0, 1),
    ]


def test_having_with_expression_aggregate(ab_triples):
    out = sparql_select(
        ab_triples,
        f"""SELECT ?g WHERE {{
            ?r <{EX}a> ?a . ?r <{EX}b> ?b . ?r <{EX}g> ?g }}
            GROUP BY ?g HAVING(SUM(?a * ?b) > 20)""",
    )
    assert rows(out) == {('"y"',)}


def test_group_concat_over_expression_with_separator(ab_triples):
    out = sparql_select(
        ab_triples,
        f"""SELECT (GROUP_CONCAT(UCASE(STR(?g)); SEPARATOR=",") AS ?c)
                   (SUM(DISTINCT ?a - ?a) AS ?z)
                   (MIN(CONCAT(STR(?a), "-", STR(?b))) AS ?m)
            WHERE {{ ?r <{EX}a> ?a . ?r <{EX}b> ?b . ?r <{EX}g> ?g }}""",
    )
    assert [tuple(r) for r in out.collect()] == [("X,X,Y", 0.0, "1-2")]


def test_group_by_expression_aliased(ab_triples):
    out = sparql_select(
        ab_triples,
        f"""SELECT ?p (COUNT(?a) AS ?n) WHERE {{ ?r <{EX}a> ?a }}
            GROUP BY (FLOOR(?a / 4) AS ?p) ORDER BY ?p""",
    )
    # a in {1,3,5}: floor(a/4) -> 0,0,1
    assert [tuple(r) for r in out.collect()] == [(0.0, 2), (1.0, 1)]


def test_group_by_bare_function_hidden_key(ab_triples):
    out = sparql_select(
        ab_triples,
        f"""SELECT (SUM(?a) AS ?s) WHERE {{ ?r <{EX}a> ?a }}
            GROUP BY FLOOR(?a / 4) ORDER BY ?s""",
    )
    # hidden __g key is grouped on but not projected
    assert out.columns == ["s"]
    assert [r["s"] for r in out.collect()] == [4.0, 5.0]


def test_group_by_expression_without_aggregates(ab_triples):
    out = sparql_select(
        ab_triples,
        f"""SELECT ?p WHERE {{ ?r <{EX}a> ?a }}
            GROUP BY (FLOOR(?a / 4) AS ?p) ORDER BY ?p""",
    )
    # grouping without aggregates yields one row per group
    assert [r["p"] for r in out.collect()] == [0.0, 1.0]


# ---------------------------------------------------------------------------
# review regressions: NULL propagation, flags, column order, TZ errors
# ---------------------------------------------------------------------------


def test_strbefore_strafter_null_propagates(dt_triples):
    # unbound argument -> type error -> unbound (NULL), not ""
    out = sparql_select(
        dt_triples,
        f"""SELECT ?s (STRAFTER(STR(?m), "o") AS ?a)
                   (STRBEFORE(STR(?m), "o") AS ?b)
            WHERE {{ ?s <{EX}at> ?t .
                     OPTIONAL {{ ?s <{EX}missing> ?m }} }}""",
    )
    for r in out.collect():
        assert r["a"] is None and r["b"] is None
    # and a FILTER comparing against "" must NOT keep unbound rows
    out2 = sparql_select(
        dt_triples,
        f"""SELECT ?s WHERE {{ ?s <{EX}at> ?t .
            OPTIONAL {{ ?s <{EX}missing> ?m }}
            FILTER(STRAFTER(STR(?m), "o") = "") }}""",
    )
    assert out2.count() == 0


def test_replace_flags(triples):
    out = sparql_select(
        triples,
        f"""SELECT (REPLACE(STR(?c), "ab", "Z", "i") AS ?r) WHERE {{
            ?s <{EX}code> ?c . FILTER(STRSTARTS(STR(?c), "AB")) }}""",
    )
    assert [r["r"] for r in out.collect()] == ["Z-12-XY"]
    with pytest.raises(ValueError, match="flags"):
        sparql_select(
            triples,
            f"""SELECT (REPLACE(STR(?c), "a", "Z", "q") AS ?r)
                WHERE {{ ?s <{EX}code> ?c }}""",
        )


def test_aggregate_projection_column_order(ab_triples):
    out = sparql_select(
        ab_triples,
        f"""SELECT (COUNT(?a) AS ?n) ?g (SUM(?a - ?a) AS ?z)
            WHERE {{ ?r <{EX}a> ?a . ?r <{EX}g> ?g }} GROUP BY ?g""",
    )
    assert out.columns == ["n", "g", "z"]


def test_tz_of_non_temporal_is_error(dt_triples):
    out = sparql_select(
        dt_triples,
        f"SELECT ?s (TZ(?n) AS ?tz) WHERE {{ ?s <{EX}n> ?n }}",
    )
    assert all(r["tz"] is None for r in out.collect())


def test_group_concat_separator_unescape_expression_path(ab_triples):
    out = sparql_select(
        ab_triples,
        f"""SELECT (GROUP_CONCAT(UCASE(STR(?g)); SEPARATOR="a\\"b") AS ?c)
            WHERE {{ ?r <{EX}g> ?g }}""",
    )
    assert out.collect()[0]["c"] == 'Xa"bXa"bY'


def test_group_by_lone_question_mark_raises():
    with pytest.raises(ValueError, match="GROUP BY"):
        parse_sparql("SELECT ?a WHERE { ?a ?b ?c } GROUP BY ? a")


def test_sum_avg_over_string_expression_is_unbound(ab_triples):
    # SUM/AVG of a string value is a type error: the aggregate is
    # unbound, not an ANSI cast error that fails the query. MIN/MAX
    # order strings, so they still answer
    out = sparql_select(
        ab_triples,
        f"""SELECT ?g (SUM(UCASE(?g)) AS ?s) (AVG(UCASE(?g)) AS ?av)
                   (MIN(UCASE(?g)) AS ?mn) (MAX(UCASE(?g)) AS ?mx)
            WHERE {{ ?r <{EX}g> ?g }} GROUP BY ?g ORDER BY ?g""",
    )
    assert [tuple(r) for r in out.collect()] == [
        ('"x"', None, None, "X", "X"),
        ('"y"', None, None, "Y", "Y"),
    ]


def test_sum_of_strlen_stays_integer(ab_triples):
    # SUM of integers is an integer: the string-input guard above must
    # not turn a numeric expression's sum into a double
    out = sparql_select(
        ab_triples,
        f"""SELECT (SUM(STRLEN(?g)) AS ?s) (AVG(STRLEN(?g)) AS ?av)
            WHERE {{ ?r <{EX}g> ?g }}""",
    )
    row = out.collect()[0]
    assert parse_term(row["s"]) == {
        "type": "literal",
        "value": "3",
        "datatype": "http://www.w3.org/2001/XMLSchema#integer",
    }
    assert row["av"] == 1.0


@pytest.fixture(scope="module")
def year_triples(spark):
    xdt = "http://www.w3.org/2001/XMLSchema#dateTime"
    rows = [
        (f"<{EX}jan>", f"<{EX}at>", f'"2026-01-15T08:00:00"^^<{xdt}>'),
        (f"<{EX}may>", f"<{EX}at>", f'"2026-05-31T23:59:59"^^<{xdt}>'),
        (f"<{EX}jun>", f"<{EX}at>", f'"2026-06-01T00:00:00"^^<{xdt}>'),
        (f"<{EX}dec>", f"<{EX}at>", f'"2026-12-01T00:00:00"^^<{xdt}>'),
        (f"<{EX}old>", f"<{EX}at>", f'"1999-12-31T00:00:00"^^<{xdt}>'),
        (f"<{EX}num>", f"<{EX}at>", '"5"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


@pytest.mark.parametrize(
    "op, expected",
    [
        ("<", {"jan", "may", "old"}),
        ("<=", {"jan", "may", "jun", "old"}),
        (">", {"dec"}),
        (">=", {"jun", "dec"}),
    ],
)
def test_datetime_ordering_compares_timestamps(year_triples, op, expected):
    # same-year dateTimes order by their full value, not by the leading
    # year digits; a dateTime against a number is a type error (dropped)
    out = sparql_select(
        year_triples,
        f"""PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
            SELECT ?s WHERE {{ ?s <{EX}at> ?t
              FILTER(?t {op} "2026-06-01T00:00:00"^^xsd:dateTime) }}""",
    )
    assert {r["s"][len(EX) + 1:-1] for r in out.collect()} == expected


def test_datetime_ordering_against_now(year_triples):
    out = sparql_select(
        year_triples,
        f"SELECT ?s WHERE {{ ?s <{EX}at> ?t FILTER(?t < NOW()) }}",
    )
    got = {r["s"][len(EX) + 1:-1] for r in out.collect()}
    assert "old" in got and "num" not in got

