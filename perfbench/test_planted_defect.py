"""The output checks must catch a wrong answer: one dropped triple or
one dropped binding turns a passing check into a failure.

    python -m pytest perfbench/test_planted_defect.py -q

The last test runs the real ``kg-pipeline`` pass on a local Spark
session with the N-Triples sink rigged to lose one triple.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import oracle as orc  # noqa: E402

SIZES = datagen.Sizes(customers=60, events=200, taxa=40, wide_maps=3, documents=80)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    inp = datagen.generate(7, os.path.join(work, "inputs"), SIZES)
    o = orc.Oracle(inp, work)
    yield inp, o, work
    o.close()


def _write_nt(path: str, lines: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000"), "w", encoding="utf-8") as fh:
        fh.write("".join(line + "\n" for line in lines))


def _json_term(term: str) -> dict:
    if term.startswith("<"):
        return {"type": "uri", "value": term[1:-1]}
    lex, _, dtype = term[1:].partition('"^^<')
    if dtype:
        return {"type": "literal", "value": lex, "datatype": dtype[:-1]}
    return {"type": "literal", "value": term[1:-1]}


def test_dropped_triple_fails_the_kg_check(inputs, tmp_path):
    _inp, o, _work = inputs
    expected = o.kg_digest()
    lines = [r[0] for r in o.db.execute(
        f"SELECT {orc._LINE_SQL} FROM ({orc.dc.SQL_KG_TRIPLES_CANONICAL})").fetchall()]
    _write_nt(str(tmp_path / "full"), lines)
    _write_nt(str(tmp_path / "short"), lines[:-1])
    assert orc.lines_digest(orc.ntriples_lines(str(tmp_path / "full"))) == expected
    assert orc.lines_digest(orc.ntriples_lines(str(tmp_path / "short"))) != expected


def test_altered_triple_fails_the_kg_check(inputs, tmp_path):
    _inp, o, _work = inputs
    lines = [r[0] for r in o.db.execute(
        f"SELECT {orc._LINE_SQL} FROM ({orc.dc.SQL_KG_TRIPLES_CANONICAL})").fetchall()]
    lines[0] = lines[0].replace("<", "<x", 1)
    _write_nt(str(tmp_path / "altered"), lines)
    assert orc.lines_digest(orc.ntriples_lines(str(tmp_path / "altered"))) != o.kg_digest()


def test_dropped_binding_fails_the_sparql_check(inputs):
    _inp, o, _work = inputs
    q = orc.make_query("rom_2hop", np.random.default_rng(1), o, SIZES)
    rows = o.rows(q["sql"])
    assert len(rows) == SIZES.orders_per_customer

    def body(rs):
        return json.dumps({
            "head": {"vars": ["o", "st"]},
            "results": {"bindings": [
                {"o": _json_term(a), "st": _json_term(b)} for a, b in rs
            ]},
        })

    assert orc.check_answer(q, body(rows), o) == (True, len(rows))
    assert orc.check_answer(q, body(rows[1:]), o)[0] is False


def test_dropped_triple_fails_a_real_pass(inputs, monkeypatch):
    """The whole path: Spark pipeline, N-Triples sink, oracle check."""
    inp, o, work = inputs
    import box
    from morph_xr2rml_spark import sinks
    from workloads import KgPipeline

    write = sinks.write_ntriples

    def lose_one(triples, path):
        write(triples.exceptAll(triples.limit(1)), path)

    spark = box.build_session(work)
    try:
        wl = KgPipeline(spark, inp, SIZES, o, work, 7)
        wl.setup()
        wl.expect()
        assert wl.run_pass()[0]["ok"]
        monkeypatch.setattr(sinks, "write_ntriples", lose_one)
        op = wl.run_pass()[0]
        assert not op["ok"]
        assert op["rows"] == op["expected_rows"] - 1
    finally:
        box.stop_session(spark)
