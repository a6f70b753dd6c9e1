"""filter / map / merge / absolutize / relativize / dedup vs reference semantics.

Each test reproduces a command documented in the reference README and asserts
the documented outcome.
"""

import os

import pytest

from sopspark.operators.filter_map import filter_quads, map_quads
from sopspark.operators.serialize import collect_nq_lines
from sopspark.operators.transforms import absolutize, dedup, merge, relativize, validate
from sopspark.sources.ntriples import parse_lines_df, parse_ntriples
from sopspark.sources.turtle import parse_turtle


def _lines(spark, *nt_lines):
    return parse_lines_df(spark.createDataFrame([(l,) for l in nt_lines], ["value"]))


def test_filter_sample(spark, fixtures_dir):
    # sop parse examples/sample.nt ! filter "?p = <http://example.org/p>"
    df = parse_ntriples(spark, os.path.join(fixtures_dir, "sample.nt"))
    out = filter_quads(df, "?p = <http://example.org/p>")
    assert collect_nq_lines(out) == [
        "<http://example.org/s> <http://example.org/p> <http://example.org/o> ."
    ]


def test_filter_langmatches(spark, fixtures_dir):
    # README.md:59-63 — keep only English or untagged
    df = parse_turtle(spark, os.path.join(fixtures_dir, "lang.ttl"))
    out = filter_quads(df, 'coalesce(langMatches(lang(?o), "en"), true)')
    names = sorted(r.o.value for r in out.collect())
    assert names == ["Alice", "Bob", "Charlie"]


def test_filter_subject(spark, fixtures_dir):
    # sop parse examples/social.ttl ! filter "?s = <http://example.org/bob>"
    df = parse_turtle(spark, os.path.join(fixtures_dir, "social.ttl"))
    out = filter_quads(df, "?s = <http://example.org/bob>")
    assert out.count() == 4


def test_map_swap_then_filter(spark, fixtures_dir):
    # sop parse sample.nt ! map -s "?o" -o "?s" ! filter "?p = <http://example.org/p>"
    df = parse_ntriples(spark, os.path.join(fixtures_dir, "sample.nt"))
    out = filter_quads(map_quads(df, s="?o", o="?s"), "?p = <http://example.org/p>")
    assert collect_nq_lines(out) == [
        "<http://example.org/o> <http://example.org/p> <http://example.org/s> ."
    ]


def test_map_graph_injection(spark, fixtures_dir):
    # sop parse sample.nt ! map -g "<http://example.org/graph>"
    df = parse_ntriples(spark, os.path.join(fixtures_dir, "sample.nt"))
    out = map_quads(df, g="<http://example.org/graph>")
    assert all(r.g.value == "http://example.org/graph" for r in out.collect())
    # map -g "?s": graph named after subject
    out2 = map_quads(df, g="?s")
    assert all(r.g.value == r.s.value for r in out2.collect())


def test_map_lowercase_predicates(spark, fixtures_dir):
    # sop parse social.ttl ! map -p "iri(lcase(str(?p)))"  (README.md:224)
    df = parse_turtle(spark, os.path.join(fixtures_dir, "social.ttl"))
    out = map_quads(df, p="iri(lcase(str(?p)))")
    preds = {r.p.value for r in out.collect()}
    assert "http://xmlns.com/foaf/0.1/knows" in preds
    assert all(p == p.lower() for p in preds)
    # bob now knows both alice and charlie via lowercase foaf:knows
    knows = [r for r in out.collect() if r.p.value.endswith("/knows") and r.s.value.endswith("/bob")]
    assert len(knows) == 2


def test_map_error_drops_row(spark):
    df = _lines(
        spark,
        '<http://e/a> <http://e/p> "12"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        '<http://e/b> <http://e/p> "not a number" .',
    )
    # iri(?o + 1) errors on the non-numeric row → dropped (filter_map semantics)
    out = map_quads(df, o='iri(concat("http://e/n", str(?o + 1)))')
    rows = out.collect()
    assert len(rows) == 1 and rows[0].o.value == "http://e/n13"


def test_merge(spark):
    df = _lines(
        spark,
        "<http://e/a> <http://e/p> <http://e/o> <http://e/g1> .",
        "<http://e/b> <http://e/p> <http://e/o> .",
    )
    out = merge(df)
    lines = collect_nq_lines(out)
    assert len(lines) == 3  # original named + its default-graph copy + default
    assert "<http://e/a> <http://e/p> <http://e/o> ." in lines
    assert "<http://e/a> <http://e/p> <http://e/o> <http://e/g1> ." in lines

    dropped = merge(df, drop=True)
    lines2 = collect_nq_lines(dropped)
    assert lines2 == [
        "<http://e/a> <http://e/p> <http://e/o> .",
        "<http://e/b> <http://e/p> <http://e/o> .",
    ]


def test_dedup(spark):
    df = _lines(
        spark,
        "<http://e/a> <http://e/p> <http://e/o> .",
        "<http://e/a> <http://e/p> <http://e/o> .",
        "<http://e/a> <http://e/p> <http://e/o> <http://e/g> .",
    )
    assert dedup(df).count() == 2


def test_resolve_series_null_relative_absolute():
    """The pandas IRI resolver keeps NULLs and absolute IRIs and resolves
    relative ones, without pandas' object-downcasting FutureWarning."""
    import warnings

    import pandas as pd

    from sopspark.operators.transforms import _resolve_series

    values = pd.Series([None, "a/b", "http://x/y", "../c", "urn:z", "#f"], dtype=object)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = _resolve_series(values, "http://base.org/dir/x")
    assert out.tolist() == [
        None,
        "http://base.org/dir/a/b",
        "http://x/y",
        "http://base.org/c",
        "urn:z",
        "http://base.org/dir/x#f",
    ]


def test_absolutize_relativize(spark):
    df = _lines(spark, "<a/b> <http://e/p> <c> .")
    ab = absolutize(df, "http://base.org/dir/x")
    rows = {r.s.value: r for r in ab.collect()}
    assert "http://base.org/dir/a/b" in rows
    r0 = ab.collect()[0]
    assert r0.o.value == "http://base.org/dir/c"
    assert r0.p.value == "http://e/p"  # already absolute → untouched

    rel = relativize(ab, "http://base.org/dir/x")
    vals = {(r.s.value, r.o.value) for r in rel.collect()}
    assert ("a/b", "c") in vals

    # parents bound: IRIs above base stay absolute with parents=0
    df2 = _lines(spark, "<http://base.org/up> <http://e/p> <http://base.org/dir/y> .")
    rel2 = relativize(df2, "http://base.org/dir/x", parents=0)
    r2 = rel2.collect()[0]
    assert r2.s.value == "http://base.org/up"
    assert r2.o.value == "y"
    rel3 = relativize(df2, "http://base.org/dir/x", parents=1)
    assert rel3.collect()[0].s.value == "../up"


def test_validate_null_sink(spark):
    df = _lines(
        spark,
        "<http://e/a> <http://e/p> <http://e/o> .",
        "garbage line here",
    )
    errs = validate(df).collect()
    assert len(errs) == 1 and "parse error" in errs[0].err


def test_expr_numeric_comparison(spark):
    df = _lines(
        spark,
        '<http://e/a> <http://e/p> "042"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        '<http://e/b> <http://e/p> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    )
    # value-space: 042 = 42 (src/query.rs:50-51 with -d)
    out = filter_quads(df, "?o = 42")
    assert [r.s.value for r in out.collect()] == ["http://e/a"]
    out2 = filter_quads(df, "?o > 5 && ?o < 50")
    assert {r.s.value for r in out2.collect()} == {"http://e/a", "http://e/b"}


# one row per subject letter: tagged, untagged, typed, and a blank-node object
_NESTED_ROWS = [
    '<http://e/a> <http://e/P> "Alice"@en .',
    '<http://e/b> <http://e/P> "Bob"@fr .',
    '<http://e/c> <http://e/P> "Charlie" .',
    '<http://e/d> <http://e/P> "Zed"@de .',
    "<http://e/e> <http://e/P> _:x .",
    '<http://e/f> <http://e/P> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .',
]
_INT = "http://www.w3.org/2001/XMLSchema#integer"


@pytest.mark.parametrize(
    "expr, kept",
    [
        # untagged literals, the blank node and the integer make langMatches
        # error twice → true; "Bob"@fr stops at the first (false) langMatches
        ('coalesce(langMatches(lang(?o), "en"), langMatches(lang(?o), "fr"), true)', "acef"),
        ("strlen(lcase(lcase(str(?o)))) > 3", "ac"),
        ("!isIRI(str(?o))", "abcdf"),  # str(_:x) errors, and !error drops
        ("?o + 1 > 7 && strlen(str(?s)) > 0", "f"),
        ("if(isLiteral(?o), strlen(lcase(str(?o))) >= 5, false)", "ac"),
        ('lcase(str(?o)) != "bob"', "acdf"),
        ('coalesce(lang(lcase(?o)), "none") = "none"', "e"),
    ],
)
def test_filter_nested_expressions(spark, expr, kept):
    out = filter_quads(_lines(spark, *_NESTED_ROWS), expr)
    assert "".join(sorted(r.s.value[-1] for r in out.collect())) == kept


@pytest.mark.parametrize(
    "component, expr, expected",
    [
        # str(_:x) errors → the row is dropped
        ("o", "lcase(str(?o))", {"a": "alice", "b": "bob", "c": "charlie", "d": "zed", "f": "7"}),
        ("o", 'concat(lcase(str(?o)), "-", lang(?o))',
         {"a": "alice-en", "b": "bob-fr", "c": "charlie-", "d": "zed-de", "f": "7-"}),
        ("o", "?o * 2 + 1", {"f": ("15", _INT)}),
        ("p", "iri(lcase(lcase(str(?p))))", {c: "http://e/p" for c in "abcdef"}),
    ],
)
def test_map_nested_expressions(spark, component, expr, expected):
    out = map_quads(_lines(spark, *_NESTED_ROWS), **{component: expr})
    got = {}
    for r in out.collect():
        t = r[component]
        got[r.s.value[-1]] = t.value if t.dt is None else (t.value, t.dt)
    assert got == expected


def _analyzed_chars(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString())


def test_expression_plan_size_linear(spark):
    """Each sub-term is compiled once: the plan grows linearly with the
    expression (a struct-per-node compiler copied every argument subtree
    several times per nesting level and analyzed the first filter to
    320,584 characters)."""
    q = _lines(spark, *_NESTED_ROWS)
    idiom = _analyzed_chars(filter_quads(q, 'coalesce(langMatches(lang(?o), "en"), true)'))
    assert idiom <= 32_058, idiom
    sizes = [
        _analyzed_chars(map_quads(q, p="iri(" + "lcase(" * k + "str(?p)" + ")" * k + ")"))
        for k in range(1, 7)
    ]
    assert sizes[5] <= 6 * sizes[0], sizes
