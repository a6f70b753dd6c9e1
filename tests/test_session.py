"""Session defaults that every cold driver pays for."""

import pyspark.errors.utils as err_utils

from sopspark.operators.filter_map import filter_quads, map_quads
from sopspark.operators.serialize import collect_nq_lines
from sopspark.sources.ntriples import parse_lines_df


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_operator_plans_capture_no_call_site(spark, monkeypatch):
    """Building and running a filter + map plan never walks the Python
    stack for PySpark's DataFrame query context."""

    def capture(depth):
        raise AssertionError("PySpark captured a Python call site")

    # is_debugging_enabled caches its first answer for the whole process
    monkeypatch.setattr(err_utils, "_enable_debugging_cache", None)
    monkeypatch.setattr(err_utils, "_capture_call_site", capture)
    lines = [
        "<http://example.org/s> <http://example.org/p> <http://example.org/o> .",
        "<http://example.org/s> <http://example.org/q> <http://example.org/o> .",
    ]
    df = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    out = filter_quads(map_quads(df, s="?o", o="?s"), "?p = <http://example.org/p>")
    assert collect_nq_lines(out) == [
        "<http://example.org/o> <http://example.org/p> <http://example.org/s> ."
    ]


def test_case_mapping_matches_python(spark):
    """With ICU case mapping off, Spark's ``lower``/``upper`` equal Python's
    ``str.lower``/``upper``: final sigma, dotted capital I, sharp s, a
    titlecase digraph, the Kelvin sign, ligatures and non-BMP letters."""
    from sopspark.session import local_df

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    samples = ["ΟΔΟΣ", "Σ", "İstanbul", "straße", "ǅemal", "\u212a", "ﬃ", "ŉ", "𐐀𐐨", "𝐀bc", "Ünïcödé"]
    df = local_df(spark, [(s,) for s in samples], "t string")
    got = [(r.t, r.lo, r.up) for r in df.selectExpr("t", "lower(t) AS lo", "upper(t) AS up").collect()]
    assert got == [(s, s.lower(), s.upper()) for s in samples]
