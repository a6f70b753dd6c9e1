"""Parse → serialize round-trips on the reference's own fixtures."""

import os

from pyspark.sql import functions as F

from sopspark.operators.serialize import collect_nq_lines
from sopspark.sources.ntriples import parse_lines_df, parse_ntriples
from sopspark.sources.turtle import parse_turtle, parse_turtle_text
from sopspark.terms import BNODE, IRI, LITERAL


def test_parse_sample_nt(spark, fixtures_dir):
    df = parse_ntriples(spark, os.path.join(fixtures_dir, "sample.nt"))
    rows = df.collect()
    assert len(rows) == 2
    assert all(r.err is None for r in rows)
    lines = collect_nq_lines(df)
    assert lines == [
        "<http://example.org/s> <http://example.org/ignored> <http://example.org/o> .",
        "<http://example.org/s> <http://example.org/p> <http://example.org/o> .",
    ]


def test_parse_literals_and_graphs(spark):
    data = [
        ('<http://e/s> <http://e/p> "hi there" <http://e/g> .',),
        ('<http://e/s> <http://e/p> "bonjour"@fr .',),
        ('<http://e/s> <http://e/p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .',),
        ('_:b1 <http://e/p> "a \\"quoted\\" \\n value" .',),
        ("# a comment",),
        ("",),
        ("this is garbage .",),
    ]
    df = parse_lines_df(spark.createDataFrame(data, ["value"]))
    rows = df.collect()
    ok = [r for r in rows if r.err is None]
    bad = [r for r in rows if r.err is not None]
    assert len(ok) == 4 and len(bad) == 1
    byobj = {r.o.value: r for r in ok}
    assert byobj["hi there"].g.value == "http://e/g"
    assert byobj["bonjour"].o.lang == "fr"
    assert byobj["42"].o.dt.endswith("#integer")
    quoted = byobj['a "quoted" \n value']
    assert quoted.s.kind == BNODE and quoted.s.value == "b1"
    # round-trip: re-serialize and re-parse gives the same terms
    lines = collect_nq_lines(df)
    df2 = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    assert sorted(collect_nq_lines(df2)) == sorted(lines)


def test_xsd_string_normalized(spark):
    data = [('<http://e/s> <http://e/p> "x"^^<http://www.w3.org/2001/XMLSchema#string> .',)]
    df = parse_lines_df(spark.createDataFrame(data, ["value"]))
    r = df.collect()[0]
    assert r.o.dt is None  # simple literal == xsd:string
    assert collect_nq_lines(df) == ['<http://e/s> <http://e/p> "x" .']


def test_multi_file_bnode_scoping(spark, fixtures_dir):
    # two files with the same bnode label must not clash when scoped
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        for name in ("a.nt", "b.nt"):
            with open(os.path.join(d, name), "w") as f:
                f.write("_:x <http://e/p> <http://e/o> .\n")
        df = parse_ntriples(spark, os.path.join(d, "*.nt"), scope_bnodes_per_file=True)
        labels = {r.s.value for r in df.collect()}
        assert len(labels) == 2  # distinct per source
        # deterministic: parsing again yields identical labels
        df2 = parse_ntriples(spark, os.path.join(d, "*.nt"), scope_bnodes_per_file=True)
        assert {r.s.value for r in df2.collect()} == labels


def test_parse_turtle_social(spark, fixtures_dir):
    df = parse_turtle(spark, os.path.join(fixtures_dir, "social.ttl"))
    lines = collect_nq_lines(df)
    assert len(lines) == 7
    assert (
        "<http://example.org/alice> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<http://xmlns.com/foaf/0.1/Person> ." in lines
    )
    assert (
        "<http://example.org/bob> <http://xmlns.com/foaf/0.1/KNOWS> "
        "<http://example.org/charlie> ." in lines
    )
    assert '<http://example.org/alice> <http://xmlns.com/foaf/0.1/name> "Alice" .' in lines


def test_parse_turtle_lang(spark, fixtures_dir):
    df = parse_turtle(spark, os.path.join(fixtures_dir, "lang.ttl"))
    rows = [r for r in df.collect() if r.err is None]
    assert len(rows) == 6
    langs = sorted(r.o.lang or "" for r in rows)
    assert langs == ["", "en", "en", "es", "fr", "fr"]


def test_turtle_text_parser_units():
    quads = parse_turtle_text(
        """@prefix ex: <http://e/> .
        ex:a ex:p "x", "y" ; ex:q 42 .
        [ ex:r true ] ex:s ( ex:i ex:j ) .
        """
    )
    spo = {(q[0][1] if q[0][0] == IRI else "_bn", q[1][1], q[2][1]) for q in quads}
    assert ("http://e/a", "http://e/p", "x") in spo
    assert ("http://e/a", "http://e/p", "y") in spo
    assert ("http://e/a", "http://e/q", "42") in spo
    # collection produced rdf:first/rest cells
    assert any("22-rdf-syntax-ns#first" in q[1][1] for q in quads)


def test_turtle_trailing_semicolon_and_dot():
    # (';' (verb objectList)?)* — trailing ';' is legal Turtle
    assert len(parse_turtle_text("<http://e/s> <http://e/p> <http://e/o> ; .")) == 1
    quads = parse_turtle_text(
        "@prefix q: <http://q/> . <http://e/s> <http://e/p> [ q:q q:o ; ] ."
    )
    assert len(quads) == 2
    # a run of semicolons is also legal
    assert len(parse_turtle_text("<http://e/s> <http://e/p> <http://e/o> ;; <http://e/q> <http://e/r> .")) == 2
    # PN_LOCAL / bnode labels must not swallow the statement terminator '.'
    quads = parse_turtle_text("@prefix ex: <http://ex/> . ex:s a ex:Person.")
    assert quads[0][2][1] == "http://ex/Person"
    quads = parse_turtle_text("@prefix ex: <http://ex/> . ex:a.b ex:p ex:o.c .")
    assert quads[0][0][1] == "http://ex/a.b" and quads[0][2][1] == "http://ex/o.c"
    quads = parse_turtle_text("<http://e/s> <http://e/p> _:b1. <http://e/s> <http://e/q> _:b.x .")
    assert {q[2][1] for q in quads} == {"b1", "b.x"}


def test_turtle_writer_roundtrip(spark, fixtures_dir, tmp_path):
    import glob
    import os

    from sopspark.operators.serialize import collect_nq_lines, serialize_turtle
    from sopspark.sources.turtle import parse_turtle

    df = parse_turtle(spark, os.path.join(fixtures_dir, "social.ttl"))
    out = str(tmp_path / "out_ttl")
    serialize_turtle(df, out, single_file=True)
    text = open(glob.glob(out + "/part-*")[0]).read()
    assert text.startswith("@prefix")
    assert "foaf:name" in text and " a foaf:Person" in text  # prefix + 'a' compression
    # round-trip: re-parse the written Turtle, canonical lines identical
    df2 = parse_turtle(spark, glob.glob(out + "/part-*")[0])
    assert collect_nq_lines(df2) == collect_nq_lines(df)
    # distributed default: every part file is a self-contained Turtle doc
    # (header repeated per partition) and the directory parses to the same set
    out2 = str(tmp_path / "out_ttl_dist")
    serialize_turtle(df, out2)
    parts = glob.glob(out2 + "/part-*")
    for p in parts:
        body = open(p).read()
        assert body == "" or body.startswith("@prefix")
    df3 = parse_turtle(spark, [p for p in parts if open(p).read()])
    assert collect_nq_lines(df3) == collect_nq_lines(df)


def test_trig_writer_roundtrip(spark, tmp_path):
    import glob

    from sopspark.operators.serialize import collect_nq_lines, serialize_trig
    from sopspark.sources.ntriples import parse_lines_df

    rows = [
        "<http://e/a> <http://e/p> <http://e/o> .",
        "<http://e/s2> <http://e/p> <http://e/o2> <http://e/g1> .",
        '<http://e/s3> <http://e/p> "v" <http://e/g1> .',
        "<http://e/s4> <http://e/p> <http://e/o4> <http://e/g2> .",
    ]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    out = str(tmp_path / "out_trig")
    serialize_trig(df, out, single_file=True)
    text = open(glob.glob(out + "/part-*")[0]).read()
    assert "<http://e/g1> {" in text and "<http://e/g2> {" in text
    # round-trip through the TriG-capable Turtle parser: same canonical quads
    from sopspark.sources.turtle import parse_turtle

    df2 = parse_turtle(spark, glob.glob(out + "/part-*")[0])
    assert collect_nq_lines(df2) == collect_nq_lines(df)


def test_jsonld_writer_roundtrip(spark, fixtures_dir, tmp_path):
    import glob
    import json
    import os

    from sopspark.operators.serialize import collect_nq_lines, serialize_jsonld
    from sopspark.sources.jsonld import parse_jsonld
    from sopspark.sources.turtle import parse_turtle

    df = parse_turtle(spark, os.path.join(fixtures_dir, "social.ttl"))
    out = str(tmp_path / "out_jsonld")
    serialize_jsonld(df, out)
    text = open(glob.glob(out + "/part-*")[0]).read()
    json.loads(text)  # valid JSON document
    df2 = parse_jsonld(spark, glob.glob(out + "/part-*")[0])
    assert collect_nq_lines(df2) == collect_nq_lines(df)


def test_jsonld_writer_named_graph_roundtrip(spark, tmp_path):
    import glob

    from sopspark.operators.serialize import collect_nq_lines, serialize_jsonld
    from sopspark.sources.jsonld import parse_jsonld
    from sopspark.sources.ntriples import parse_lines_df

    rows = [
        "<http://e/a> <http://e/p> <http://e/o> <http://e/g1> .",
        '<http://e/b> <http://e/p> "lit"@en <http://e/g1> .',
        '<http://e/c> <http://e/p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    ]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    out = str(tmp_path / "out_gjsonld")
    serialize_jsonld(df, out)
    df2 = parse_jsonld(spark, glob.glob(out + "/part-*")[0])
    assert collect_nq_lines(df2) == collect_nq_lines(df)


def test_ndjsonld_writer_distributed_roundtrip(spark, tmp_path):
    """serialize_ndjsonld: the bulk JSON-LD sink writes one node object
    per line through a PARALLEL write.text (no coalesce(1), no driver
    collect — round-3 finding: serialize_jsonld's driver-side document
    build is stdout-parity only). Round-trips exactly through
    parse_ndjsonld, including named graphs, bnodes, and literals."""
    import glob
    import json

    from sopspark.operators.serialize import (
        collect_nq_lines,
        serialize_ndjsonld,
        to_jsonld_nodes,
    )
    from sopspark.sources.jsonld import parse_ndjsonld
    from sopspark.sources.ntriples import parse_lines_df

    rows = (
        [f"<http://e/s{i}> <http://e/p> <http://e/o{i}> <http://e/g{i % 3}> ." for i in range(40)]
        + [f'<http://e/s{i}> <http://e/q> "v{i}"@en .' for i in range(40)]
        + ['_:b1 <http://e/p> "shared bnode" .', "_:b1 <http://e/q> _:b2 ."]
    )
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    out = str(tmp_path / "out_ndjsonld")
    serialize_ndjsonld(df, out)
    parts = glob.glob(out + "/part-*")
    # distributed write: as many part files as upstream partitions (>1),
    # and every non-empty line is standalone valid JSON
    assert len(parts) > 1, parts
    for p in parts:
        for line in open(p):
            if line.strip():
                obj = json.loads(line)
                assert "@id" in obj
    # the plan never funnels to one partition
    assert to_jsonld_nodes(df).select("block").rdd.getNumPartitions() > 1
    df2 = parse_ndjsonld(spark, out)
    assert [r for r in df2.select("err").collect() if r.err] == []
    assert collect_nq_lines(df2) == collect_nq_lines(df)


def test_ndjsonld_parser_line_scoped_fresh_bnodes(spark, tmp_path):
    """Two NDJSON-LD lines with identical ANONYMOUS nested nodes must
    produce distinct blank nodes (line-unique fresh labels), while labeled
    _:x bnodes stay dataset-scoped."""
    f = tmp_path / "docs.ndjsonld"
    line = '{"@id":"http://e/s%d","http://e/p":[{"@value":"x"},{"http://e/q":[{"@value":"deep"}]}]}'
    f.write_text((line % 1) + "\n" + (line % 2) + "\n")
    from sopspark.sources.jsonld import parse_ndjsonld
    from sopspark.terms import BNODE

    rows = parse_ndjsonld(spark, str(f)).collect()
    assert not [r for r in rows if r["err"]]
    fresh = {r["o"]["value"] for r in rows if r["o"] and r["o"]["kind"] == BNODE}
    assert len(fresh) == 2, fresh  # one distinct anonymous bnode per line


def test_yamlld_writer_roundtrip(spark, fixtures_dir, tmp_path):
    import os

    from sopspark.operators.serialize import collect_nq_lines, serialize_yamlld
    from sopspark.sources.jsonld import parse_yamlld
    from sopspark.sources.turtle import parse_turtle

    df = parse_turtle(spark, os.path.join(fixtures_dir, "social.ttl"))
    out = str(tmp_path / "out.yamlld")
    serialize_yamlld(df, out)
    df2 = parse_yamlld(spark, out)
    assert collect_nq_lines(df2) == collect_nq_lines(df)


def test_rdfxml_writer_roundtrip(spark, fixtures_dir, tmp_path):
    import glob
    import os

    from sopspark.operators.serialize import collect_nq_lines, serialize_rdfxml
    from sopspark.sources.rdfxml import parse_rdfxml
    from sopspark.sources.turtle import parse_turtle

    df = parse_turtle(spark, os.path.join(fixtures_dir, "social.ttl"))
    out = str(tmp_path / "out_rdfxml")
    serialize_rdfxml(df, out)
    text = open(glob.glob(out + "/part-*")[0]).read()
    assert text.startswith('<?xml version="1.0"')
    df2 = parse_rdfxml(spark, glob.glob(out + "/part-*")[0])
    assert collect_nq_lines(df2) == collect_nq_lines(df)


def test_rdfxml_writer_escapes_and_lang(spark, tmp_path):
    import glob

    from sopspark.operators.serialize import collect_nq_lines, serialize_rdfxml
    from sopspark.sources.ntriples import parse_lines_df
    from sopspark.sources.rdfxml import parse_rdfxml

    rows = [
        '<http://e/a> <http://e/p> "a < b & c"@en .',
        '<http://e/a> <http://e/n> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        "<http://e/a> <http://e/q> _:bn1 .",
        '_:bn1 <http://e/p> "x" .',
        "<http://e/drop> <http://e/p> <http://e/o> <http://e/g> .",  # named graph dropped
    ]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    out = str(tmp_path / "out_x")
    serialize_rdfxml(df, out)
    df2 = parse_rdfxml(spark, glob.glob(out + "/part-*")[0])
    expected = [l for l in collect_nq_lines(df) if "drop" not in l]
    assert collect_nq_lines(df2) == expected


def test_rdf_star_parse_serialize_roundtrip(spark):
    from sopspark.terms import QUOTED

    rows = [
        '<< <http://e/s> <http://e/p> "v" >> <http://e/said> <http://e/alice> .',
        "<http://e/x> <http://e/cites> << _:b <http://e/p> << <http://e/i> <http://e/q> <http://e/j> >> >> .",
        "<http://e/plain> <http://e/p> <http://e/o> .",
    ]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    got = df.collect()
    assert all(r.err is None for r in got)
    bykind = {r.s.value: r for r in got}
    q = bykind['<< <http://e/s> <http://e/p> "v" >>']
    assert q.s.kind == QUOTED and q.o.value == "http://e/alice"
    nested = [r for r in got if r.s.value == "http://e/x"][0]
    assert nested.o.kind == QUOTED and "<< <http://e/i> <http://e/q> <http://e/j> >>" in nested.o.value
    # round-trip: canonical lines re-parse to the identical quad set
    lines = collect_nq_lines(df)
    df2 = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    assert collect_nq_lines(df2) == lines
    # canonical re-encoding normalizes whitespace + escapes inside << >>
    assert '<< <http://e/s> <http://e/p> "v" >> <http://e/said> <http://e/alice> .' in lines


def test_turtle_star_quoted_triples():
    """Turtle-star `<< s p o >>` terms (sophia parses these recursively,
    quad_handler.rs:68-73) — subject and object positions, nesting,
    prefixed names + literals inside the quoted triple."""
    from sopspark.terms import QUOTED

    quads = parse_turtle_text(
        """
        @prefix ex: <http://e/> .
        << ex:s ex:p "v" >> ex:said ex:alice .
        ex:x ex:cites << _:b ex:p << ex:i ex:q ex:j >> >> .
        """
    )
    assert len(quads) == 2
    s0, _, o0, _ = quads[0]
    assert s0[0] == QUOTED and s0[1] == '<< <http://e/s> <http://e/p> "v" >>'
    assert o0[1] == "http://e/alice"
    _, _, o1, _ = quads[1]
    assert o1[0] == QUOTED
    assert o1[1] == "<< _:b <http://e/p> << <http://e/i> <http://e/q> <http://e/j> >> >>"


def test_turtle_star_writer_roundtrip(spark, tmp_path):
    """Quoted triples survive a Turtle write → parse round-trip (the NT
    `<< ... >>` encoding is valid Turtle-star verbatim)."""
    import glob as _glob

    from sopspark.operators.serialize import serialize_turtle

    rows = ['<< <http://e/s> <http://e/p> "v" >> <http://e/said> <http://e/alice> .']
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    out = str(tmp_path / "out_star")
    serialize_turtle(df, out, single_file=True)
    df2 = parse_turtle(spark, _glob.glob(out + "/part-*")[0])
    assert collect_nq_lines(df2) == collect_nq_lines(df)


def test_rdf_star_bnode_suffix_recurses(spark):
    from sopspark.operators.transforms import bnode_suffix

    rows = [
        "<< _:a <http://e/p> _:b >> <http://e/said> _:a .",
    ]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    out = bnode_suffix(df, "X1").collect()[0]
    assert out.o.value == "a_X1"  # plain bnode position
    assert out.s.value == "<< _:a_X1 <http://e/p> _:b_X1 >>"  # inside the quoted triple


def test_rdf_star_absolutize_recurses(spark):
    from sopspark.operators.transforms import absolutize, relativize

    rows = ["<< <s1> <http://e/p> <o1> >> <http://e/said> <who> ."]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    out = absolutize(df, "http://base/dir/").collect()[0]
    assert out.o.value == "http://base/dir/who"
    assert out.s.value == "<< <http://base/dir/s1> <http://e/p> <http://base/dir/o1> >>"
    # and back
    rel = relativize(absolutize(df, "http://base/dir/"), "http://base/dir/").collect()[0]
    assert rel.s.value == "<< <s1> <http://e/p> <o1> >>"


def test_rdf_star_bad_lines_err_channel(spark):
    rows = [
        "<< <http://e/s> <http://e/p> >> <http://e/said> <http://e/a> .",  # 2-term quoted
        "<< <http://e/s> <http://e/p> <http://e/o> <http://e/said> <http://e/a> .",  # unterminated
    ]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    assert all(r.err is not None for r in df.collect())


def test_dir_lang_string_roundtrip(spark):
    """RDF 1.2 directional language literals (`@en--ltr`) — in the
    reference's recognized-datatype list (src/query.rs:46-60). The direction
    rides in the lang field and round-trips through the canonical lines."""
    rows = ['<http://e/a> <http://e/label> "hello"@en--ltr .']
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    got = df.collect()
    assert got[0].err is None and got[0].o.lang == "en--ltr"
    lines = collect_nq_lines(df)
    assert lines == ['<http://e/a> <http://e/label> "hello"@en--ltr .']
    df2 = parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"]))
    assert collect_nq_lines(df2) == lines


def test_turtle_pn_local_escapes_and_percent(spark):
    """Turtle §6.5 PN_LOCAL: local-name escapes (\\, \\= …) unescape into
    the IRI, PERCENT sequences pass through literally."""
    from sopspark.sources.turtle import parse_turtle_text

    ttl = (
        "@prefix ex: <http://e/> .\n"
        "ex:a\\,b ex:p ex:c%2Fd .\n"
        "ex:x ex:q ex:order\\=5 .\n"
    )
    got = {(q[0][1], q[1][1], q[2][1]) for q in parse_turtle_text(ttl)}
    assert got == {
        ("http://e/a,b", "http://e/p", "http://e/c%2Fd"),
        ("http://e/x", "http://e/q", "http://e/order=5"),
    }


def test_uchar_escapes_in_iris(spark):
    """IRIREF UCHAR (\\uXXXX / \\UXXXXXXXX) decodes to code points in both
    the NT fast path and the Turtle parser (NT grammar [8], Turtle [18])."""
    from sopspark.sources.ntriples import parse_lines_df
    from sopspark.sources.turtle import parse_turtle_text

    rows = ['<http://e/\\u00e9> <http://e/p> "caf\\u00e9" .']
    r = parse_lines_df(spark.createDataFrame([(x,) for x in rows], ["value"])).collect()[0]
    assert r.err is None and r.s.value == "http://e/é" and r.o.value == "café"

    ttl = '@prefix ex: <http://e/> .\n<http://e/\\u00e9> ex:q "\\U0001F600ok" .\n'
    quads = parse_turtle_text(ttl)
    assert quads[0][0][1] == "http://e/é" and quads[0][2][1] == "\U0001F600ok"


def test_illegal_iri_escapes_become_err_rows(spark):
    """IRIREF permits only UCHAR: ECHARs, unknown escapes, and
    out-of-range code points yield err rows — never a task-killing
    exception, never a silently corrupted IRI."""
    import pytest

    from sopspark.sources.ntriples import parse_lines_df
    from sopspark.sources.turtle import TurtleError, parse_turtle_text

    rows = [
        '<http://e/a\\tb> <http://e/p> <http://e/o> .',     # ECHAR in IRI
        '<http://e/a\\zb> <http://e/p> <http://e/o> .',     # unknown escape
        '<http://e/\\UFFFFFFFF> <http://e/p> <http://e/o> .',  # out of range
        '<http://e/ok\\u00e9> <http://e/p> <http://e/o> .',    # valid UCHAR
    ]
    got = parse_lines_df(
        spark.createDataFrame([(r,) for r in rows], ["value"])
    ).collect()
    errs = [r for r in got if r.err is not None]
    ok = [r for r in got if r.err is None]
    assert len(errs) == 3 and len(ok) == 1
    assert ok[0].s.value == "http://e/oké"

    with pytest.raises(TurtleError, match="out of range"):
        parse_turtle_text('<http://e/\\UFFFFFFFF> <http://e/p> <http://e/o> .')


def test_turtle_star_annotation_syntax(spark):
    """Turtle-star annotations: `o {| q z |}` asserts the base triple AND
    annotates the quoted triple; object lists continue after the block;
    annotations nest."""
    from sopspark.sources.turtle import parse_turtle_text
    from sopspark.terms import QUOTED

    ttl = (
        "@prefix ex: <http://e/> .\n"
        "ex:a ex:p ex:b {| ex:certainty 0.9 ; ex:src ex:doc1 |}, ex:c .\n"
        "ex:x ex:q ex:y {| ex:by ex:z {| ex:meta 1 |} |} .\n"
    )
    quads = parse_turtle_text(ttl)
    spo = {(q[0][1], q[1][1], q[2][1]) for q in quads}
    QT = "<< <http://e/a> <http://e/p> <http://e/b> >>"
    assert ("http://e/a", "http://e/p", "http://e/b") in spo       # base asserted
    assert (QT, "http://e/certainty", "0.9") in spo
    assert (QT, "http://e/src", "http://e/doc1") in spo
    assert ("http://e/a", "http://e/p", "http://e/c") in spo       # list continues
    # nested annotation subject is the doubly-quoted triple
    assert (
        "<< << <http://e/x> <http://e/q> <http://e/y> >> <http://e/by> <http://e/z> >>",
        "http://e/meta",
        "1",
    ) in spo
    assert sum(1 for q in quads if q[0][0] == QUOTED) == 4


def test_ndjsonld_fresh_labels_deterministic_and_duplicate_lines_distinct(spark, tmp_path):
    """Fresh bnode labels derive from line CONTENT (not partition layout),
    so two parses of the same file agree label-for-label; byte-identical
    duplicate lines still get DISTINCT anonymous bnodes (per-duplicate
    ordinal)."""
    from sopspark.sources.jsonld import parse_ndjsonld
    from sopspark.terms import BNODE

    f = tmp_path / "dup.ndjsonld"
    anon = '{"@id":"http://e/s","http://e/p":[{"http://e/q":[{"@value":"x"}]}]}'
    other = '{"@id":"http://e/t","http://e/p":[{"http://e/q":[{"@value":"y"}]}]}'
    f.write_text(anon + "\n" + anon + "\n" + other + "\n")

    def labels():
        rows = parse_ndjsonld(spark, str(f)).collect()
        assert not [r for r in rows if r["err"]]
        return sorted(
            r["o"]["value"] for r in rows if r["o"] and r["o"]["kind"] == BNODE
        )

    a, b = labels(), labels()
    assert a == b  # deterministic run-to-run
    assert len(a) == 3 and len(set(a)) == 3  # dup lines stay distinct


# ---------------------------------------------------------------------------
# round-4 parser robustness review: crash classes become err rows
# ---------------------------------------------------------------------------

def test_malformed_escapes_become_err_rows_not_crashes(spark):
    """Out-of-range \\U escapes, surrogate code points, unterminated
    datatype IRIs, and pathologically deep RDF-star nesting must flow
    through the err channel — any of these previously raised a plain
    ValueError/RecursionError out of mapInPandas and killed the job (a
    single bad line in a 100 TB corpus must not fail the whole read)."""
    from sopspark.sources.ntriples import parse_lines_df

    deep = "<< " * 1500 + "<http://e/a> <http://e/b> <http://e/c>" + " >>" * 1500
    bad = [
        '<http://e/s> <http://e/p> "a\\U00110000b" .',
        '<http://e/s> <http://e/p> "a\\ud800b" .',
        '<http://e/\\ud800> <http://e/p> <http://e/o> .',
        '<< <http://e/a> <http://e/b> <http://e/c> >> <http://e/p> "x"^^<nope .',
        deep + " <http://e/p> <http://e/o> .",
        '<http://e/s> <http://e/p> "fine" .',
    ]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in bad], ["value"]))
    rows = df.collect()
    errs = [r for r in rows if r["err"]]
    assert len(errs) == 5 and len(rows) == 6


def test_star_comment_strip_does_not_eat_literals(spark):
    """The trailing-comment strip must not backtrack into a string literal
    containing '. # ' — the statement is valid and must parse."""
    from sopspark.sources.ntriples import parse_lines_df

    rows = [
        '<< <http://e/a> <http://e/b> "v. # w" >> <http://e/p> <http://e/o> .',
        '<http://e/s> <http://e/p> "x" . # real comment',
        '<< <http://e/a> <http://e/b> <http://e/c> >> <http://e/p> "x"@en--ltr .',
    ]
    df = parse_lines_df(spark.createDataFrame([(r,) for r in rows], ["value"]))
    assert [r for r in df.collect() if r["err"]] == []


def test_star_comment_ending_with_dot_is_stripped():
    """A trailing comment whose own text ends with '.' must still be
    stripped (the old heuristic only scanned when the body did NOT end
    with '.'), while '#' inside literals and IRI fragments stays part of
    the term."""
    from sopspark.sources.ntriples import parse_star_line
    from sopspark.terms import IRI, LITERAL

    s, p, o, g = parse_star_line('<http://e/s> <http://e/p> "v" . # ends with .')
    assert o == (LITERAL, "v", None, None) and g is None

    # '#' inside an IRI whose prefix ends with '.' is NOT a comment start
    s, p, o, g = parse_star_line("<http://e/s> <http://e/p> <http://e/a.#b> .")
    assert o == (IRI, "http://e/a.#b", None, None)

    # '#' inside a literal containing '. # ' is NOT a comment start
    s, p, o, g = parse_star_line('<http://e/s> <http://e/p> "v. # w" . # tail.')
    assert o == (LITERAL, "v. # w", None, None)


def test_trig_anonymous_graph_label(spark, tmp_path):
    from sopspark.sources.turtle import parse_turtle
    from sopspark.terms import BNODE

    f = tmp_path / "anon.trig"
    f.write_text("[] { <http://e/s> <http://e/p> <http://e/o> . }\n")
    rows = parse_turtle(spark, str(f)).collect()
    assert [r for r in rows if r["err"]] == []
    assert rows[0]["g"]["kind"] == BNODE


def test_rdfxml_type_attribute_lang_clear_and_bnode_scoping(spark, tmp_path):
    from sopspark.sources.rdfxml import parse_rdfxml, parse_rdfxml_text
    from sopspark.terms import BNODE, LITERAL

    doc = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://ex/" xml:lang="en">'
        '<rdf:Description rdf:about="http://ex/a" rdf:type="http://ex/Klass" ex:name="n">'
        "<ex:plain xml:lang=''>plain</ex:plain></rdf:Description></rdf:RDF>"
    )
    quads = parse_rdfxml_text(doc)
    # §2.13: rdf:type as a property attribute emits an IRI-object triple
    assert any(
        q[1][1].endswith("#type") and q[2][1] == "http://ex/Klass" for q in quads
    )
    # xml:lang="" CLEARS the inherited language; xml:lang="en" still inherits
    assert {q[2][3] for q in quads if q[2][0] == LITERAL and q[2][1] == "plain"} == {None}
    assert {q[2][3] for q in quads if q[2][0] == LITERAL and q[2][1] == "n"} == {"en"}

    # per-file bnode scoping: anonymous nodes in two files must not merge
    anon = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://ex/"><rdf:Description><ex:p>v</ex:p>'
        "</rdf:Description></rdf:RDF>"
    )
    (tmp_path / "a.rdf").write_text(anon)
    (tmp_path / "b.rdf").write_text(anon)
    paths = [str(tmp_path / "a.rdf"), str(tmp_path / "b.rdf")]
    merged = parse_rdfxml(spark, paths)
    labels = {r["s"]["value"] for r in merged.collect() if r["s"]["kind"] == BNODE}
    assert len(labels) == 1  # default: labels collide (documented)
    scoped = parse_rdfxml(spark, paths, scope_bnodes_per_file=True)
    labels2 = {r["s"]["value"] for r in scoped.collect() if r["s"]["kind"] == BNODE}
    assert len(labels2) == 2  # scoped: distinct per file


# ---------------------------------------------------------------------------
# JVM fast path vs the pandas parser
# ---------------------------------------------------------------------------

XSD_STR = "http://www.w3.org/2001/XMLSchema#string"
PARSE_EDGE_LINES = [
    "",
    "   \t",
    "# only a comment",
    "  # indented comment",
    '<http://e/s> <http://e/p> "v" . # trailing comment',
    '<http://e/s> <http://e/p> "v" .# no space',
    '<http://e/s> <http://e/p> "v" . # comment ending with .',
    '<http://e/s#frag> <http://e/p#x> "a # b" .',
    '<http://e/s> <http://e/p> "a. # b" <http://e/g#1> .',
    "<> <http://e/p> <> .",
    '<http://e/s> <http://e/p> "" .',
    '<http://e/s> <http://e/p> ""^^<> .',
    f'<http://e/s> <http://e/p> "x"^^<{XSD_STR}> .',
    '<http://e/s> <http://e/p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://e/s> <http://e/p> "hello"@en--ltr .',
    '<http://e/s> <http://e/p> "hi"@en-GB-x-1 .',
    '<http://e/s> <http://e/p> "x"@ .',
    '<http://e/s> <http://e/p> "x"@1a .',
    '<http://e/s> <http://e/p> "x"^^<a b> .',
    "?s <http://e/p> ?o .",
    "?s ?p ?o ?g .",
    "_:a <http://e/p> _:b _:g .",
    '<http://e/s> <http://e/p> "x" <http://e/g> .',
    '<a"b> <http://e/p> "x"^^<http://e/d"t> .',
    "\t<http://e/s>\t<http://e/p>\t<http://e/o>\t.\t",
    "<http://e/s>\x0b<http://e/p>\x0c<http://e/o> .",
    "<http://e/s><http://e/p> <http://e/o> .",
    "<http://e/s> <http://e/p> <http://e/o>",
    "<http://e/s> <http://e/p> .",
    "_:a _:b _:c _:d _:e .",
    "this is garbage .",
    '<http://e/s> <http://e/p> "unterminated .',
    '_:b1 <http://e/p> "a \\"quoted\\" \\n value" .',
    '<http://e/\\u00e9> <http://e/p> "caf\\u00e9" .',
    "<http://e/a\\tb> <http://e/p> <http://e/o> .",
    '<http://e/s> <http://e/p> "a\\U00110000b" .',
    "<< <http://e/a> <http://e/b> <http://e/c> >> <http://e/p> <http://e/o> .",
    '<http://e/s> <http://e/p> "<<not quoted>>" .',
    *(f'<http://e/s>{c}<http://e/p> "a{c}b" .' for c in "\x1c\x1d\x1e\x1f"),
    '<http://e/s> <http://e/p>\x85"a" .',
    '<http://e/s> <http://e/p> "a\x85b" .',
    '<http://e/s> <http://e/p>\xa0"a" .',
    '<http://e/s> <http://e/p> "a\xa0b" .',
    '<http://e/s> <http://e/p>\u2028"a" .',
    '<http://e/s> <http://e/p> "a\u2028b" . # c\u2028',
    '<http://e/s> <http://e/p> "a" . ',
    '<http://e/s> <http://e/p> "a b" .',
    '<http://e/s> <http://e/p> "a　b"　.',
    '<http://e/s> <http://e/p> "café ☕ \U0001F600" .',
    '<http://e/é> <http://e/ü> <http://e/\U0001F600> .',
    '_:é <http://e/p> "ü"@de .',
    '?café <http://e/p> "x" .',
    '?xé <http://e/p> ?y .',
    "<http://e/s?q=é> <http://e/p> <http://e/o> .",
]


def _generated_lines(n: int) -> list[str]:
    """Seeded lines that combine legal and illegal terms and separators."""
    import random

    rng = random.Random(11)
    terms = [
        "<http://e/a>", "<>", "_:b", "?v", '"x"', '""', '"a b"@en', '"1"^^<http://d>',
        '""^^<>', '"é"@fr', "<http://é/☕>", f'"x"^^<{XSD_STR}>', '"x"@en--ltr', "?é",
        "_:é", '"a#b"', "<a#b>", "<<", '"a\\tb"',
    ]
    seps = [" ", "\t", "  ", "\x0b", "\xa0", "\x1f", ""]
    ends = [" .", ".", " . ", " . # c", "", " .#", " . x", " . "]
    out = []
    for _ in range(n):
        ts = [rng.choice(terms) for _ in range(rng.choice([2, 3, 3, 3, 4, 4, 5]))]
        out.append(
            rng.choice(["", " ", "\t"])
            + "".join(t + rng.choice(seps) for t in ts[:-1])
            + ts[-1]
            + rng.choice(ends)
        )
    return out


def _fixture_lines(fixtures_dir) -> list[str]:
    golden = os.path.join(os.path.dirname(fixtures_dir), "golden")
    paths = [os.path.join(fixtures_dir, f) for f in sorted(os.listdir(fixtures_dir)) if f.endswith(".nt")]
    paths += [os.path.join(golden, f) for f in sorted(os.listdir(golden)) if f.endswith(".nq")]
    lines = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            lines += f.read().splitlines()
    assert lines
    return lines


def test_parse_batch_mixed_quoted_lines_keep_dtypes():
    """Driver only: a batch of plain lines and ``<<`` lines (one parsed,
    one an err row) concatenates with the same column dtypes as a plain
    batch, so pandas has no all-NA column to warn about."""
    import warnings

    import pandas as pd

    from sopspark.sources import ntriples

    lines = [
        "<http://e/s> <http://e/p> <http://e/o> .",
        '<< <http://e/s> <http://e/p> <http://e/o> >> <http://e/q> "x" <http://e/g> .',
        "<< <http://e/s> <http://e/p> >> <http://e/q> <http://e/o> .",
    ]
    pdf = pd.DataFrame({"value": lines, "src": ["0", "1", "2"]})
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = ntriples._parse_batch(pdf)
    plain = ntriples._parse_batch(pdf.iloc[:1])
    assert out.dtypes.to_dict() == plain.dtypes.to_dict()
    assert out["s_kind"].tolist() == [0, 3, pd.NA]
    assert out["g_kind"].tolist() == [pd.NA, 0, pd.NA]
    assert out["err"].notna().tolist() == [False, False, True]


def test_parse_lines_df_matches_pandas_parser(spark, fixtures_dir):
    """Row for row, ``parse_lines_df`` (Catalyst for plain lines, the
    pandas parser in ``mapInPandas`` for the rest) gives what
    ``_parse_batch`` run on the driver gives, on the fixture lines and on
    edge lines."""
    import pandas as pd

    from sopspark.sources import ntriples

    lines = _fixture_lines(fixtures_dir) + PARSE_EDGE_LINES + _generated_lines(400)
    ids = [str(i) for i in range(len(lines))]

    want = {}
    oracle = ntriples._parse_batch(pd.DataFrame({"value": lines, "src": ids}))
    for rec in oracle.astype(object).where(oracle.notna(), None).to_dict("records"):
        flat = []
        for t in "spog":
            kind = rec[f"{t}_kind"]
            flat += [None] * 4 if kind is None else [int(kind)] + [rec[f"{t}_{f}"] for f in ("value", "dt", "lang")]
        want[rec["src"]] = (*flat, rec["err"])

    df = spark.createDataFrame(list(zip(lines, ids)), "value string, src string")
    got = {}
    for r in parse_lines_df(df, with_src=True).collect():
        flat = []
        for t in "spog":
            flat += [None] * 4 if r[t] is None else [r[t].kind, r[t].value, r[t].dt, r[t].lang]
        got[r.src] = (*flat, r.err)

    diff = {lines[int(i)]: (want.get(i), got.get(i)) for i in set(want) | set(got) if want.get(i) != got.get(i)}
    assert not diff
    assert len(got) == len(want) > len(PARSE_EDGE_LINES)
