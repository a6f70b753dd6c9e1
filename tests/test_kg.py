"""Transcript→KG pipeline: P/R vs closed-form expected triples, the
order-stability invariant, sameAs connected components, and resumability."""

import os
import re

import pytest
from pyspark.sql import functions as F

from sopspark.kg.canon import materialize_graph, sameas_closure, skolemize
from sopspark.kg.extract import assemble_turns, extract_triples
from sopspark.kg.link import entity_histogram, link_entities
from sopspark.kg.synth import alias_df, sameas_df, synth_corpus
from sopspark.kg.vocab import AGE, KNOWS, LIVES_IN, WORKS_AT
from sopspark.plans.graph import connected_components
from sopspark.terms import BNODE


def _spo_set(quads_df):
    rows = quads_df.select("s", "p", "o").collect()
    return {(r.s.value, r.p.value, r.o.value) for r in rows}


@pytest.fixture(scope="module")
def corpus(spark):
    transcripts, expected = synth_corpus(spark, n_convs=200, seed=42)
    return transcripts.cache(), expected.cache()


def test_extraction_precision_recall(spark, corpus):
    transcripts, expected = corpus
    mentions = extract_triples(assemble_turns(transcripts))
    linked = link_entities(mentions, alias_df(spark))
    got = {
        (r.s, r.p, r.o_iri if r.o_iri is not None else r.o_lit)
        for r in linked.select("s", "p", "o_iri", "o_lit").collect()
    }
    exp = {(r.s, r.p, r.o) for r in expected.collect()}
    tp = len(got & exp)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(exp) if exp else 0.0
    assert precision >= 0.95, f"precision {precision:.4f}; sample fp: {list(got - exp)[:5]}"
    assert recall >= 0.95, f"recall {recall:.4f}; sample fn: {list(exp - got)[:5]}"


# The extractor's six templates, read by Python's ``re`` under re.ASCII:
# ``\b`` is an ASCII word boundary and ``\d`` an ASCII digit, as the
# Catalyst extractor and the DuckDB oracle (RE2) read them. Under Python's
# default Unicode reading, "éBob knows Alice." would give no mention and
# "Bob is ٤٢ years old." would give the age "٤٢"; here the first gives
# Bob knows Alice and the second nothing.
_REF_TEMPLATES = (
    (0, r"\b([A-Z][a-z]+) knows ([A-Z][a-z]+)\.", KNOWS, "person", False),
    (1, r"\b([A-Z][a-z]+) works at ([A-Z][A-Za-z ]+?)\.", WORKS_AT, "org", False),
    (2, r"\b([A-Z][a-z]+) lives in ([A-Z][a-z]+)\.", LIVES_IN, "place", False),
    (3, r"\b([A-Z][a-z]+) is (\d+) years old\.", AGE, None, False),
    (4, r"\bThey work at ([A-Z][A-Za-z ]+?)\.", WORKS_AT, "org", True),
    (5, r"\bThey live in ([A-Z][a-z]+)\.", LIVES_IN, "place", True),
)


def _reference_mentions(turns) -> list[tuple]:
    """``extract_triples`` written as a loop over ``re.finditer``: every
    match of a pair template, the first match of a pronoun template when
    the turn has an antecedent; ``m_id`` = template·4096 + match ordinal."""
    out = []
    for conv_id, turn_idx, text, prev_ante in turns:
        for base, pattern, p, etype, pronoun in _REF_TEMPLATES:
            matches = list(re.finditer(pattern, text or "", re.ASCII))
            if pronoun:
                if prev_ante is not None and matches:
                    out.append((conv_id, turn_idx, base * 4096, prev_ante, p, matches[0][1], None, etype))
                continue
            for i, m in enumerate(matches):
                o_alias, o_lit = (m[2], None) if etype else (None, m[2])
                out.append((conv_id, turn_idx, base * 4096 + i, m[1], p, o_alias, o_lit, etype))
    return sorted(out, key=repr)


def _extracted(assembled) -> list[tuple]:
    return sorted((tuple(r) for r in extract_triples(assembled).collect()), key=repr)


def test_extract_triples_matches_reference_on_corpus(spark, corpus):
    transcripts, _ = corpus
    assembled = assemble_turns(transcripts).select("conv_id", "turn_idx", "text", "prev_ante")
    want = _reference_mentions(assembled.collect())
    assert len(want) > 1000
    assert _extracted(assembled) == want


def test_extract_triples_edge_cases(spark):
    """NULL text, repeated templates, a second pronoun sentence, a NULL
    antecedent, and non-ASCII letters and digits next to a name."""
    from sopspark.session import local_df

    turns = [
        ("c", 0, None, "Bob"),
        ("c", 1, "Bob knows Ann. Bob knows Ann. Di works at Acme Corp. Ed works at Globex.", None),
        ("c", 2, "They work at Acme Corp. They work at Globex. Ann knows Bob.", "Bob"),
        ("c", 3, "They live in Paris.", None),
        ("c", 4, "éBob knows Alice. Bob is ٤٢ years old. Ann is 4٢ years old.", None),
        ("c", 5, "٣Bob knows Alice. xBob knows Alice. _Bob knows Alice. Ann is 42 years old.", None),
        ("c", 6, "Zoë knows Bob. Bob knows Aliceé. xThey live in Oslo.", "Ann"),
        ("c", 7, "They live in Oslo. They live in Rome.", "Di"),
        ("c", 8, "", "Di"),
    ]
    assembled = local_df(spark, turns, "conv_id string, turn_idx int, text string, prev_ante string")
    got = _extracted(assembled)
    assert got == _reference_mentions(turns)
    assert sorted(((t, m, s, oa, ol) for _c, t, m, s, _p, oa, ol, _e in got), key=repr) == sorted(
        [
            (1, 0, "Bob", "Ann", None),
            (1, 1, "Bob", "Ann", None),
            (1, 4096, "Di", "Acme Corp", None),
            (1, 4097, "Ed", "Globex", None),
            (2, 0, "Ann", "Bob", None),
            (2, 4 * 4096, "Bob", "Acme Corp", None),
            (4, 0, "Bob", "Alice", None),
            (5, 0, "Bob", "Alice", None),
            (5, 3 * 4096, "Ann", None, "42"),
            (7, 5 * 4096, "Di", "Oslo", None),
        ],
        key=repr,
    )


def test_order_invariance(spark, corpus):
    """input_hint invariant: per-turn results identical under shuffled input
    row order — the window ordering, not arrival order, decides."""
    transcripts, _ = corpus
    shuffled = transcripts.orderBy(F.rand(seed=7)).repartition(7)
    a = link_entities(extract_triples(assemble_turns(transcripts)), alias_df(spark))
    b = link_entities(extract_triples(assemble_turns(shuffled)), alias_df(spark))
    sa = {tuple(r) for r in a.select("conv_id", "turn_idx", "s", "p", "o_iri", "o_lit").collect()}
    sb = {tuple(r) for r in b.select("conv_id", "turn_idx", "s", "p", "o_iri", "o_lit").collect()}
    assert sa == sb


def test_hot_entity_present(spark, corpus):
    """the skew fixture is real: one entity owns ≥10% of subject mentions."""
    transcripts, _ = corpus
    linked = link_entities(extract_triples(assemble_turns(transcripts)), alias_df(spark))
    hist = entity_histogram(linked).collect()
    total = sum(r.n for r in hist)
    top = max(hist, key=lambda r: r.n)
    assert top.entity.endswith("/robert")
    assert top.n / total >= 0.10


def test_connected_components_chains_and_cycles(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"),  # chain a-b-c-d
         ("x", "y"), ("y", "z"), ("z", "x"),  # cycle
         ("solo1", "solo2")],
        "u string, v string",
    )
    cc = {r.node: r.rep for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == cc["d"] == "a"
    assert cc["x"] == cc["y"] == cc["z"] == "x"
    assert cc["solo1"] == cc["solo2"] == "solo1"


def test_sameas_merge(spark, corpus):
    transcripts, expected = corpus
    linked = link_entities(extract_triples(assemble_turns(transcripts)), alias_df(spark))
    mapping = sameas_closure(sameas_df(spark))
    quads = materialize_graph(linked, mapping)
    got = _spo_set(quads)
    # robert chains to legacy IRIs; rep is lexicographic min of the class
    m = {r.iri: r.rep for r in mapping.collect()}
    rep_robert = m["http://example.org/person/robert"]
    assert rep_robert == "http://example.org/person/legacy/bob42"
    assert not any("person/robert" == s.rsplit("/", 1)[-1] and "person/robert" in s for s, _, _ in got)
    # every expected robert triple appears under the representative
    exp = {(r.s, r.p, r.o) for r in expected.collect()}
    exp_mapped = {(m.get(s, s), p, m.get(o, o)) for s, p, o in exp}
    tp = len(got & exp_mapped)
    assert tp / len(exp_mapped) >= 0.95
    assert tp / len(got) >= 0.95


def test_skolemize(spark):
    from sopspark.sources.ntriples import parse_lines_df

    df = parse_lines_df(
        spark.createDataFrame(
            [("_:x <http://e/p> _:y .",), ("_:x <http://e/q> <http://e/o> .",)], ["value"]
        )
    )
    sk = skolemize(df)
    rows = sk.collect()
    assert all(r.s.kind != BNODE and (r.o is None or r.o.kind != BNODE) for r in rows)
    xs = {r.s.value for r in rows}
    assert len(xs) == 1  # same label → same skolem IRI
    assert next(iter(xs)).startswith("http://example.org/.well-known/genid/")


def test_pipeline_resume(spark, tmp_path):
    from sopspark.kg.pipeline import run_kg_pipeline
    from sopspark.kg.synth import write_corpus

    corpus_dir = str(tmp_path / "corpus")
    workdir = str(tmp_path / "work")
    write_corpus(spark, corpus_dir, n_convs=50)
    r1 = run_kg_pipeline(spark, corpus_dir, workdir)
    n1 = r1["graph"].count()
    assert n1 > 0
    # manifests exist with per-file lineage
    import json

    man = json.load(open(os.path.join(workdir, "link", "_lineage.json")))
    assert man["rows"] > 0 and man["files"]

    # resume: delete one downstream stage; rerun recomputes only it
    import shutil

    shutil.rmtree(os.path.join(workdir, "graph"))
    r2 = run_kg_pipeline(spark, corpus_dir, workdir)
    assert r2["graph"].count() == n1
    # untouched upstream manifest unchanged (stage skipped, not recomputed)
    man2 = json.load(open(os.path.join(workdir, "link", "_lineage.json")))
    assert man2["written_at"] == man["written_at"]


def test_submit_entrypoint_runs_and_resumes(spark, tmp_path):
    """python -m sopspark.kg.submit (the spark-submit deploy twin): runs the
    full pipeline, prints a stage summary, and a re-submit resumes from the
    checkpoints (all stage wall times unchanged = skipped)."""
    import io
    import json
    from contextlib import redirect_stdout

    from sopspark.kg.submit import main

    corpus, work = str(tmp_path / "corpus"), str(tmp_path / "work")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["--synth", "300", "--corpus", corpus, "--workdir", work], spark=spark)
    assert rc == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["stages"]["canonical"]["rows"] > 0
    assert set(out["stages"]) == {"assemble", "extract", "link", "sameas_cc", "graph", "canonical"}
    first = out["stages"]
    # resume: same manifests → every stage skipped, identical summary
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        rc2 = main(["--synth", "300", "--corpus", corpus, "--workdir", work], spark=spark)
    assert rc2 == 0
    again = json.loads(buf2.getvalue().strip().splitlines()[-1])["stages"]
    assert again == first


def _jobs(spark, group, fn):
    """(``fn()``, the number of Spark jobs it scheduled), counted through a
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pipeline_checkpoint_rereads_schedule_no_job(spark, tmp_path):
    """A stage's checkpoint is read back with its recorded schema: a first
    run schedules one job per stage (its write), a resume none. A manifest
    without a schema (written before schemas were recorded) still resumes,
    inferring it."""
    import json

    from sopspark.kg.pipeline import Stage, run_pipeline, snapshots

    wd = str(tmp_path / "wd")
    src = spark.range(20).withColumnRenamed("id", "x")

    def plus(spark_, inputs, dep, k):
        return inputs[dep].select((F.col("x") + k).alias("x"))

    stages = [
        Stage("a", plus, deps=["src"], params={"dep": "src", "k": 1}),
        Stage("b", plus, deps=["a"], params={"dep": "a", "k": 10}),
    ]
    run = lambda: run_pipeline(spark, wd, stages, {"src": src})  # noqa: E731
    first, jobs = _jobs(spark, "pipeline-first-run", run)
    assert jobs == len(stages)
    want = sorted(r.x for r in first["b"].collect())
    assert want == list(range(11, 31))

    resumed, jobs = _jobs(spark, "pipeline-resume", run)
    assert jobs == 0
    assert sorted(r.x for r in resumed["b"].collect()) == want
    assert resumed["b"].schema == first["b"].schema

    man_path = os.path.join(wd, "b", "_lineage.json")
    man = json.load(open(man_path))
    assert man["schema"] == first["b"].schema.jsonValue()
    del man["schema"]
    with open(man_path, "w") as f:
        json.dump(man, f)
    legacy, jobs = _jobs(spark, "pipeline-resume-no-schema", run)
    assert jobs == 1  # the schema-inference job
    assert [s["version"] for s in snapshots(wd, "b")] == [1]
    assert sorted(r.x for r in legacy["b"].collect()) == want
    assert legacy["b"].schema == first["b"].schema


def test_pipeline_rewritten_source_recomputes(spark, tmp_path):
    """A source is fingerprinted by its files (path, size, mtime): a
    rewritten source recomputes the stage that reads it, an unchanged one
    resumes with no job."""
    from sopspark.kg.pipeline import Stage, run_pipeline

    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    stages = [Stage("copy", lambda spark_, inputs: inputs["src"], deps=["src"])]

    def run(n):
        read = spark.read.schema("id long").parquet(src)
        out, jobs = _jobs(spark, f"pipeline-source-{n}", lambda: run_pipeline(spark, wd, stages, {"src": read}))
        return sorted(r.id for r in out["copy"].collect()), jobs

    spark.range(3).write.parquet(src)
    assert run(1) == ([0, 1, 2], 1)
    assert run(2) == ([0, 1, 2], 0)
    spark.range(5).write.mode("overwrite").parquet(src)
    assert run(3) == ([0, 1, 2, 3, 4], 1)
    assert run(4) == ([0, 1, 2, 3, 4], 0)


def test_snapshot_time_travel_and_expire(spark, tmp_path):
    """Every re-materialization appends a snapshot: time travel reads old
    versions (with the schema each entry records, or by inference for an
    entry without one), handles from earlier runs stay valid, and
    expire_snapshots drops all but the newest."""
    import json
    from pyspark.sql import functions as F

    from sopspark.kg.pipeline import (
        Stage,
        expire_snapshots,
        read_snapshot,
        run_pipeline,
        snapshots,
    )

    wd = str(tmp_path / "wd")
    src = spark.range(10).withColumnRenamed("id", "x")

    def double(spark_, inputs, factor=2):
        return inputs["src"].select((F.col("x") * factor).alias("y"))

    stages = [Stage("double", double, deps=["src"], params={"factor": 2})]
    run_pipeline(spark, wd, stages, {"src": src})
    v1 = read_snapshot(spark, wd, "double")
    assert sorted(r.y for r in v1.collect())[:3] == [0, 2, 4]
    assert [s["version"] for s in snapshots(wd, "double")] == [1]

    # unchanged config+inputs → resume skips, no new snapshot
    run_pipeline(spark, wd, stages, {"src": src})
    assert [s["version"] for s in snapshots(wd, "double")] == [1]

    # changed params → new snapshot; v1 still readable (no overwrite)
    stages2 = [Stage("double", double, deps=["src"], params={"factor": 3})]
    run_pipeline(spark, wd, stages2, {"src": src})
    log = snapshots(wd, "double")
    assert [s["version"] for s in log] == [1, 2]
    assert sorted(r.y for r in read_snapshot(spark, wd, "double", version=1).collect())[:3] == [0, 2, 4]
    assert sorted(r.y for r in read_snapshot(spark, wd, "double", version=2).collect())[:3] == [0, 3, 6]
    # default = current
    assert sorted(r.y for r in read_snapshot(spark, wd, "double").collect())[:3] == [0, 3, 6]

    # each entry records the stage output's schema, and time travel reads
    # with it (no job); the read is nullable, as an inferred one is
    assert [s["schema"] for s in log] == [double(spark, {"src": src}).schema.jsonValue()] * 2
    schema = read_snapshot(spark, wd, "double").schema
    read_v1 = lambda: read_snapshot(spark, wd, "double", version=1)  # noqa: E731
    assert _jobs(spark, "snapshot-read", read_v1)[1] == 0
    # an entry written before schemas were recorded is read by inference
    del log[0]["schema"]
    with open(os.path.join(wd, "double", "_snapshots.json"), "w") as f:
        json.dump(log, f)
    v1_inferred, jobs = _jobs(spark, "snapshot-read-no-schema", read_v1)
    assert jobs == 1
    assert v1_inferred.schema == schema
    assert sorted(r.y for r in v1_inferred.collect())[:3] == [0, 2, 4]

    # retention drops v1; reading it now fails with the available list
    assert expire_snapshots(wd, "double", keep=1) == [1]
    import pytest

    with pytest.raises(FileNotFoundError, match="available"):
        read_snapshot(spark, wd, "double", version=1)
    assert sorted(r.y for r in read_snapshot(spark, wd, "double").collect())[:3] == [0, 3, 6]


def test_write_graph_table_subject_pruning_layout(spark, tmp_path):
    """write_graph_table produces non-overlapping per-file subject ranges
    (parquet footer min/max → file-level pruning for subject lookups)."""
    import glob

    import pyarrow.parquet as pq

    from sopspark.kg.canon import materialize_graph, sameas_closure
    from sopspark.kg.extract import assemble_turns, extract_triples
    from sopspark.kg.link import link_entities
    from sopspark.kg.synth import alias_df, sameas_df, synth_corpus
    from sopspark.kg.canon import write_graph_table

    transcripts, _ = synth_corpus(spark, n_convs=60, seed=42)
    quads = materialize_graph(
        link_entities(extract_triples(assemble_turns(transcripts)), alias_df(spark)),
        sameas_closure(sameas_df(spark)),
    )
    out = str(tmp_path / "graph")
    write_graph_table(quads, out, partitions=4)

    ranges = []
    for f in sorted(glob.glob(out + "/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        si = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "s.value"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(si).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    # consecutive files' subject ranges must not interleave
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_write_graph_table_default_is_one_file_for_a_small_table(spark, tmp_path):
    """Without ``partitions`` AQE merges adjacent subject ranges: a table
    of a few thousand quads is one file, sorted by subject."""
    import glob

    import pyarrow.parquet as pq

    from sopspark.kg.canon import write_graph_table

    transcripts, _ = synth_corpus(spark, n_convs=300, seed=42)
    quads = materialize_graph(
        link_entities(extract_triples(assemble_turns(transcripts)), alias_df(spark)),
        sameas_closure(sameas_df(spark)),
        conv_ns="http://example.org/conv/",
    )
    out = str(tmp_path / "graph")
    write_graph_table(quads, out)
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == 1
    subjects = [r["value"] for r in pq.read_table(files[0], columns=["s"]).column("s").to_pylist()]
    assert len(subjects) == quads.count() > 1000
    assert subjects == sorted(subjects)


DICT_SCHEMA = "alias string, iri string, prior double, etype string"
DICT_ROWS = [
    ("x", "a", None, "person"), ("x", "b", 0.5, "person"),  # a NULL prior loses
    ("y", None, 0.7, "person"), ("y", "c", 0.7, "person"),  # a tie: the NULL IRI loses
    ("z", "e", 0.2, "city"), ("z", "d", 0.2, "city"), ("z", "f", None, "city"),
    ("z", "g", 0.9, "person"),  # another etype: its own argmax
]


def _dictionary(spark, tmp_path, source):
    from sopspark.session import local_df

    d = local_df(spark, DICT_ROWS, DICT_SCHEMA)
    if source == "literal":
        return d
    d.write.parquet(str(tmp_path / "dict"))
    return spark.read.schema(DICT_SCHEMA).parquet(str(tmp_path / "dict"))


@pytest.mark.parametrize("source", ["parquet", "literal"])
def test_best_candidates_matches_oracle_order(spark, tmp_path, source):
    """The driver argmax picks what the oracle's ``ORDER BY prior DESC,
    iri ASC`` ranks first: NULL priors and NULL IRIs last."""
    import duckdb

    from sopspark.kg.link import best_candidates

    con = duckdb.connect()
    con.execute("CREATE TABLE al (alias VARCHAR, iri VARCHAR, prior DOUBLE, etype VARCHAR)")
    con.executemany("INSERT INTO al VALUES (?, ?, ?, ?)", DICT_ROWS)
    want = con.execute(
        "SELECT alias, etype, iri FROM (SELECT alias, etype, iri, ROW_NUMBER() OVER "
        "(PARTITION BY alias, etype ORDER BY prior DESC, iri ASC) AS rk FROM al) WHERE rk = 1"
    ).fetchall()
    got = [tuple(r) for r in best_candidates(_dictionary(spark, tmp_path, source)).collect()]
    assert sorted(got) == sorted(want) == [("x", "person", "b"), ("y", "person", "c"),
                                           ("z", "city", "d"), ("z", "person", "g")]


@pytest.mark.parametrize("context_scoring", [False, True])
@pytest.mark.parametrize("source", ["parquet", "literal"])
def test_link_argmax_nulls_last(spark, tmp_path, source, context_scoring):
    """Both linking plans, over a parquet and a driver-literal dictionary,
    rank a NULL prior and a NULL IRI last."""
    from sopspark.kg.extract import MENTION_SCHEMA
    from sopspark.session import local_df

    mentions = local_df(
        spark,
        [("c1", 0, 0, "x", LIVES_IN, "z", None, "city"), ("c1", 1, 4096, "y", AGE, None, "42", None)],
        MENTION_SCHEMA,
    )
    linked = link_entities(mentions, _dictionary(spark, tmp_path, source), context_scoring)
    assert sorted(tuple(r) for r in linked.collect()) == [
        ("c1", 0, "b", LIVES_IN, "d", None),
        ("c1", 1, "c", AGE, None, "42"),
    ]


def test_merge_incremental_semantics(spark):
    """One row per key, ``existing``'s where both inputs have it; duplicate
    keys in either input collapse; NULL key parts group together; columns
    keep ``existing``'s order; a re-delivered batch changes nothing."""
    from sopspark.kg.canon import merge_incremental
    from sopspark.session import local_df

    schema = "s string, p string, o string, src string"
    existing = local_df(
        spark,
        [("a", "p", "1", "old1"), ("a", "p", "1", "old2"), ("n", None, "1", "old")],
        schema,
    )
    new = local_df(
        spark,
        [("a", "p", "1", "new"), ("n", None, "1", "new"), ("c", "p", "3", "new"),
         ("c", "p", "3", "new"), (None, None, None, "new"), (None, None, None, "new")],
        schema,
    )
    rows = lambda df: sorted((tuple(r) for r in df.collect()), key=str)  # noqa: E731
    merged = merge_incremental(existing, new)
    assert merged.columns == existing.columns
    got = rows(merged)
    assert len(got) == 4
    assert [r for r in got if r[0] == "a"] in ([("a", "p", "1", "old1")], [("a", "p", "1", "old2")])
    assert [r for r in got if r[0] != "a"] == rows(
        local_df(spark, [("c", "p", "3", "new"), ("n", None, "1", "old"), (None, None, None, "new")], schema)
    )
    assert rows(merge_incremental(merged, new)) == got

    # the key is every column, in an order other than existing's
    flipped = merge_incremental(existing.select("src", "o", "s", "p"), new, keys=("s", "p", "o", "src"))
    assert flipped.columns == ["src", "o", "s", "p"]
    assert len(flipped.collect()) == 7


def test_adamic_adar_closed_form_and_hot_center_cap(spark):
    """Hand-computed scores on a 4-node path + square, and the center
    degree cap: a hub center above the cap contributes NO wedges (the
    B²/2 blowup guard), mirroring the dup-span skew-guard contract."""
    import math

    from sopspark.kg.graphalgo import adamic_adar

    # square 1-2-3-4-1: every non-adjacent pair (the two diagonals) shares
    # exactly two degree-2 neighbors -> score = 2/ln(2)
    sq = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src bigint, dst bigint"
    )
    got = {(r.a, r.b): (r.common, r.score) for r in adamic_adar(sq).collect()}
    want = round(2 / math.log(2), 6)
    assert got == {(1, 3): (2, want), (2, 4): (2, want)}

    # star: center 0 with 5 leaves; cap below the center degree kills
    # every candidate pair instead of emitting 5*4/2 = 10
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src bigint, dst bigint"
    )
    assert adamic_adar(star, max_center_degree=4).count() == 0
    assert adamic_adar(star).count() == 10


def test_hits_fixed_point_two_hubs_one_authority(spark):
    """Two sources pointing at one sink is a HITS fixed point: the sink
    is the unit authority, the sources split hub mass 1/sqrt(2) each, and
    cross scores are zero (no in-edges at sources / out-edges at sink)."""
    from sopspark.kg.graphalgo import hits

    e = spark.createDataFrame([("a", "c"), ("b", "c")], "src string, dst string")
    got = {r.node: (round(r.hub, 9), round(r.auth, 9)) for r in hits(e, iters=4).collect()}
    s = round(1 / 2**0.5, 9)
    assert got == {"a": (s, 0.0), "b": (s, 0.0), "c": (0.0, 1.0)}


def test_scc_closed_forms(spark):
    """Coloring-SCC closed forms: two cycles joined by a bridge, a
    figure-eight (shared node merges both cycles into one SCC), a
    reversed-id path (the trim-absorbed worst case), and a self-loop
    singleton."""
    from sopspark.kg.graphalgo import strongly_connected_components as scc

    def run(edges):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        return {(r.node, r.scc) for r in scc(df).collect()}

    assert run([(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7)]) == {
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4), (7, 7)
    }
    assert run([(1, 2), (2, 1), (2, 3), (3, 2)]) == {(1, 1), (2, 1), (3, 1)}
    assert run([(5, 4), (4, 3), (3, 2), (2, 1)]) == {
        (1, 1), (2, 2), (3, 3), (4, 4), (5, 5)
    }
    assert run([(8, 8), (8, 9)]) == {(8, 8), (9, 9)}
