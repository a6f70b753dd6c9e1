"""Plan-shape regression tests: machine-checks of the physical-plan
properties the 100 TB story depends on (filter pushdown, exchange counts,
broadcast joins, generator barriers). A correctness-green change that
re-introduces an extra shuffle or un-pushes a scan filter fails HERE.
"""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(plan: str) -> int:
    # count shuffle exchanges only (broadcast exchanges are cheap by design)
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


def test_asof_join_single_shuffle_and_pushdown(spark):
    from sopspark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    l = ev.where(F.col("event_type") == "purchase").select("event_id", "ts", "user_id")
    r = ev.where(F.col("event_type") == "click").select("event_id", "ts", "user_id", "value")
    j = asof_join(l, r, on="user_id", tiebreak="event_id")
    phys = _physical(j)
    # the operator itself costs exactly ONE hash exchange (the window)
    assert _n_exchanges(phys) == 1, phys
    # the event_type filters reach the parquet scans
    assert phys.count("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,") == 2


def test_bm25_tokenizes_once_per_pass(spark):
    from sopspark.text.search import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _optimized(bm25_topk(docs, ["hash", "join", "vector"], topk=5))
    # one tokenize per pass (scoring + stats), NOT one per query term —
    # the round-2 fingerprint lesson, guarded forever
    assert plan.count("split(lower") == 2, plan


def test_broadcast_join_is_broadcast(spark):
    from sopspark.queries import q_broadcast_join

    phys = _physical(q_broadcast_join(spark, SF))
    assert "BroadcastHashJoin" in phys


def test_curation_single_shuffle(spark):
    from sopspark.text.analysis import curate_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    phys = _physical(curate_documents(docs))
    # the composed gauntlet's contract: ONE exchange end-to-end
    assert _n_exchanges(phys) == 1, phys


def test_minhash_signatures_no_duplicated_shingle_expr(spark):
    from sopspark.text.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _optimized(minhash_signatures(docs, num_perm=16))
    # the shingle higher-order expression must appear once (the
    # explode_outer barrier) — InferFiltersFromGenerate would duplicate it
    # into a size()>0 filter under a plain explode
    assert plan.count("transform(sequence(0,") == 1, plan


def test_agg_pushdown_reaches_scan(spark):
    from sopspark.queries import q_agg_pushdown

    phys = _physical(q_agg_pushdown(spark, SF))
    # both must hold: the scan filter is pushed AND the aggregate is the
    # two-phase hash form (partial/map-side combine before the exchange)
    assert "PushedFilters: [IsNotNull" in phys or "PushedFilters: [EqualTo" in phys, phys
    assert "HashAggregate" in phys and phys.count("HashAggregate") >= 2, phys


def test_stratified_sample_no_shuffle(spark):
    from sopspark.text.analysis import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "lang_pred", F.lit("en")
    )
    phys = _physical(stratified_sample(docs, {"en": 0.5}))
    # pure filter: zero exchanges on the data path
    assert _n_exchanges(phys) == 0, phys


def test_kg_linking_no_shuffle_joins(spark):
    """Entity linking must stay broadcast — a sort-merge join here would
    shuffle the full mention stream."""
    from sopspark.kg.extract import assemble_turns, extract_triples
    from sopspark.kg.link import link_entities
    from sopspark.kg.synth import alias_df, synth_corpus

    transcripts, _ = synth_corpus(spark, n_convs=50, seed=42)
    linked = link_entities(extract_triples(assemble_turns(transcripts)), alias_df(spark))
    phys = _physical(linked)
    assert "SortMergeJoin" not in phys
    assert "BroadcastHashJoin" in phys or "BroadcastNestedLoopJoin" in phys


def test_kg_linking_parquet_dictionary_one_collect(spark, tmp_path):
    """Over a dictionary read from parquet, the alias argmax is one driver
    collect: the linking plan has no hash exchange, and linking plus a
    parquet write of its output schedule at most 4 jobs (the collect, two
    broadcast builds, the write)."""
    from sopspark.kg.extract import assemble_turns, extract_triples
    from sopspark.kg.link import link_entities
    from sopspark.kg.synth import alias_df, synth_corpus

    transcripts, _ = synth_corpus(spark, n_convs=50, seed=42)
    extract_triples(assemble_turns(transcripts)).write.parquet(str(tmp_path / "mentions"))
    alias_df(spark).write.parquet(str(tmp_path / "dict"))
    mentions = spark.read.parquet(str(tmp_path / "mentions"))
    alias_dict = spark.read.parquet(str(tmp_path / "dict"))

    def run():
        linked = link_entities(mentions, alias_dict)
        plan = _physical(linked)
        linked.write.parquet(str(tmp_path / "linked"))
        return plan

    plan, jobs = _jobs(spark, f"link_{tmp_path.name}", run)
    assert "Exchange hashpartitioning" not in plan, plan
    assert jobs <= 4, jobs


@pytest.mark.parametrize("keys", [("s", "p", "o", "g"), ("s", "p", "o", "g", "err")])
def test_merge_incremental_single_shuffle(spark, tmp_path, keys):
    """The incremental merge is one shuffle on the key, with or without
    non-key columns, and broadcasts nothing."""
    from sopspark.kg.canon import merge_incremental

    graph = spark.range(50).selectExpr(
        *[f"named_struct('kind', 1, 'value', concat('{c}', id % 7)) AS {c}" for c in "spog"],
        "CAST(NULL AS STRING) AS err",
    )
    graph.write.parquet(str(tmp_path / "v0"))
    existing = spark.read.parquet(str(tmp_path / "v0"))
    merged = merge_incremental(existing, graph, keys=keys)
    plan = _physical(merged)
    assert _n_exchanges(plan) == 1 and "BroadcastExchange" not in plan, plan


def test_gopher_quality_map_only(spark):
    from sopspark.text.analysis import gopher_quality

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    phys = _physical(gopher_quality(docs))
    # pure per-row projection: zero exchanges, fuses into the scan
    assert _n_exchanges(phys) == 0, phys


def test_bloom_semi_join_probe_prefilter_shape(spark):
    from sopspark.operators.bloomjoin import bloom_semi_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    phys = _physical(bloom_semi_join(li, orders, "l_orderkey", "o_orderkey"))
    # the bitmap and the distinct key set arrive at the probe via broadcast
    assert phys.count("BroadcastExchange") >= 2, phys
    # the build-side o_orderpriority filter reaches the parquet scan
    assert "EqualTo(o_orderpriority,1-URGENT)" in phys, phys
    # the probe side itself is never shuffle-exchanged: the only hash
    # exchanges belong to the build-side word/distinct aggregations
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),", phys):
        assert m.group(1).split("#")[0] in ("_w", "l_orderkey", "o_orderkey"), m.group(0)


def test_semdedup_kernel_shape(spark):
    from sopspark.text.similarity import semdedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = semdedup(emb, k=8, tau=0.4)
    phys = _physical(df)
    # the assignment subtree (seed-scoring mapInArrow kernel + argmax)
    # materializes ONCE via localCheckpoint — downstream consumers read
    # the RDD scan
    assert "ExistingRDD" in phys, phys
    # within-cluster dup detection is a grouped-map pandas pass (each
    # vector ships once per cluster), not a pairwise self-join, and no
    # row-at-a-time Python appears anywhere
    assert "FlatMapGroupsInPandas" in phys, phys
    assert "BatchEvalPython" not in phys, phys
    # remaining exchanges: the grouped-map's cluster exchange (1) + the
    # dup-flag join (<=2); AQE broadcasts the tiny dup side at runtime
    assert _n_exchanges(phys) <= 3, phys


def test_chunk_documents_zero_shuffle(spark):
    from sopspark.text.chunk import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    phys = _physical(chunk_documents(docs))
    assert _n_exchanges(phys) == 0, phys
    # column pruning: the scan reads only the two consumed columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in phys, phys


def test_normalize_text_map_only(spark):
    from sopspark.text.analysis import normalize_text

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    phys = _physical(normalize_text(docs))
    assert _n_exchanges(phys) == 0, phys
    assert "ArrowEvalPython" in phys, phys  # NFC runs Arrow-batched, not row-wise


def test_group_split_no_shuffle(spark):
    from sopspark.text.analysis import group_split

    ev = spark.read.parquet(f"{SF}/events.parquet")
    phys = _physical(group_split(ev, "user_id", {"train": 0.9, "test": 0.1}))
    assert _n_exchanges(phys) == 0, phys


def test_cms_sketch_single_bounded_exchange(spark):
    from sopspark.text.sketch import cms_sketch

    ev = spark.read.parquet(f"{SF}/events.parquet")
    phys = _physical(cms_sketch(ev, "user_id", d=4, w=64))
    # one hash exchange on (lane, bucket) with a partial aggregate below it
    assert _n_exchanges(phys) == 1, phys
    assert "partial_count" in phys.split("Exchange hashpartitioning")[1], phys


def test_hard_negatives_broadcast_anchors(spark):
    from sopspark.text.similarity import hard_negatives

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    anchors = emb.where(F.col("vec_id") < 8)
    phys = _physical(hard_negatives(emb, anchors, k=5))
    # the small ANCHOR side broadcasts (the corpus stays distributed);
    # the only shuffle is the per-anchor rank window
    assert "BroadcastExchange" in phys, phys
    assert _n_exchanges(phys) == 1, phys


# ---------------------------------------------------------------------------
# Registry-wide hygiene sweep: every one of the registered queries must be
# free of the three classic scale-killers, forever. This is the generalized
# fence that would have caught round-3's quality_deciles global-ntile defect
# automatically. Runs at sf0.001 (plan compilation only for lazy queries;
# the handful that materialize during construction — kmeans, semdedup,
# canonicalize, global_ntile — execute on the tiny table in well under a
# second each). Plans behind a localCheckpoint appear as ExistingRDD; those
# upstream segments carry their own dedicated guards above.
# ---------------------------------------------------------------------------

_WINDOW_LINE = re.compile(r"\bWindow(GroupLimit)? (\[.*)$")


def _global_window_lines(plan: str) -> list[str]:
    """Lines with a no-partition window (the single-reducer sort shape).

    `Window` prints `[funcs], [part], [order]` when fully specified, and
    drops empty specs: `[funcs], [part]` (unordered, fine), `[funcs],
    [order]` (GLOBAL — flag), `[funcs]` (global unordered — flag). The
    two 2-group forms are distinguished by sort-direction markers: an
    order spec always prints `ASC/DESC NULLS ...`, a partition spec never
    does. `WindowGroupLimit [part], [order], fn, k` (rank-limit pushdown)
    always has an order spec: 2 groups = partitioned, 1 = global."""
    bad = []
    for line in plan.splitlines():
        m = _WINDOW_LINE.search(line)
        if not m:
            continue
        groups = m.group(2).split("], [")
        if m.group(1):  # WindowGroupLimit
            if len(groups) < 2:
                bad.append(line.strip())
        elif len(groups) < 3 and (
            len(groups) == 1 or re.search(r" (?:ASC|DESC) NULLS", groups[1])
        ):
            bad.append(line.strip())
    return bad


_PARTIAL_AGG_CHILD = re.compile(r"Aggregate\w*\(keys=\[\], functions=\[(?:merge_|partial_)")


def _single_partition_lines(plan: str) -> list[str]:
    """Lines that funnel the full dataset through one task — `Coalesce 1`
    or `Exchange SinglePartition` — EXCEPT the one benign shape: a
    global-scalar reduce whose exchange child is a keyless map-side
    partial/merge aggregate (only one pre-combined row per input partition
    crosses the wire; Spark plans every `SELECT agg(...)` that way and it
    stays O(#partitions) at any scale). Everything else — repartition(1),
    a global sort materialized as one partition, a keyless aggregate whose
    partial side was not planned — is the remaining scale-killer class the
    window/cartesian/BatchEvalPython guards don't see."""
    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if re.search(r"\bCoalesce 1\b", line):
            bad.append(line.strip())
            continue
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if _PARTIAL_AGG_CHILD.search(child):
            continue
        bad.append(line.strip())
    return bad


def test_single_partition_detector_shapes(spark):
    """Flags repartition(1)/coalesce(1) and a global row_number-style
    funnel; passes the benign global-scalar partial-agg reduce."""
    df = spark.range(1000).withColumn("g", F.col("id") % 7)
    assert _single_partition_lines(_physical(df.repartition(1)))
    assert _single_partition_lines(_physical(df.coalesce(1)))
    # global scalar aggregate: partial agg → SinglePartition → final agg
    benign = df.agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
    phys = _physical(benign)
    assert "Exchange SinglePartition" in phys  # the shape under test
    assert not _single_partition_lines(phys), phys
    # count(distinct) plans partial_count over a pre-distinct → still benign
    cd = df.agg(F.countDistinct("g").alias("n"))
    assert not _single_partition_lines(_physical(cd)), _physical(cd)


def test_global_window_detector_catches_the_defect_shape(spark):
    """The detector itself must flag the exact shape of round-3's
    quality_deciles defect (global ntile) and pass its fixed form."""
    from pyspark.sql import Window

    df = spark.range(100).withColumn("g", F.col("id") % 7)
    bad = df.withColumn("t", F.ntile(10).over(Window.orderBy("id")))
    assert _global_window_lines(_physical(bad)), _physical(bad)
    good = df.withColumn(
        "t", F.ntile(10).over(Window.partitionBy("g").orderBy("id"))
    )
    assert not _global_window_lines(_physical(good))
    # partition-only (unordered) windows are NOT global — must pass
    part_only = df.withColumn("s", F.sum("id").over(Window.partitionBy("g")))
    assert not _global_window_lines(_physical(part_only))


def _registry_names():
    from sopspark.queries import QUERIES

    return list(QUERIES)


@pytest.mark.parametrize("name", _registry_names())
def test_registry_plan_hygiene(spark, name):
    from sopspark.queries import QUERIES

    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    phys = _physical(df)
    # 1. no single-reducer window: every Window node carries a partition spec
    assert not _global_window_lines(phys), _global_window_lines(phys)
    # 2. no non-broadcast cartesian product (BroadcastNestedLoopJoin is the
    #    sanctioned bounded form; a CartesianProduct shuffles |L|x|R|)
    assert "CartesianProduct" not in phys, phys
    # 3. no row-at-a-time Python UDF in any hot path (Arrow-batched pandas
    #    UDFs plan as ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas)
    assert "BatchEvalPython" not in phys, phys
    # 4. no full-data single-partition funnel (repartition(1)/coalesce(1)/
    #    global sort-to-one); keyless global-scalar reduces over a map-side
    #    partial aggregate are the one sanctioned SinglePartition shape
    assert not _single_partition_lines(phys), _single_partition_lines(phys)


def test_bpe_round_building_blocks_plan_hygiene(spark):
    """q_bpe_train's registry plan is a LocalRelation (the 8-round driver
    loop runs eagerly), so the registry sweep cannot see the per-round
    plans that actually execute at scale — assert them directly: the
    pair-count aggregate map-side-combines with no single-partition funnel
    beyond its 1-row argmax, and the merge fold is a map-only projection
    (zero exchanges)."""
    from sopspark.text.tokenize import _apply_merge, _pair_counts

    vocab = spark.createDataFrame(
        [(3, ["l", "o", "w"]), (2, ["n", "e", "w"])], "cnt long, a array<string>"
    )
    pc = _physical(_pair_counts(vocab))
    assert "partial_sum" in pc, pc  # map-side combine before the shuffle
    assert not _single_partition_lines(pc), pc
    assert "BatchEvalPython" not in pc and "CartesianProduct" not in pc
    merged = _physical(_apply_merge(vocab, "l", "o"))
    assert _n_exchanges(merged) == 0, merged  # map-only
    assert "BatchEvalPython" not in merged


def test_tpch_profit_broadcast_dims(spark):
    from sopspark.queries import QUERIES

    phys = _physical(QUERIES["tpch_profit"](spark, SF))
    # the three dims broadcast; lineitem is never hash-exchanged before
    # the final (nation, year) aggregate + sort
    assert phys.count("BroadcastExchange") >= 3, phys
    assert _n_exchanges(phys) <= 3, phys  # orders join + agg + final sort


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(node):
    """Physical plan nodes depth-first, descending into the current plan of
    adaptive nodes and into the plan that fills each cached relation."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
    if name == "InMemoryTableScanExec":
        yield from _plan_nodes(node.relation().cachedPlan())
    for kid in _seq(node.children()):
        yield from _plan_nodes(kid)


def _is_exchange(node) -> bool:
    return node.getClass().getSimpleName() == "ShuffleExchangeExec"


def test_label_propagation_adjacency_prepartitioned(spark, monkeypatch):
    """The cached adjacency is hash-partitioned on the per-round join key
    (nbr) by the REPARTITION_BY_COL exchange that fills the cache. Only that
    exchange is pinned: what the planner puts above the cache scan, and how
    it joins the label table (shuffle or broadcast), is left free."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    from sopspark.kg import graphalgo

    # identity checkpoint so the full per-round plan stays inspectable, and
    # the adjacency stays cached while the plan is inspected
    monkeypatch.setattr(_CDF, "localCheckpoint", lambda self, eager=True: self)
    monkeypatch.setattr(_CDF, "unpersist", lambda self, blocking=False: self)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    out = graphalgo.label_propagation(e, iters=2, driver_threshold=0)
    try:
        nodes = list(_plan_nodes(out._jdf.queryExecution().executedPlan()))

        def is_adj_scan(n) -> bool:
            return n.getClass().getSimpleName() == "InMemoryTableScanExec" and "nbr" in [
                a.name() for a in _seq(n.relation().output())
            ]

        adj_scans = [n for n in nodes if is_adj_scan(n)]
        assert adj_scans, out._jdf.queryExecution().executedPlan().toString()
        for scan in adj_scans:
            # the first exchange under the cache is the one that fills it
            feed = next(n for n in _plan_nodes(scan.relation().cachedPlan()) if _is_exchange(n))
            assert feed.shuffleOrigin().toString() == "REPARTITION_BY_COL", feed.toString()
            assert re.match(r"hashpartitioning\(nbr#\d+L?, \d+\)", feed.outputPartitioning().toString())
    finally:
        spark.catalog.clearCache()


def test_local_df_is_local_relation_with_declared_types(spark):
    """local_df (the output builder of every driver-side plan) gives a
    LocalRelation with exactly the declared schema: NULL in every column,
    64-bit integers kept exact, awkward strings kept verbatim, and the
    empty row list still typed."""
    from sopspark.session import is_local, local_df

    schema = "s string, d double, n bigint, i int, b boolean"
    rows = [("it's \\ 'x'", 1.5, 2**62 + 1, 7, True), (None, None, None, None, None)]
    df = local_df(spark, rows, schema)
    assert is_local(df)
    assert df.schema.simpleString() == "struct<s:string,d:double,n:bigint,i:int,b:boolean>"
    assert all(f.nullable for f in df.schema.fields)
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_df(spark, [], schema)
    assert is_local(empty)
    assert empty.schema == df.schema and empty.collect() == []
    ranks = local_df(spark, [("a", 0.5)], "node string, rank double NOT NULL")
    assert not ranks.schema["rank"].nullable


def test_local_df_struct_and_array_columns(spark):
    """TERM structs (SPARQL VALUES/DESCRIBE constants) and double arrays
    (k-means centroids) build from Python tuples and lists, NULLs kept."""
    from sopspark.session import is_local, local_df
    from sopspark.terms import TERM_SQL_TYPE

    rows = [((0, "http://e/a", None, None), [1.0, 2.5]), ((2, "x", None, "en"), None), (None, [])]
    df = local_df(spark, rows, f"t {TERM_SQL_TYPE}, v array<double>")
    assert is_local(df)
    assert [(None if r.t is None else tuple(r.t), r.v) for r in df.collect()] == rows


# plan nodes that run Python workers (a PythonRDD scans as ExistingRDD)
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "ExistingRDD")

CLEAN_NT = [
    "# a comment",
    "",
    "<http://e/s> <http://e/p> <http://e/o> .",
    '_:b <http://e/name> "Ana"@en <http://e/g> .',
    '<http://e/s> <http://e/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    '<http://e/é> <http://e/p> "café" . # non-ASCII stays on the JVM',
]


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


def _parse_file(spark, tmp_path, lines):
    """Parse ``lines`` split over two files; assert that parsing (which
    runs the slow-line probe) scheduled exactly one Spark job over both."""
    from sopspark.sources.ntriples import parse_ntriples

    half = len(lines) // 2
    paths = [tmp_path / "a.nt", tmp_path / "b.nt"]
    for path, part in zip(paths, (lines[:half], lines[half:])):
        path.write_text("\n".join(part) + "\n", encoding="utf-8")
    df, n_jobs = _jobs(
        spark, f"parse_probe_{tmp_path.name}", lambda: parse_ntriples(spark, [str(p) for p in paths])
    )
    assert n_jobs == 1
    return df


def test_parse_clean_file_plans_no_python(spark, tmp_path):
    """A file with no line that needs Python parses entirely in Catalyst."""
    df = _parse_file(spark, tmp_path, CLEAN_NT)
    plan = _physical(df)
    assert not [n for n in PYTHON_NODES if n in plan], plan
    rows = df.collect()
    assert len(rows) == 4 and all(r.err is None for r in rows)


def test_parse_escaped_lines_alone_go_through_pandas(spark, tmp_path):
    """Escaped and quoted-triple lines are parsed by one ``mapInPandas``
    that reads only the lines the slow-line regex picks out."""
    from sopspark.sources.ntriples import SLOW_LINE_RE

    slow = [
        '<http://e/s> <http://e/p> "a \\"b\\"" .',
        "<< <http://e/a> <http://e/b> <http://e/c> >> <http://e/p> <http://e/o> .",
    ]
    df = _parse_file(spark, tmp_path, CLEAN_NT + slow)
    plan = _physical(df)
    assert plan.count("MapInPandas") == 1, plan
    below = plan[plan.index("MapInPandas"):].split("FileScan")[0]
    assert "RLIKE(value#" in below and SLOW_LINE_RE in below and "NOT RLIKE" not in below, plan
    rows = df.collect()
    assert len(rows) == 6 and all(r.err is None for r in rows)
    assert 'a "b"' in {r.o.value for r in rows}


def test_parse_plan_evaluates_line_regex_once(spark, tmp_path):
    """The line regex appears once in the optimized plan (every term column
    reads one split of its result) and the plan stays small."""
    from sopspark.sources.ntriples import _JVM_LINE_RE

    plan = _optimized(_parse_file(spark, tmp_path, CLEAN_NT))
    assert plan.count(_JVM_LINE_RE) == 1
    assert len(plan) <= 12_000, len(plan)


def test_canonicalize_driver_path_is_local(spark):
    """The driver-path RDFC-1.0 output is a driver literal, not a
    parallelized Python list."""
    from sopspark.operators.canonicalize import _driver_c14n
    from sopspark.session import is_local, local_df
    from sopspark.terms import BNODE, IRI, TERM_SQL_TYPE

    quads = local_df(
        spark,
        [((BNODE, "x", None, None), (IRI, "http://e/p", None, None), (BNODE, "y", None, None), None)],
        ", ".join(f"{c} {TERM_SQL_TYPE}" for c in "spog"),
    )
    out = _driver_c14n(spark, quads.collect(), "sha256", 1.0, 6)
    assert is_local(out)
    (line,) = [r.line for r in out.collect()]
    assert sorted(re.findall(r"_:c14n\d", line)) == ["_:c14n0", "_:c14n1"]


def test_canonicalize_reads_bnode_quads_once(spark):
    """One ``limit().collect()`` both picks the driver path and feeds its
    kernel: parse probe, that read, the ground-quad sort and the collect
    schedule at most 7 jobs (10 when the bnode quads were counted, then
    collected)."""
    from sopspark.operators.canonicalize import canonicalize
    from sopspark.sources.ntriples import parse_lines_df

    lines = [
        "_:a <http://e/p> _:b .",
        "_:b <http://e/p> _:a .",
        '<http://e/s> <http://e/p> "x" .',
        "_:c <http://e/q> <http://e/o> .",
    ]
    src = spark.createDataFrame([(l,) for l in lines], ["value"])
    rows, n_jobs = _jobs(spark, "c14n_jobs", lambda: canonicalize(parse_lines_df(src)).collect())
    assert [r.line for r in rows] == [
        '<http://e/s> <http://e/p> "x" .',
        "_:c14n0 <http://e/q> <http://e/o> .",
        "_:c14n1 <http://e/p> _:c14n2 .",
        "_:c14n2 <http://e/p> _:c14n1 .",
    ]
    assert n_jobs <= 7, n_jobs


def test_kg_pipeline_plans_no_python(spark, tmp_path, monkeypatch):
    """No stage of ``run_kg_pipeline`` plans a Python worker: extraction is
    a Catalyst projection, and a small synthetic corpus is written from
    driver literals."""
    from sopspark.kg import pipeline
    from sopspark.kg.synth import write_corpus

    plans = {}
    kg_stages = pipeline.kg_stages

    def traced_stages(conv_ns=None):
        stages = kg_stages(conv_ns)
        for st in stages:
            def fn(spark_, inputs, _fn=st.fn, _name=st.name, **kw):
                out = _fn(spark_, inputs, **kw)
                plans[_name] = _physical(out)
                return out

            st.fn = fn
        return stages

    monkeypatch.setattr(pipeline, "kg_stages", traced_stages)
    corpus = str(tmp_path / "corpus")
    write_corpus(spark, corpus, n_convs=40, seed=3)
    pipeline.run_kg_pipeline(spark, corpus, str(tmp_path / "wd"))
    assert set(plans) == {"assemble", "extract", "link", "sameas_cc", "graph", "canonical"}
    for name, plan in plans.items():
        assert not [n for n in PYTHON_NODES if n in plan], (name, plan)


def test_synth_corpus_driver_literal_up_to_threshold(spark):
    """Up to ``DRIVER_CONVS`` conversations the corpus is a driver literal;
    above it, or with explicit ``partitions``, it is generated on
    executors, with the same rows in the same order."""
    from sopspark.kg.synth import DRIVER_CONVS, synth_corpus
    from sopspark.session import is_local

    transcripts, expected = synth_corpus(spark, DRIVER_CONVS, seed=5)
    assert is_local(transcripts) and is_local(expected)
    assert not is_local(synth_corpus(spark, DRIVER_CONVS + 1, seed=5)[0])

    small = synth_corpus(spark, 30, seed=5)
    spread = synth_corpus(spark, 30, seed=5, partitions=3)
    assert not is_local(spread[0]) and "MapInPandas" in _physical(spread[0])
    for local, dist in zip(small, spread):
        assert local.toArrow().equals(dist.toArrow())
