"""Serialize sink — canonical N-Quads / N-Triples writer.

Reference: ``sop serialize -f nq|nt -c`` (``src/serialize.rs:89-131``). We
always emit the canonical literal form (``src/serialize.rs:75-84,159-163``):
escapes limited to ``\\ " \\n \\r``, ``^^xsd:string`` omitted. When the target
is a triples-only format (NT), named-graph quads are dropped, mirroring
``src/serialize.rs:205-227``.

The whole encode is Catalyst (``concat``/``when``/``regexp_replace`` from
:mod:`sopspark.terms`), so serialization is part of whole-stage codegen and
the write is a parallel ``df.write.text`` — one output file per partition,
the distributed analogue of the reference's single output stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sopspark.session import local_df
from sopspark.terms import nq_line, nt_term


def to_nq_lines(df: DataFrame, triples_only: bool = False) -> DataFrame:
    """Quad DataFrame → single-column ``line`` DataFrame of canonical NQ/NT."""
    ok = df.where(F.col("err").isNull()) if "err" in df.columns else df
    if triples_only:
        # triples-only target: drop named-graph quads (reference warns once;
        # we expose the drop count via .count() on the complement if wanted)
        ok = ok.where(F.col("g").isNull())
    return ok.select(nq_line(F.col("s"), F.col("p"), F.col("o"), F.col("g")).alias("line"))


def serialize_nquads(
    df: DataFrame,
    path: str,
    triples_only: bool = False,
    sort: bool = False,
    single_file: bool = False,
) -> None:
    """Write canonical N-Quads text. ``sort=True`` produces the globally
    code-point-sorted document (the c14n output contract); sorting is a
    distributed range-partitioned sort, not a driver collect."""
    lines = to_nq_lines(df, triples_only=triples_only)
    if sort:
        lines = lines.orderBy("line")
    if single_file:
        lines = lines.coalesce(1)
    lines.write.mode("overwrite").text(path)


def collect_nq_lines(df: DataFrame, triples_only: bool = False, sort: bool = True) -> list[str]:
    """Test helper: materialize the canonical lines to the driver."""
    lines = to_nq_lines(df, triples_only=triples_only)
    rows = lines.collect()
    out = [r["line"] for r in rows]
    return sorted(out) if sort else out


def iter_nq_lines(df: DataFrame, triples_only: bool = False):
    """Stream canonical lines to the driver one partition at a time
    (``toLocalIterator`` — driver memory stays flat regardless of size)."""
    for row in to_nq_lines(df, triples_only=triples_only).toLocalIterator():
        yield row["line"]


# ---------------------------------------------------------------------------
# Turtle writer (``sop serialize -f ttl -p PREFIXES``, src/serialize.rs:133-203)
# ---------------------------------------------------------------------------

DEFAULT_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "foaf": "http://xmlns.com/foaf/0.1/",
}

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _ttl_iri(value, prefixes: dict[str, str]):
    """IRI string column → prefixed name when the namespace matches and the
    local part is PN_LOCAL-safe, else ``<...>`` (term-level compression —
    never rewrites inside literal text)."""
    out = F.concat(F.lit("<"), value, F.lit(">"))
    for pfx, ns in prefixes.items():
        local = value.substr(F.lit(len(ns) + 1), F.length(value))
        cond = value.startswith(ns) & local.rlike("^[A-Za-z_][A-Za-z0-9_-]*$")
        out = F.when(cond, F.concat(F.lit(pfx + ":"), local)).otherwise(out)
    return out


def _ttl_term(t, prefixes: dict[str, str], predicate: bool = False):
    from sopspark.terms import BNODE, IRI, LITERAL, escape_literal

    iri_enc = _ttl_iri(t["value"], prefixes)
    if predicate:
        iri_enc = F.when(t["value"] == _RDF_TYPE, F.lit("a")).otherwise(iri_enc)
    lit_enc = F.concat(
        F.lit('"'),
        escape_literal(t["value"]),
        F.lit('"'),
        F.when(t["lang"].isNotNull(), F.concat(F.lit("@"), t["lang"]))
        .when(t["dt"].isNotNull(), F.concat(F.lit("^^"), _ttl_iri(t["dt"], prefixes)))
        .otherwise(F.lit("")),
    )
    return (
        F.when(t["kind"] == IRI, iri_enc)
        .when(t["kind"] == BNODE, F.concat(F.lit("_:"), t["value"]))
        .when(t["kind"] == LITERAL, lit_enc)
        # QUOTED carries its canonical NT `<< ... >>` encoding, which is
        # valid Turtle-star verbatim (no prefix compression inside)
        .otherwise(t["value"])
    )


def to_turtle_plain_blocks(df: DataFrame, prefixes: dict[str, str] | None = None) -> DataFrame:
    """--no-pretty Turtle (serialize -P, src/serialize.rs:70-73): one triple
    per line with prefix compression but no ``;``/``,`` grouping — a pure
    projection, zero aggregation."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    ok = df.where(F.col("err").isNull()) if "err" in df.columns else df
    ok = ok.where(F.col("g").isNull())
    line = F.concat(
        _ttl_term(F.col("s"), prefixes),
        F.lit(" "),
        _ttl_term(F.col("p"), prefixes, predicate=True),
        F.lit(" "),
        _ttl_term(F.col("o"), prefixes),
        F.lit(" ."),
    )
    return ok.select(line.alias("sort_key"), line.alias("block")).dropDuplicates()


def to_trig_plain_blocks(df: DataFrame, prefixes: dict[str, str] | None = None) -> DataFrame:
    """--no-pretty TriG: one statement per line — default-graph triples as
    plain lines, named-graph triples as single-line ``<g> { s p o . }``
    blocks. Pure projection, zero aggregation (the -P promise)."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    ok = df.where(F.col("err").isNull()) if "err" in df.columns else df
    triple = F.concat(
        _ttl_term(F.col("s"), prefixes),
        F.lit(" "),
        _ttl_term(F.col("p"), prefixes, predicate=True),
        F.lit(" "),
        _ttl_term(F.col("o"), prefixes),
        F.lit(" ."),
    )
    line = F.when(
        F.col("g").isNotNull(),
        F.concat(_ttl_term(F.col("g"), prefixes), F.lit(" { "), triple, F.lit(" }")),
    ).otherwise(triple)
    sort_key = F.concat(
        F.when(F.col("g").isNotNull(), F.lit("1")).otherwise(F.lit("0")), line
    )
    return ok.select(sort_key.alias("sort_key"), line.alias("block")).dropDuplicates()


def parse_prefix_map(spec: str) -> dict[str, str]:
    """``PREFIX:URI,PREFIX:URI,...`` → dict (serialize -p / $SOP_PREFIXES,
    src/serialize.rs:63-67, common/prefix_map.rs)."""
    out: dict[str, str] = {}
    for pair in spec.split(","):
        pair = pair.strip()
        if not pair:
            continue
        pfx, sep, ns = pair.partition(":")
        if not sep or not ns:
            raise ValueError(f"invalid prefix map entry {pair!r} (want PREFIX:URI)")
        out[pfx] = ns
    return out


def to_turtle_blocks(df: DataFrame, prefixes: dict[str, str] | None = None) -> DataFrame:
    """Quad DataFrame → one Turtle block per subject (``;``/``,``-grouped),
    sorted deterministically. Triples-only: named-graph quads are dropped
    (``src/serialize.rs:205-227``). Fully distributed — two hash aggregates
    (subject+predicate, then subject), no driver materialization."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    ok = df.where(F.col("err").isNull()) if "err" in df.columns else df
    ok = ok.where(F.col("g").isNull())
    enc = ok.select(
        _ttl_term(F.col("s"), prefixes).alias("se"),
        _ttl_term(F.col("p"), prefixes, predicate=True).alias("pe"),
        _ttl_term(F.col("o"), prefixes).alias("oe"),
    )
    po = enc.groupBy("se", "pe").agg(
        F.concat_ws(", ", F.sort_array(F.collect_set("oe"))).alias("os")
    )
    blocks = po.groupBy("se").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pe", "os"))),
                lambda x: F.concat(x["pe"], F.lit(" "), x["os"]),
            ),
            " ;\n    ",
        ).alias("body")
    )
    return blocks.select(
        F.col("se").alias("sort_key"),
        F.concat(F.col("se"), F.lit(" "), F.col("body"), F.lit(" .")).alias("block"),
    )


def to_trig_blocks(df: DataFrame, prefixes: dict[str, str] | None = None) -> DataFrame:
    """Quad DataFrame → TriG: default-graph subject blocks plus one
    ``<g> { ... }`` block per named graph (same two-aggregate shape as
    Turtle with the graph name prepended to every grouping key)."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    ok = df.where(F.col("err").isNull()) if "err" in df.columns else df
    enc = ok.select(
        F.when(F.col("g").isNotNull(), _ttl_term(F.col("g"), prefixes)).alias("ge"),
        _ttl_term(F.col("s"), prefixes).alias("se"),
        _ttl_term(F.col("p"), prefixes, predicate=True).alias("pe"),
        _ttl_term(F.col("o"), prefixes).alias("oe"),
    )
    po = enc.groupBy("ge", "se", "pe").agg(
        F.concat_ws(", ", F.sort_array(F.collect_set("oe"))).alias("os")
    )
    subj = po.groupBy("ge", "se").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pe", "os"))),
                lambda x: F.concat(x["pe"], F.lit(" "), x["os"]),
            ),
            " ;\n    ",
        ).alias("body")
    ).select(
        "ge",
        "se",
        F.concat(F.col("se"), F.lit(" "), F.col("body"), F.lit(" .")).alias("sblock"),
    )
    default = subj.where(F.col("ge").isNull()).select(
        F.concat(F.lit("0"), F.col("se")).alias("sort_key"), F.col("sblock").alias("block")
    )
    named = (
        subj.where(F.col("ge").isNotNull())
        .groupBy("ge")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("se", "sblock"))),
                    lambda x: x["sblock"],
                ),
                "\n",
            ).alias("inner")
        )
        .select(
            F.concat(F.lit("1"), F.col("ge")).alias("sort_key"),
            F.concat(F.col("ge"), F.lit(" {\n"), F.col("inner"), F.lit("\n}")).alias("block"),
        )
    )
    return default.unionByName(named)


def _write_blocks(
    df: DataFrame, blocks: DataFrame, path: str, prefixes: dict[str, str], single_file: bool
) -> None:
    """Write (sort_key, block) rows as a Turtle-family document.

    ``single_file=False`` (the scale default): a distributed range-
    partitioned sort, with the ``@prefix`` header REPEATED at the top of
    every partition so each part file is a self-contained valid document —
    no driver funnel, no coalesce(1). ``single_file=True`` mirrors the
    reference's single output stream (one task; use only for CLI-sized
    data)."""
    spark = df.sparkSession
    header_lines = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(prefixes.items())]
    if single_file:
        header = local_df(spark, [("", l) for l in header_lines], "sort_key string, block string")
        out = header.unionByName(blocks).orderBy("sort_key").coalesce(1)
        out.select("block").write.mode("overwrite").text(path)
        return
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    sorted_blocks = (
        blocks.repartitionByRange(n_parts, "sort_key")
        .sortWithinPartitions("sort_key")
        .select("block")
    )

    def _part(it):
        first = True
        for row in it:
            if first:
                yield from ((l,) for l in header_lines)
                first = False
            yield (row.block,)

    rdd = sorted_blocks.rdd.mapPartitions(_part)
    spark.createDataFrame(rdd, "block string").write.mode("overwrite").text(path)


def serialize_trig(
    df: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    single_file: bool = False,
    pretty: bool = True,
) -> None:
    """Write a TriG document (prefix header, default graph first, then
    named-graph blocks in code-point order). ``pretty=False`` = -P
    (one statement per line), honored for file sinks like stdout."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    blocks_fn = to_trig_blocks if pretty else to_trig_plain_blocks
    _write_blocks(df, blocks_fn(df, prefixes), path, prefixes, single_file)


def serialize_turtle(
    df: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    single_file: bool = False,
    pretty: bool = True,
) -> None:
    """Write a Turtle document: @prefix header, then subject blocks in
    code-point order (deterministic output for golden comparison).
    ``pretty=False`` = the reference's ``-P``/--no-pretty (one triple per
    line, no ``;``/``,`` grouping — serialize.rs:70-73), honored for file
    sinks exactly like stdout."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    blocks_fn = to_turtle_blocks if pretty else to_turtle_plain_blocks
    _write_blocks(df, blocks_fn(df, prefixes), path, prefixes, single_file)


# ---------------------------------------------------------------------------
# JSON-LD / YAML-LD writers (src/serialize.rs:153-157,196-203)
# ---------------------------------------------------------------------------


def _json_escape(col):
    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', '\\\\"')
    out = F.regexp_replace(out, "\n", r"\\n")
    out = F.regexp_replace(out, "\r", r"\\r")
    out = F.regexp_replace(out, "\t", r"\\t")
    return out


def _json_subject_id(t):
    from sopspark.terms import BNODE

    return F.when(
        t["kind"] == BNODE, F.concat(F.lit("_:"), t["value"])
    ).otherwise(t["value"])


def _json_object(t):
    from sopspark.terms import LITERAL

    ref = F.concat(F.lit('{"@id":"'), _json_escape(_json_subject_id(t)), F.lit('"}'))
    lit = F.concat(
        F.lit('{"@value":"'),
        _json_escape(t["value"]),
        F.lit('"'),
        F.when(t["lang"].isNotNull(), F.concat(F.lit(',"@language":"'), t["lang"], F.lit('"')))
        .when(t["dt"].isNotNull(), F.concat(F.lit(',"@type":"'), _json_escape(t["dt"]), F.lit('"')))
        .otherwise(F.lit("")),
        F.lit("}"),
    )
    return F.when(t["kind"] == LITERAL, lit).otherwise(ref)


def to_jsonld_nodes(df: DataFrame) -> DataFrame:
    """Quad DataFrame → (sort_key, block) with one expanded-form JSON-LD
    node object per subject; named-graph quads become ``{"@id": g,
    "@graph": [...]}`` wrapper objects — the same expanded shape sophia's
    JsonLdSerializer emits (``src/serialize.rs:153-157``). Distributed:
    three hash aggregates, no driver materialization."""
    ok = df.where(F.col("err").isNull()) if "err" in df.columns else df
    enc = ok.select(
        F.when(F.col("g").isNotNull(), _json_escape(_json_subject_id(F.col("g")))).alias("ge"),
        _json_escape(_json_subject_id(F.col("s"))).alias("se"),
        _json_escape(F.col("p")["value"]).alias("pe"),
        _json_object(F.col("o")).alias("oe"),
    )
    po = enc.groupBy("ge", "se", "pe").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("oe"))).alias("os")
    )
    nodes = po.groupBy("ge", "se").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pe", "os"))),
                lambda x: F.concat(F.lit('"'), x["pe"], F.lit('":['), x["os"], F.lit("]")),
            ),
            ",",
        ).alias("body")
    ).select(
        "ge",
        "se",
        F.concat(F.lit('{"@id":"'), F.col("se"), F.lit('",'), F.col("body"), F.lit("}")).alias("node"),
    )
    default = nodes.where(F.col("ge").isNull()).select(
        F.concat(F.lit("0"), F.col("se")).alias("sort_key"), F.col("node").alias("block")
    )
    named = (
        nodes.where(F.col("ge").isNotNull())
        .groupBy("ge")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("se", "node"))), lambda x: x["node"]
                ),
                ",",
            ).alias("inner")
        )
        .select(
            F.concat(F.lit("1"), F.col("ge")).alias("sort_key"),
            F.concat(
                F.lit('{"@id":"'), F.col("ge"), F.lit('","@graph":['), F.col("inner"), F.lit("]}")
            ).alias("block"),
        )
    )
    return default.unionByName(named)


def serialize_jsonld(df: DataFrame, path: str) -> None:
    """Write an expanded-form JSON-LD document (a JSON array of node
    objects). The node construction is distributed; the final comma
    interleaving streams through one task (document formats are inherently
    single-stream — the scalable bulk sink is NQ/NT)."""

    def _doc(it):
        yield "["
        first = True
        for row in it:
            yield ("" if first else ",") + row.block
            first = False
        yield "]"

    blocks = to_jsonld_nodes(df).orderBy("sort_key").coalesce(1)
    lines = blocks.rdd.mapPartitions(_doc).map(lambda l: (l,))
    df.sparkSession.createDataFrame(lines, "block string").coalesce(1).write.mode(
        "overwrite"
    ).text(path)


def serialize_ndjsonld(df: DataFrame, path: str) -> None:
    """Distributed NDJSON-LD bulk sink: one expanded-form node object (or
    named-graph wrapper) per line, written with a PARALLEL ``write.text``
    — no ``coalesce(1)``, no driver collect. This is the scale path for
    JSON-LD output; :func:`serialize_jsonld` keeps the single-document
    array form for stdout/file parity with the reference's in-memory
    ``json_buf`` (``src/serialize.rs:176-183``). Blank-node labels are
    written explicitly (``_:x``), so the output round-trips exactly
    through :func:`sopspark.sources.jsonld.parse_ndjsonld`, which scopes
    labeled bnodes dataset-wide."""
    to_jsonld_nodes(df).select("block").write.mode("overwrite").text(path)


def collect_jsonld_text(df: DataFrame) -> str:
    """The JSON-LD document as one string (CLI stdout / YAML-LD bridge)."""
    rows = to_jsonld_nodes(df).orderBy("sort_key").collect()
    return "[" + ",".join(r.block for r in rows) + "]"


def serialize_yamlld(df: DataFrame, path: str) -> None:
    """YAML-LD = the JSON-LD document converted to YAML, mirroring the
    reference's serde_json→serde_yaml hop (``src/serialize.rs:196-203``).
    The document is materialized on the driver for the YAML dump — same
    memory profile as the reference's in-memory json_buf."""
    import json

    import yaml

    doc = json.loads(collect_jsonld_text(df))
    with open(path, "w") as f:
        yaml.safe_dump(doc, f, sort_keys=False, allow_unicode=True)


# ---------------------------------------------------------------------------
# RDF/XML writer (src/serialize.rs:169-174)
# ---------------------------------------------------------------------------


def _xml_escape(col, attr: bool = False):
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    out = F.regexp_replace(out, ">", "&gt;")
    if attr:
        out = F.regexp_replace(out, '"', "&quot;")
    return out


def to_rdfxml_blocks(df: DataFrame) -> DataFrame:
    """Quad DataFrame → one ``<rdf:Description>`` block per subject.
    Triples-only format: named-graph quads are dropped (the reference's
    ``serialize_triples`` warn-and-skip, ``src/serialize.rs:205-227``).
    Predicate IRIs split at the last NCName; each property element carries
    its own ``xmlns:n`` declaration, so no global prefix table is needed."""
    from sopspark.terms import BNODE, LITERAL

    ok = df.where(F.col("err").isNull()) if "err" in df.columns else df
    ok = ok.where(F.col("g").isNull())
    p = F.col("p")["value"]
    local = F.regexp_extract(p, r"([A-Za-z_][A-Za-z0-9_.-]*)$", 1)
    ns = F.expr("substring(p.value, 1, length(p.value) - length(regexp_extract(p.value, '([A-Za-z_][A-Za-z0-9_.-]*)$', 1)))")
    o = F.col("o")
    obj_attr = F.when(
        o["kind"] == BNODE, F.concat(F.lit(' rdf:nodeID="'), _xml_escape(o["value"], True), F.lit('"/>'))
    ).otherwise(F.concat(F.lit(' rdf:resource="'), _xml_escape(o["value"], True), F.lit('"/>')))
    lit_attrs = (
        F.when(o["lang"].isNotNull(), F.concat(F.lit(' xml:lang="'), o["lang"], F.lit('"')))
        .when(o["dt"].isNotNull(), F.concat(F.lit(' rdf:datatype="'), _xml_escape(o["dt"], True), F.lit('"')))
        .otherwise(F.lit(""))
    )
    open_tag = F.concat(F.lit("    <n:"), local, F.lit(' xmlns:n="'), _xml_escape(ns, True), F.lit('"'))
    prop = F.when(
        o["kind"] == LITERAL,
        F.concat(open_tag, lit_attrs, F.lit(">"), _xml_escape(o["value"]), F.lit("</n:"), local, F.lit(">")),
    ).otherwise(F.concat(open_tag, obj_attr))

    s = F.col("s")
    s_attr = F.when(
        s["kind"] == BNODE, F.concat(F.lit(' rdf:nodeID="'), _xml_escape(s["value"], True), F.lit('"'))
    ).otherwise(F.concat(F.lit(' rdf:about="'), _xml_escape(s["value"], True), F.lit('"')))

    enc = ok.select(
        _json_subject_id(s).alias("se"),
        F.concat(F.lit("  <rdf:Description"), s_attr, F.lit(">")).alias("open"),
        prop.alias("pe"),
    )
    blocks = enc.groupBy("se", "open").agg(
        F.array_join(F.sort_array(F.collect_list("pe")), "\n").alias("body")
    )
    return blocks.select(
        F.col("se").alias("sort_key"),
        F.concat(F.col("open"), F.lit("\n"), F.col("body"), F.lit("\n  </rdf:Description>")).alias("block"),
    )


def serialize_rdfxml(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Write an RDF/XML document (rdf:RDF wrapper + per-subject blocks in
    code-point order)."""
    spark = df.sparkSession
    wrap = local_df(
        spark,
        [
            ("", '<?xml version="1.0" encoding="utf-8"?>\n'
                 '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'),
            ("￿", "</rdf:RDF>"),  # sorts after every subject key
        ],
        "sort_key string, block string",
    )
    out = wrap.unionByName(to_rdfxml_blocks(df)).orderBy("sort_key")
    if single_file:
        out = out.coalesce(1)
    out.select("block").write.mode("overwrite").text(path)
