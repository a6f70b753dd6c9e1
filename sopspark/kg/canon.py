"""Canonicalization stages: skolemize, owl:sameAs merge, graph materialize.

north_star: "canonicalization applies RDF skolemization plus a
GraphFrames/iterative connected-components union-find for owl:sameAs merging
before materializing N-Quads-equivalent graph tables".

Scale design:
  * skolemization is a pure Catalyst column rewrite (sha2 of the scoped
    bnode label) — after it, the dataset is ground and RDFC-1.0 c14n of the
    bulk degenerates to canonical serialization + a distributed sort
    (SURVEY.md §4.3.1 fast path).
  * the sameAs mapping is produced by :func:`sopspark.plans.graph.
    connected_components` (O(log n) rounds) and is tiny relative to the
    triple corpus → broadcast remap join by default; pass
    ``broadcast_mapping=False`` when the equivalence graph itself is huge
    and a shuffled join (AQE-skew-protected) is the right physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sopspark.kg.vocab import XSD
from sopspark.plans.graph import connected_components
from sopspark.terms import BNODE, IRI

SKOLEM_NS = "http://example.org/.well-known/genid/"


def skolemize(df: DataFrame, ns: str = SKOLEM_NS) -> DataFrame:
    """Replace every blank node with a deterministic skolem IRI derived from
    its (globally scoped) label. Pure Catalyst; no shuffle."""

    def fix(tag: str):
        t = F.col(tag)
        skolem = F.struct(
            F.lit(IRI).cast("tinyint").alias("kind"),
            F.concat(F.lit(ns), F.sha2(t["value"], 256)).alias("value"),
            F.lit(None).cast("string").alias("dt"),
            F.lit(None).cast("string").alias("lang"),
        )
        return F.when(t.isNotNull() & (t["kind"] == BNODE), skolem).otherwise(t)

    out = df
    for tag in ("s", "p", "o", "g"):
        out = out.withColumn(tag, fix(tag))
    return out


def sameas_closure(sameas: DataFrame) -> DataFrame:
    """owl:sameAs edge table (iri_a, iri_b) → (iri, rep) representative map.

    Chains and cycles collapse to the lexicographically smallest IRI of each
    equivalence class (deterministic)."""
    cc = connected_components(sameas)
    return cc.select(F.col("node").alias("iri"), F.col("rep").alias("rep"))


def remap_strings(
    triples: DataFrame, mapping: DataFrame, cols: list[str], broadcast_mapping: bool = True
) -> DataFrame:
    """Rewrite string IRI columns through the representative map.

    Plan-construction cost matters here (this sits on the per-run critical
    path of the bench's serial fraction), so expressions are SQL strings —
    one Py4J round-trip each instead of a dozen Column-API calls."""
    out = triples
    for c in cols:
        mm = mapping.selectExpr(f"iri AS _{c}_iri", f"rep AS _{c}_rep")
        m = F.broadcast(mm) if broadcast_mapping else mm
        out = (
            out.join(m, on=F.expr(f"{c} = _{c}_iri"), how="left")
            .withColumn(c, F.expr(f"coalesce(_{c}_rep, {c})"))
            .drop(f"_{c}_iri", f"_{c}_rep")
        )
    return out


def materialize_graph(
    linked: DataFrame,
    sameas_mapping: DataFrame | None = None,
    conv_ns: str | None = None,
    broadcast_mapping: bool = True,
) -> DataFrame:
    """Linked triples (conv_id, s, p, o_iri, o_lit) → quad DataFrame in the
    engine's term-struct schema, sameAs-merged and deduplicated.

    ``conv_ns`` set → each conversation's triples land in a named graph
    ``<conv_ns + conv_id>`` (the dispatch-able layout); otherwise default
    graph.
    """
    t = linked
    if sameas_mapping is not None:
        t = remap_strings(t, sameas_mapping, ["s", "o_iri"], broadcast_mapping)

    # SQL-string expressions: ~6 Py4J round-trips for the whole projection
    # instead of ~500 Column-API calls — this projection is rebuilt on every
    # pipeline run and its construction cost is pure serial driver time
    def iri_sql(c: str) -> str:
        return (
            f"CASE WHEN {c} IS NOT NULL THEN named_struct("
            f"'kind', CAST({IRI} AS TINYINT), 'value', {c}, "
            f"'dt', CAST(NULL AS STRING), 'lang', CAST(NULL AS STRING)) END"
        )

    o_sql = (
        f"CASE WHEN o_iri IS NOT NULL THEN {iri_sql('o_iri')} "
        f"ELSE named_struct('kind', CAST(2 AS TINYINT), 'value', o_lit, "
        f"'dt', '{XSD}integer', 'lang', CAST(NULL AS STRING)) END"
    )
    if conv_ns:
        # escape for a single-quoted Spark SQL literal — conv_ns is user
        # input (CLI --conv-ns) and may contain quotes/backslashes
        ns_lit = conv_ns.replace("\\", "\\\\").replace("'", "\\'")
        g_sql = iri_sql(f"concat('{ns_lit}', conv_id)")
    else:
        g_sql = "CAST(NULL AS struct<kind:tinyint,value:string,dt:string,lang:string>)"

    quads = t.selectExpr(
        f"{iri_sql('s')} AS s",
        f"{iri_sql('p')} AS p",
        f"{o_sql} AS o",
        f"{g_sql} AS g",
        "CAST(NULL AS STRING) AS err",
    )
    return quads.dropDuplicates(["s", "p", "o", "g"])


def merge_incremental(existing: DataFrame, new: DataFrame, keys=("s", "p", "o")) -> DataFrame:
    """Idempotently merge a new batch of materialized triples into an
    existing graph table: one row per key, ``existing``'s where both have
    it (duplicate keys collapse and NULL key parts group together, as in
    ``dropDuplicates``), in ``existing``'s columns. Running the KG pipeline
    per transcript batch and merging with this operator yields exactly the
    one-shot result (the sameAs equivalence source is batch-independent) —
    re-delivered batches are absorbed with no duplicates.

    Scale: ONE shuffle on the key: rows are tagged ``existing`` 0 / ``new``
    1 and each key keeps its lowest-tag row (``min_by`` over the other
    columns, ``distinct`` when there are none). At 100 TB the production
    form is Iceberg ``MERGE INTO`` on the same key.
    """
    ks = list(keys)
    rest = [c for c in existing.columns if c not in ks]
    if not rest:
        return existing.unionByName(new.select(*ks)).distinct()
    tagged = existing.withColumn("_tag", F.lit(0)).unionByName(
        new.select(*existing.columns).withColumn("_tag", F.lit(1))
    )
    won = tagged.groupBy(*ks).agg(F.min_by(F.struct(*rest), "_tag").alias("_row"))
    return won.select(*[c if c in ks else F.col("_row").getField(c).alias(c) for c in existing.columns])


def write_graph_table(quads: DataFrame, path: str, partitions: int | None = None) -> None:
    """Materialize the graph table in the subject-pruning layout: range-
    partitioned on the subject's lexical key and sorted by (s, p) within
    each file. Parquet then records tight min/max footer stats per file /
    row group, so a subject lookup (the dominant KG access pattern) prunes
    to one file before any row is read — the flat-layout equivalent of an
    Iceberg sort order. One range exchange; the sort is file-local.

    Scale: ``partitions=None`` leaves the range count to AQE, which merges
    adjacent ranges up to its advisory size (a few thousand quads: one
    file); an explicit ``partitions`` fixes the file count."""
    s = F.col("s.value")
    ranged = quads.repartitionByRange(s) if partitions is None else quads.repartitionByRange(partitions, s)
    ranged.sortWithinPartitions(s, F.col("p.value")).write.mode("overwrite").parquet(path)
