"""RDF/RDFS entailment regimes (``sop query -r simple|rdf|rdfs``).

Reference: the regime wraps the collected dataset before querying
(``src/query.rs:101-107,261-282``). Here materialization happens once, up
front, and the query runs over the closed triple set.

Scale design: the RDFS rules split into *schema* rules (transitivity of
``rdfs:subClassOf``/``rdfs:subPropertyOf`` — rdfs5/rdfs11) and *instance*
rules (rdfs2/3/7/9). Schema triples are tiny (ontology-sized) even when the
instance data is 100 TB, so:

  1. collect the schema triples to the driver and close them with
     Floyd-Warshall-free BFS transitive closure (exact, tiny);
  2. apply the instance rules as **one pass of broadcast joins** against the
     closed schema — no iterative fixpoint ever touches the big table
     (semi-naive Datalog degenerates to one round because every recursive
     rule is schema-only).

``regime="rdf"`` adds only the rdf:type rdf:Property axiom for used
predicates; ``"simple"`` is the identity.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sopspark.session import local_df
from sopspark.terms import IRI, RDF_NS, TERM_SQL_TYPE

RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDF_TYPE = RDF_NS + "type"
SUBCLASS = RDFS + "subClassOf"
SUBPROP = RDFS + "subPropertyOf"
DOMAIN = RDFS + "domain"
RANGE = RDFS + "range"


def _closure(edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
    out = []
    for start in list(adj):
        seen: set[str] = set()
        stack = list(adj[start])
        while stack:
            n = stack.pop()
            if n in seen or n == start:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        out.extend((start, t) for t in seen | adj[start])
    return sorted(set(out))


def _iri_term(value):
    return F.struct(
        F.lit(IRI).cast("tinyint").alias("kind"),
        (F.lit(value) if isinstance(value, str) else value).alias("value"),
        F.lit(None).cast("string").alias("dt"),
        F.lit(None).cast("string").alias("lang"),
    )


def materialize_rdfs(quads: DataFrame, regime: str = "rdfs") -> DataFrame:
    """Return quads ∪ entailed triples (default graph)."""
    if regime == "simple":
        return quads
    ok = quads.where(F.col("err").isNull()) if "err" in quads.columns else quads
    spark = quads.sparkSession

    if regime == "rdf":
        props = (
            ok.select(F.col("p").alias("s"))
            .where(F.col("s")["kind"] == IRI)
            .distinct()
            .withColumn("p", _iri_term(RDF_TYPE))
            .withColumn("o", _iri_term(RDF_NS + "Property"))
        )
        return _union_new(quads, props)

    if regime != "rdfs":
        raise ValueError(f"unknown regime {regime!r}")

    # 1. schema extraction + driver-side closure
    schema_rows = (
        ok.where(
            (F.col("p")["kind"] == IRI)
            & F.col("p")["value"].isin([SUBCLASS, SUBPROP, DOMAIN, RANGE])
            & (F.col("s")["kind"] == IRI)
            & (F.col("o")["kind"] == IRI)
        )
        .select(F.col("s")["value"].alias("a"), F.col("p")["value"].alias("p"), F.col("o")["value"].alias("b"))
        .collect()
    )
    sub_class = _closure([(r.a, r.b) for r in schema_rows if r.p == SUBCLASS])
    sub_prop = _closure([(r.a, r.b) for r in schema_rows if r.p == SUBPROP])
    domains = [(r.a, r.b) for r in schema_rows if r.p == DOMAIN]
    ranges = [(r.a, r.b) for r in schema_rows if r.p == RANGE]
    # rdfs7 feeding rdfs2/3: domain/range inherited through subPropertyOf
    sp_map = defaultdict(set)
    for a, b in sub_prop:
        sp_map[a].add(b)
    domains += [(p, c) for (q, c) in list(domains) for p in sp_map if q in sp_map[p]]
    ranges += [(p, c) for (q, c) in list(ranges) for p in sp_map if q in sp_map[p]]

    new_parts: list[DataFrame] = []

    def pairs_df(pairs, ca, cb):
        if not pairs:
            return None
        return F.broadcast(local_df(spark, pairs, f"{ca} string, {cb} string"))

    # rdfs5/11: schema closure triples themselves
    closure_triples = [(a, SUBCLASS, b) for a, b in sub_class] + [(a, SUBPROP, b) for a, b in sub_prop]
    if closure_triples:
        cdf = local_df(spark, closure_triples, "a string, p string, b string").select(
            _iri_term(F.col("a")).alias("s"), _iri_term(F.col("p")).alias("p"), _iri_term(F.col("b")).alias("o")
        )
        new_parts.append(cdf)

    # rdfs7: subPropertyOf on instance triples (one broadcast join)
    spdf = pairs_df(sub_prop, "sub", "super")
    if spdf is not None:
        r7 = (
            ok.join(spdf, ok["p"]["value"] == F.col("sub"))
            .where(F.col("p")["kind"] == IRI)
            .select(F.col("s"), _iri_term(F.col("super")).alias("p"), F.col("o"))
        )
        new_parts.append(r7)

    # rdfs2/3: domain/range → rdf:type (after virtually applying rdfs7)
    ddf = pairs_df(domains, "dp", "dc")
    if ddf is not None:
        r2 = (
            ok.join(ddf, ok["p"]["value"] == F.col("dp"))
            .select(F.col("s"), _iri_term(RDF_TYPE).alias("p"), _iri_term(F.col("dc")).alias("o"))
        )
        new_parts.append(r2)
    rdf_ = pairs_df(ranges, "rp", "rc")
    if rdf_ is not None:
        r3 = (
            ok.join(rdf_, ok["p"]["value"] == F.col("rp"))
            .where(F.col("o")["kind"].isin(0, 1))  # IRI or bnode objects only
            .select(F.col("o").alias("s"), _iri_term(RDF_TYPE).alias("p"), _iri_term(F.col("rc")).alias("o"))
        )
        new_parts.append(r3)

    # rdfs9: subClassOf on rdf:type triples (includes types newly derived by
    # rdfs2/3 — apply to the union of base + derived types)
    scdf = pairs_df(sub_class, "sc_sub", "sc_super")
    if scdf is not None:
        base_types = ok.where(
            (F.col("p")["kind"] == IRI) & (F.col("p")["value"] == RDF_TYPE)
        ).select("s", "p", "o")
        derived_types = [p for p in new_parts if p is not None]
        all_types = base_types
        for p in derived_types:
            all_types = all_types.unionByName(
                p.where((F.col("p")["value"] == RDF_TYPE)).select("s", "p", "o")
            )
        r9 = (
            all_types.join(scdf, F.col("o")["value"] == F.col("sc_sub"))
            .select(F.col("s"), _iri_term(RDF_TYPE).alias("p"), _iri_term(F.col("sc_super")).alias("o"))
        )
        new_parts.append(r9)

    if not new_parts:
        return quads
    new = new_parts[0]
    for p in new_parts[1:]:
        new = new.unionByName(p)
    return _union_new(quads, new)


def _union_new(quads: DataFrame, new_spo: DataFrame) -> DataFrame:
    new_q = (
        new_spo.withColumn("g", F.lit(None).cast(TERM_SQL_TYPE))
        .withColumn("err", F.lit(None).cast("string"))
        .select("s", "p", "o", "g", "err")
    )
    cols = ["s", "p", "o", "g"] + (["err"] if "err" in quads.columns else [])
    base = quads.select(*cols) if "err" in quads.columns else quads.select("s", "p", "o", "g").withColumn("err", F.lit(None).cast("string"))
    return base.unionByName(new_q).dropDuplicates(["s", "p", "o", "g"])
