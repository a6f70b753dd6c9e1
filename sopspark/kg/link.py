"""Entity linking: broadcast alias-dictionary join + candidate scoring.

north_star: "entity linking scores candidate IRIs via broadcast-joined alias
dictionaries with salted repartitioning to defuse hot-entity skew".

Design for scale:
  * the alias dictionary is small relative to mentions → ``F.broadcast``
    hash join: the mention side never shuffles for the join, so the hot
    alias ("Bob" ≈ 10% of all mentions by construction) is harmless here —
    every partition joins locally against the broadcast map.
  * prior scoring is a function of the alias alone, so its argmax runs on
    the driver over the collected dictionary (:func:`best_candidates`).
    Per-mention scoring (``context_scoring=True``) runs it as ONE aggregate
    keyed by the mention *occurrence* (conv_id, turn_idx, m_id, p) —
    occurrence keys are unique, so the aggregate has no skew. Both pick the
    highest prior, ties to the lexicographically smallest IRI, NULLs last.
  * truly skewed per-entity aggregations (entity mention histograms, where
    "Bob" is one giant key) go through :func:`salted_agg_count` — the
    two-phase salted aggregate — with AQE skew handling as backstop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _argmax(value: str, prior: str) -> Column:
    # highest prior, ties to the smallest value, NULLs last: a struct ranks
    # a NULL field first, so a NULL check leads each field
    return F.min_by(value, F.struct(F.isnull(prior), -F.col(prior), F.isnull(value), F.col(value)))


def best_candidates(alias_dict: DataFrame) -> DataFrame:
    """Fold argmax scoring into the *dictionary* side: one row per
    (alias, etype) carrying the winning IRI (highest prior, ties to the
    smallest IRI, a NULL prior or IRI last). The dictionary is collected in
    one Arrow collect, the argmax runs on the driver and the result is a
    driver literal — the driver already holds it for the broadcast joins."""
    from sopspark.session import local_df

    cols = alias_dict.select("alias", "etype", "iri", "prior").toArrow().to_pydict()
    best: dict = {}
    for a, e, iri, prior in zip(cols["alias"], cols["etype"], cols["iri"], cols["prior"]):
        rank = (prior is None, -prior if prior is not None else 0.0, iri is None, iri or "")
        if (a, e) not in best or rank < best[(a, e)][0]:
            best[(a, e)] = (rank, iri)
    out = [(a, e, iri) for (a, e), (_, iri) in best.items()]
    return local_df(alias_dict.sparkSession, out, "alias string, etype string, iri string")


def link_entities(
    mentions: DataFrame, alias_dict: DataFrame, context_scoring: bool = False
) -> DataFrame:
    """Mention rows → linked triples (conv_id, turn_idx, s, p, o_iri, o_lit).

    ``mentions``: output of :func:`sopspark.kg.extract.extract_triples`
    (s_alias, p, o_alias|o_lit, o_etype per occurrence).
    ``alias_dict``: (alias, iri, prior, etype).

    Default plan: prior-based scoring is a function of the alias alone, so
    the argmax collapses onto the broadcast dictionary
    (:func:`best_candidates`) and linking is **zero-shuffle**: scan → two
    broadcast hash joins → project. The hot alias ("Bob", ≥10% of mentions)
    never concentrates on one reducer because there is no reducer.

    ``context_scoring=True`` switches to the per-occurrence candidate-set
    plan (broadcast join against ALL candidates + groupBy-argmax over the
    mention occurrence key) for scorers that need per-mention features;
    occurrence keys are unique, so that aggregate is skew-free too.

    Unlinkable mentions (alias absent from the dictionary) are dropped —
    precision over recall, mirroring the reference's drop-on-error stream
    discipline (``src/filter.rs:36``).
    """
    if context_scoring:
        return _link_context(mentions, alias_dict)

    best = best_candidates(alias_dict)
    # SQL-string projections: the linking plan is rebuilt per pipeline run
    # and its Py4J construction cost is serial driver time
    person = F.broadcast(
        best.where("etype = 'person'").selectExpr("alias AS s_alias", "iri AS s_iri")
    )
    objects = F.broadcast(
        best.selectExpr("alias AS o_alias", "etype AS o_etype", "iri AS o_cand")
    )
    return (
        mentions.join(person, on="s_alias", how="inner")
        .join(objects, on=["o_alias", "o_etype"], how="left")
        .where("o_etype IS NULL OR o_cand IS NOT NULL")
        .selectExpr(
            "conv_id", "turn_idx", "s_iri AS s", "p", "o_cand AS o_iri", "o_lit"
        )
    )


def _link_context(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    person = F.broadcast(
        alias_dict.where("etype = 'person'")
        .selectExpr("alias AS s_alias", "iri AS s_cand", "prior AS s_prior")
    )
    objects = F.broadcast(
        alias_dict.selectExpr("alias AS o_alias", "etype AS o_etype", "iri AS o_cand", "prior AS o_prior")
    )
    joined = mentions.join(person, on="s_alias", how="inner").join(
        objects, on=["o_alias", "o_etype"], how="left"
    )
    return (
        joined.groupBy("conv_id", "turn_idx", "m_id", "p")
        .agg(
            _argmax("s_cand", "s_prior").alias("s"),
            _argmax("o_cand", "o_prior").alias("o_iri"),
            F.first("o_lit", ignorenulls=True).alias("o_lit"),
            F.first("o_etype", ignorenulls=True).alias("o_etype"),
        )
        .where("o_etype IS NULL OR o_iri IS NOT NULL")
        .select("conv_id", "turn_idx", "s", "p", "o_iri", "o_lit")
    )


# ---------------------------------------------------------------------------
# skew tooling
# ---------------------------------------------------------------------------

def salted_agg_count(df: DataFrame, key: str, salt_buckets: int = 32) -> DataFrame:
    """Two-phase salted count per key: ``groupBy(key, salt) → groupBy(key)``.

    For hot keys (one entity owning ≥10% of rows) a single-phase groupBy
    hashes every row of the hot key to one reducer; salting splits it over
    ``salt_buckets`` reducers first, then combines the (tiny) partials.
    Spark's map-side partial aggregation already helps for plain counts —
    this is the explicit pattern for aggregates where partials don't
    collapse (e.g. large collect-style states), and the documented
    north_rule skew defusal.
    """
    salted = df.withColumn("_salt", F.pmod(F.crc32(F.monotonically_increasing_id().cast("string")), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(key).agg(F.sum("_partial").alias("n"))


def entity_histogram(linked: DataFrame, salt_buckets: int = 32) -> DataFrame:
    """Per-entity mention counts (subject position) — the skewed aggregate
    the synthetic hot alias exercises."""
    return salted_agg_count(linked.select(F.col("s").alias("entity")), "entity", salt_buckets)
