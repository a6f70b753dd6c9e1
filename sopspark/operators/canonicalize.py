"""Distributed RDFC-1.0 canonicalization (``sop canonicalize``).

Reference: collect → dedup (set semantics, ``src/canonicalize.rs:57,128``) →
RDFC-1.0 → sorted canonical N-Quads with ``_:c14nN`` labels
(``src/canonicalize.rs:74-99``).

Scale plan (SURVEY.md §4.3.1):
  * **ground quads** (no blank nodes) need no relabeling — canonical
    serialization is a pure Catalyst projection and the final ordering is a
    distributed range-partitioned sort. At transcript scale (post-
    skolemization the dataset is 100% ground) c14n therefore never leaves
    the JVM.
  * **bnode quads** are grouped into connected components (bnode
    co-occurrence edges → :func:`sopspark.plans.graph.connected_components`)
    and each component runs the sequential RDFC-1.0 kernel inside
    ``applyInPandas`` — components are independent by definition of the
    first-degree/N-degree hashes, and transcript-derived components are
    tiny. Per-bnode *global sort keys* come back, a window ``row_number``
    over their global sort assigns the final ``c14nN`` numbers, and a join
    relabels the quads.
  * below ``driver_threshold`` bnode quads the whole bnode partition runs
    the kernel on the driver instead (exact spec semantics including
    cross-group canonical-label feedback; the distributed path is exact up
    to that pathological case — see ``rdfc10_sort_keys``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sopspark.operators.transforms import dedup
from sopspark.terms import BNODE, QUAD_COLS, nq_line


import re as _re

# c14n function selection — the reference's exact flag grammar
# (src/canonicalize/c14n_function.rs:16-28): RDFC / RDFC1 / RDFC10 /
# RDFC-1.0 / ... and Sophia / Sophia-C14N, case-insensitive.
_RDFC_RE = _re.compile(r"^RDFC-?(1(\.?0)?)?$", _re.I)
_SOPHIA_RE = _re.compile(r"^Sophia(-C14N)?$", _re.I)


def parse_c14n_function(s: str) -> str:
    """Flag value → 'rdfc10' | 'sophia', mirroring c14n_function.rs FromStr.

    'sophia' selects the legacy Sophia-C14N entry point
    (src/canonicalize.rs:101-120). The legacy algorithm itself lives in the
    sophia *dependency*, not the reference repo; this engine accepts the
    flag for CLI parity and applies its own deterministic canonical labeling
    (the RDFC-1.0 kernel) — documented divergence: legacy label strings are
    not byte-identical to sophia's.
    """
    if _RDFC_RE.match(s):
        return "rdfc10"
    if _SOPHIA_RE.match(s):
        return "sophia"
    raise ValueError(f"Unrecognized c14n function {s}")


def _is_bnode(tag: str):
    t = F.col(tag)
    return t.isNotNull() & (t["kind"] == BNODE)


def _has_bnode():
    c = _is_bnode("s")
    for tag in ("p", "o", "g"):
        c = c | _is_bnode(tag)
    return c


def _row_to_pyquad(row) -> tuple:
    def term(t):
        if t is None:
            return None
        return (t["kind"], t["value"], t["dt"], t["lang"])

    return (term(row["s"]), term(row["p"]), term(row["o"]), term(row["g"]))


def canonicalize(
    df: DataFrame,
    hash_name: str = "sha256",
    depth_factor: float = 1.0,
    permutation_limit: int = 6,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Quad DataFrame → single-column ``line`` DataFrame of canonical
    N-Quads, globally sorted (the document order RDFC-1.0 specifies)."""
    ok = df.where(F.col("err").isNull()) if "err" in df.columns else df
    quads = dedup(ok.select(*QUAD_COLS))

    ground = quads.where(~_has_bnode())
    ground_lines = ground.select(
        nq_line(F.col("s"), F.col("p"), F.col("o"), F.col("g")).alias("line")
    )

    bnq = quads.where(_has_bnode())
    # one read decides the path and, under the threshold, is the driver
    # kernel's input; above it the rows are dropped and the component path
    # reads the bnode quads again
    rows = bnq.limit(driver_threshold + 1).collect()
    if not rows:
        return ground_lines.orderBy("line")

    if len(rows) <= driver_threshold:
        bn_lines = _driver_c14n(bnq.sparkSession, rows, hash_name, depth_factor, permutation_limit)
    else:
        bn_lines = _component_c14n(bnq, hash_name, depth_factor, permutation_limit)
    return ground_lines.unionByName(bn_lines).orderBy("line")


def _driver_c14n(spark, rows, hash_name, depth_factor, permutation_limit) -> DataFrame:
    """RDFC-1.0 over collected bnode-quad ``rows`` on the driver."""
    from sopspark.functions.rdfc10 import canonicalize_quads
    from sopspark.session import local_df

    pyquads = [_row_to_pyquad(r) for r in rows]
    lines = canonicalize_quads(pyquads, hash_name, depth_factor, permutation_limit)
    return local_df(spark, [(l,) for l in lines], "line string")


def _component_c14n(bnq: DataFrame, hash_name, depth_factor, permutation_limit) -> DataFrame:
    """Per-component kernel + global label numbering, fully distributed."""
    from sopspark.plans.graph import connected_components

    labels = F.array_compact(
        F.array(
            *[
                F.when(_is_bnode(tag), F.col(tag)["value"]).otherwise(F.lit(None))
                for tag in ("s", "p", "o", "g")
            ]
        )
    )
    with_labels = bnq.withColumn("_bns", labels).localCheckpoint()

    # bnode co-occurrence edges (anchor = first bnode of the quad) + self
    # edges so isolated bnodes appear as singleton components
    edges = (
        with_labels.select(F.explode("_bns").alias("b"), F.col("_bns")[0].alias("a"))
        .select("a", "b")
        .distinct()
    )
    # adaptive physical plan: union-find under the edge threshold, the
    # distributed star iterations above it (same contract either way)
    comp = connected_components(edges)  # (node, rep)

    # quad's component = component of its first bnode; bnodes absent from
    # the CC result are singletons (their only edge was a self edge) →
    # component = themselves
    keyed = (
        with_labels.withColumn("_anchor", F.col("_bns")[0])
        .join(
            comp.select(F.col("node").alias("_anchor"), F.col("rep").alias("_comp")),
            on="_anchor",
            how="left",
        )
        .withColumn("_comp", F.coalesce(F.col("_comp"), F.col("_anchor")))
    )

    # run the kernel per component → (label, sort_key)
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from sopspark.functions.rdfc10 import rdfc10_sort_keys

        pyquads = [
            tuple(
                (t["kind"], t["value"], t["dt"], t["lang"]) if t is not None else None
                for t in row
            )
            for row in zip(pdf["s"], pdf["p"], pdf["o"], pdf["g"])
        ]
        keys = rdfc10_sort_keys(pyquads, hash_name, depth_factor, permutation_limit)
        comp_id = pdf["_comp"].iloc[0]
        return pd.DataFrame(
            {"label": list(keys), "sort_key": [keys[k] + "|" + comp_id for k in keys]}
        )

    spark = keyed.sparkSession
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    # explicit repartition (not the groupBy's implicit exchange) so AQE's
    # small-shuffle coalescing can't squeeze the Python-heavy kernel stage
    # onto fewer cores — per-row cost here is kernel CPU, not bytes
    # localCheckpoint: repartitionByRange's bounds-sampling pass plus the
    # real shuffle would otherwise each re-run the kernel
    keys_df = (
        keyed.select("s", "p", "o", "g", "_comp")
        .repartition(n_parts, "_comp")
        .groupBy("_comp")
        .applyInPandas(kernel, schema="label string, sort_key string")
        .localCheckpoint()
    )

    # global numbering WITHOUT a single-task window: range-partition on the
    # sort key (a distributed sort — each partition holds one key range in
    # partition-index order), sort within partitions, then zipWithIndex
    # assigns the global rank from per-partition offsets. Same deterministic
    # total order (sort keys are globally unique: per-component canonical
    # keys suffixed with the component id), no one-partition funnel.
    # localCheckpoint before zipWithIndex: it runs two passes (partition
    # counts, then the map) and the relabel joins broadcast the result —
    # without it the kernel lineage would re-execute 3+ times.
    sorted_labels = (
        keys_df.repartitionByRange(n_parts, "sort_key")
        .sortWithinPartitions("sort_key")
        .select("label")
        .localCheckpoint()
    )
    ranked = sorted_labels.rdd.zipWithIndex().map(lambda t: (t[0]["label"], t[1]))
    mapping = spark.createDataFrame(ranked, "label string, _idx long").select(
        "label", F.concat(F.lit("c14n"), F.col("_idx").cast("string")).alias("_new")
    ).localCheckpoint()

    # relabel the three bnode-capable positions via joins
    relabeled = keyed.select("s", "p", "o", "g")
    for tag in ("s", "o", "g"):
        m = mapping.select(F.col("label").alias(f"_{tag}_old"), F.col("_new").alias(f"_{tag}_new"))
        t = F.col(tag)
        relabeled = (
            relabeled.join(
                F.broadcast(m), on=F.when(_is_bnode(tag), t["value"]) == m[f"_{tag}_old"], how="left"
            )
            .withColumn(
                tag,
                F.when(
                    _is_bnode(tag),
                    F.struct(
                        t["kind"].alias("kind"),
                        F.col(f"_{tag}_new").alias("value"),
                        t["dt"].alias("dt"),
                        t["lang"].alias("lang"),
                    ),
                ).otherwise(t),
            )
            .drop(f"_{tag}_old", f"_{tag}_new")
        )

    return relabeled.select(nq_line(F.col("s"), F.col("p"), F.col("o"), F.col("g")).alias("line"))
