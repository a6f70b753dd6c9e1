"""Distributed connected components via alternating large-star / small-star.

Used for owl:sameAs closure (north_star) and for grouping blank nodes into
c14n components (SURVEY.md §4.3). The algorithm is the public
two-operation MapReduce CC of Kiveris et al. ("Connected Components in
MapReduce and Beyond", SoCC'14), expressed entirely as DataFrame joins and
aggregations — O(log n) rounds, no collect_list (no hot-key memory blowup),
each round two hash aggregates + one broadcast-free join.

Why not GraphFrames: not available in this environment, and the star
algorithm is ~40 lines of DataFrame code with the same asymptotics.

Iteration policy: :func:`fixpoint` owns the lineage truncation and the
convergence test of the distributed rounds here and in ``kg.graphalgo``
(star CC, label propagation, personalized pagerank, k-core, BFS, SCC).

Small-input plan: :func:`driver_edges` is the one gate for every graph
algorithm with a driver plan (this module's union-find and
``kg.graphalgo``'s pagerank, personalized_pagerank and
label_propagation). At or under :data:`DRIVER_THRESHOLD` (200k) distinct
edges it brings the edge set to the driver in one collect, and the
algorithm runs there and returns a ``LocalRelation``. At 200k edges the
driver plan still beats the distributed one for all four (measurements
in the ``kg.graphalgo`` module docstring); ``driver_threshold=0``
forces the distributed plan.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _min_neighbor(sym: DataFrame) -> DataFrame:
    """m(u) = min(N(u) ∪ {u}) for the given (a, b) edge list."""
    return sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = _min_neighbor(sym)
    out = (
        sym.where(F.col("b") > F.col("a"))
        .join(mins, on="a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    return out.where(F.col("a") != F.col("b")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).where(F.col("a") != F.col("b"))
    mins = _min_neighbor(oriented)
    joined = oriented.join(mins, on="a")
    to_min = joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
    self_edge = mins.select(F.col("a"), F.col("m").alias("b"))
    out = to_min.unionByName(self_edge)
    return out.where(F.col("a") != F.col("b")).distinct()


# distinct edges at or under which every graph algorithm with a driver plan
# takes it (measured at 200k: kg/graphalgo.py module docstring)
DRIVER_THRESHOLD = 200_000


def driver_edges(edges: DataFrame, threshold: int):
    """Small-input physical plan gate shared by :func:`connected_components`
    and ``kg.graphalgo``'s pagerank, personalized_pagerank and
    label_propagation — the graph analogue of broadcasting a small side.

    ``edges`` is an algorithm's cleaned edge set (projected, filtered)
    before its ``distinct``. Returns the distinct edges as a pandas frame
    when there are at most ``threshold`` of them, else ``None`` and the
    caller runs its distributed plan; ``threshold <= 0`` always returns
    ``None``. The edge set reaches the driver in one collect: a driver
    literal (a ``LocalRelation``) is copied out with no job, anything
    else is collected through Arrow with ``limit(threshold + 1)``, so a
    large input ships at most ``threshold + 1`` rows before falling back.
    """
    from sopspark.session import is_local

    if threshold <= 0:
        return None
    if is_local(edges):
        import pandas as pd

        rows = edges.collect()
        pdf = pd.DataFrame.from_records(rows, columns=edges.columns).drop_duplicates(
            ignore_index=True
        )
    else:
        pdf = edges.distinct().limit(threshold + 1).toPandas()
    return pdf if len(pdf) <= threshold else None


def _sig(df: DataFrame, *cols: str):
    """Order-insensitive (count, xor-hash) signature of ``df`` over
    ``cols`` — one aggregate job, overflow-free."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def fixpoint(state: DataFrame, step, rounds: int | None = None, key: tuple = ()) -> DataFrame:
    """Apply ``step`` to ``state`` at most ``rounds`` times and return the
    last state; ``rounds=None`` runs until converged and requires ``key``.

    Every round's output is truncated with ``localCheckpoint(eager=False)``,
    so the plan stays one round deep and a state the next round reads twice
    is computed once. With ``key`` (column names) the loop stops after the
    first round whose :func:`_sig` equals the previous round's; that job
    also materializes the round's checkpoint. Without ``key`` nothing runs
    here: the caller's first action computes the rounds.
    """
    if rounds is None and not key:
        raise ValueError("fixpoint: rounds=None needs a convergence key")
    prev = None
    for _ in itertools.repeat(None) if rounds is None else range(rounds):
        state = step(state).localCheckpoint(eager=False)
        if key:
            sig = _sig(state, *key)
            if sig == prev:
                break
            prev = sig
    return state


def _driver_union_find(pdf, spark, dtype: str) -> DataFrame:
    """Small-input physical plan: union-find on the driver over the
    distinct (a, b) edges of ``pdf``."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    # every root IS its class minimum by induction: a union merges two
    # classes whose roots are their minima and keeps the smaller as root
    out = [(n, find(n)) for n in parent]
    from sopspark.session import local_df

    # LocalRelation output: the downstream broadcast remap joins build
    # their hash tables without scheduling a job
    return local_df(spark, out, f"node {dtype}, rep {dtype}")


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """(a, b) undirected edge list → (node, rep) with rep = min node id of
    the component. Deterministic; string or numeric ids both work (min is
    lexicographic for strings).

    Inputs of at most ``driver_threshold`` distinct edges run as
    driver-side union-find (O(n α(n)), one collect through
    :func:`driver_edges`; a driver-literal edge list costs no job at
    all) — at 100 TB the equivalence-edge table is still typically ≪ the
    corpus; the distributed star iterations kick in above the threshold,
    and ``driver_threshold=0`` forces them. The star rounds run under
    :func:`fixpoint` until the edge set stops changing; ``max_iter`` caps
    the rounds, and an edge map that has not converged by then is returned
    as is (no error).
    """
    e = edges.select(F.col(edges.columns[0]).alias("a"), F.col(edges.columns[1]).alias("b"))
    # null-propagating: an edge with a null endpoint is dropped on both plans
    e = e.where(F.col("a") != F.col("b"))

    small = driver_edges(e, driver_threshold)
    if small is not None:
        dtype = dict(e.dtypes)["a"]  # keep numeric ids numeric (min = numeric min)
        return _driver_union_find(small, edges.sparkSession, dtype)

    e = e.distinct().localCheckpoint()
    e = fixpoint(e, lambda cur: _small_star(_large_star(cur)), max_iter, key=("a", "b"))

    # after convergence every edge points node → component root
    mapping = e.select(F.col("a").alias("node"), F.col("b").alias("rep"))
    roots = e.select(F.col("b").alias("node")).distinct().withColumn("rep", F.col("node"))
    return mapping.unionByName(roots).distinct()
