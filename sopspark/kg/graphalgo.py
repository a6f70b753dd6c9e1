"""Entity-graph analytics: PageRank, label propagation and friends.

The KG pipeline materializes an entity graph (mentions, owl:sameAs,
typed relations); ranking its nodes (which entities anchor the corpus?)
is the canonical follow-on analytic. This is the standard iterative
DataFrame formulation — no GraphFrames dependency:

  rank_{i+1}(v) = (1-d)/N + d · ( Σ_{u→v} rank_i(u)/outdeg(u)
                                  + dangling_mass_i / N )

Per iteration: one join of the edge list with the (node-sized) rank
table + one aggregate — both shuffles keyed on node id, which AQE
coalesces/skew-splits. The rank table is nodes-sized, so at 100 TB of
edges the iteration cost is dominated by the edge-scan join, exactly the
shape a Pregel implementation has. The distributed rounds of every
iterative algorithm here except HITS run under ``plans.graph.fixpoint``,
which truncates lineage after every round so the plan does not grow
O(iters) deep.

Determinism: with a fixed iteration count the result is a closed form of
the edge set; the only engine-order sensitivity is double summation
(~1e-14 after 10 iterations), absorbed by rounding at the consumer.

Small-graph plan: :func:`pagerank`, :func:`personalized_pagerank` and
:func:`label_propagation` share connected_components' gate
(``plans.graph.driver_edges``). At or under ``driver_threshold``
distinct edges (200k by default) the cleaned edge set is collected once
and the rounds run on the driver — PageRank as one NumPy step per round
(``bincount`` contributions, a static dangling mask), label propagation
as plain Python rounds — and the result comes back as a
``LocalRelation`` with the distributed plan's schema. Below that size
the distributed rounds cost job scheduling, not data: a 2.5k-edge
pagerank ran 91 jobs. At the threshold the driver plan still wins
(200k random edges on 50k IRI nodes, local[4], two interleaved runs,
best of two, result written to a noop sink): pagerank 1.1 s vs 14.7 s,
personalized_pagerank 1.5 s vs 11.7 s, label_propagation 3.2 s vs
10.9 s (connected_components 1.4 s vs 47.7 s), so the crossover lies
above 200k edges and the default stays. ``driver_threshold=0`` forces
the distributed rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sopspark.plans.graph import DRIVER_THRESHOLD, driver_edges, fixpoint


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edges as (a, b) = (least, greatest) endpoint, with self
    loops and NULL endpoints dropped; duplicates stay (callers distinct)."""
    return (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Ranks after ``iters`` synchronous iterations over the DISTINCT
    edge set. Returns (node, rank). Dangling mass is redistributed
    uniformly (the standard correction, keeps Σrank = 1). At most
    ``driver_threshold`` distinct edges run on the driver (module
    docstring); ``driver_threshold=0`` forces the distributed rounds."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    nodes = e.select(F.col("src").alias("node")).unionByName(e.select(F.col("dst").alias("node")))
    small = driver_edges(e, driver_threshold)
    if small is not None:
        return _driver_ppr(edges.sparkSession, small, None, iters, damping, nodes.dtypes[0][1])
    e = e.distinct()
    nodes = nodes.distinct()
    if not nodes.take(1):
        return nodes.withColumn("rank", F.lit(0.0)).localCheckpoint(eager=True)
    # uniform restart over every node IS standard PageRank (r0 = 1/N and
    # dangling mass teleports uniformly) — one shared iteration body, no
    # drift between the two ranks (pinned by
    # tests/test_scale_ops.py::test_ppr_all_sources_equals_pagerank)
    return personalized_pagerank(
        e,
        nodes,
        iters=iters,
        damping=damping,
        driver_threshold=0,
        _assume_clean=True,  # e is already null-filtered + distinct
    )


def _driver_ppr(spark, pdf, sources, iters: int, damping: float, dtype: str) -> DataFrame:
    """Driver plan of :func:`personalized_pagerank` (and, with ``sources``
    None, of :func:`pagerank`): the distributed rounds' recurrence as one
    vectorized NumPy step per round over the distinct (src, dst) edges of
    ``pdf``. ``sources`` is the distinct, non-NULL source list."""
    import numpy as np
    import pandas as pd

    from sopspark.session import local_df

    m = len(pdf)
    ends = [pdf["src"], pdf["dst"]]
    if sources is not None:
        ends.append(pd.Series(sources, dtype=object))
    codes, nodes = pd.factorize(pd.concat(ends, ignore_index=True))
    n = len(nodes)
    s_idx, d_idx = codes[:m], codes[m : 2 * m]
    deg = np.bincount(s_idx, minlength=n).astype(float)
    if sources is None:  # PageRank: restart uniformly over every node
        r0 = np.full(n, 1.0 / max(n, 1))
    else:
        r0 = np.zeros(n)
        r0[codes[2 * m :]] = 1.0 / len(sources)
    dangling = deg == 0  # static: no out-edges in the distinct edge set
    w = deg[s_idx]
    d = float(damping)
    rank = r0
    for _ in range(iters):
        contrib = np.bincount(d_idx, weights=rank[s_idx] / w, minlength=n)
        mass = rank[dangling].sum()
        rank = (1.0 - d) * r0 + d * (contrib + mass * r0)
    rows = list(zip(nodes.tolist(), rank.tolist()))
    return local_df(spark, rows, f"node {dtype}, rank double NOT NULL")


def pagerank_oracle_sql(
    edges_sql: str, iters: int = 10, damping: float = 0.85
) -> str:
    """DuckDB twin of :func:`pagerank` — delegates to the personalized
    generator with the full node set as sources, mirroring how the Spark
    side is now the uniform special case of one shared iteration body."""
    sources = (
        f"SELECT src AS node FROM ({edges_sql}) "
        f"UNION SELECT dst FROM ({edges_sql})"
    )
    return personalized_pagerank_oracle_sql(edges_sql, sources, iters, damping)


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per vertex: ``2·triangles(v) /
    (deg(v)·(deg(v)-1))`` — the fraction of a node's neighbor pairs that
    are themselves connected, the standard graph-embedding feature and
    community-structure signal.

    Pure composition: degrees from the canonical edge set +
    :func:`triangle_count` (degree-oriented, hub-skew-immune) joined on
    the node — no new shuffle shapes beyond those two operators.
    Degree-1 vertices get coefficient 0. The canonical edge set is
    eagerly checkpointed so the (possibly expensive) edge-derivation
    lineage runs once, not once per plan branch.
    """
    e = _undirected(edges, src, dst).distinct().localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .persist()
    )
    tri = triangle_count(e, src="a", dst="b", assume_canonical=True, degrees=deg)
    denom = F.col("degree") * (F.col("degree") - 1)
    return deg.join(tri, "node").select(
        "node",
        F.col("degree").cast("int").alias("degree"),
        "triangles",
        F.round(
            F.when(denom > 0, 2.0 * F.col("triangles") / denom).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, Phys. Rev. E 76) over an undirected graph. Returns
    ``(node, community)`` for every vertex incident to ≥ 1 edge.

    Deterministic variant: every node starts labeled with its own id;
    each synchronous round every node adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label. With a fixed
    iteration count the result is a closed form of the edge set (no
    random visit order), so a SQL engine unrolling the same rounds
    produces identical output — that is what the DuckDB oracle does.

    Scale shape: per round, one equi-join of the adjacency list with the
    (node-sized) label table keyed on the neighbor id, then one
    (node,label) count aggregate and one per-node argmax aggregate — the
    argmax is a single ``min(struct(-cnt, label))`` so both aggregates
    get map-side partial combine and no window/sort is needed. The rounds
    run under ``plans.graph.fixpoint``.

    Hub skew: the cached adjacency is filled through a ``repartition("nbr")``
    exchange, which AQE never splits, so one task holds a hub's whole
    adjacency list (every edge that points at it). Spark 4.1's planner does
    not trust the partitioning of a cached relation: the physical plan
    still has a per-round exchange above the cache scan, so the rounds do
    not reuse it. The repartition is kept because it measured faster all
    the same: q_label_propagation at sf0.01 (4,950 edges, distributed
    plan forced, local[4], 18 interleaved pairs) ran 1.42 s with it and
    1.51 s without (min), winning 13 of 18 pairs — AQE coalesces the
    repartitioned cache to one partition where the unioned halves keep
    two, so each round scans fewer tasks. The count agg's (v,label) key is
    salted by the label dimension and does not skew on hubs. Graphs at or
    under ``driver_threshold`` distinct edges skip all of this and run
    the same rounds on the driver (module docstring).
    """
    e = _undirected(edges, src, dst)
    small = driver_edges(e, driver_threshold)
    if small is not None:
        return _driver_lpa(edges.sparkSession, small, iters, dict(e.dtypes)["a"])
    e = e.distinct()
    adj = (
        e.select(F.col("a").alias("v"), F.col("b").alias("nbr"))
        .unionAll(e.select(F.col("b").alias("v"), F.col("a").alias("nbr")))
        # pre-partition the (big) adjacency on the per-round join key; the
        # planner still re-shuffles the cache scan every round, but the
        # coalesced cache has fewer partitions (see the docstring)
        .repartition("nbr")
        .persist()
    )
    labels = adj.select("v").distinct().withColumn("label", F.col("v"))

    def lpa_round(labels):
        cnt = (
            adj.join(labels.withColumnRenamed("v", "nbr"), "nbr")
            .groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            cnt.groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l"))
                ).alias("best")
            )
            .select("v", F.col("best.l").alias("label"))
        )

    try:
        labels = fixpoint(labels, lpa_round, iters)
        # eager final checkpoint: materialize before adj is unpersisted
        return labels.select(
            F.col("v").alias("node"), F.col("label").alias("community")
        ).localCheckpoint(eager=True)
    finally:
        adj.unpersist()


def _driver_lpa(spark, pdf, iters: int, dtype: str) -> DataFrame:
    """Driver plan of :func:`label_propagation`: the same synchronous
    rounds over the distinct undirected (a, b) edges of ``pdf``."""
    from collections import Counter

    from sopspark.session import local_df

    adj: dict = {}
    for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    label = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        for v, nbrs in adj.items():
            counts = Counter(label[u] for u in nbrs)
            # most frequent label, ties to the smallest
            nxt[v] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        label = nxt
    return local_df(spark, list(label.items()), f"node {dtype}, community {dtype}")


def label_propagation_oracle_sql(edges_sql: str, iters: int = 5) -> str:
    """DuckDB twin of :func:`label_propagation`: the synchronous rounds
    unrolled as a CTE chain (``edges_sql`` must yield (src, dst)). The
    per-node argmax is a row_number window ordered (cnt DESC, label) —
    the same most-frequent-then-smallest-label rule."""
    sql = f"""
    WITH raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql})),
    e AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
    ),
    adj AS MATERIALIZED (
      SELECT a AS v, b AS nbr FROM e UNION ALL SELECT b, a FROM e
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM adj)"""
    for i in range(1, iters + 1):
        p = i - 1
        sql += f""",
    c{i} AS MATERIALIZED (
      SELECT adj.v, l.label, COUNT(*) AS cnt
      FROM adj JOIN l{p} l ON l.v = adj.nbr
      GROUP BY adj.v, l.label
    ),
    l{i} AS MATERIALIZED (
      SELECT v, label FROM (
        SELECT v, label,
               row_number() OVER (PARTITION BY v ORDER BY cnt DESC, label) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )"""
    sql += f"""
    SELECT v AS node, label AS community FROM l{iters} ORDER BY node"""
    return sql


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
    iters: int = 10,
    damping: float = 0.85,
    driver_threshold: int = DRIVER_THRESHOLD,
    _assume_clean: bool = False,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the SOURCE set
    instead of uniformly, so ranks measure relatedness TO the sources —
    the standard KG entity-relatedness / recommendation analytic.

      rank_{i+1}(v) = (1-d)·r0(v) + d·( Σ_{u→v} rank_i(u)/outdeg(u)
                                        + dangling_mass_i · r0(v) )

    with r0(v) = 1/|S| on the sources, 0 elsewhere (dangling mass also
    teleports to the sources — walks never leak probability to the
    uniform distribution). Same scale shape as :func:`pagerank`: per
    iteration one edge-scan join + one node-keyed aggregate, node-sized
    rank table.

    The rank table carries its static per-node metadata (``r0`` and the
    precomputed dangling flag) so each round is exactly: one edge join +
    contrib aggregate, one filter-aggregate for the dangling mass (no
    anti-join — danglingness is a static property of the edge set), and
    one node-keyed left join producing the next rank table. The rounds run
    under ``plans.graph.fixpoint``, whose per-round truncation matters
    here: ``ranks`` feeds both the mass aggregate and the contrib join,
    and each reference would otherwise re-execute the previous round's
    subtree (the HITS plan-doubling lesson, measured 57 s vs 4 s there).

    At most ``driver_threshold`` distinct edges and sources run on the
    driver (module docstring); ``driver_threshold=0`` forces the
    distributed rounds.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not _assume_clean:
        # null endpoints would leak rank mass (a NULL node misses every
        # equi-join, deflating Σrank below 1 while inflating outdegrees) —
        # drop them like every other operator in this module; skip the
        # re-distinct when the caller (pagerank) already did both
        e = e.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # a NULL source is no node: dropping it keeps Σrank = 1, and a source
    # set of NULLs only is as empty as no sources at all
    s = (
        sources.select(F.col(source_col).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
    )
    # the node set INCLUDES isolated sources (a source absent from the
    # edge list still receives restart mass — without the union its r0
    # would silently vanish and Σrank would deflate below 1)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(s)
    )
    small = driver_edges(e, driver_threshold)
    if small is not None:
        srcs = [r[0] for r in s.limit(driver_threshold + 1).collect()]
        if 0 < len(srcs) <= driver_threshold:
            return _driver_ppr(
                edges.sparkSession, small, srcs, iters, damping, nodes.dtypes[0][1]
            )
    if not _assume_clean:
        e = e.distinct()
    ns = s.count()
    if ns == 0:
        raise ValueError("personalized_pagerank requires a non-empty source set")
    nodes = nodes.distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    ew = e.join(deg, "src").persist()
    ew.count()
    # node table carries its restart probability r0 AND the dangling flag
    # (no out-edges) once — both are static, so no per-round anti-join
    nr = (
        nodes.join(s.withColumn("_s", F.lit(1)), "node", "left")
        .join(
            deg.select(F.col("src").alias("node"), F.lit(1).alias("_o")),
            "node",
            "left",
        )
        .select(
            "node",
            F.when(F.col("_s").isNotNull(), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("r0"),
            F.col("_o").isNull().alias("dang"),
        )
    )
    d = float(damping)

    def ppr_round(ranks):
        contrib = (
            ew.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        dangling = ranks.where("dang").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass")
        )
        return (
            ranks.select("node", "r0", "dang")
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "r0",
                "dang",
                (
                    (1.0 - d) * F.col("r0")
                    + d
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("mass") * F.col("r0")
                    )
                ).alias("rank"),
            )
        )

    try:
        ranks = nr.withColumn("rank", F.col("r0")).localCheckpoint(eager=False)
        ranks = fixpoint(ranks, ppr_round, iters)
        return ranks.select("node", "rank").localCheckpoint(eager=True)
    finally:
        for cached in (deg, ew):
            cached.unpersist()


def personalized_pagerank_oracle_sql(
    edges_sql: str, sources_sql: str, iters: int = 10, damping: float = 0.85
) -> str:
    """DuckDB twin of :func:`personalized_pagerank`, iterations unrolled.
    ``edges_sql`` yields (src, dst); ``sources_sql`` yields (node)."""
    d = float(damping)
    sql = f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    s AS MATERIALIZED (SELECT DISTINCT node FROM ({sources_sql}) WHERE node IS NOT NULL),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e UNION SELECT node FROM s
    ),
    nsrc AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM s),
    nr AS MATERIALIZED (
      SELECT nodes.node,
             CASE WHEN s.node IS NOT NULL THEN 1.0 / (SELECT n FROM nsrc)
                  ELSE 0.0 END AS r0
      FROM nodes LEFT JOIN s ON s.node = nodes.node
    ),
    deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
    r0 AS MATERIALIZED (SELECT node, r0 AS rank FROM nr)"""
    for i in range(1, iters + 1):
        p = i - 1
        sql += f""",
    c{i} AS MATERIALIZED (
      SELECT e.dst AS node, SUM(r.rank / deg.deg) AS contrib
      FROM e JOIN r{p} r ON e.src = r.node JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    d{i} AS MATERIALIZED (
      SELECT COALESCE(SUM(r.rank), 0.0) AS mass
      FROM r{p} r LEFT JOIN deg ON deg.src = r.node
      WHERE deg.src IS NULL
    ),
    r{i} AS MATERIALIZED (
      SELECT nr.node,
             (1.0 - {d!r}) * nr.r0
             + {d!r} * (COALESCE(c.contrib, 0.0)
                        + (SELECT mass FROM d{i}) * nr.r0) AS rank
      FROM nr LEFT JOIN c{i} c ON c.node = nr.node
    )"""
    sql += f"""
    SELECT node, round(rank, 6) AS rank FROM r{iters} ORDER BY node"""
    return sql


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = 4,
) -> DataFrame:
    """k-core peeling over an undirected graph: repeatedly remove
    vertices whose degree in the SURVIVING subgraph is < k. Returns
    ``(node, degree)`` for the vertices still alive — with
    ``rounds=None`` peels to the true k-core fixpoint (data-dependent
    round count, driver-checked), else exactly ``rounds`` synchronous
    peels (a closed form of the edge set, which is what the DuckDB
    unrolled-CTE twin replicates).

    Per round: one degree aggregate + two semi-joins filtering the
    adjacency list to surviving endpoints — all equi-keyed on node id,
    map-side combined / AQE-skew-splittable; the surviving-vertex table
    is node-sized. The peels run under ``plans.graph.fixpoint``; with
    ``rounds=None`` they stop once a peel leaves the adjacency unchanged.
    """
    e = _undirected(edges, src, dst).distinct()
    adj = e.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    def peel(cur):
        deg = cur.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
        surv = deg.where(F.col("d") >= k).select("v")
        return cur.join(surv, "v", "left_semi").join(
            surv.withColumnRenamed("v", "nbr"), "nbr", "left_semi"
        ).select("v", "nbr")

    # rounds=0 is the raw degree table
    adj = fixpoint(adj, peel, rounds, key=() if rounds is not None else ("v", "nbr"))
    return adj.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).cast("int").alias("degree")
    )


def kcore_oracle_sql(edges_sql: str, k: int, rounds: int = 4) -> str:
    """DuckDB twin of :func:`kcore` with a fixed round count.
    ``edges_sql`` must yield (src, dst)."""
    sql = f"""
    WITH raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql})),
    e AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
    ),
    a0 AS MATERIALIZED (
      SELECT a AS v, b AS nbr FROM e UNION ALL SELECT b, a FROM e
    )"""
    for i in range(1, rounds + 1):
        p = i - 1
        sql += f""",
    s{i} AS MATERIALIZED (
      SELECT v FROM a{p} GROUP BY v HAVING COUNT(*) >= {k}
    ),
    a{i} AS MATERIALIZED (
      SELECT x.v, x.nbr FROM a{p} x
      JOIN s{i} sv ON x.v = sv.v JOIN s{i} sn ON x.nbr = sn.v
    )"""
    sql += f"""
    SELECT v AS node, CAST(COUNT(*) AS INT) AS degree
    FROM a{rounds} GROUP BY v ORDER BY node"""
    return sql


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
    rounds: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Multi-source breadth-first search: shortest hop-distance from any
    source, capped at ``rounds`` hops. Returns ``(node, dist)`` for every
    REACHED node (unreached nodes are absent — at web scale the reached
    frontier is the output, not the full vertex set). A NULL source is no
    node and is dropped.

    Pregel shape: the frontier table carries (node, dist); each
    synchronous round is one equi-join of the edge list with the current
    distance table plus one min-aggregate — both keyed on node id,
    map-side combined, AQE-skew-splittable. The rounds run under
    ``plans.graph.fixpoint``. Integer arithmetic throughout, so the DuckDB
    unrolled-CTE twin (:func:`bfs_levels_oracle_sql`) is exact.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    )
    if not directed:
        e = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.distinct().persist()
    dist = (
        sources.select(F.col(source_col).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
    )

    def hop(dist):
        nxt = e.join(dist.withColumnRenamed("node", "s"), "s").select(
            F.col("d").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        return (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
        )

    try:
        return fixpoint(dist, hop, rounds).localCheckpoint(eager=True)
    finally:
        e.unpersist()


def bfs_levels_oracle_sql(
    edges_sql: str, sources_sql: str, rounds: int = 6, directed: bool = False
) -> str:
    """DuckDB twin of :func:`bfs_levels`: the rounds unrolled as a CTE
    chain. ``edges_sql`` yields (src, dst); ``sources_sql`` yields (node)."""
    sym = "" if directed else "UNION ALL SELECT dst, src FROM raw"
    sql = f"""
    WITH raw AS MATERIALIZED (
      SELECT src, dst FROM ({edges_sql})
      WHERE src IS NOT NULL AND dst IS NOT NULL
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT src AS s, dst AS d FROM (SELECT src, dst FROM raw {sym})
    ),
    d0 AS MATERIALIZED (
      SELECT DISTINCT node, 0 AS dist FROM ({sources_sql}) WHERE node IS NOT NULL
    )"""
    for i in range(1, rounds + 1):
        p = i - 1
        sql += f""",
    d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{p}
        UNION ALL
        SELECT e.d AS node, x.dist + 1 AS dist FROM e JOIN d{p} x ON e.s = x.node
      ) GROUP BY node
    )"""
    sql += f"""
    SELECT node, CAST(dist AS INT) AS dist FROM d{rounds} ORDER BY node"""
    return sql


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex triangle counts over an undirected graph.

    Input may contain duplicates, self-loops, and both orientations —
    edges are canonicalized to distinct ``a < b`` pairs first. Returns
    ``(node, triangles)`` for every vertex incident to ≥ 1 edge (zero
    rows for triangle-free vertices are included).

    Scale shape (the standard degree-orientation bound, Suri & Vassilvitskii
    WWW'11 "Counting Triangles and the Curse of the Last Reducer"): each
    canonical edge is ORIENTED from its lower-(degree, id) endpoint to the
    higher one, so every wedge is enumerated at its lowest-degree corner —
    the self-join that lists wedges is bounded by O(m^{3/2}) total wedge
    rows regardless of hot hubs (a degree-D celebrity vertex produces
    wedges only from neighbors that are themselves high-degree). The
    closing-edge check is an equi-join of wedges against the canonical
    edge set; every triangle is found exactly once (its corners appear in
    one orientation order only).

    Three shuffles: degree agg, wedge self-join on the apex, closing-edge
    join — all equi-joins on narrow keys, AQE-skew-splittable.
    ``assume_canonical=True`` skips the canonicalization shuffle when the
    caller already provides distinct ``a < b`` pairs, and ``degrees``
    (``(node, degree)`` over that same canonical set) skips the degree
    aggregate — both for the :func:`clustering_coefficient` composition
    path, which otherwise pays each shuffle twice.
    """
    if assume_canonical:
        e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        e = _undirected(edges, src, dst).distinct()
    if degrees is not None:
        deg = degrees.select(
            F.col(degrees.columns[0]).alias("v"), F.col(degrees.columns[1]).alias("d")
        )
    else:
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    # orient each edge from the lower-(degree, id) endpoint (u) to the other (w)
    ed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    lo_first = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    # wedges at the apex u: unordered neighbor pairs (v1 < v2 by id)
    o1 = oriented.select(F.col("u"), F.col("w").alias("v1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("v2"))
    wedges = o1.join(o2, "u").where(F.col("v1") < F.col("v2"))
    # close the wedge against the canonical edge set (v1 < v2 matches a < b)
    tri = wedges.join(
        e.select(F.col("a").alias("v1"), F.col("b").alias("v2")), ["v1", "v2"]
    ).select(F.col("u").alias("c1"), F.col("v1").alias("c2"), F.col("v2").alias("c3"))
    corners = (
        tri.select(F.col("c1").alias("node"))
        .unionAll(tri.select(F.col("c2").alias("node")))
        .unionAll(tri.select(F.col("c3").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    verts = deg.select(F.col("v").alias("node"))
    return verts.join(corners, "node", "left").select(
        "node", F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias("triangles")
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int = 1000,
) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003, "Friends and
    neighbors on the Web") over an undirected graph: for every
    NON-adjacent pair (a, b) sharing at least one neighbor,

        score(a, b) = Σ_{z ∈ N(a) ∩ N(b)} 1 / ln(deg(z))

    — the canonical "which KG edges are missing?" analytic after entity
    resolution (high-scoring non-edges are sameAs/relation candidates).
    Returns ``(a, b, common, score)`` with a < b, ``common`` the shared-
    neighbor count and ``score`` rounded at 6 (ln() last-ulp divergence
    between engines cannot flip a rounded value).

    Scale shape: wedges are enumerated at their CENTER z (one adjacency
    self-join keyed on z), so the cost is Σ_z deg(z)² — bounded by
    ``max_center_degree``, which drops hub centers the same way
    :func:`~sopspark.text.dedup.duplicate_spans` caps hot shingles: a
    celebrity node of degree B would otherwise emit B²/2 pairs. The cap
    is part of the operator's CONTRACT (scores count only capped centers)
    so the DuckDB twin replicates it exactly with a HAVING clause. The
    per-pair aggregate is map-side combinable; the existing-edge removal
    is a narrow left_anti join on the canonical (a, b) key.
    """
    e = (
        _undirected(edges, src, dst)
        .distinct()
        # reused on three plan branches (two adj legs + the anti join)
        .localCheckpoint(eager=True)
    )
    adj = e.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    centers = adj.join(
        deg.where((F.col("d") >= 2) & (F.col("d") <= max_center_degree)), "v"
    )
    pairs = (
        centers.select("v", F.col("nbr").alias("a"), "d")
        .join(centers.select("v", F.col("nbr").alias("b")), "v")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum(1.0 / F.log("d")).alias("_score"),
        )
    )
    return pairs.join(e, ["a", "b"], "left_anti").select(
        "a", "b", "common", F.round("_score", 6).alias("score")
    )


def adamic_adar_oracle_sql(edges_sql: str, max_center_degree: int = 1000) -> str:
    """DuckDB twin of :func:`adamic_adar` (``edges_sql`` yields
    (src, dst)); the center-degree cap replicates as a HAVING clause."""
    return f"""
    WITH raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql})),
    e AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
    ),
    adj AS MATERIALIZED (
      SELECT a AS v, b AS nbr FROM e UNION ALL SELECT b, a FROM e
    ),
    centers AS MATERIALIZED (
      SELECT v, CAST(COUNT(*) AS DOUBLE) AS d FROM adj GROUP BY v
      HAVING COUNT(*) >= 2 AND COUNT(*) <= {max_center_degree}
    ),
    pairs AS (
      SELECT x.nbr AS a, y.nbr AS b,
             CAST(COUNT(*) AS BIGINT) AS common,
             SUM(1.0 / ln(c.d)) AS score
      FROM centers c
      JOIN adj x ON x.v = c.v
      JOIN adj y ON y.v = c.v AND x.nbr < y.nbr
      GROUP BY x.nbr, y.nbr
    )
    SELECT p.a, p.b, p.common, round(p.score, 6) AS score
    FROM pairs p ANTI JOIN e ON e.a = p.a AND e.b = p.b
    """


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 8,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, JACM 46(5)) over a
    directed graph: per iteration auth(v) = Σ_{u→v} hub(u) then
    hub(u) = Σ_{u→v} auth(v), each L2-normalized. Returns
    ``(node, hub, auth)`` for every endpoint.

    Scale shape identical to :func:`pagerank`: per half-iteration one
    edge-scan equi-join with the node-sized score table + one map-side-
    combined sum aggregate; the L2 norm is a scalar aggregate broadcast
    back with a 1-row crossJoin. Lineage truncated with a lazy
    ``localCheckpoint`` per half-iteration (inside ``_normalized``, where
    the score table is referenced by both the norm and the output branch —
    see the note there). Determinism:
    fixed iteration count → closed form of the edge set; double summation
    order sensitivity (~1e-15 relative) is absorbed by rounding at the
    consumer, same contract as :func:`pagerank`.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    if not nodes.take(1):
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        ).localCheckpoint(eager=True)

    def _normalized(raw: DataFrame, col: str) -> DataFrame:
        """L2-normalize the raw score table (norm > 0 is guaranteed: every
        edge endpoint gives one side a positive sum).

        The raw table is lazily checkpointed BEFORE the norm aggregate so
        the norm branch and the output branch share one materialized copy.
        Without it each half-iteration embeds its input subtree twice
        (norm agg + projection), doubling the plan per half-iteration —
        exponential recompute inside every truncation window (measured
        57 s vs 3 s at sf0.1).

        Nodes absent from ``raw`` carry score 0.0: they add nothing to the
        L2 norm and nothing to the next round's edge sums (every live
        score is strictly positive, so absence ≡ zero exactly, not
        approximately), so the node-complete left join happens ONCE at the
        end instead of once per half-iteration — one fewer node-keyed
        shuffle join per half-iteration, same floating-point results."""
        raw = raw.localCheckpoint(eager=False)
        norm = raw.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n")
        )
        return raw.crossJoin(F.broadcast(norm)).select(
            "node", (F.col(col) / F.col("_n")).alias(col)
        )

    try:
        hub = nodes.withColumn("hub", F.lit(1.0))
        auth = None
        for i in range(iters):
            auth = _normalized(
                e.join(hub.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("auth")),
                "auth",
            )
            hub = _normalized(
                e.join(auth.withColumnRenamed("node", "dst"), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("auth").alias("hub")),
                "hub",
            )
        return (
            nodes.join(hub, "node", "left")
            .join(auth, "node", "left")
            .select(
                "node",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("auth", F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        nodes.unpersist()


def hits_oracle_sql(edges_sql: str, iters: int = 8) -> str:
    """DuckDB twin of :func:`hits`, iterations unrolled as a CTE chain
    (``edges_sql`` yields (src, dst))."""
    sql = f"""
    WITH raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql})),
    e AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM raw
      WHERE src IS NOT NULL AND dst IS NOT NULL
    ),
    nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
    h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)"""
    for i in range(1, iters + 1):
        p = i - 1
        sql += f""",
    ar{i} AS MATERIALIZED (
      SELECT nodes.node, COALESCE(r.raw, 0.0) AS raw FROM nodes LEFT JOIN (
        SELECT e.dst AS node, SUM(h.hub) AS raw
        FROM e JOIN h{p} h ON h.node = e.src GROUP BY e.dst
      ) r USING (node)
    ),
    a{i} AS MATERIALIZED (
      SELECT node, raw / (SELECT sqrt(SUM(raw * raw)) FROM ar{i}) AS auth
      FROM ar{i}
    ),
    hr{i} AS MATERIALIZED (
      SELECT nodes.node, COALESCE(r.raw, 0.0) AS raw FROM nodes LEFT JOIN (
        SELECT e.src AS node, SUM(a.auth) AS raw
        FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
      ) r USING (node)
    ),
    h{i} AS MATERIALIZED (
      SELECT node, raw / (SELECT sqrt(SUM(raw * raw)) FROM hr{i}) AS hub
      FROM hr{i}
    )"""
    sql += f"""
    SELECT h.node, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
    FROM h{iters} h JOIN a{iters} a USING (node)
    ORDER BY node"""
    return sql


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """Strongly connected components of a directed graph: ``(node, scc)``
    with ``scc`` the minimum node id of the component, for every edge
    endpoint. The coloring algorithm (Orzan 2004; the FW-BW-Trim family,
    Hong et al. PPoPP'13), every phase expressed as joins + aggregates:

      repeat until no nodes remain:
        1. TRIM — nodes with no in-edges or no out-edges in the remaining
           subgraph cannot lie on a cycle: singleton SCCs, peeled in one
           anti-join pass (kills DAG regions without any fixpoint).
        2. COLOR — forward-min fixpoint ``color(v) = min({v} ∪ {color(w):
           v→w})`` converges to the minimum node reachable from v
           (diameter-bounded rounds, each one edge join + min aggregate).
        3. CONFIRM — for each root c (``color(c) = c``), every node of
           SCC(c) is reachable from c along INTRA-color edges (any
           intermediate x on a c→v path with color(v) = c satisfies
           reach(x) = reach(c), hence color(x) = c), so one BFS fixpoint
           over the color-restricted edge set marks exactly the SCC
           members, all colors simultaneously.
        4. PEEL confirmed nodes and their edges; repeat.

    Worst case is a reversed-id path (O(n) peels — the known weakness of
    coloring SCC; trim absorbs the common DAG case), typical corpus
    graphs finish in a handful of peels. Every fixpoint round is one
    narrow equi-join + one map-side-combined aggregate, run to convergence
    under ``plans.graph.fixpoint``; per-phase state is a node-sized table. Deterministic: the
    result is a closed form of the edge set. The DuckDB twin
    (:func:`scc_oracle_sql`) is an INDEPENDENT formulation — brute-force
    mutual reachability over a recursive closure — so parity
    machine-verifies the distributed algorithm end to end.
    """
    e0 = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        # self-loops don't affect SCC membership
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .where(F.col("node").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    rem_nodes = all_nodes
    rem_edges = e0.localCheckpoint(eager=True)
    done: list[DataFrame] = []  # (node, scc) pieces, unioned at the end

    for _ in range(max_iter):
        if not rem_nodes.take(1):
            break
        # ---- 1. trim: no in-edge or no out-edge ⇒ singleton SCC
        core = rem_nodes.join(
            rem_edges.select(F.col("dst").alias("node")).distinct(), "node", "semi"
        ).join(
            rem_edges.select(F.col("src").alias("node")).distinct(), "node", "semi"
        ).localCheckpoint(eager=True)
        trimmed = rem_nodes.join(core, "node", "left_anti")
        done.append(trimmed.select("node", F.col("node").alias("scc")))
        rem_nodes = core
        if not rem_nodes.take(1):
            break
        rem_edges = (
            rem_edges.join(
                rem_nodes.withColumnRenamed("node", "src"), "src", "semi"
            )
            .join(rem_nodes.withColumnRenamed("node", "dst"), "dst", "semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        # ---- 2. color: forward-min fixpoint. color_{i+1} references
        # color_i TWICE (succ join + direct), the HITS plan-doubling shape
        # that fixpoint's per-round truncation absorbs
        def color_round(color):
            succ = (
                rem_edges.join(
                    color.select(
                        F.col("node").alias("dst"), F.col("color").alias("_c")
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("node"))
                .agg(F.min("_c").alias("_m"))
            )
            return color.join(succ, "node", "left").select(
                "node",
                F.least(F.col("color"), F.coalesce(F.col("_m"), F.col("color"))).alias(
                    "color"
                ),
            )

        color = fixpoint(
            rem_nodes.withColumn("color", F.col("node")), color_round, key=("node", "color")
        )
        # ---- 3. confirm: BFS from roots over intra-color edges
        ic = (
            rem_edges.join(
                color.select(F.col("node").alias("src"), F.col("color").alias("_cs")),
                "src",
            )
            .join(
                color.select(F.col("node").alias("dst"), F.col("color").alias("_cd")),
                "dst",
            )
            .where(F.col("_cs") == F.col("_cd"))
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        reached = color.where(F.col("color") == F.col("node")).select(
            "node", F.col("color").alias("scc")
        )

        # same doubling shape: reached_{i+1} references reached_i twice
        def confirm_round(reached):
            step = ic.join(reached.withColumnRenamed("node", "src"), "src").select(
                F.col("dst").alias("node"), "scc"
            )
            return reached.unionByName(step).groupBy("node").agg(
                F.min("scc").alias("scc")
            )

        reached = fixpoint(reached, confirm_round, key=("node", "scc"))
        done.append(reached)
        # ---- 4. peel
        rem_nodes = rem_nodes.join(reached, "node", "left_anti").localCheckpoint(
            eager=True
        )
        rem_edges = (
            rem_edges.join(rem_nodes.withColumnRenamed("node", "src"), "src", "semi")
            .join(rem_nodes.withColumnRenamed("node", "dst"), "dst", "semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"SCC did not converge within {max_iter} peel rounds")

    out = done[0]
    for piece in done[1:]:
        out = out.unionByName(piece)
    return out.localCheckpoint(eager=True)


def scc_oracle_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`strongly_connected_components` — an
    INDEPENDENT formulation: recursive transitive closure, then
    scc(v) = min({v} ∪ {u : v→*u AND u→*v}). Quadratic in reachable
    pairs (fine at oracle scale), so parity machine-verifies the
    distributed coloring algorithm against brute force."""
    return f"""
    WITH RECURSIVE raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql})),
    e AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM raw
      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
    ),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM raw WHERE src IS NOT NULL
      UNION SELECT dst FROM raw WHERE dst IS NOT NULL
    ),
    reach(s, t) AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.t
    ),
    mutual AS (
      SELECT a.s AS v, a.t AS u FROM reach a JOIN reach b
        ON a.s = b.t AND a.t = b.s
    )
    SELECT n.node, least(n.node, min(m.u)) AS scc
    FROM nodes n LEFT JOIN mutual m ON m.v = n.node
    GROUP BY n.node
    """
