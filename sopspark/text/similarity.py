"""Similarity search over embedding columns (``array<float>``).

  * :func:`cosine_topk` — brute-force cosine top-k: the correctness
    baseline. Dot products via ``F.zip_with`` + ``F.aggregate`` (JVM-side,
    no Python); top-k via window ``row_number``. Cost O(|queries|·|corpus|)
    — use only for small query sets or as the oracle.
  * :func:`lsh_cosine_topk` — the scale path: random-hyperplane (signed
    projection) LSH buckets; candidates = bucket collisions across any of
    ``tables`` independent hash tables, then exact cosine re-rank within
    candidates. Recall < 1 by construction; tune ``planes``/``tables``.
  * :func:`embedding_near_dups` — near-duplicate pairs (cosine ≥ τ) via the
    same bucketing, for embedding-level dedup.

Hyperplanes are generated from a seeded RNG on the driver (tiny:
planes × dim floats) and broadcast as literal arrays — deterministic across
runs and executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sopspark.session import local_df


def _norm_col(vec):
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, self-match
    excluded. Deterministic tie-break on neighbor id.
    """
    return _scored_topk(
        corpus, queries, k, id_col, vec_col,
        pair_filter=F.col("query_id") != F.col("neighbor_id"),
    )


def _scored_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    pair_filter,
    extra_corpus_cols: dict | None = None,
    extra_query_cols: dict | None = None,
) -> DataFrame:
    """Shared exact-scoring skeleton for :func:`cosine_topk` and
    :func:`hard_negatives`: score every (query, corpus) pair, rank per
    query. The ANCHOR (query) side broadcasts — it is the small side by
    contract; the corpus stays distributed (broadcasting it instead would
    collect the whole table to the driver). Self-scan (queries IS corpus)
    skips the hint and lets AQE pick."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm_col(F.col(vec_col)).alias("_cn"),
        *[v.alias(name) for name, v in (extra_corpus_cols or {}).items()],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm_col(F.col(vec_col)).alias("_qn"),
        *[v.alias(name) for name, v in (extra_query_cols or {}).items()],
    )
    left = F.broadcast(q) if queries is not corpus else q
    scored = (
        left.crossJoin(c)
        .where(pair_filter)
        .withColumn(
            "cosine",
            F.round(_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dim)).astype("float64").tolist()


def _bucket_col(vec, plane_rows: list[list[float]]):
    """sign-pattern bucket id for one hash table (int bitmask)."""
    bits = []
    for j, plane in enumerate(plane_rows):
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(x) for x in plane]), lambda v, p: v * p),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(proj >= 0, F.shiftleft(F.lit(1), j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Candidates = ids sharing a bucket with the query in ≥1 of ``tables``
    hash tables; exact cosine re-rank on candidates only. At 100 TB the
    bucket join replaces the cross join: cost ≈ Σ bucket² per table.
    """
    dim = len(corpus.select(vec_col).first()[0])
    # ALL hash tables in one projection + explode per side: the corpus is
    # scanned ONCE (the per-table union re-scanned it `tables` times), and
    # candidate generation is a single (table, bucket) equi-join
    all_planes = [_hyperplanes(dim, planes, seed + t) for t in range(tables)]

    def banded(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        # explode_outer: literal struct array is never empty, and a plain
        # explode's inferred size()>0 filter would duplicate every
        # projection expression
        tb = F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("_tbl"),
                        _bucket_col(F.col(vec_col), all_planes[t]).alias("_bkt"),
                    )
                    for t in range(tables)
                ]
            )
        )
        return df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec), tb.alias("_tb")
        ).select(out_id, out_vec, F.col("_tb._tbl").alias("_tbl"), F.col("_tb._bkt").alias("_bkt"))

    cb = banded(corpus, "neighbor_id", "_cv")
    qb = banded(queries, "query_id", "_qv")
    cands = (
        qb.join(cb, on=["_tbl", "_bkt"])
        .select("query_id", "neighbor_id", "_qv", "_cv")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.withColumn(
        "cosine",
        F.round(
            _dot(F.col("_qv"), F.col("_cv")) / (_norm_col(F.col("_qv")) * _norm_col(F.col("_cv"))),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dups_exact(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (a < b, cosine ≥ τ).

    O(n²) — the correctness baseline / oracle for :func:`embedding_near_dups`.
    At scale use the LSH variant; this one exists so every approximate path
    has an exact twin to measure recall against.
    """
    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).select(id_col, "_v", _norm_col(F.col("_v")).alias("_n"))
    a = v.select(F.col(id_col).alias("a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = v.select(F.col(id_col).alias("b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn("cosine", _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def _kmeans_centroids(df: DataFrame, vec_col: str, nlist: int, seed: int, sample: int = 4096, iters: int = 8):
    """Driver-side k-means on a bounded sample (nlist × dim floats — tiny).

    Centroid training is the only driver-side step of IVF; at 100 TB the
    sample cap keeps it constant-cost and the result broadcasts as literals.
    """
    rows = df.select(vec_col).limit(sample).collect()
    x = np.array([r[0] for r in rows], dtype="float64")
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(nlist, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)  # cosine on normalized rows
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                cent[j] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def _nearest_centroids(vec, centroids, n: int):
    """ids of the n nearest centroids by dot product (vec need not be
    normalized — ranking is scale-invariant per vec). Pure Catalyst literal
    expressions — use only for small nlist (codegen size grows with nlist);
    ties break toward the larger centroid id (reverse of ascending sort)."""
    dots = F.array(
        *[
            F.struct(
                _dot(F.transform(vec, lambda x: x.cast("double")), F.array(*[F.lit(float(c)) for c in row])).alias("d"),
                F.lit(j).alias("j"),
            )
            for j, row in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(dots)), 1, n)
    return F.transform(top, lambda s: s["j"])


# above this many centroids, literal-expression assignment would blow up
# whole-stage codegen — switch to a broadcast centroid table + rank
_CENTROID_LITERAL_MAX = 256


def _assign_lists(df: DataFrame, out_id: str, vec_col: str, cent, n: int) -> DataFrame:
    """(id, vec, norm, _list) rows assigning each vector to its ``n`` nearest
    centroids. Small nlist: literal-expression argmax inside codegen. Large
    nlist: broadcast the centroid table and rank with a per-vector window —
    the same dot products, linear plan size. Tie-break matches the literal
    path (higher centroid id wins)."""
    base = df.select(
        F.col("_id_").alias(out_id),
        F.col("_vec_").alias("_v"),
        _norm_col(F.transform(F.col("_vec_"), lambda x: x.cast("double"))).alias("_n"),
    )
    if len(cent) <= _CENTROID_LITERAL_MAX:
        # explode_outer: the nearest-centroid list is never empty (>=1
        # centroid), and plain explode's inferred size()>0 filter would
        # duplicate every centroid dot product into the filter.
        return base.withColumn(
            "_list", F.explode_outer(_nearest_centroids(F.col("_v"), cent, n))
        )
    spark = df.sparkSession
    cdf = local_df(
        spark,
        [(j, [float(x) for x in row]) for j, row in enumerate(cent)],
        "_list int, _cvec array<double>",
    )
    scored = base.crossJoin(F.broadcast(cdf)).withColumn(
        "_cd", _dot(F.transform(F.col("_v"), lambda x: x.cast("double")), F.col("_cvec"))
    )
    w = Window.partitionBy(out_id).orderBy(F.col("_cd").desc(), F.col("_list").desc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n)
        .select(out_id, "_v", "_n", "_list")
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate cosine top-k.

    Index: every corpus vector is assigned to its nearest of ``nlist``
    k-means centroids (one narrow shuffle key). Search: each query probes
    its ``nprobe`` nearest centroid buckets and re-ranks exactly within
    them — cost ≈ |queries| · nprobe/nlist · |corpus| instead of the full
    cross join. ``nprobe == nlist`` degrades to exact brute force (recall
    1.0), the property the tests pin.
    """
    cent = _kmeans_centroids(corpus, vec_col, nlist, seed)
    c = _assign_lists(
        corpus.select(F.col(id_col).alias("_id_"), F.col(vec_col).alias("_vec_")),
        "neighbor_id", vec_col, cent, 1,
    ).select("neighbor_id", F.col("_v").alias("_cv"), F.col("_n").alias("_cn"), "_list")
    q = _assign_lists(
        queries.select(F.col(id_col).alias("_id_"), F.col(vec_col).alias("_vec_")),
        "query_id", vec_col, cent, nprobe,
    ).select("query_id", F.col("_v").alias("_qv"), F.col("_n").alias("_qn"), "_list")
    scored = (
        q.join(c, on="_list")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cosine",
            F.round(
                _dot(
                    F.transform(F.col("_qv"), lambda x: x.cast("double")),
                    F.transform(F.col("_cv"), lambda x: x.cast("double")),
                )
                / (F.col("_qn") * F.col("_cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 10,
    tables: int = 6,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold)
    via LSH candidate buckets + exact verification."""
    topk = lsh_cosine_topk(df, df, k=50, id_col=id_col, vec_col=vec_col, planes=planes, tables=tables, seed=seed)
    return (
        topk.where((F.col("cosine") >= threshold) & (F.col("query_id") < F.col("neighbor_id")))
        .select(F.col("query_id").alias("a"), F.col("neighbor_id").alias("b"), "cosine")
        .distinct()
    )


def semdedup(
    df: DataFrame,
    k: int = 16,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster the embedding
    space, then drop within-cluster semantic near-duplicates — a vector is
    a dup iff some LOWER-id vector in its cluster has cosine ≥ ``tau``
    (pair-set semantics, not greedy-order-dependent → oracle-replicable).

    Deterministic seed clustering: the ``k`` lowest-id vectors are the
    cluster seeds; every vector joins its max-cosine seed (round-6 cosine,
    ties → lowest seed id). The refined-centroid variant is
    :func:`_kmeans_centroids` + :func:`ivf_cosine_topk`'s assignment; the
    seed variant is the oracle-shared path.

    Scale shape: seeds are a k-row broadcast (assignment is a map-side
    expansion + one window exchange on ``id_col``); the dup check is an
    equi-join on the cluster key — candidate pairs are bounded per cluster,
    never all-pairs. At 100 TB, pick k ≈ √n so clusters stay executor-sized
    (the paper's regime), or pre-shard giant clusters like the LSH
    ``max_bucket`` cap.

    Returns (id, cluster, is_dup) for every input row.
    """
    import numpy as np

    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).select(id_col, "_v", _norm_col(F.col("_v")).alias("_n"))

    # Seed scoring as a mapInArrow numpy kernel (the margin_mining /
    # kmeans idiom): the k seeds are bounded driver state (the same rows
    # the previous broadcast shipped), the kernel emits one UNROUNDED
    # cosine column per seed with the exact float64 op sequence of the
    # Catalyst fold it replaces (dimension-at-a-time accumulation, norms
    # passed through from the Catalyst-computed column), and the
    # authoritative round(6) + (cos desc, seed asc) argmax stay in Spark —
    # the argmax as one F.least over (−cos, sid) structs instead of a
    # per-id window, which also removes the window exchange and the k-way
    # row expansion.
    seed_rows = v.orderBy(id_col).limit(k).collect()
    seed_rows = [r for r in seed_rows if r["_v"] is not None]
    if not seed_rows:
        # empty input (or all-null vectors): same empty frame the previous
        # crossJoin-with-empty-broadcast produced
        return v.where(F.lit(False)).select(
            id_col, F.col(id_col).alias("cluster"), F.lit(False).alias("is_dup")
        )
    sids = [r[id_col] for r in seed_rows]
    SV = (
        np.asarray([list(r["_v"]) for r in seed_rows], dtype=np.float64)
        if seed_rows
        else np.zeros((0, 0))
    )
    SN = np.asarray([r["_n"] for r in seed_rows], dtype=np.float64)
    nseeds, dim = SV.shape if seed_rows else (0, 0)
    id_ddl = v.schema[id_col].dataType.simpleString()

    def _seed_scores(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            lst = b.column(1).to_pylist()
            n_arr = b.column(2).to_numpy(zero_copy_only=False)
            nrow = b.num_rows
            cos = np.full((nseeds, nrow), np.nan)
            valid = np.array(
                [
                    x is not None and len(x) == dim and None not in x
                    for x in lst
                ],
                dtype=bool,
            )
            valid &= ~np.isnan(n_arr.astype(np.float64, copy=False))
            if valid.any() and nseeds:
                X = np.asarray(
                    [lst[i] for i in np.nonzero(valid)[0]], dtype=np.float64
                )
                NV = n_arr[valid].astype(np.float64)
                for si in range(nseeds):
                    acc = np.zeros(X.shape[0])
                    for j in range(dim):
                        acc += X[:, j] * SV[si, j]
                    cos[si, valid] = acc / (NV * SN[si])
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), b.column(2)]
                + [pa.array(cos[si], mask=~valid) for si in range(nseeds)],
                names=[id_col, "_v", "_n"] + [f"_c{si}" for si in range(nseeds)],
            )

    ccols = ", ".join(f"_c{si} double" for si in range(nseeds))
    scored = v.mapInArrow(
        _seed_scores,
        schema=f"{id_col} {id_ddl}, _v array<double>, _n double, {ccols}",
    )
    cands = [
        F.struct(
            # null cosine (degenerate vector) ranks WORST — the window it
            # replaces ordered desc nulls-last
            F.coalesce(-F.round(F.col(f"_c{si}"), 6), F.lit(float("inf"))).alias(
                "nc"
            ),
            F.lit(sid).alias("s"),
        )
        for si, sid in enumerate(sids)
    ]
    best = cands[0] if len(cands) == 1 else F.least(*cands)
    # checkpoint before the cluster self-join: both join branches AND the
    # final flag join reuse `assigned`; without a materialization each
    # would re-execute the seed-scoring kernel
    assigned = scored.withColumn("_best", best).select(
        id_col, F.col("_best.s").alias("cluster"), "_v", "_n"
    ).localCheckpoint()

    # Within-cluster near-dup flags: one grouped-map pandas pass per
    # cluster instead of a pairwise self-join — each vector ships ONCE per
    # cluster (the join shipped it once per candidate pair), and the dot
    # products run through the same bitwise-faithful numpy accumulation;
    # the >= tau comparison happens on identical float64 values. Cluster
    # size is the executor-memory bound, same contract as before (the
    # paper's k ≈ √n regime keeps clusters executor-sized).
    import pandas as pd

    def _cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        vecs = pdf["_v"].tolist()
        norms = pdf["_n"].to_numpy()[order].astype(np.float64)
        valid = np.array(
            [
                vecs[i] is not None and len(vecs[i]) == dim
                for i in order
            ],
            dtype=bool,
        )
        keep_idx = np.nonzero(valid)[0]
        if len(keep_idx) < 2:
            return pd.DataFrame({id_col: ids[:0]})
        X = np.asarray([vecs[order[i]] for i in keep_idx], dtype=np.float64)
        NV = norms[keep_idx]
        m = X.shape[0]
        acc = np.zeros((m, m))
        for j in range(X.shape[1]):
            acc += np.outer(X[:, j], X[:, j])
        cos = acc / np.outer(NV, NV)
        iu = np.triu_indices(m, 1)
        dup_cols = np.unique(iu[1][cos[iu] >= tau])
        return pd.DataFrame({id_col: ids[keep_idx[dup_cols]]})

    dups = (
        assigned.select("cluster", id_col, "_v", "_n")
        .groupBy("cluster")
        .applyInPandas(_cluster_dups, schema=f"{id_col} {id_ddl}")
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.select(id_col, "cluster")
        .join(dups, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    anchor, the top-k most-cosine-similar vectors carrying a DIFFERENT
    label — the negatives that sit closest to the decision boundary.

    The label anti-filter runs BELOW the rank window, so same-label
    neighbors are replaced by the next-nearest negatives rather than
    truncating the k. Rows with a null label can never qualify on either
    side (a null comparison filters them), matching the SQL twin.

    Same scale shape as :func:`cosine_topk` (shared skeleton
    :func:`_scored_topk`): the small ANCHOR side broadcasts, the corpus
    stays distributed, one window per anchor — or swap in the IVF
    candidate generator upstream at larger anchor counts.
    """
    return _scored_topk(
        corpus, queries, k, id_col, vec_col,
        pair_filter=F.col("_ql") != F.col("_cl"),
        extra_corpus_cols={"_cl": F.col(label_col)},
        extra_query_cols={"_ql": F.col(label_col)},
    )


# ---------------------------------------------------------------------------
# scalar quantization (int8 embedding compression)
# ---------------------------------------------------------------------------

def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 256,
) -> DataFrame:
    """Per-dimension scalar quantization to ``levels`` codes (default int8)
    — the standard 4× memory reduction that keeps a 100 TB embedding corpus
    ANN-searchable in RAM (FAISS ``SQ8`` shape, public: Johnson et al.
    arXiv:1702.08734 §4).

    Pass 1 computes the per-dimension ``[lo, hi]`` range: one
    ``posexplode`` + hash aggregate (map-side combined; state = dim rows,
    not corpus rows), collected to the driver (dim rows — bounded) and
    broadcast back as LITERAL arrays, so pass 2 is a map-only projection:

        code_i  = floor((x_i - lo_i) / (hi_i - lo_i) * (levels-1) + 0.5) - levels/2
        dequant = lo_i + ((code_i + levels/2) * (hi_i - lo_i)) / (levels-1)

    All arithmetic in DOUBLE with ``floor(+0.5)`` rounding so the DuckDB
    oracle replicates the codes bit-for-bit (no round-half-even/half-up
    divergence). Constant dimensions (hi == lo) code to 0 and dequantize
    to lo exactly.

    Returns ``(id_col, codes array<int>, mse double)`` where ``mse`` is the
    per-vector mean squared reconstruction error.
    """
    v = F.col("_v")
    base = df.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v")
    )

    dims = (
        base.select(F.posexplode("_v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    lo = [r["lo"] for r in sorted(dims, key=lambda r: r["pos"])]
    hi = [r["hi"] for r in sorted(dims, key=lambda r: r["pos"])]
    lo_lit = F.array(*[F.lit(float(x)) for x in lo])
    hi_lit = F.array(*[F.lit(float(x)) for x in hi])
    half = levels // 2
    top = float(levels - 1)

    def _code(x, i):
        l = F.element_at(lo_lit, i + 1)
        h = F.element_at(hi_lit, i + 1)
        return F.when(h == l, F.lit(0)).otherwise(
            F.floor((x - l) / (h - l) * F.lit(top) + F.lit(0.5)).cast("int") - F.lit(half)
        )

    def _dequant(c, i):
        l = F.element_at(lo_lit, i + 1)
        h = F.element_at(hi_lit, i + 1)
        return l + ((c.cast("double") + F.lit(float(half))) * (h - l)) / F.lit(top)

    coded = base.select(
        F.col(id_col),
        "_v",
        F.transform(v, _code).alias("codes"),
    )
    err = F.zip_with(
        v, F.transform(F.col("codes"), _dequant), lambda x, d: (x - d) * (x - d)
    )
    return coded.select(
        F.col(id_col),
        "codes",
        (F.aggregate(err, F.lit(0.0), lambda a, x: a + x) / F.size(v)).alias("mse"),
    )


def random_projection(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 77,
    scale: bool = True,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dimensions
    (Gaussian matrix, public result: Indyk–Motwani / Achlioptas) — the
    cheap dimensionality reduction in front of clustering/ANN when 64+
    dims are overkill.

    The ``out_dim × dim`` plane matrix is generated ONCE on the driver
    from a seeded RNG (deterministic across runs/executors — same policy
    as the LSH hyperplanes above) and broadcast as literal arrays, so the
    projection is a map-only Catalyst expression: ``y_j = (1/√out_dim) ·
    Σ_i P_ji · x_i`` via ``zip_with`` + ``aggregate``, no shuffle, no
    Python. With ``scale=False`` the raw dot products are returned.

    Returns ``(id_col, projected array<double>)``; rounding is left to the
    caller (the oracle rounds at 6).
    """
    first = df.select(F.size(vec_col).alias("n")).first()
    dim = int(first["n"]) if first else 0
    planes = _hyperplanes(dim, out_dim, seed)
    factor = (1.0 / float(np.sqrt(out_dim))) if scale else 1.0
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cols = []
    for j in range(out_dim):
        p = F.array(*[F.lit(float(w)) for w in planes[j]])
        dot = F.aggregate(
            F.zip_with(v, p, lambda x, w: x * w), F.lit(0.0), lambda a, x: a + x
        )
        cols.append(dot * F.lit(factor))
    return df.select(F.col(id_col), F.array(*cols).alias("projected"))


def margin_mining(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    arXiv:1811.01136 §3.2, the "ratio" margin):

        margin(x, y) = cos(x, y) /
                       ((mean_{z∈NNk(x)} cos(x, z) + mean_{z∈NNk(y)} cos(z, y)) / 2)

    — the standard bitext/pair-mining score: dividing by the average
    similarity of each side's k-nearest neighborhood cancels hubness (a
    vector globally close to everything scores no free matches). Emits,
    per source vector, its best-margin target with ``margin >= threshold``.

    Output: ``(src_id, tgt_id, cosine, margin)``, margin rounded at 6
    (ranked on the rounded value — the engine-shared-ulp rule).

    Scale shape: this exact variant scores src × tgt with the src side
    broadcast (the smaller-side-by-contract convention shared with
    :func:`cosine_topk`); at corpus scale the scored-pair table instead
    comes from :func:`ivf_cosine_topk` / :func:`lsh_cosine_topk`
    candidates — the margin algebra downstream (two per-side top-k means
    + one join) is identical and shuffles only (id, id, score) triples.
    """
    # double-width vectors BEFORE the dot product: the DuckDB twin casts to
    # DOUBLE[] — float32 products would drift ~1e-7 against it, inside the
    # round-6 band the rank is computed on
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    # O(|S|·|T|·d) scoring pass as a mapInArrow batch kernel (guide-§4
    # shape: Spark distributes T, numpy does the bulk arithmetic) instead
    # of a per-pair interpreted Catalyst fold — the fold is a higher-order
    # function with no whole-stage codegen, and it dominated this
    # operator's wall. The src side is collected to the driver under the
    # SAME smaller-side-by-contract bound that previously made it a
    # broadcast-hash build side.
    #
    # Bitwise equivalence with the previous Catalyst expression (and the
    # DuckDB twin's contract): the fold summed products STRICTLY left to
    # right in float64; accumulating one dimension at a time across the
    # whole pair matrix (acc += T[:,j]·S[:,j]) performs the identical
    # sequence of IEEE multiply-then-add per pair (no FMA, no pairwise
    # reassociation), norms likewise, so the UNROUNDED cosines are
    # bit-identical and the authoritative F.round(…, 6) still happens in
    # Spark on identical inputs.
    import numpy as np

    s_rows = src.select(F.col(id_col).alias("src_id"), dv.alias("_sv")).collect()
    dim = len(s_rows[0]["_sv"]) if s_rows else 0
    S = (
        np.asarray([list(r["_sv"]) for r in s_rows], dtype=np.float64)
        if s_rows
        else np.zeros((0, 0), dtype=np.float64)
    )
    sn = np.zeros(S.shape[0], dtype=np.float64)
    for j in range(dim):
        sn += S[:, j] * S[:, j]
    sn = np.sqrt(sn)
    # zero-norm vectors (padding rows, failed encoders) would make the
    # cosine division throw DIVIDE_BY_ZERO under ANSI mode — drop them on
    # both sides before scoring (the oracle filters identically)
    skeep = sn > 0.0
    S, sn = S[skeep], sn[skeep]
    sids = [r["src_id"] for r, k in zip(s_rows, skeep) if k]
    ns = len(sids)

    t = tgt.select(F.col(id_col).alias("tgt_id"), dv.alias("_tv"))
    src_id_ddl = src.select(F.col(id_col).alias("src_id")).schema[
        "src_id"
    ].dataType.simpleString()
    tgt_id_ddl = t.schema["tgt_id"].dataType.simpleString()

    def _score(batches):
        import pyarrow as pa

        if ns == 0:
            return
        sids_np = np.asarray(sids)
        # bound per-slice memory: ~4M pair cells (~32 MB of float64)
        step = max(1, (1 << 22) // ns)
        for b in batches:
            if b.num_rows == 0:
                continue
            tid = b.column(0)
            T = np.asarray(b.column(1).to_pylist(), dtype=np.float64)
            tn = np.zeros(T.shape[0], dtype=np.float64)
            for j in range(dim):
                tn += T[:, j] * T[:, j]
            tn = np.sqrt(tn)
            tkeep = tn > 0.0
            if not tkeep.any():
                continue
            T, tn = T[tkeep], tn[tkeep]
            tid = tid.filter(pa.array(tkeep))
            for lo in range(0, T.shape[0], step):
                Ts, tns = T[lo : lo + step], tn[lo : lo + step]
                nt = Ts.shape[0]
                acc = np.zeros((nt, ns), dtype=np.float64)
                for j in range(dim):
                    acc += np.outer(Ts[:, j], S[:, j])
                cos = acc / (sn[None, :] * tns[:, None])
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.tile(sids_np, nt)),
                        tid.slice(lo, nt).take(
                            np.repeat(np.arange(nt), ns)
                        ),
                        pa.array(cos.ravel()),
                    ],
                    names=["src_id", "tgt_id", "cosine"],
                )

    scored = (
        t.mapInArrow(
            _score,
            schema=(
                f"src_id {src_id_ddl}, tgt_id {tgt_id_ddl}, cosine double"
            ),
        )
        .withColumn("cosine", F.round("cosine", 6))
        # the scored-pair table feeds THREE consumers (fwd top-k, bwd
        # top-k, final margin join): pin it so the dominant O(|S|·|T|·d)
        # dot-product pass runs once, not three times
        .localCheckpoint(eager=False)
    )
    wf = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("tgt_id"))
    wb = Window.partitionBy("tgt_id").orderBy(F.desc("cosine"), F.asc("src_id"))
    fwd = (
        scored.withColumn("_r", F.row_number().over(wf))
        .where(F.col("_r") <= k)
        .groupBy("src_id")
        .agg(F.round(F.avg("cosine"), 6).alias("_fm"))
    )
    bwd = (
        scored.withColumn("_r", F.row_number().over(wb))
        .where(F.col("_r") <= k)
        .groupBy("tgt_id")
        .agg(F.round(F.avg("cosine"), 6).alias("_bm"))
    )
    denom = (F.col("_fm") + F.col("_bm")) / F.lit(2.0)
    wbest = Window.partitionBy("src_id").orderBy(F.desc("margin"), F.asc("tgt_id"))
    return (
        scored.join(F.broadcast(fwd), "src_id")
        .join(F.broadcast(bwd), "tgt_id")
        .where(denom != 0)  # ANSI mode: never divide by zero
        .withColumn("margin", F.round(F.col("cosine") / denom, 6))
        .withColumn("_rk", F.row_number().over(wbest))
        .where((F.col("_rk") == 1) & (F.col("margin") >= threshold))
        .select("src_id", "tgt_id", "cosine", "margin")
    )
