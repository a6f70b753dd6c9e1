"""Distributed tokenizer training: byte-pair-encoding merge learning.

:func:`bpe_train` runs the classic greedy BPE loop (Sennrich, Haddow &
Birch 2016, arXiv:1508.07909 — ``learn_bpe``'s get_stats/merge_vocab) as a
sequence of Spark jobs over a word-frequency table:

  1. one map-side-combined aggregate collapses the corpus to DISTINCT
     words + counts (the vocabulary is zipfian-tiny next to the corpus —
     this is the only pass that touches the full text);
  2. each merge round is one narrow aggregate (adjacent-pair counts,
     weighted by word frequency), a driver argmax of ONE row, and a
     map-only fold projection that applies the merge to every word's
     symbol array.

The merge fold (``F.aggregate``) reproduces the reference algorithm's
left-to-right non-overlapping semantics exactly: after merging at position
i the merged symbol is never reconsidered as the left element in the same
round (``l+r != l`` since ``r`` is nonempty, so the fold's
last-element check cannot re-fire).

At 100 TB the per-round working set is the distinct-word table (memory: a
web-scale corpus has ~10^8 distinct words vs ~10^13 tokens), every round
is shuffle-free except the pair-count aggregate's combine, and the driver
state is one (pair, count) row per round. ``localCheckpoint`` every 4
rounds truncates the fold-chain lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sopspark.session import local_df


def _pair_counts(cur: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the vocab table (one merge round's
    aggregate). The explode lives in its own projection, separate from the
    array build (nested higher-order functions defeat Catalyst CSE)."""
    return (
        cur.where(F.size("a") >= 2)
        .select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("a") - 2),
                    lambda i: F.struct(
                        F.get("a", i).alias("l"), F.get("a", i + 1).alias("r")
                    ),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("n"))
    )


def _merge_fold(l: str, r: str):
    """The greedy left-to-right merge of (l, r) as an ``F.aggregate`` step
    (see module docstring for why this equals the reference semantics)."""

    def step(acc, x):
        return F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(l))
            & (x == F.lit(r)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(l + r)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return step


def _apply_merge(cur: DataFrame, l: str, r: str) -> DataFrame:
    """Map-only projection applying one merge to every word's symbols."""
    return cur.select(
        "cnt",
        F.aggregate(
            F.col("a"), F.array().cast("array<string>"), _merge_fold(l, r)
        ).alias("a"),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    max_word_len: int = 32,
    min_count: int = 1,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a document corpus.

    Returns one row per merge, in order:
    ``(rank int, lhs string, rhs string, merged string, pair_count bigint)``
    with the deterministic tie-break (count desc, lhs asc, rhs asc).
    """
    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .where((F.length("w") > 0) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        words = words.where(F.col("cnt") >= min_count)
    # initial symbol sequence = characters; materialized once — every
    # round reads this table, not the corpus
    vocab = words.select(
        "cnt",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ).alias("a"),
    ).localCheckpoint()

    merges: list[tuple] = []
    cur = vocab
    for rank in range(1, n_merges + 1):
        best = _pair_counts(cur).orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not best:
            break
        l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((rank, l, r, l + r, n))
        cur = _apply_merge(cur, l, r)
        if rank % 4 == 0 and rank < n_merges:
            cur = cur.localCheckpoint()
    return local_df(spark, merges, "rank int, lhs string, rhs string, merged string, pair_count bigint")


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_len: int = 32,
) -> DataFrame:
    """Tokenize documents with a learned merge list: per word, apply each
    merge in rank order with the same greedy fold used during training.

    The fold chain (``n_merges`` nested ``F.aggregate`` array folds) is the
    dominant cost and BPE is a pure function of the word, so it runs over
    the DISTINCT-word table only (zipfian-tiny next to the occurrence
    stream: ~10^8 distinct words vs ~10^13 tokens at corpus scale) and the
    per-word symbol arrays hash-join back onto the occurrences. AQE turns
    the join into a broadcast when the vocabulary fits; at corpus scale it
    stays a narrow-key shuffle of (word, tokens) pairs. The word split is
    recomputed on both plan branches deliberately — it is a cheap map-only
    projection, while materializing the occurrence stream would be a
    corpus-sized write.

    Returns ``(id_col, tokens array<string>, n_tokens)``.
    """
    chars = F.transform(
        F.sequence(F.lit(1), F.length(F.col("_w"))),
        lambda i: F.col("_w").substr(i, F.lit(1)),
    )
    sym = chars
    for l, r in merges:
        sym = F.aggregate(sym, F.array().cast("array<string>"), _merge_fold(l, r))
    occ = docs.select(
        id_col,
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_i", "_w"),
    ).where((F.length("_w") > 0) & (F.length("_w") <= max_word_len))
    vocab_tokens = occ.select("_w").distinct().select("_w", sym.alias("_s"))
    out = (
        occ.join(vocab_tokens, "_w")
        .select(id_col, "_i", "_s")
        .groupBy(id_col)
        # word order restored via the position key — collect_list order is
        # otherwise partition-arrival order, not document order
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_i", "_s"))),
                    lambda s: s["_s"],
                )
            ).alias("tokens")
        )
        .withColumn("n_tokens", F.size("tokens"))
    )
    return out
