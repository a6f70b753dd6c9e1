"""Turn assembly + batched mention / (s, p, o) triple extraction.

This replaces the reference's per-quad ``parse`` stage with the graft's
text→triples stage (north_star): transcripts come in as an Iceberg/parquet
table with arbitrary row order; turns are assembled under a stable
``(conv_id, turn_idx)`` window ordering (the input_hint invariant), then a
**vectorized pandas extractor** runs per Arrow batch inside ``mapInPandas``
— rule-based templates compiled once per executor, ``Series.str.findall``
style matching, no per-row Python interpretation of the rules.

Scale notes:
  * the only shuffle is the window's hash partition by ``conv_id`` —
    exactly one exchange, reused by the ``lag`` and the grouped extraction;
    conversations are small (≤ dozens of turns) so no per-key skew.
  * extraction is embarrassingly parallel after the window; output rows are
    mention-level and explode ~2-3× the turn count.
  * cross-turn coreference ("They work at X.") consumes the previous
    turn's last person alias via ``lag`` over the window — this is why
    assembly must precede extraction and why
    arrival order (nondeterministic at scale, like the reference's
    multi-source interleaving, ``src/parse.rs:145-162``) can never leak
    into results.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sopspark.kg.vocab import AGE, KNOWS, LIVES_IN, WORKS_AT

# extraction templates (compiled once per executor import)
RE_KNOWS = re.compile(r"\b([A-Z][a-z]+) knows ([A-Z][a-z]+)\.")
RE_WORKS = re.compile(r"\b([A-Z][a-z]+) works at ([A-Z][A-Za-z ]+?)\.")
RE_LIVES = re.compile(r"\b([A-Z][a-z]+) lives in ([A-Z][a-z]+)\.")
RE_AGE = re.compile(r"\b([A-Z][a-z]+) is (\d+) years old\.")
RE_PRON_WORKS = re.compile(r"\bThey work at ([A-Z][A-Za-z ]+?)\.")
RE_PRON_LIVES = re.compile(r"\bThey live in ([A-Z][a-z]+)\.")


def assemble_turns(transcripts: DataFrame) -> DataFrame:
    """Stable turn ordering + previous-turn coreference context.

    Adds ``turn_ord`` (dense per-conversation ordinal) and ``prev_ante``
    (the previous turn's last person-alias mention — the pronoun
    antecedent) under ``Window.partitionBy(conv_id).orderBy(turn_idx, ts)``
    — the stable ordering the input_hint demands. The antecedent is
    extracted JVM-side (``regexp_extract_all`` inside codegen) so the
    pandas extraction UDF ships one short string per turn instead of the
    whole previous text — roughly half the Arrow volume on the hot path.
    """
    from sopspark.kg.synth import PERSON_ALIAS_RE

    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").asc(), F.col("ts").asc())
    ante = F.try_element_at(
        F.regexp_extract_all(F.col("text"), F.lit(PERSON_ALIAS_RE.pattern), 1), F.lit(-1)
    )
    return transcripts.withColumn("turn_ord", F.row_number().over(w)).withColumn(
        "prev_ante", F.lag(ante, 1).over(w)
    )


MENTION_SCHEMA = (
    "conv_id string, turn_idx int, m_id int, s_alias string, p string, "
    "o_alias string, o_lit string, o_etype string"
)


_OUT_COLS = ["conv_id", "turn_idx", "m_id", "s_alias", "p", "o_alias", "o_lit", "o_etype"]


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fully vectorized template extraction for one Arrow batch of turns:
    one ``Series.str.extractall`` per template (regex loop runs in pandas'
    C matcher), match-frame assembly by positional index take — NO
    per-row Python. m_id = template_base + match ordinal (unique per
    (turn, p) occurrence, which is all linking needs)."""
    pdf = pdf.reset_index(drop=True)
    texts = pdf["text"].fillna("")
    conv = pdf["conv_id"]
    tidx = pdf["turn_idx"].astype("int32")
    parts: list[pd.DataFrame] = []

    def frame(ridx, m_id, s_alias, p, o_alias, o_lit, o_etype):
        parts.append(
            pd.DataFrame(
                {
                    "conv_id": conv.iloc[ridx].to_numpy(),
                    "turn_idx": tidx.iloc[ridx].to_numpy(),
                    "m_id": m_id,
                    "s_alias": s_alias,
                    "p": p,
                    "o_alias": o_alias,
                    "o_lit": o_lit,
                    "o_etype": o_etype,
                }
            )
        )

    def extractall(needle: str, template: re.Pattern) -> pd.DataFrame:
        # C-level substring prefilter: most turns match no template, and
        # `contains(..., regex=False)` is ~5x cheaper than the regex, so
        # running extractall only on candidate rows halves the stage. The
        # surviving MultiIndex keeps the original positional labels, so the
        # .iloc takes below are unaffected.
        sub = texts[texts.str.contains(needle, regex=False)]
        if sub.empty:
            return sub.to_frame().iloc[0:0]
        return sub.str.extractall(template)

    for t_base, template, needle, pred, o_etype in (
        (0, RE_KNOWS, " knows ", KNOWS, "person"),
        (1, RE_WORKS, " works at ", WORKS_AT, "org"),
        (2, RE_LIVES, " lives in ", LIVES_IN, "place"),
    ):
        ext = extractall(needle, template)
        if ext.empty:
            continue
        ridx = ext.index.get_level_values(0)
        m_id = (t_base * 4096 + ext.index.get_level_values("match")).astype("int32")
        frame(ridx, m_id, ext[0].to_numpy(), pred, ext[1].to_numpy(), None, o_etype)

    ext = extractall(" years old", RE_AGE)
    if not ext.empty:
        ridx = ext.index.get_level_values(0)
        m_id = (3 * 4096 + ext.index.get_level_values("match")).astype("int32")
        frame(ridx, m_id, ext[0].to_numpy(), AGE, None, ext[1].to_numpy(), None)

    # pronoun coreference: subject = the previous turn's last person alias,
    # already extracted JVM-side by assemble_turns (prev_ante)
    ante = pdf["prev_ante"]
    for t_base, template, needle, pred, o_etype in (
        (4, RE_PRON_WORKS, "They work at ", WORKS_AT, "org"),
        (5, RE_PRON_LIVES, "They live in ", LIVES_IN, "place"),
    ):
        ext = extractall(needle, template)
        if ext.empty:
            continue
        # first match per turn only (parity with the search() semantics)
        ext = ext[ext.index.get_level_values("match") == 0]
        ridx = ext.index.get_level_values(0)
        subs = ante.iloc[ridx]
        keep = subs.notna().to_numpy()
        if not keep.any():
            continue
        ridx = ridx[keep]
        frame(
            ridx,
            pd.Series(t_base * 4096, index=range(len(ridx)), dtype="int32").to_numpy(),
            subs.to_numpy()[keep],
            pred,
            ext[0].to_numpy()[keep],
            None,
            o_etype,
        )

    if not parts:
        return pd.DataFrame({c: pd.Series(dtype="object") for c in _OUT_COLS})
    return pd.concat(parts, ignore_index=True)[_OUT_COLS]


def extract_triples(assembled: DataFrame) -> DataFrame:
    """Assembled turns → mention-level candidate rows (pre-linking)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _extract_batch(pdf)

    cols = ["conv_id", "turn_idx", "text", "prev_ante"]
    return assembled.select(*cols).mapInPandas(run, schema=MENTION_SCHEMA)
