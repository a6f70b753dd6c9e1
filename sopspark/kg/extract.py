r"""Turn assembly + mention / (s, p, o) triple extraction, both in Catalyst.

This replaces the reference's per-quad ``parse`` stage with the graft's
text→triples stage (north_star): transcripts come in as an Iceberg/parquet
table with arbitrary row order; turns are assembled under a stable
``(conv_id, turn_idx)`` window ordering (the input_hint invariant), then the
six rule-based templates run as **one SQL projection** over the assembled
turns: per template a ``contains`` prefilter, ``regexp_extract_all`` for the
two groups, and a ``transform`` into mention structs; the arrays are
concatenated and exploded once (``inline``). No Python worker runs.

Regex dialect: the templates are Java regexes. A name must not follow an
ASCII letter, digit or ``_`` (an explicit lookbehind, not ``\b``, whose
reading of non-ASCII letters changed between JDK 17 and 19), and ages are
ASCII digits (Java's ``\d``). That is how Python's ``re`` reads the same
templates under ``re.ASCII``, and how RE2 reads the DuckDB oracle's
``\b``/``\d``; Python's default Unicode ``\d`` would also take ``٤٢``.

Scale notes:
  * the only shuffle is the window's hash partition by ``conv_id`` —
    exactly one exchange, reused by the ``lag``; conversations are small
    (≤ dozens of turns) so no per-key skew.
  * extraction is a map after the window; output rows are mention-level
    and explode ~2-3× the turn count.
  * cross-turn coreference ("They work at X.") consumes the previous
    turn's last person alias via ``lag`` over the window — this is why
    assembly must precede extraction and why
    arrival order (nondeterministic at scale, like the reference's
    multi-source interleaving, ``src/parse.rs:145-162``) can never leak
    into results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sopspark.kg.vocab import AGE, KNOWS, LIVES_IN, WORKS_AT

_B = r"(?<![0-9A-Za-z_])"  # ASCII word boundary before a name (module docstring)

# (m_id base, prefilter needle, Java regex, predicate, object etype — None
# for a literal object, pronoun template: subject = the previous turn's
# last person alias, first match only)
TEMPLATES = (
    (0, " knows ", rf"{_B}([A-Z][a-z]+) knows ([A-Z][a-z]+)\.", KNOWS, "person", False),
    (1, " works at ", rf"{_B}([A-Z][a-z]+) works at ([A-Z][A-Za-z ]+?)\.", WORKS_AT, "org", False),
    (2, " lives in ", rf"{_B}([A-Z][a-z]+) lives in ([A-Z][a-z]+)\.", LIVES_IN, "place", False),
    (3, " years old", rf"{_B}([A-Z][a-z]+) is (\d+) years old\.", AGE, None, False),
    (4, "They work at ", rf"{_B}They work at ([A-Z][A-Za-z ]+?)\.", WORKS_AT, "org", True),
    (5, "They live in ", rf"{_B}They live in ([A-Z][a-z]+)\.", LIVES_IN, "place", True),
)


def assemble_turns(transcripts: DataFrame) -> DataFrame:
    """Stable turn ordering + previous-turn coreference context.

    Adds ``turn_ord`` (dense per-conversation ordinal) and ``prev_ante``
    (the previous turn's last person-alias mention — the pronoun
    antecedent) under ``Window.partitionBy(conv_id).orderBy(turn_idx, ts)``
    — the stable ordering the input_hint demands. The antecedent is
    extracted per turn (``regexp_extract_all``) before the ``lag``, so the
    window carries one short string per turn instead of the whole previous
    text.
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


def _template_sql(
    base: int, needle: str, pattern: str, p: str, etype: str | None, pronoun: bool
) -> str:
    """One template's mentions in a turn, as an array of mention structs
    (empty when the prefilter or the regex finds nothing, or ``text`` is
    NULL). ``m_id`` = base·4096 + match ordinal: unique per (turn, p)
    occurrence, which is all linking needs."""
    rx = f"r'{pattern}'"
    if pronoun:
        cond = f"prev_ante IS NOT NULL AND contains(text, '{needle}')"
        pairs = (
            f"transform(slice(regexp_extract_all(text, {rx}, 1), 1, 1), "
            "o -> named_struct('s', prev_ante, 'o', o))"
        )
    else:
        cond = f"contains(text, '{needle}')"
        pairs = (
            f"zip_with(regexp_extract_all(text, {rx}, 1), regexp_extract_all(text, {rx}, 2), "
            "(s, o) -> named_struct('s', s, 'o', o))"
        )
    null = "CAST(NULL AS STRING)"
    o_alias, o_lit, o_etype = ("m.o", null, f"'{etype}'") if etype else (null, "m.o", null)
    mention = (
        f"named_struct('m_id', {base * 4096} + i, 's_alias', m.s, 'p', '{p}', "
        f"'o_alias', {o_alias}, 'o_lit', {o_lit}, 'o_etype', {o_etype})"
    )
    return f"CASE WHEN {cond} THEN transform({pairs}, (m, i) -> {mention}) ELSE array() END"


# one SQL string, parsed per call: a Column-API build of the same plan
# costs several times more py4j round trips on the driver
_MENTIONS_SQL = "inline(concat({}))".format(", ".join(_template_sql(*t) for t in TEMPLATES))


def extract_triples(assembled: DataFrame) -> DataFrame:
    """Assembled turns → mention-level candidate rows (pre-linking), in
    ``MENTION_SCHEMA``: one row per template match, none for a turn with
    no match."""
    return assembled.selectExpr("conv_id", "turn_idx", _MENTIONS_SQL)
