"""Deterministic synthetic transcript corpus (FIXTURES.md §A).

Schema is exactly the BASELINE.json ``input_hint``:
``(conv_id: string, turn_idx: int32, role: string, text: string,
tool: string, ts: timestamp)``. Sentence templates embed entity mentions so
the expected (s, p, o) triple set is derivable in closed form — the oracle
for the P/R ≥ 0.95 gate.

Generation is seeded (default 42) and deterministic per conversation: the
same (seed, conv index) always yields the same conversation, wherever it is
generated. A corpus of at most ``DRIVER_CONVS`` conversations (with no
explicit ``partitions``) is generated on the driver and returned as driver
literals (``session.local_df``), so building it starts no Python worker;
a larger one, or any call with ``partitions``, is generated on executors
from the conv index (``spark.range`` → ``mapInPandas``) and scales to any
size without a driver loop. Both give the same rows in the same order
(``ts`` under the UTC session time zone that ``get_spark`` sets).

Skew by construction: the alias "Bob" is drawn with ~10× weight, so one
entity receives ≥10% of all mentions — exercising the salted/AQE skew path
required by the north_rule. The alias "Sam" is ambiguous (two candidate
IRIs with different priors) — exercising linker scoring.
"""

from __future__ import annotations

import datetime as dt
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sopspark.kg.vocab import AGE, KNOWS, LIVES_IN, ORG_NS, PERSON_NS, PLACE_NS, WORKS_AT

# --- entity inventory (all public synthetic names) -------------------------

PEOPLE = [
    # (canonical slug, [aliases])
    ("alice", ["Alice"]),
    ("robert", ["Bob", "Robert", "Bobby"]),
    ("charlie", ["Charlie", "Chuck"]),
    ("diana", ["Diana", "Di"]),
    ("edward", ["Edward", "Ed", "Eddie"]),
    ("fiona", ["Fiona"]),
    ("george", ["George"]),
    ("hannah", ["Hannah"]),
    ("ivan", ["Ivan"]),
    ("julia", ["Julia", "Jules"]),
    ("kevin", ["Kevin"]),
    ("laura", ["Laura"]),
    ("samuel", ["Samuel"]),
    ("samantha", ["Samantha"]),
    ("nora", ["Nora"]),
    ("oscar", ["Oscar", "Oz"]),
]

# ambiguous alias: maps to two IRIs; linker must pick by prior
AMBIGUOUS = {"Sam": [("samuel", 0.7), ("samantha", 0.3)]}

# hot-entity skew: weight of drawing each alias when a person slot is filled
ALIAS_WEIGHTS = {"Bob": 10.0}

ORGS = [
    ("acme", "Acme Corp"),
    ("globex", "Globex"),
    ("initech", "Initech"),
    ("umbrella", "Umbrella Labs"),
    ("stark", "Stark Industries"),
    ("wayne", "Wayne Enterprises"),
]

PLACES = [
    ("paris", "Paris"),
    ("london", "London"),
    ("berlin", "Berlin"),
    ("tokyo", "Tokyo"),
    ("sydney", "Sydney"),
    ("oslo", "Oslo"),
]

NOISE = [
    "The weather is nice today.",
    "Let me check that for you.",
    "That sounds like a plan.",
    "Could you clarify the question?",
    "Here is the summary you asked for.",
    "I will look into it right away.",
]

TOOLS = ["", "", "", "search", "calculator", "lookup"]

# owl:sameAs edges forming chains/cycles (FIXTURES.md §A): legacy IRIs that
# must collapse onto canonical person IRIs via connected components.
SAMEAS_EDGES = [
    (PERSON_NS + "robert", PERSON_NS + "legacy/bob42"),
    (PERSON_NS + "legacy/bob42", PERSON_NS + "legacy/rsmith"),  # chain
    (PERSON_NS + "alice", PERSON_NS + "legacy/alice_a"),
    (PERSON_NS + "legacy/alice_a", PERSON_NS + "alice"),  # cycle
    (PERSON_NS + "diana", PERSON_NS + "legacy/d1"),
    (PERSON_NS + "legacy/d1", PERSON_NS + "legacy/d2"),
    (PERSON_NS + "legacy/d2", PERSON_NS + "legacy/d3"),  # longer chain
]


def _alias_pool() -> list[tuple[str, str, float]]:
    """(alias, canonical slug, draw weight); ambiguous aliases excluded from
    drawing (they appear via dedicated templates) but present in the dict."""
    pool = []
    for slug, aliases in PEOPLE:
        for a in aliases:
            pool.append((a, slug, ALIAS_WEIGHTS.get(a, 1.0)))
    return pool


_POOL = _alias_pool()
_POOL_ALIASES = [p[0] for p in _POOL]
_POOL_SLUGS = {p[0]: p[1] for p in _POOL}
_POOL_WEIGHTS = [p[2] for p in _POOL]


def alias_dict_rows() -> list[tuple[str, str, float, str]]:
    """(alias, iri, prior, etype) rows for the broadcast linking dictionary."""
    rows = []
    for alias, slug, _w in _POOL:
        rows.append((alias, PERSON_NS + slug, 1.0, "person"))
    for alias, cands in AMBIGUOUS.items():
        for slug, prior in cands:
            rows.append((alias, PERSON_NS + slug, prior, "person"))
    for slug, name in ORGS:
        rows.append((name, ORG_NS + slug, 1.0, "org"))
    for slug, name in PLACES:
        rows.append((name, PLACE_NS + slug, 1.0, "place"))
    return rows


def resolve_alias(alias: str) -> str:
    """closed-form linking result for a person alias (highest prior wins)."""
    if alias in AMBIGUOUS:
        return max(AMBIGUOUS[alias], key=lambda c: c[1])[0]
    return _POOL_SLUGS[alias]


import re as _re

# longest first so the alternation prefers full names; ties by name, so the
# pattern text (and the oracle SQL built from it) is hash-seed independent
PERSON_ALIASES = sorted(set(_POOL_ALIASES) | set(AMBIGUOUS), key=lambda a: (-len(a), a))
PERSON_ALIAS_RE = _re.compile(r"\b(" + "|".join(map(_re.escape, PERSON_ALIASES)) + r")\b")


def _gen_conversation(conv_i: int, seed: int) -> tuple[list[dict], list[tuple]]:
    """One conversation + its expected (s_iri, p_iri, o) triples.

    Deterministic in (conv_i, seed) — the property that makes distributed
    generation reproducible regardless of partitioning.
    """
    rng = random.Random((seed << 20) ^ conv_i)
    conv_id = f"conv-{conv_i:08d}"
    n_turns = rng.randint(3, 8)
    t0 = dt.datetime(2025, 1, 1) + dt.timedelta(minutes=conv_i % 500000)
    turns: list[dict] = []
    expected: list[tuple] = []

    def draw_person() -> str:
        return rng.choices(_POOL_ALIASES, weights=_POOL_WEIGHTS, k=1)[0]

    prev_turn_last_alias: str | None = None  # last person alias of turn t-1
    for turn_idx in range(n_turns):
        role = ["user", "assistant"][turn_idx % 2]
        tool = rng.choice(TOOLS) if role == "assistant" else ""
        sentences = []

        # cross-turn coreference: "They work at X." as FIRST sentence,
        # referring to the last person alias of the *previous* turn — this
        # is what makes window-ordered turn assembly load-bearing (the
        # input_hint invariant): shuffle the rows and the pronoun resolves
        # wrongly unless turns are re-ordered by (conv_id, turn_idx).
        if prev_turn_last_alias is not None and rng.random() < 0.15:
            subj_slug = resolve_alias(prev_turn_last_alias)
            if rng.random() < 0.5:
                slug, org = rng.choice(ORGS)
                sentences.append(f"They work at {org}.")
                expected.append((PERSON_NS + subj_slug, WORKS_AT, ORG_NS + slug))
            else:
                slug, place = rng.choice(PLACES)
                sentences.append(f"They live in {place}.")
                expected.append((PERSON_NS + subj_slug, LIVES_IN, PLACE_NS + slug))

        for _ in range(rng.randint(1, 3)):
            kind = rng.random()
            if kind < 0.30:
                a, b = draw_person(), draw_person()
                while b == a:
                    b = draw_person()
                sentences.append(f"{a} knows {b}.")
                expected.append((PERSON_NS + _POOL_SLUGS[a], KNOWS, PERSON_NS + _POOL_SLUGS[b]))
            elif kind < 0.50:
                a = draw_person()
                slug, org = rng.choice(ORGS)
                sentences.append(f"{a} works at {org}.")
                expected.append((PERSON_NS + _POOL_SLUGS[a], WORKS_AT, ORG_NS + slug))
            elif kind < 0.65:
                a = draw_person()
                slug, place = rng.choice(PLACES)
                sentences.append(f"{a} lives in {place}.")
                expected.append((PERSON_NS + _POOL_SLUGS[a], LIVES_IN, PLACE_NS + slug))
            elif kind < 0.72:
                a = draw_person()
                age = rng.randint(18, 90)
                sentences.append(f"{a} is {age} years old.")
                expected.append((PERSON_NS + _POOL_SLUGS[a], AGE, str(age)))
            elif kind < 0.78:
                # ambiguous mention: expected = highest-prior candidate
                slug, org = rng.choice(ORGS)
                sentences.append(f"Sam works at {org}.")
                best = max(AMBIGUOUS["Sam"], key=lambda c: c[1])[0]
                expected.append((PERSON_NS + best, WORKS_AT, ORG_NS + slug))
            else:
                sentences.append(rng.choice(NOISE))
        text = " ".join(sentences)
        # last person alias of this turn, found the same way the extractor
        # finds it (regex scan) so synth and extractor can never disagree
        matches = list(PERSON_ALIAS_RE.finditer(text))
        prev_turn_last_alias = matches[-1].group(0) if matches else None
        turns.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "role": role,
                "text": text,
                "tool": tool,
                "ts": t0 + dt.timedelta(seconds=30 * turn_idx),
            }
        )
    return turns, expected


TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
EXPECTED_SCHEMA = "s string, p string, o string"


# largest corpus generated on the driver. On local[4], 10k conversations
# took 1.7 s there and on warm executors alike, against 3.2 s on executors
# whose Python workers had to start; at 30k warm executors were faster
# (3.4 vs 4.3 s). CHANGES.md has the measurement.
DRIVER_CONVS = 10_000


def synth_corpus(
    spark: SparkSession, n_convs: int, seed: int = 42, partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Generate (transcripts, expected_triples) DataFrames: driver literals
    up to ``DRIVER_CONVS`` conversations, otherwise (or with explicit
    ``partitions``) on executors."""
    if partitions is None and n_convs <= DRIVER_CONVS:
        from sopspark.session import local_df

        turns: list[tuple] = []
        expected: list[tuple] = []
        for conv_i in range(n_convs):
            t, e = _gen_conversation(conv_i, seed)
            turns.extend(tuple(row.values()) for row in t)
            expected.extend(e)
        return local_df(spark, turns, TRANSCRIPT_SCHEMA), local_df(spark, expected, EXPECTED_SCHEMA)
    if partitions is None:
        # enough splits to balance the cluster (4 waves) but no more: at a
        # fixed ~2k convs/split a 1M-conv corpus becomes 500 tasks whose
        # ~10 ms/task serial scheduling cost lands in the Amdahl serial
        # fraction and reads as a fake scaling-efficiency loss at 4N
        par = spark.sparkContext.defaultParallelism
        partitions = max(4, min(n_convs // 2000, 4 * par))
    idx = spark.range(0, n_convs, numPartitions=partitions)

    def gen_turns(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for conv_i in pdf["id"]:
                turns, _ = _gen_conversation(int(conv_i), seed)
                rows.extend(turns)
            yield pd.DataFrame(rows)

    def gen_expected(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for conv_i in pdf["id"]:
                _, exp = _gen_conversation(int(conv_i), seed)
                rows.extend(exp)
            yield pd.DataFrame(rows, columns=["s", "p", "o"])

    transcripts = idx.mapInPandas(gen_turns, schema=TRANSCRIPT_SCHEMA)
    expected = idx.mapInPandas(gen_expected, schema=EXPECTED_SCHEMA)
    return transcripts, expected


def alias_df(spark: SparkSession) -> DataFrame:
    # Arrow-built LocalRelation, not createDataFrame over rows (RDD):
    # collecting it for the linking argmax is a driver-side copy
    from sopspark.session import local_df

    return local_df(
        spark, alias_dict_rows(), "alias string, iri string, prior double, etype string"
    )


def sameas_df(spark: SparkSession) -> DataFrame:
    from sopspark.session import local_df

    return local_df(spark, SAMEAS_EDGES, "iri_a string, iri_b string")


def write_corpus(spark: SparkSession, out_dir: str, n_convs: int, seed: int = 42) -> None:
    transcripts, expected = synth_corpus(spark, n_convs, seed)
    transcripts.write.mode("overwrite").parquet(f"{out_dir}/transcripts.parquet")
    expected.dropDuplicates().write.mode("overwrite").parquet(f"{out_dir}/expected_triples.parquet")
    alias_df(spark).write.mode("overwrite").parquet(f"{out_dir}/alias_dict.parquet")
    sameas_df(spark).write.mode("overwrite").parquet(f"{out_dir}/sameas.parquet")
