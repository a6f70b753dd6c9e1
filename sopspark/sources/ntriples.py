"""Distributed N-Triples / N-Quads / generalized-N-Quads parser.

Reference behavior being re-expressed (not ported):
  * ``sop parse FILE -f nt|nq|gnq`` parses one quad per line into the stream
    (``src/parse.rs:289-349``); parse errors flow inline as the ``err`` channel
    (``src/common/quad_iter.rs:244-263``) rather than aborting the job — the
    multi-source mode logs-and-stops a single source on error
    (``src/common/quad_handler.rs:43-47``).
  * ``sop parse -m GLOB... m-`` fans out over files in parallel and appends a
    per-source suffix to blank-node labels to avoid cross-file label clashes
    (``src/parse.rs:141-165``, ``src/parse.rs:461-470``). The reference uses a
    random UUID; we use a *deterministic* content hash of the file path so the
    output is reproducible across runs and executors.

Spark design: ``spark.read.text`` gives one partition per file split — the
rayon fan-out for free. Lines without escapes, quoted triples or characters
the Java and Python regexes read differently are parsed **in Catalyst**: one
``regexp_replace`` per line packs the four whole terms, and each term's
kind comes from its first character (see ``parse_lines_df``). The other
lines go to the pandas parser (``_parse_batch``: one compiled regex,
``Series.str.extract``, per-row Python only for escapes and ``<<``) in
``mapInPandas``, which is planned only when a one-job probe finds such a
line — so a clean file starts no Python worker. Both paths emit flat
columns; term structs are built Catalyst-side so downstream ops stay in
whole-stage codegen.

Output order is not input order: the pandas-parsed lines follow all the
Catalyst-parsed ones (and ``<<`` lines follow the rest of their batch).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sopspark.terms import BNODE, IRI, LITERAL, VARIABLE, XSD_STRING


# language tag, with the RDF 1.2 base direction as "--ltr"/"--rtl"
_LANG = r"[A-Za-z][A-Za-z0-9]*(?:-[A-Za-z0-9]+)*(?:--[A-Za-z]+)?"


def _term_re(tag: str) -> str:
    return (
        rf"(?:<(?P<{tag}_iri>[^<>\s]*)>"
        rf"|_:(?P<{tag}_bn>[^\s]+)"
        rf"|\"(?P<{tag}_lit>(?:[^\"\\]|\\.)*)\""
        rf"(?:@(?P<{tag}_lang>{_LANG})"
        rf"|\^\^<(?P<{tag}_dt>[^<>\s]*)>)?"
        rf"|\?(?P<{tag}_var>\w+))"
    )


def _line_re(term) -> str:
    """The statement grammar around the terms; ``term(tag)`` gives each
    term's regex."""
    return rf"^\s*{term('s')}\s+{term('p')}\s+{term('o')}(?:\s+{term('g')})?\s*\.\s*(?:#.*)?$"


LINE_RE = re.compile(_line_re(_term_re))

BLANK_RE = re.compile(r"^\s*(?:#.*)?$")

_UNESCAPE_RE = re.compile(r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.))")
_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f", '"': '"', "'": "'", "\\": "\\"}


def _checked_chr(cp: int) -> str:
    """\\u/\\U escape → character; out-of-range and surrogate code points
    are PARSE errors (err-channel rows), never task-killing ValueErrors or
    lone surrogates that crash Arrow's UTF-8 encoder downstream."""
    if cp > 0x10FFFF:
        raise NtStarError(f"\\U escape out of range: {cp:#x}")
    if 0xD800 <= cp <= 0xDFFF:
        raise NtStarError(f"surrogate code point in escape: {cp:#x}")
    return chr(cp)


def _unescape_or_none(s: str) -> str | None:
    """Vectorized-path wrapper: illegal escapes → None (err row)."""
    try:
        return unescape_literal(s)
    except NtStarError:
        return None


def unescape_literal(s: str) -> str:
    def sub(m: re.Match) -> str:
        if m.group(1):
            return _checked_chr(int(m.group(1), 16))
        if m.group(2):
            return _checked_chr(int(m.group(2), 16))
        c = m.group(3)
        return _ECHAR.get(c, c)

    return _UNESCAPE_RE.sub(sub, s)


# ---------------------------------------------------------------------------
# RDF-star quoted triples (N-Triples-star / N-Quads-star)
#
# A quoted triple `<< s p o >>` may appear in subject or object position and
# nest arbitrarily (src/common/quad_handler.rs:68-73 recurses the same way).
# The flat term struct can't nest, so a quoted triple is stored as
# kind=QUOTED with value = its full canonical `<< ... >>` NT encoding —
# rewrites recurse through :func:`map_quoted_value`, serialization passes it
# through verbatim (terms.nt_term). Lines containing `<<` take this Python
# slow path; everything else stays on the vectorized regex fast path.
# ---------------------------------------------------------------------------

from sopspark.terms import QUOTED, py_nt_term


class NtStarError(ValueError):
    pass


def _scan_term(s: str, i: int) -> tuple[str, int]:
    """Return (term_text, next_index) for the term starting at s[i]."""
    n = len(s)
    if s.startswith("<<", i):
        depth, j = 0, i
        while j < n:
            if s.startswith("<<", j):
                depth += 1
                j += 2
            elif s.startswith(">>", j):
                depth -= 1
                j += 2
                if depth == 0:
                    return s[i:j], j
            elif s[j] == '"':
                j += 1
                while j < n and s[j] != '"':
                    j += 2 if s[j] == "\\" else 1
                j += 1
            else:
                j += 1
        raise NtStarError(f"unterminated quoted triple at {s[i:i+40]!r}")
    if s[i] == '"':
        j = i + 1
        while j < n and s[j] != '"':
            j += 2 if s[j] == "\\" else 1
        if j >= n:
            raise NtStarError(f"unterminated literal at {s[i:i+40]!r}")
        j += 1
        if s.startswith("@", j):
            while j < n and not s[j].isspace():
                j += 1
        elif s.startswith("^^<", j):
            j = s.find(">", j)
            if j == -1:
                raise NtStarError(f"unterminated datatype IRI at {s[i:i+40]!r}")
            j += 1
        return s[i:j], j
    if s[i] == "<":
        try:
            j = s.index(">", i) + 1
        except ValueError:
            raise NtStarError(f"unterminated IRI at {s[i:i+40]!r}") from None
        return s[i:j], j
    j = i
    while j < n and not s[j].isspace():
        j += 1
    return s[i:j], j


def _scan_terms(body: str) -> list[str]:
    out, i, n = [], 0, len(body)
    while i < n:
        while i < n and body[i].isspace():
            i += 1
        if i >= n:
            break
        t, i = _scan_term(body, i)
        out.append(t)
    return out


_LANG_RE = re.compile(rf"^{_LANG}$")


def parse_term_str(text: str) -> tuple:
    """One N-Triples-star term string → (kind, value, dt, lang) tuple.
    Quoted triples re-encode canonically (inner terms normalized)."""
    if text.startswith("<<") and text.endswith(">>"):
        inner = _scan_terms(text[2:-2])
        if len(inner) != 3:
            raise NtStarError(f"quoted triple needs 3 terms: {text!r}")
        terms = [parse_term_str(t) for t in inner]
        enc = " ".join(py_nt_term(t) for t in terms)
        return (QUOTED, f"<< {enc} >>", None, None)
    if text.startswith("<") and text.endswith(">"):
        return (IRI, text[1:-1], None, None)
    if text.startswith("_:"):
        return (BNODE, text[2:], None, None)
    if text.startswith("?"):
        return (VARIABLE, text[1:], None, None)
    if text.startswith('"'):
        j = 1
        while j < len(text) and text[j] != '"':
            j += 2 if text[j] == "\\" else 1
        if j >= len(text):
            raise NtStarError(f"bad literal {text!r}")
        lex = unescape_literal(text[1:j])
        rest = text[j + 1:]
        if rest == "":
            return (LITERAL, lex, None, None)
        if rest.startswith("@") and _LANG_RE.match(rest[1:]):
            return (LITERAL, lex, None, rest[1:])
        if rest.startswith("^^<") and rest.endswith(">"):
            dt = rest[3:-1]
            return (LITERAL, lex, None if dt == XSD_STRING else dt, None)
        raise NtStarError(f"bad literal suffix {rest!r}")
    raise NtStarError(f"unrecognized term {text!r}")


def _strip_trailing_comment(body: str) -> str:
    """Strip a trailing ``# ...`` comment with one forward scan that tracks
    literal and IRI state: a '#' inside ``"a.#b"`` or ``<http://x/a.#f>``
    is never a comment start, while a comment whose own text ends with '.'
    (``<s> <p> "v" . # ends with .``) IS stripped — the old
    rightmost-#-with-terminator-prefix heuristic skipped that case entirely
    (body already ended with '.') and produced a spurious err row. '#'
    cannot legally occur in any other NT term position (bnode labels, lang
    tags, and variables exclude it), so the first unquoted '#' starts the
    comment; a malformed mid-statement '#' still yields an err row because
    the stripped prefix then lacks the '.' terminator."""
    in_lit = in_iri = False
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if in_lit:
            if c == "\\":
                i += 1
            elif c == '"':
                in_lit = False
        elif in_iri:
            if c == ">":
                in_iri = False
        elif c == '"':
            in_lit = True
        elif c == "<":
            in_iri = True
        elif c == "#":
            return body[:i].rstrip()
        i += 1
    return body


def parse_star_line(line: str) -> tuple:
    """One NT/NQ-star statement line → (s, p, o, g|None) term tuples."""
    body = line.strip()
    if "#" in body:
        body = _strip_trailing_comment(body)
    if not body.endswith("."):
        raise NtStarError(f"missing statement terminator: {line[:80]!r}")
    terms = _scan_terms(body[:-1])
    if len(terms) not in (3, 4):
        raise NtStarError(f"expected 3 or 4 terms, got {len(terms)}: {line[:80]!r}")
    parsed = [parse_term_str(t) for t in terms]
    if len(parsed) == 3:
        return parsed[0], parsed[1], parsed[2], None
    return parsed[0], parsed[1], parsed[2], parsed[3]


def map_quoted_value(value: str, term_fn) -> str:
    """Apply ``term_fn`` (term tuple → term tuple) to every term inside a
    quoted-triple encoding, recursing through nested quoted triples — the
    structured rewrite the reference does in ``quad_handler.rs:68-73`` /
    ``absolutize.rs:76-81``."""

    def walk(t: tuple) -> tuple:
        if t[0] == QUOTED:
            inner = _scan_terms(t[1][2:-2])
            mapped = [walk(parse_term_str(x)) for x in inner]
            return (QUOTED, "<< " + " ".join(py_nt_term(x) for x in mapped) + " >>", None, None)
        return term_fn(t)

    return walk((QUOTED, value, None, None))[1]


FLAT_FIELDS = []
for _t in ("s", "p", "o", "g"):
    FLAT_FIELDS += [
        f"{_t}_kind tinyint",
        f"{_t}_value string",
        f"{_t}_dt string",
        f"{_t}_lang string",
    ]
FLAT_SCHEMA = ", ".join(FLAT_FIELDS + ["err string", "src string"])


def _decode_position(ext: pd.DataFrame, tag: str) -> tuple[pd.Series, pd.Series, pd.Series, pd.Series]:
    """Vectorized: collapse the 6 capture groups of one position into
    (kind, value, dt, lang) columns."""
    iri = ext[f"{tag}_iri"]
    bn = ext[f"{tag}_bn"]
    lit = ext[f"{tag}_lit"]
    lang = ext[f"{tag}_lang"]
    dt = ext[f"{tag}_dt"]
    var = ext[f"{tag}_var"]

    kind = pd.Series(
        np.select(
            [iri.notna(), bn.notna(), lit.notna(), var.notna()],
            [float(IRI), float(BNODE), float(LITERAL), float(VARIABLE)],
            default=np.nan,
        ),
        index=ext.index,
    )

    # literal slow path: unescape only rows that actually contain a backslash;
    # an illegal escape (out-of-range \\U, surrogate) flags the row for the
    # err channel instead of raising out of mapInPandas
    bad = pd.Series(False, index=ext.index)
    has_esc = lit.notna() & lit.str.contains("\\", regex=False)
    if has_esc.any():
        lit = lit.copy()
        dec = lit[has_esc].map(_unescape_or_none)
        b = dec.isna()
        if b.any():
            bad.loc[b[b].index] = True
        lit[has_esc] = dec
    value = pd.Series(
        np.select(
            [iri.notna(), bn.notna(), var.notna(), lit.notna()],
            [iri, bn, var, lit],
            default=None,
        ),
        index=ext.index,
        dtype="object",
    )

    # RDF 1.1 normalization: simple literal == xsd:string literal → dt NULL
    dt = dt.mask(dt == XSD_STRING, other=pd.NA)
    dt = dt.where(lit.notna(), other=pd.NA)
    lang = lang.where(lit.notna(), other=pd.NA)
    return kind, value, dt, lang, bad


_FLAT_COLS = [f"{t}_{f}" for t in ("s", "p", "o", "g") for f in ("kind", "value", "dt", "lang")]


def _parse_star_rows(lines: pd.Series, src: pd.Series) -> pd.DataFrame:
    """Slow path for the rare lines containing quoted triples (or literal
    '<<' text): per-row recursive scanner."""
    rows = []
    for line, sc in zip(lines, src):
        try:
            s, p, o, g = parse_star_line(line)
            flat = list(s) + list(p) + list(o) + (list(g) if g else [None] * 4)
            rows.append(flat + [None, sc])
        except (NtStarError, RecursionError) as e:
            rows.append([None] * 16 + [f"parse error: {e}", sc])
    # the dtypes _parse_fast gives, so that concatenating the two never
    # depends on which columns happen to be all-NA
    kinds = {f"{t}_kind": "Int8" for t in ("s", "p", "o", "g")}
    return pd.DataFrame(rows, columns=_FLAT_COLS + ["err", "src"], dtype=object).astype(kinds)


def _parse_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    lines = pdf["value"]
    src = pdf["src"] if "src" in pdf.columns else pd.Series([""] * len(pdf), index=pdf.index)

    blank = lines.str.match(BLANK_RE)
    work = ~blank
    out_lines = lines[work]
    out_src = src[work]

    star = out_lines.str.contains("<<", regex=False)
    if star.any():
        slow = _parse_star_rows(out_lines[star], out_src[star])
        out_lines, out_src = out_lines[~star], out_src[~star]
        if len(out_lines) == 0:
            return slow
        return pd.concat([_parse_fast(out_lines, out_src), slow], ignore_index=True)
    return _parse_fast(out_lines, out_src)


_UCHAR_ONLY_RE = re.compile(r"\\u([0-9A-Fa-f]{4})|\\U([0-9A-Fa-f]{8})")


def _uchar_iri_or_none(s: str) -> str | None:
    """IRIREF allows ONLY UCHAR escapes (NT grammar [8]): decode
    \\uXXXX / \\UXXXXXXXX; any other backslash sequence or out-of-range
    code point makes the whole IRI invalid (None → err row, never a
    task-killing exception)."""
    out, pos = [], 0
    for m in _UCHAR_ONLY_RE.finditer(s):
        out.append(s[pos:m.start()])
        cp = int(m.group(1) or m.group(2), 16)
        if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            return None  # out of range / lone surrogate (would crash Arrow)
        out.append(chr(cp))
        pos = m.end()
    rest = s[pos:]
    if "\\" in rest or any("\\" in part for part in out[::2]):
        return None  # ECHAR or stray backslash — illegal in IRIREF
    return "".join(out) + rest


def _parse_fast(out_lines: pd.Series, out_src: pd.Series) -> pd.DataFrame:
    ext = out_lines.str.extract(LINE_RE)

    # IRIREF UCHAR decode, per position, BEFORE term assembly — rows whose
    # IRI carries an illegal escape become err rows below
    bad_iri = pd.Series(False, index=ext.index)
    for tag in ("s", "p", "o", "g"):
        col = ext[f"{tag}_iri"]
        esc = col.notna() & col.str.contains("\\", regex=False)
        if esc.any():
            dec = col[esc].map(_uchar_iri_or_none)
            bad = dec.isna()
            if bad.any():
                bad_iri.loc[bad[bad].index] = True
            ext[f"{tag}_iri"] = col.copy()
            ext.loc[esc, f"{tag}_iri"] = dec

    cols: dict[str, pd.Series] = {}
    bad_lit = pd.Series(False, index=ext.index)
    for tag in ("s", "p", "o", "g"):
        kind, value, dt, lang, bad = _decode_position(ext, tag)
        bad_lit = bad_lit | bad
        cols[f"{tag}_kind"] = kind.astype("Int8")
        cols[f"{tag}_value"] = value
        cols[f"{tag}_dt"] = dt
        cols[f"{tag}_lang"] = lang

    # a line that matched nothing → err row carrying the offending text;
    # likewise a line whose IRI carried an illegal (non-UCHAR) escape
    failed = ext["s_iri"].isna() & ext["s_bn"].isna() & ext["s_lit"].isna() & ext["s_var"].isna()
    failed = failed | bad_iri | bad_lit
    err = pd.Series(pd.NA, index=ext.index, dtype="object")
    err[failed] = "parse error: " + out_lines[failed].str.slice(0, 200)
    for tag in ("s", "p", "o", "g"):
        cols[f"{tag}_kind"] = cols[f"{tag}_kind"].mask(failed, other=pd.NA)
        cols[f"{tag}_value"] = cols[f"{tag}_value"].mask(failed, other=pd.NA)
    cols["err"] = err
    cols["src"] = out_src
    return pd.DataFrame(cols)


def _parse_partitions(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf):
            yield _parse_batch(pdf)


TERM_SQL = "struct<kind:tinyint,value:string,dt:string,lang:string>"


def _flat_to_quads(df: DataFrame) -> DataFrame:
    def term(tag: str) -> Column:
        t = F.struct(
            F.col(f"{tag}_kind").alias("kind"),
            F.col(f"{tag}_value").alias("value"),
            F.col(f"{tag}_dt").alias("dt"),
            F.col(f"{tag}_lang").alias("lang"),
        )
        return F.when(F.col(f"{tag}_kind").isNotNull(), t).otherwise(F.lit(None).cast(TERM_SQL))

    return df.select(
        term("s").alias("s"),
        term("p").alias("p"),
        term("o").alias("o"),
        term("g").alias("g"),
        F.col("err"),
        F.col("src"),
    )


# ---------------------------------------------------------------------------
# JVM fast path
#
# Most lines hold no escape and no quoted triple; Catalyst parses those with
# one regex per line. Only the lines that need Python reach ``_parse_batch``:
# lines with a backslash, lines with ``<<``, and lines with a character that
# Java's and Python's regexes treat differently. Python's ``\s`` also matches
# U+001C-U+001F and the non-ASCII spaces, Java's ``.`` and ``$`` stop at
# U+0085/U+2028/U+2029 and CR, and Python's ``\w`` (variables) is Unicode.
# ---------------------------------------------------------------------------

# Java regex: any line matching this is parsed by ``_parse_batch``
SLOW_LINE_RE = (
    r"\\|<<|[\n\r\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
    r"|\?\w*[^\x00-\x7f]"
)
# LINE_RE for lines with no escape, one capture group per whole term
_JVM_TERM = (
    r"(<[^<>\s]*>|_:[^\s]+"
    rf"|\"[^\"\\]*\"(?:@{_LANG}|\^\^<[^<>\s]*>)?"
    r"|\?\w+)"
)
_JVM_LINE_RE = _line_re(lambda _tag: _JVM_TERM)
# U+001E marks a match and U+001F separates the terms: both are slow-line
# characters, so no fast line contains them
_JVM_PACKED = "\x1e$1\x1f$2\x1f$3\x1f$4"


def _jvm_term(t: Column, tag: str) -> list[Column]:
    """One whole-term string ("" when absent) → its four flat columns; the
    kind comes from the first character."""
    c = t.substr(1, 1)
    n = F.length(t)
    body = F.substring_index(t.substr(F.lit(2), n), '"', 1)
    suffix = t.substr(F.length(body) + 3, n)
    is_lit = c == '"'
    kind = (
        F.when(c == "<", IRI).when(c == "_", BNODE).when(is_lit, LITERAL).when(c == "?", VARIABLE)
    )
    value = (
        F.when(c == "<", t.substr(F.lit(2), n - 2))
        .when(c == "_", t.substr(F.lit(3), n))
        .when(c == "?", t.substr(F.lit(2), n))
        .when(is_lit, body)
    )
    dt = F.when(is_lit & suffix.startswith("^"), suffix.substr(F.lit(4), F.length(suffix) - 4))
    return [
        kind.cast("tinyint").alias(f"{tag}_kind"),
        value.alias(f"{tag}_value"),
        F.nullif(dt, F.lit(XSD_STRING)).alias(f"{tag}_dt"),
        F.when(is_lit & suffix.startswith("@"), suffix.substr(F.lit(2), n)).alias(f"{tag}_lang"),
    ]


def _jvm_parse(lines: DataFrame) -> DataFrame:
    """Fast non-blank lines → flat rows; the line regex runs once per line."""
    packed = lines.select(
        "value", "src", F.split(F.regexp_replace("value", _JVM_LINE_RE, _JVM_PACKED), "\x1f").alias("_t")
    )
    matched = F.get("_t", 0).startswith("\x1e")
    terms = packed.select(
        F.when(matched, F.get("_t", 0).substr(F.lit(2), F.length(F.get("_t", 0)))).alias("s"),
        *(F.get("_t", i).alias(tag) for i, tag in ((1, "p"), (2, "o"), (3, "g"))),
        F.when(~matched, F.concat(F.lit("parse error: "), F.col("value").substr(1, 200))).alias("err"),
        "src",
    )
    return terms.select(
        *(c for tag in ("s", "p", "o", "g") for c in _jvm_term(F.col(tag), tag)), "err", "src"
    )


def _has_rows(df: DataFrame) -> bool:
    """True when ``df`` has a row, in one JVM job over every partition: a
    noop write that observes the row count (``count()`` takes two jobs
    under AQE, ``limit(1).collect()`` one more per partition batch)."""
    seen = Observation()
    df.observe(seen, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return seen.get["n"] > 0


def parse_lines_df(lines: DataFrame, with_src: bool = False) -> DataFrame:
    """Parse a DataFrame with a string column ``value`` (and optional ``src``)
    into the quad schema. Keeps the ``src`` column for bnode scoping.

    Catalyst parses the lines that need no Python (see ``SLOW_LINE_RE``).
    One probe job, run now, looks for the others; only when it finds one is
    ``mapInPandas`` planned, over those lines alone."""
    if "src" not in lines.columns:
        lines = lines.withColumn("src", F.lit(""))
    lines = lines.select("value", "src")
    slow_line = F.col("value").rlike(SLOW_LINE_RE)
    flat = _jvm_parse(lines.where(~slow_line & ~F.col("value").rlike(BLANK_RE.pattern)))
    slow = lines.where(slow_line)
    if _has_rows(slow):
        flat = flat.unionByName(slow.mapInPandas(_parse_partitions, schema=FLAT_SCHEMA))
    quads = _flat_to_quads(flat)
    if not with_src:
        quads = quads.drop("src")
    return quads


def suffix_bnodes(df: DataFrame, suffix_col: Column) -> DataFrame:
    """Append a per-source suffix to every blank-node label — the reference's
    cross-file bnode hygiene (``src/common/quad_handler.rs:56-75``) with a
    deterministic hash instead of uuid4 (``src/parse.rs:461-470``)."""

    def fix(tag: str) -> Column:
        t = F.col(tag)
        rewritten = F.struct(
            t["kind"].alias("kind"),
            F.concat(t["value"], F.lit("_"), suffix_col).alias("value"),
            t["dt"].alias("dt"),
            t["lang"].alias("lang"),
        )
        # quoted triples: rewrite the bnode labels inside the encoding,
        # recursion-free because terms are space-delimited at every depth
        # (quad_handler.rs:68-73 semantics). Stays JVM-side — a `_:x` inside
        # a quoted *literal's* text is the one accepted false positive.
        quoted = F.struct(
            t["kind"].alias("kind"),
            F.regexp_replace(
                t["value"],
                F.lit(r"(^|\s)(_:[^\s]+)"),
                F.concat(F.lit("$1$2_"), suffix_col),
            ).alias("value"),
            t["dt"].alias("dt"),
            t["lang"].alias("lang"),
        )
        return (
            F.when(t.isNotNull() & (t["kind"] == BNODE), rewritten)
            .when(t.isNotNull() & (t["kind"] == QUOTED), quoted)
            .otherwise(t)
        )

    out = df
    for tag in ("s", "p", "o", "g"):
        out = out.withColumn(tag, fix(tag))
    return out


def parse_ntriples(
    spark: SparkSession,
    paths: str | list[str],
    scope_bnodes_per_file: bool = False,
    default_graph_name: Column | None = None,
) -> DataFrame:
    """Read NT/NQ/gnq file(s)/glob(s) into a quad DataFrame.

    ``scope_bnodes_per_file=True`` mirrors ``parse --multiple``'s per-source
    bnode suffixing. ``default_graph_name`` mirrors ``parse -g IRI`` (wrap the
    default graph in a named graph, ``src/parse.rs:354-364``).

    gzip variants (``.nt.gz`` etc., ``src/common/format.rs:12-18``) work
    transparently — Spark's text source decompresses by extension.
    """
    if isinstance(paths, str):
        paths = [paths]
    lines = spark.read.text(paths).select(
        F.col("value"), F.input_file_name().alias("src")
    )
    quads = parse_lines_df(lines, with_src=True)
    if scope_bnodes_per_file:
        quads = suffix_bnodes(quads, F.substring(F.sha2(F.col("src"), 256), 1, 12))
    if default_graph_name is not None:
        # applied while `src` is still in scope so callers can name the
        # graph after the source (parse -g with no value, src/parse.rs:79-80)
        quads = quads.withColumn(
            "g", F.when(F.col("g").isNull() & F.col("err").isNull(), default_graph_name).otherwise(F.col("g"))
        )
    return quads.drop("src")
