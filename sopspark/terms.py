"""Quad/term schema and N-Triples lexical encoding, Catalyst-native.

Reference data model: ``Spog<ArcTerm> = ([s,p,o], Option<g>)`` — a 3-array of
terms plus optional graph name (``src/common/quad_iter.rs:231``,
``src/absolutize.rs:59-68``); ``ArcTerm`` is a tagged union IRI | BlankNode |
Literal(lexical, datatype, lang) | QuotedTriple (``src/absolutize.rs:73-81``).

Spark mapping: each term is a struct ``(kind: tinyint, value: string,
dt: string?, lang: string?)``; a quad DataFrame has columns ``s, p, o`` (term
structs), ``g`` (term struct, NULL = default graph — mirrors ``Option<g>``)
and ``err`` (string, NULL = ok — mirrors the reference's inline error channel
``QuadIterItem = Result<...>``, ``src/common/quad_iter.rs:244-263``).

Design notes for scale:
  * all encode/decode helpers here are **pure Catalyst column expressions**
    (concat/when/regexp_replace) — they stay inside whole-stage codegen; no
    Python in the hot path.
  * simple literals are normalized to ``dt = NULL`` (RDF 1.1: a simple literal
    *is* an ``xsd:string`` literal); canonical output omits ``^^xsd:string``,
    matching the reference's canonical serializer semantics
    (``src/serialize.rs:75-84,159-163``).
  * RDF-star quoted triples get ``kind=QUOTED`` with the full ``<< ... >>``
    N-Triples encoding in ``value`` (Spark structs cannot recurse); the
    transcript pipeline never emits them, parity only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    StringType,
    StructField,
    StructType,
)

# term kinds (tagged-union discriminant)
IRI = 0
BNODE = 1
LITERAL = 2
QUOTED = 3  # RDF-star quoted triple, value = NT encoding
VARIABLE = 4  # generalized RDF (gnq wire format allows variables)

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_STRING = XSD + "string"
RDF_LANGSTRING = RDF_NS + "langString"
# RDF 1.2 directional language-tagged string: the base direction rides in
# the lang field as "tag--dir" (e.g. "en--ltr"), matching the N-Triples 1.2
# LANG_DIR production; the reference recognizes it (src/query.rs:46-60)
RDF_DIRLANGSTRING = RDF_NS + "dirLangString"

TERM_TYPE = StructType(
    [
        StructField("kind", ByteType(), False),
        StructField("value", StringType(), False),
        StructField("dt", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

QUAD_SCHEMA = StructType(
    [
        StructField("s", TERM_TYPE, True),
        StructField("p", TERM_TYPE, True),
        StructField("o", TERM_TYPE, True),
        StructField("g", TERM_TYPE, True),  # NULL = default graph
        StructField("err", StringType(), True),  # NULL = ok
    ]
)

QUAD_COLS = ["s", "p", "o", "g"]

# DDL spelling of TERM_TYPE, for casts of NULL literals
TERM_SQL_TYPE = "struct<kind:tinyint,value:string,dt:string,lang:string>"


# ---------------------------------------------------------------------------
# column constructors
# ---------------------------------------------------------------------------

def _term_struct(kind: Column, value: Column, dt: Column, lang: Column) -> Column:
    return F.struct(
        kind.cast("tinyint").alias("kind"),
        value.alias("value"),
        dt.alias("dt"),
        lang.alias("lang"),
    )


def iri_col(value: Column | str) -> Column:
    v = F.lit(value) if isinstance(value, str) else value
    return _term_struct(F.lit(IRI), v, F.lit(None).cast("string"), F.lit(None).cast("string"))


def quoted_col(encoding: Column | str) -> Column:
    """RDF-star quoted-triple term from its canonical NT ``<< ... >>``
    encoding."""
    v = F.lit(encoding) if isinstance(encoding, str) else encoding
    return _term_struct(F.lit(QUOTED), v, F.lit(None).cast("string"), F.lit(None).cast("string"))


# ---------------------------------------------------------------------------
# canonical N-Triples/N-Quads encoding (Catalyst-only)
# ---------------------------------------------------------------------------

def escape_literal(col: Column) -> Column:
    """Canonical N-Triples string escaping: ``\\`` ``"`` ``\\n`` ``\\r``."""
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", "\\\\n")
    c = F.regexp_replace(c, "\r", "\\\\r")
    return c


def nt_term(t: Column) -> Column:
    """Encode a term struct as its canonical N-Triples lexical form."""
    lit_enc = F.concat(
        F.lit('"'),
        escape_literal(t["value"]),
        F.lit('"'),
        F.when(t["lang"].isNotNull(), F.concat(F.lit("@"), t["lang"])).otherwise(
            F.when(
                t["dt"].isNotNull() & (t["dt"] != F.lit(XSD_STRING)),
                F.concat(F.lit("^^<"), t["dt"], F.lit(">")),
            ).otherwise(F.lit(""))
        ),
    )
    return (
        F.when(t.isNull(), F.lit(None).cast("string"))
        .when(t["kind"] == IRI, F.concat(F.lit("<"), t["value"], F.lit(">")))
        .when(t["kind"] == BNODE, F.concat(F.lit("_:"), t["value"]))
        .when(t["kind"] == LITERAL, lit_enc)
        .when(t["kind"] == VARIABLE, F.concat(F.lit("?"), t["value"]))
        .otherwise(t["value"])  # QUOTED already carries its NT encoding
    )


def nq_line(s: Column, p: Column, o: Column, g: Column) -> Column:
    """One canonical N-Quads line (no trailing newline)."""
    return F.concat(
        nt_term(s),
        F.lit(" "),
        nt_term(p),
        F.lit(" "),
        nt_term(o),
        F.when(g.isNotNull(), F.concat(F.lit(" "), nt_term(g))).otherwise(F.lit("")),
        F.lit(" ."),
    )


# ---------------------------------------------------------------------------
# plain-Python twin (for pandas-UDF kernels, e.g. the RDFC-1.0 c14n)
# term = (kind, value, dt, lang) tuple
# ---------------------------------------------------------------------------

def py_escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n").replace("\r", "\\r")
    )


def py_nt_term(t: tuple) -> str:
    kind, value, dt, lang = t
    if kind == IRI:
        return f"<{value}>"
    if kind == BNODE:
        return f"_:{value}"
    if kind == LITERAL:
        out = f'"{py_escape(value)}"'
        if lang:
            out += f"@{lang}"
        elif dt and dt != XSD_STRING:
            out += f"^^<{dt}>"
        return out
    if kind == VARIABLE:
        return f"?{value}"
    return value


def py_nq_line(quad: tuple) -> str:
    s, p, o, g = quad
    parts = [py_nt_term(s), py_nt_term(p), py_nt_term(o)]
    if g is not None:
        parts.append(py_nt_term(g))
    return " ".join(parts) + " ."


def unescape_pn_local(local: str) -> str:
    """PN_LOCAL_ESC (Turtle [173] / SPARQL [169]): backslash-escapes in
    prefixed-name local parts unescape to the raw char in the IRI; %XX
    PERCENT sequences pass through untouched."""
    import re as _re

    if "\\" not in local:
        return local
    return _re.sub(r"\\(.)", r"\1", local)
