"""Streaming quad transforms: merge, dedup, absolutize, relativize, null.

Each mirrors one reference subcommand's semantics (cited per function) as a
pure ``DataFrame -> DataFrame``; all are narrow Catalyst ops (no shuffle)
except ``dedup`` which is the reference's set-collapse made explicit.
"""

from __future__ import annotations

from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sopspark.terms import BNODE, IRI, QUAD_COLS


def merge(df: DataFrame, drop: bool = False) -> DataFrame:
    """``sop merge [--drop]``.

    Default: copy every named-graph quad into the default graph *keeping* the
    original (``src/merge.rs:49-76``). ``drop=True``: null all graph names
    (``src/merge.rs:24-27``). The reference interleaves copies via a
    1-lookahead iterator; RDF datasets are sets, so a union is equivalent —
    and the union is a zero-shuffle DAG fan-out in Spark.
    """
    if drop:
        return df.withColumn("g", F.lit(None).cast(df.schema["g"].dataType))
    copies = df.where(F.col("g").isNotNull()).withColumn(
        "g", F.lit(None).cast(df.schema["g"].dataType)
    )
    return df.unionByName(copies)


def dedup(df: DataFrame) -> DataFrame:
    """Set semantics over quads — the reference collapses the stream into a
    ``HashSet`` before c14n (``src/canonicalize.rs:57,128``). Here it is an
    explicit hash-aggregate exchange; AQE coalesces the post-shuffle
    partitions at scale."""
    return df.dropDuplicates(QUAD_COLS)


def validate(df: DataFrame) -> DataFrame:
    """``sop null``: drain, surface only errors (``src/null.rs:11-16``).
    Returns the quarantine frame (rows whose ``err`` is set)."""
    if "err" not in df.columns:
        return df.limit(0)
    return df.where(F.col("err").isNotNull()).select("err")


def bnode_suffix(df: DataFrame, suffix: Column | str) -> DataFrame:
    """Public wrapper over the per-source bnode label suffixing
    (``src/common/quad_handler.rs:56-75``)."""
    from sopspark.sources.ntriples import suffix_bnodes

    s = F.lit(suffix) if isinstance(suffix, str) else suffix
    return suffix_bnodes(df, s)


# ---------------------------------------------------------------------------
# absolutize / relativize — IRI rewriting leaves (vectorized pandas UDFs;
# RFC-3986 resolution has no Catalyst builtin)
# ---------------------------------------------------------------------------

def _resolver(base: str):
    import re

    abs_re = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

    def one(v: str) -> str:
        return v if abs_re.match(v) else urljoin(base, v)

    return one


def _resolve_series(values: pd.Series, base: str) -> pd.Series:
    absolute = values.str.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", na=False)
    out = values.copy()
    rel = values.notna() & ~absolute
    if rel.any():
        out[rel] = values[rel].map(lambda v: urljoin(base, v))
    return out


def _relativizer(base: str, parents: int):
    """Scalar IRI relativizer — semantics of ``src/relativize.rs:69-103``
    (only absolute IRIs under ``base`` are rewritten)."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*:(?://[^/?#]*)?)([^?#]*)", base)
    if not m:
        return lambda v: v
    root, base_path = m.group(1), m.group(2)
    base_dir_parts = base_path.split("/")[:-1]

    def rel_one(v: str) -> str:
        if not v.startswith(root):
            return v
        mm = re.match(r"^([^?#]*)(.*)$", v[len(root):])
        path, tail = mm.group(1), mm.group(2)
        parts = path.split("/")
        vdir, leaf = parts[:-1], parts[-1]
        i = 0
        while i < len(vdir) and i < len(base_dir_parts) and vdir[i] == base_dir_parts[i]:
            i += 1
        ups = len(base_dir_parts) - i
        if ups > parents:
            return v
        segs = [".."] * ups + vdir[i:] + [leaf]
        out = "/".join(segs) + tail
        if out == "":
            out = leaf + tail
        # a relative ref whose first segment contains ':' would re-parse as a
        # scheme — keep absolute in that case
        first = out.split("/", 1)[0]
        if ":" in first:
            return v
        return out if out else v

    def one(v: str) -> str:
        return rel_one(v) if v.startswith(root) else v

    return one


def _relativize_series(values: pd.Series, base: str, parents: int) -> pd.Series:
    one = _relativizer(base, parents)
    out = values.copy()
    rewritable = values.notna()
    if rewritable.any():
        out[rewritable] = values[rewritable].map(one)
    return out


def _iri_rewrite(df: DataFrame, fn, scalar_fn) -> DataFrame:
    """Apply a pandas Series→Series rewrite to the IRI value of every term
    position (graph included). Quoted triples (RDF-star) recurse: the same
    scalar rewrite applies to every IRI inside the quoted encoding, like the
    reference's recursive ``absolutize_term`` (``src/absolutize.rs:71-83``).
    Non-IRI terms are untouched."""
    from sopspark.terms import IRI as K_IRI
    from sopspark.terms import QUOTED

    @pandas_udf("string")
    def rewrite(values: pd.Series) -> pd.Series:
        return fn(values)

    @pandas_udf("string")
    def rewrite_quoted(values: pd.Series) -> pd.Series:
        from sopspark.sources.ntriples import map_quoted_value

        def term_fn(t: tuple) -> tuple:
            if t[0] == K_IRI:
                return (K_IRI, scalar_fn(t[1]), t[2], t[3])
            return t

        return values.map(
            lambda v: map_quoted_value(v, term_fn) if isinstance(v, str) and v.startswith("<<") else v
        )

    out = df
    for tag in ("s", "p", "o", "g"):
        t = F.col(tag)
        new_val = (
            F.when(t["kind"] == IRI, rewrite(t["value"]))
            .when(t["kind"] == QUOTED, rewrite_quoted(t["value"]))
            .otherwise(t["value"])
        )
        rebuilt = F.struct(
            t["kind"].alias("kind"),
            new_val.alias("value"),
            t["dt"].alias("dt"),
            t["lang"].alias("lang"),
        )
        out = out.withColumn(tag, F.when(t.isNotNull(), rebuilt).otherwise(t))
    return out


def absolutize(df: DataFrame, base: str) -> DataFrame:
    """``sop absolutize BASE`` — resolve every relative IRI against ``base``
    (``src/absolutize.rs:29-34,59-83``)."""
    return _iri_rewrite(df, lambda v: _resolve_series(v, base), _resolver(base))


def relativize(df: DataFrame, base: str, parents: int = 0) -> DataFrame:
    """``sop relativize BASE -p N`` (``src/relativize.rs:37-43,69-103``)."""
    return _iri_rewrite(
        df, lambda v: _relativize_series(v, base, parents), _relativizer(base, parents)
    )
