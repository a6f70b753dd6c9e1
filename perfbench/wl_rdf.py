"""``sop_chain``: the reference tool's own chain over generated N-Quads, and
graph analytics over the parsed "knows" relation.

parse_ntriples(scope_bnodes_per_file=True) → filter_quads (langMatches) →
map_quads (lcase predicate) → canonicalize → written canonical N-Quads, plus
serialize_nquads of the mapped quads.  The same parsed input feeds a
``sparql_query`` (a BGP join with an aggregate) and the power-law "knows"
edges it holds feed pagerank (10 rounds), label_propagation (5 rounds) and
connected_components, each written to parquet.

References, computed once at setup from the generator's own quads:
  * canonical N-Quads: an independent RDFC-1.0 labelling.  Every generated
    blank node has at least one quad no other blank node has, so its
    first-degree hash is unique and the canonical labels follow from the
    first-degree hashes alone (RDFC-1.0 §4.4.3 step 5);
  * SPARQL rows: the same data evaluated in DuckDB;
  * graph: PageRank by power iteration in NumPy, synchronous label
    propagation and union-find in plain Python.
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import os
import random
import re
import shutil
import time
from collections import Counter

import graph_refs
from harness import Sample

EX = "http://example.org/"
V = EX + "vocab/"
KNOWS = V + "knows"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
LANGS = ["en", "en-gb", "fr", "de"]
FILES = 4
KNOWS_SKEW = 0.8  # Zipf exponent of "knows" targets

FILTER = 'coalesce(langMatches(lang(?o), "en"), true)'
MAP_P = "iri(lcase(str(?p)))"
Q_JOIN = (
    f"SELECT ?org (COUNT(?person) AS ?n) WHERE {{ ?person <{V}worksFor> ?org . "
    f"?person <{V}hasAge> ?age }} GROUP BY ?org"
)

LAYERS = {
    "parse": "sources.ntriples.parse_ntriples",
    "filter": "operators.filter_map.filter_quads",
    "map": "operators.filter_map.map_quads",
    "sparql": "functions.sparql.sparql_query",
    "c14n": "operators.canonicalize.canonicalize",
    "serialize": "operators.serialize.serialize_nquads",
    **graph_refs.LAYERS,
}

# term = (kind, value, dt, lang) with kind 0 IRI, 1 blank node, 2 literal
IRI, BNODE, LIT = 0, 1, 2


def _iri(v):
    return (IRI, v, None, None)


def _lit(v, dt=None, lang=None):
    return (LIT, v, dt, lang)


def knows_edges(rng: random.Random, people: list[str]) -> list[tuple[str, str]]:
    """1–4 "knows" edges per person, targets Zipf-weighted over a seeded
    permutation of the people (so a few hubs hold a few percent of the
    edges); no self loops, no duplicates."""
    perm = people[:]
    rng.shuffle(perm)
    cum = list(itertools.accumulate(1.0 / (k + 1) ** KNOWS_SKEW for k in range(len(perm))))
    edges = {}
    for a in people:
        for b in rng.choices(perm, cum_weights=cum, k=rng.randint(1, 4)):
            if b != a:
                edges[(a, b)] = None
    return list(edges)


def generate_quads(seed: int, n_people: int) -> tuple[list[list[tuple]], list[tuple[str, str]]]:
    """Seeded quads for ``FILES`` sources (quad = (s, p, o, g) terms) and the
    "knows" edges among them."""
    rng = random.Random(seed)
    n_orgs = max(3, n_people // 40)
    files: list[list[tuple]] = [[] for _ in range(FILES)]
    people = [f"{EX}people/Person{i}" for i in range(n_people)]
    edges = knows_edges(rng, people)
    for a, b in edges:
        files[rng.randrange(FILES)].append((_iri(a), _iri(KNOWS), _iri(b), None))
    for i, person in enumerate(people):
        out = files[i % FILES]
        s = _iri(person)
        for lang in rng.sample(LANGS, rng.randint(1, 3)):
            out.append((s, _iri(V + "hasName"), _lit(f"Name {i}", lang=lang), None))
        out.append((s, _iri(V + "worksFor"), _iri(f"{EX}org/Org{int(rng.paretovariate(1.2)) % n_orgs}"), None))
        if rng.random() < 0.8:
            out.append((s, _iri(V + "hasAge"), _lit(str(rng.randint(18, 90)), dt=XSD_INTEGER), None))
        out.append(
            (s, _iri(V + "sourceNote"), _lit(f"note {i}", lang=rng.choice(LANGS)), _iri(f"{EX}graph/G{i % 7}"))
        )
        if rng.random() < 0.7:  # a small blank-node component
            a = (BNODE, f"addr{i}", None, None)
            out.append((s, _iri(V + "hasAddress"), a, None))
            out.append((a, _iri(V + "streetName"), _lit(f"{i} Main Street"), None))
            out.append((a, _iri(V + "inCity"), _iri(f"{EX}city/C{rng.randrange(50)}"), None))
            if rng.random() < 0.5:
                geo = (BNODE, f"geo{i}", None, None)
                out.append((a, _iri(V + "geoPoint"), geo, None))
                out.append((geo, _iri(V + "latLong"), _lit(f"{i % 90}.{i},{i % 180}.{i}"), None))
    return files, edges


def _esc(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n").replace("\r", "\\r")


def nt_term(t: tuple) -> str:
    kind, value, dt, lang = t
    if kind == IRI:
        return f"<{value}>"
    if kind == BNODE:
        return f"_:{value}"
    out = f'"{_esc(value)}"'
    if lang:
        return out + "@" + lang
    if dt:
        return out + f"^^<{dt}>"
    return out


def nq_line(q: tuple) -> str:
    return " ".join(nt_term(t) for t in q if t is not None) + " ."


def write_files(files: list[list[tuple]], out_dir: str) -> list[str]:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    paths = []
    for k, quads in enumerate(files):
        p = os.path.join(out_dir, f"part{k}.nq")
        with open(p, "w") as f:
            f.write("\n".join(nq_line(q) for q in quads) + "\n")
        paths.append(p)
    return paths


def filter_map(files: list[list[tuple]]) -> list[tuple]:
    """The chain's filter and map on plain tuples (generated blank-node
    labels are already unique across sources)."""
    out = []
    for quads in files:
        for q in quads:
            o = q[2]
            if o[0] == LIT and o[3] and not (o[3] == "en" or o[3].startswith("en-")):
                continue
            out.append((q[0], _iri(q[1][1].lower()), q[2], q[3]))
    return list(dict.fromkeys(out))


def first_degree_canonical(quads: list[tuple]) -> list[str]:
    """RDFC-1.0 canonical N-Quads for data whose blank nodes all have unique
    first-degree hashes (asserted)."""
    mentions: dict[str, list[tuple]] = {}
    for q in quads:
        for t in q:
            if t is not None and t[0] == BNODE:
                mentions.setdefault(t[1], []).append(q)
    hashes = {}
    for b, qs in mentions.items():
        lines = sorted(
            nq_line(
                tuple(
                    (BNODE, "a" if t[1] == b else "z", None, None)
                    if t is not None and t[0] == BNODE
                    else t
                    for t in q
                )
            )
            + "\n"
            for q in dict.fromkeys(qs)
        )
        hashes[b] = hashlib.sha256("".join(lines).encode()).hexdigest()
    if len(set(hashes.values())) != len(hashes):
        raise ValueError("generated blank nodes must have unique first-degree hashes")
    label = {b: f"c14n{i}" for i, b in enumerate(sorted(hashes, key=hashes.get))}
    relabeled = {
        nq_line(
            tuple(
                (BNODE, label[t[1]], None, None) if t is not None and t[0] == BNODE else t
                for t in q
            )
        )
        for q in quads
    }
    return sorted(relabeled)


def duckdb_rows(files: list[list[tuple]]) -> list[tuple[str, int]]:
    """Sorted (org, n) rows of the SPARQL query, evaluated by DuckDB over the
    default-graph triples."""
    import duckdb
    import pyarrow as pa

    rows = [
        (q[0][1], q[1][1], q[2][1])
        for quads in files
        for q in quads
        if q[3] is None and q[0][0] == IRI and q[2][0] != BNODE
    ]
    con = duckdb.connect()
    try:
        con.register("t", pa.table({k: [r[i] for r in rows] for i, k in enumerate("spo")}))
        out = con.execute(
            f"""SELECT w.o, count(*) FROM (SELECT DISTINCT s, o FROM t WHERE p = '{V}worksFor') w
                JOIN (SELECT DISTINCT s, o FROM t WHERE p = '{V}hasAge') a ON w.s = a.s
                GROUP BY w.o ORDER BY w.o"""
        ).fetchall()
    finally:
        con.close()
    return [(o, int(n)) for o, n in out]


def sha_lines(lines) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def unscoped(line: str) -> str:
    """Drop the per-source suffix ``parse_ntriples`` appends to blank-node
    labels (generated labels contain no underscore)."""
    return _SCOPED.sub(r"\1", line)


_SCOPED = re.compile(r"(_:[A-Za-z0-9]+)_[A-Za-z0-9]+")


def read_text_lines(out_dir: str) -> list[str]:
    lines = []
    for p in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(p) as f:
            lines.extend(l.rstrip("\n") for l in f if l.strip())
    return lines


class SopChain:
    """One run: the chain, the SPARQL query and the graph layers.  There is
    no warm-up: the timed run is the first in the JVM, as each command of the
    ``sop`` CLI is, and a warm-up run would double the invocation."""

    name = "sop_chain"
    rows_name = "quads"
    gen_repeats = 3
    N_PEOPLE = 1000

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.n_people = max(30, int(self.N_PEOPLE * ctx.scale))
        self.dir = ctx.path("sop_chain")

    def generate(self) -> None:
        self.files, self.edges = generate_quads(self.ctx.seed, self.n_people)
        self.paths = write_files(self.files, os.path.join(self.dir, "input"))

    def prepare(self) -> dict:
        from sopspark.operators.canonicalize import canonicalize

        mapped = filter_map(self.files)
        canon = first_degree_canonical(mapped)
        self.ref_canon = (len(canon), sha_lines(canon))
        self.ref_serialized = (len(mapped), sha_lines(sorted(nq_line(q) for q in mapped)))
        self.ref_sparql = duckdb_rows(self.files)
        self.ref_cc = graph_refs.union_find(self.edges)
        self.ref_rank = graph_refs.pagerank(self.edges)
        self.ref_lpa = graph_refs.label_propagation(self.edges)
        self.quads = sum(len(f) for f in self.files)
        bn = [q for q in mapped if any(t is not None and t[0] == BNODE for t in q)]
        # component = an address node and its optional geo node
        by_comp = Counter(
            next(t[1] for t in q if t is not None and t[0] == BNODE).replace("geo", "addr") for q in bn
        )
        sizes = Counter(by_comp.values())
        threshold = canonicalize.__defaults__[-1]
        return {
            "files": FILES,
            "input_quads": self.quads,
            "mapped_quads": len(mapped),
            "bnode_quads": len(bn),
            "bnode_components": len(by_comp),
            "component_quads_histogram": {str(k): v for k, v in sorted(sizes.items())},
            "canonicalize_driver_threshold": threshold,
            "canonicalize_path": "driver" if len(bn) <= threshold else "component",
            "sparql_reference_rows": len(self.ref_sparql),
            **graph_refs.regime(self.edges, self.ref_cc),
        }

    def _algo(self, key: str, edges, rounds: int | None = None):
        """One graph layer with its default knobs, or with ``rounds``
        rounds for a traced run's probe."""
        from sopspark.kg.graphalgo import label_propagation, pagerank
        from sopspark.plans.graph import connected_components

        if key == "pagerank":
            return pagerank(edges) if rounds is None else pagerank(edges, iters=rounds)
        if key == "lpa":
            return label_propagation(edges) if rounds is None else label_propagation(edges, iters=rounds)
        return connected_components(edges) if rounds is None else connected_components(edges, max_iter=rounds)

    def run(self, tracer) -> list[Sample]:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from sopspark.functions.sparql import sparql_query
        from sopspark.operators.canonicalize import canonicalize
        from sopspark.operators.filter_map import filter_quads, map_quads
        from sopspark.operators.serialize import serialize_nquads
        from sopspark.sources.ntriples import parse_ntriples

        out_c14n = os.path.join(self.dir, "out_canonical")
        out_nq = os.path.join(self.dir, "out_nquads")
        out_graph = {k: os.path.join(self.dir, f"out_{k}") for k in graph_refs.LAYERS}
        traced = tracer.enabled
        recs: dict[str, dict] = {}
        cached = []

        def layer(key, make, consumers=1):
            """Build one layer's output.  An output with several consumers is
            cached, as a user of the library would; a traced run caches and
            counts every layer's output under its own span."""
            with tracer.span(LAYERS[key]) as recs[key]:
                df = make()
                if traced or consumers > 1:
                    df = df.persist()
                    cached.append(df)
                if traced:
                    recs[key]["rows_out"] = df.count()
                return df

        t0 = time.perf_counter()
        with tracer.span("sop_chain.run"):
            # parsed quads feed the SPARQL query, the filter and the edges
            parsed = layer(
                "parse", lambda: parse_ntriples(self.spark, self.paths, scope_bnodes_per_file=True), 3
            )
            with tracer.span(LAYERS["sparql"]) as recs["sparql"]:
                sparql = sparql_query(parsed, Q_JOIN).df.collect()
            filtered = layer("filter", lambda: filter_quads(parsed, FILTER))
            mapped = layer("map", lambda: map_quads(filtered, p=MAP_P), 2)
            with tracer.span(LAYERS["c14n"]) as recs["c14n"]:
                canonicalize(mapped).coalesce(1).write.mode("overwrite").text(out_c14n)
            with tracer.span(LAYERS["serialize"]) as recs["serialize"]:
                serialize_nquads(mapped, out_nq)
            edges = parsed.where(F.col("p.value") == KNOWS).select(
                F.col("s.value").alias("src"), F.col("o.value").alias("dst")
            )
            edges = edges.persist()
            cached.append(edges)
            for key, out in out_graph.items():
                with tracer.span(LAYERS[key]) as recs[key]:
                    self._algo(key, edges).write.mode("overwrite").parquet(out)
        wall = time.perf_counter() - t0

        if traced:
            self.probe_rounds(tracer, edges)
        for df in cached:
            df.unpersist()
        canon = read_text_lines(out_c14n)
        nq = [unscoped(l) for l in read_text_lines(out_nq)]
        graph = {k: pq.read_table(out).to_pydict() for k, out in out_graph.items()}
        if traced:
            recs["sparql"]["rows_out"] = len(sparql)
            recs["c14n"]["rows_out"], recs["serialize"]["rows_out"] = len(canon), len(nq)
            for key, cols in graph.items():
                recs[key]["rows_out"] = len(cols["node"])
        rank = dict(zip(graph["pagerank"]["node"], graph["pagerank"]["rank"]))
        checks = {
            "canonical_equal": (len(canon), sha_lines(canon)) == self.ref_canon,
            "serialized_equal": (len(nq), sha_lines(sorted(nq))) == self.ref_serialized,
            "sparql_equal": sorted((r[0].value, int(r[1].value)) for r in sparql) == self.ref_sparql,
            "rank_sum_ok": abs(sum(rank.values()) - 1.0) <= 1e-6,
            "rank_equal": rank.keys() == self.ref_rank.keys()
            and all(abs(rank[n] - r) <= 1e-9 for n, r in self.ref_rank.items()),
            "lpa_equal": dict(zip(graph["lpa"]["node"], graph["lpa"]["community"])) == self.ref_lpa,
            "cc_equal": dict(zip(graph["cc"]["node"], graph["cc"]["rep"])) == self.ref_cc,
        }
        self.ctx.notes["sop_chain_check"] = {
            "canonical_lines": len(canon),
            "sparql_rows": len(sparql),
            "rank_sum": sum(rank.values()),
            **checks,
        }
        return [Sample(wall, self.quads, all(checks.values()))]

    def probe_rounds(self, tracer, edges) -> None:
        """1-, k- and 1-round runs of each graph layer for the per-round
        figures; traced runs only."""
        for key, k in graph_refs.ROUNDS.items():
            for r in (1, k, 1):
                with tracer.span(f"{LAYERS[key]}#rounds={r}", probe=key, rounds=r):
                    self._algo(key, edges, r).write.format("noop").mode("overwrite").save()
