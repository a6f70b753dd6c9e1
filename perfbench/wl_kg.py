"""``kg_delta``: a graph table built from a base corpus, then a stream of
small transcript batches, each run through the KG pipeline and merged into
the next version of the table.

Every batch drives ``sopspark.kg.pipeline.run_kg_pipeline`` with its default
knobs, as ``sopspark.kg.submit`` does, with one named graph per conversation
(``conv_ns``): the default graph saturates at ~1.6k distinct facts, which
would leave a batch nothing to merge.  In a traced run the stage functions that
``run_kg_pipeline`` builds are wrapped so that each stage — its function call
and the parquet checkpoint write that follows it — runs under its own job
group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from harness import Sample, tail_percentile

# stage name inside run_kg_pipeline → the public function that does its work
STAGE_LAYERS = {
    "assemble": "kg.extract.assemble_turns",
    "extract": "kg.extract.extract_triples",
    "link": "kg.link.link_entities",
    "sameas_cc": "kg.canon.sameas_closure",
    "graph": "kg.canon.materialize_graph",
    "canonical": "kg.pipeline.canonical",
}
CC_LAYER = "plans.graph.connected_components"
MERGE_LAYER = "kg.canon.merge_incremental"
CONV_NS = "http://example.org/conv/"
KEYS = ("s", "p", "o", "g")
CORPUS_FILES = 4


@contextmanager
def traced_cc(tracer):
    """Wrap ``connected_components`` where the library looks it up."""
    if not tracer.enabled:
        yield
        return
    import sopspark.kg.canon as canon
    import sopspark.plans.graph as graph

    orig = graph.connected_components

    @functools.wraps(orig)
    def cc(edges, *a, **kw):
        with tracer.span(CC_LAYER) as rec:
            out = orig(edges, *a, **kw)
            rec["rows_out"] = out.count()
        return out

    saved = (graph.connected_components, canon.connected_components)
    graph.connected_components = canon.connected_components = cc
    try:
        yield
    finally:
        graph.connected_components, canon.connected_components = saved


@contextmanager
def traced_pipeline(tracer):
    """Run ``run_kg_pipeline`` with one span per stage (function + write)."""
    if not tracer.enabled:
        yield []
        return
    import sopspark.kg.pipeline as pipeline

    orig = pipeline.kg_stages
    opened: list[tuple[str, dict]] = []

    def wrap(fn, stage):
        @functools.wraps(fn)
        def run(spark, inputs, **kw):
            opened.append((stage, tracer.step(STAGE_LAYERS[stage])))
            return fn(spark, inputs, **kw)

        return run

    def stages(*a, **kw):
        out = orig(*a, **kw)
        for st in out:
            st.fn = wrap(st.fn, st.name)
        return out

    pipeline.kg_stages = stages
    try:
        with traced_cc(tracer):
            yield opened
    finally:
        tracer.end_steps()
        pipeline.kg_stages = orig


def manifest_rows(workdir: str, opened: list[tuple[str, dict]]) -> None:
    for stage, rec in opened:
        with open(os.path.join(workdir, stage, "_lineage.json")) as f:
            rec["rows_out"] = json.load(f)["rows"]


def latest_data(workdir: str, stage: str) -> str:
    dirs = glob.glob(os.path.join(workdir, stage, "data_v*"))
    return max(dirs, key=lambda d: int(d.rsplit("_v", 1)[1]))


def _term(t) -> str:
    if t is None:
        return ""
    return f"{t['kind']}|{t['value']}|{t['dt'] or ''}|{t['lang'] or ''}"


def quad_lines(path: str) -> list[str]:
    """The quads of a parquet directory as sorted text lines."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path, columns=["s", "p", "o", "g"]).to_pylist()
    return sorted("\t".join(_term(r[c]) for c in ("s", "p", "o", "g")) for r in rows)


def sameas_reps() -> dict[str, str]:
    """Closed-form owl:sameAs representatives (class minimum) from the
    generator's edge list, by a plain union-find."""
    from sopspark.kg.synth import SAMEAS_EDGES

    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in SAMEAS_EDGES:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def hot_alias_share(corpora: list[str]) -> float:
    """Share of person-alias mentions that are the hot alias "Bob"."""
    import pyarrow.parquet as pq
    from sopspark.kg.synth import PERSON_ALIAS_RE

    mentions = [
        m
        for corpus in corpora
        for t in pq.read_table(f"{corpus}/transcripts.parquet", columns=["text"]).column("text").to_pylist()
        for m in PERSON_ALIAS_RE.findall(t)
    ]
    return mentions.count("Bob") / max(len(mentions), 1)


def write_corpora(spark, root: str, seed: int, parts: dict[str, tuple[int, int]]) -> None:
    """One ``synth_corpus`` of ``max(hi)`` conversations, split by
    conversation index into the corpora ``parts`` names (name → [lo, hi)),
    each with the generator's alias and sameAs tables, and the generator's
    closed-form expected triples over all of them.  Transcripts are
    written as ``CORPUS_FILES`` parquet files, the layout ``write_corpus``
    gives a small corpus (one file per generator partition), so that the
    pipeline reads them with the same parallelism."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from sopspark.kg.synth import alias_df, sameas_df, synth_corpus

    shutil.rmtree(root, ignore_errors=True)
    side = os.path.join(root, "_side")
    alias_df(spark).write.parquet(f"{side}/alias_dict.parquet")
    sameas_df(spark).write.parquet(f"{side}/sameas.parquet")
    transcripts, expected = synth_corpus(spark, max(hi for _lo, hi in parts.values()), seed=seed)
    expected.dropDuplicates().write.parquet(f"{root}/expected_triples.parquet")
    table = transcripts.toArrow()
    conv = pc.cast(pc.utf8_slice_codeunits(table["conv_id"], 5), "int64")  # "conv-00000123"
    for name, (lo, hi) in parts.items():
        corpus = os.path.join(root, name)
        os.makedirs(f"{corpus}/transcripts.parquet")
        part = table.filter(pc.and_(pc.greater_equal(conv, lo), pc.less(conv, hi)))
        for i in range(CORPUS_FILES):
            a, b = i * part.num_rows // CORPUS_FILES, (i + 1) * part.num_rows // CORPUS_FILES
            pq.write_table(part.slice(a, b - a), f"{corpus}/transcripts.parquet/part-{i}.parquet")
        for t in ("alias_dict.parquet", "sameas.parquet"):
            shutil.copytree(f"{side}/{t}", f"{corpus}/{t}")


class KgDelta:
    """One incremental ingestion session from a cold JVM, as a
    ``kg/submit.py``-style job runs it: build the graph table's base version
    from a base corpus, then, per transcript batch, ``run_kg_pipeline`` into
    a fresh workdir, ``merge_incremental`` into the current version and
    ``write_graph_table`` of the next one.  The session is one timed
    operation; each batch's latency is reported beside it.

    Checks, after the session: every graph version is exactly the set union
    of the previous version and the batch's graph (so the merge neither loses
    nor duplicates a quad), and the final version's facts reach P/R ≥ 0.95
    against the generator's closed-form expected triples (sameAs-mapped).  A
    one-shot build as the reference would cost ~9 s more per invocation,
    which the benchmark's time budget does not allow."""

    name = "kg_delta"
    rows_name = "turns"
    gen_repeats = 1  # generation runs on Spark: the first one also starts the Python workers
    N_BASE = 300
    N_BATCH = 300
    BATCHES = 1  # each batch adds ~7 s to an invocation; the budget allows one

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.n_base = max(20, int(self.N_BASE * ctx.scale))
        self.n_batch = max(10, int(self.N_BATCH * ctx.scale))
        self.dir = ctx.path("kg_delta")
        self.batch_walls: list[float] = []

    def _corpus(self, name: str) -> str:
        return os.path.join(self.dir, "corpora", name)

    def _version(self, v: int) -> str:
        return os.path.join(self.dir, "graphs", f"v{v}")

    def generate(self) -> None:
        parts = {"base": (0, self.n_base)}
        for b in range(self.BATCHES):
            lo = self.n_base + b * self.n_batch
            parts[f"batch{b}"] = (lo, lo + self.n_batch)
        write_corpora(self.spark, os.path.join(self.dir, "corpora"), self.ctx.seed, parts)

    def prepare(self) -> dict:
        import pyarrow.parquet as pq

        self.names = ["base"] + [f"batch{b}" for b in range(self.BATCHES)]
        self.turns = {
            n: pq.ParquetDataset(f"{self._corpus(n)}/transcripts.parquet").read(columns=["turn_idx"]).num_rows
            for n in self.names
        }
        hot_share = hot_alias_share([self._corpus(n) for n in self.names])
        reps = sameas_reps()
        exp = pq.read_table(os.path.join(self.dir, "corpora", "expected_triples.parquet")).to_pylist()
        self.expected = {(reps.get(r["s"], r["s"]), r["p"], reps.get(r["o"], r["o"])) for r in exp}
        return {
            "base_conversations": self.n_base,
            "batch_conversations": self.n_batch,
            "batches_per_run": self.BATCHES,
            "base_turns": self.turns["base"],
            "batch_turns": [self.turns[f"batch{b}"] for b in range(self.BATCHES)],
            "hot_alias_share": round(hot_share, 4),
            "expected_facts": len(self.expected),
        }

    def _build(self, tracer, name: str):
        """``run_kg_pipeline`` over one corpus into a fresh workdir."""
        from sopspark.kg.pipeline import run_kg_pipeline

        wd = os.path.join(self.dir, f"wd_{name}")
        shutil.rmtree(wd, ignore_errors=True)
        with traced_pipeline(tracer) as opened:
            graph = run_kg_pipeline(self.spark, self._corpus(name), wd, conv_ns=CONV_NS, force=True)["graph"]
        if tracer.enabled:
            manifest_rows(wd, opened)
        return graph

    def run(self, tracer) -> list[Sample]:
        from sopspark.kg.canon import merge_incremental, write_graph_table

        shutil.rmtree(os.path.join(self.dir, "graphs"), ignore_errors=True)
        walls = []
        t0 = time.perf_counter()
        with tracer.span("kg_delta.run"):
            with tracer.span("kg_delta.base"):
                write_graph_table(self._build(tracer, "base"), self._version(0))
            for b in range(self.BATCHES):
                t = time.perf_counter()
                with tracer.span("kg_delta.batch"):
                    new = self._build(tracer, f"batch{b}")
                    with tracer.span(MERGE_LAYER) as rec:
                        existing = self.spark.read.parquet(self._version(b))
                        write_graph_table(merge_incremental(existing, new, keys=KEYS), self._version(b + 1))
                walls.append(time.perf_counter() - t)
                if tracer.enabled:
                    rec["rows_out"] = _parquet_rows(self._version(b + 1))
        wall = time.perf_counter() - t0
        self.batch_walls += walls

        ok = self.check()
        self.ctx.notes["batch_s"] = {
            "walls": self.batch_walls,
            "median": statistics.median(self.batch_walls),
            "tail": tail_percentile(self.batch_walls),
        }
        return [Sample(wall, sum(self.turns.values()), ok)]

    def check(self) -> bool:
        import pyarrow.parquet as pq

        versions = [quad_lines(self._version(v)) for v in range(self.BATCHES + 1)]
        unions_ok = all(
            versions[b + 1]
            == sorted(set(versions[b]) | set(quad_lines(latest_data(os.path.join(self.dir, f"wd_batch{b}"), "graph"))))
            for b in range(self.BATCHES)
        )
        rows = pq.read_table(self._version(self.BATCHES), columns=["s", "p", "o"]).to_pylist()
        got = {(r["s"]["value"], r["p"]["value"], r["o"]["value"]) for r in rows}
        tp = len(got & self.expected)
        precision, recall = tp / max(len(got), 1), tp / max(len(self.expected), 1)
        self.ctx.notes["kg_delta_check"] = {
            "graph_quads": [len(v) for v in versions],
            "versions_are_unions": unions_ok,
            "facts": len(got),
            "precision": round(precision, 4),
            "recall": round(recall, 4),
        }
        return unions_ok and precision >= 0.95 and recall >= 0.95


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(path, "*.parquet"))
    )
