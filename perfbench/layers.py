"""Per-layer metrics of a traced run.

A *unit* is one top-level span: a run.  Each layer's metrics are summed over
the layer's spans inside a unit and the median over units is reported, as
``<layer>.<metric>``.  Every traced run prints the whole list :func:`metric_names` gives (it is
``per_layer`` in ``BENCHMARK.json``); a layer the workload does not call
reports 0 for each of its metrics.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from graph_refs import LAYERS as GRAPH, ROUNDS
from spans import LAYER_METRICS, event_log_files, read_event_log, rollup

KG_LAYERS = (
    "kg.extract.assemble_turns",
    "kg.extract.extract_triples",
    "kg.link.link_entities",
    "kg.canon.sameas_closure",
    "kg.canon.materialize_graph",
    "kg.pipeline.canonical",
    "kg.canon.merge_incremental",
)
RDF_LAYERS = (
    "sources.ntriples.parse_ntriples",
    "operators.filter_map.filter_quads",
    "operators.filter_map.map_quads",
    "functions.sparql.sparql_query",
    "operators.canonicalize.canonicalize",
    "operators.serialize.serialize_nquads",
)
GRAPH_ROUNDS = {GRAPH[key]: k for key, k in ROUNDS.items()}
GRAPH_LAYERS = tuple(GRAPH_ROUNDS)
ALL_LAYERS = KG_LAYERS + RDF_LAYERS + GRAPH_LAYERS
RSS_LAYERS = (
    "kg.extract.extract_triples",
    "sources.ntriples.parse_ntriples",
    "operators.canonicalize.canonicalize",
)
GRAPH_METRICS = ("round_s", "jobs_per_round", "task_skew")
UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "exec_run_s": "s", "driver_s": "s",
    "shuffle_write_mb": "MB", "rows_out": "count", "round_s": "s", "jobs_per_round": "count",
    "task_skew": "ratio", "py_peak_rss_mb": "MB",
}
TOTALS = ("wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "driver_s",
          "shuffle_write_mb", "shuffle_read_mb", "task_skew")


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = [("traced.run_s", "s")]
    for layer in ALL_LAYERS:
        ms = list(LAYER_METRICS)
        if layer in GRAPH_LAYERS:
            ms += GRAPH_METRICS
        if layer in RSS_LAYERS:
            ms.append("py_peak_rss_mb")
        out += [(f"{layer}.{m}", UNITS[m]) for m in ms]
    return out


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def layer_table(tracer, work: str, cores: int) -> dict:
    log = read_event_log(event_log_files(os.path.join(work, "eventlog")))
    rows = rollup(tracer.spans, log, cores)
    by_id = {r["id"]: r for r in rows}
    spans = {s["id"]: s for s in tracer.spans}

    def root(i):
        while by_id[i]["parent"] is not None:
            i = by_id[i]["parent"]
        return i

    units = [r for r in rows if r["parent"] is None and not spans[r["id"]].get("probe")]
    probes = [r for r in rows if spans[r["id"]].get("probe")]
    per_unit: dict[int, dict[str, dict]] = {u["id"]: {} for u in units}
    for r in rows:
        u = root(r["id"])
        if u not in per_unit or r["id"] == u:
            continue
        acc = per_unit[u].setdefault(r["name"], defaultdict(float))
        for m in LAYER_METRICS:
            acc[m] += r[m]
        acc["task_skew"] = max(acc["task_skew"], r["task_skew"])
        acc["py_peak_rss_mb"] = max(acc["py_peak_rss_mb"], r["peak_rss_mb"])

    layers: dict[str, float] = {}
    for name in sorted({n for lay in per_unit.values() for n in lay}):
        vals = [lay[name] for lay in per_unit.values() if name in lay]
        for m in LAYER_METRICS + ("task_skew", "py_peak_rss_mb"):
            layers[f"{name}.{m}"] = _med([v[m] for v in vals])
        if name in GRAPH_LAYERS:

            def probe(rounds, metric):
                return _mean([p[metric] for p in probes if p["name"] == f"{name}#rounds={rounds}"])

            k = GRAPH_ROUNDS[name]
            layers[f"{name}.round_s"] = max(probe(k, "wall_s") - probe(1, "wall_s"), 0.0) / (k - 1)
            layers[f"{name}.jobs_per_round"] = max(probe(k, "jobs") - probe(1, "jobs"), 0.0) / (k - 1)
    totals = {m: _med([u[m] for u in units]) for m in TOTALS}
    return {"layers": layers, "totals": totals, "units": len(units)}


def per_layer_metrics(table: dict, samples) -> dict:
    """Every name of :func:`metric_names`, with its unit."""
    values = {"traced.run_s": _med([s.wall_s for s in samples]), **table["layers"]}
    return {name: {"value": values.get(name, 0.0), "unit": unit} for name, unit in metric_names()}
