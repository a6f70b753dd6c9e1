"""Stage-graph runner with per-stage checkpoints, lineage, and resume.

north_rule: "resumable from checkpoint with per-partition lineage + metrics".

Every stage materializes its output as parquet under ``workdir/<stage>/``
next to a ``_lineage.json`` manifest recording:
  * the stage's config hash (stage code identity + parameters),
  * the manifest hashes of its stage inputs and the fingerprints of its
    source inputs (so a changed upstream or source invalidates downstream),
  * row count, per-file row counts (parquet footer metadata — the sandbox
    stand-in for Iceberg snapshot properties), wall time, engine version,
  * the output schema (``StructType.jsonValue()``).

Checkpoints are read back with the recorded schema, so a re-read is a plan,
not a job: without one Spark runs a one-task job to infer a parquet
schema. A manifest or snapshot entry written before the schema was
recorded has none; those reads fall back to inference.

``run_pipeline`` skips any stage whose manifest matches (config, inputs) —
kill the job at any boundary and the rerun resumes mid-pipeline. On a real
deployment the same manifests land in Iceberg snapshot metadata
(SURVEY.md §4.3.6); parquet-dir + JSON is the sandbox equivalent.

Snapshots: every re-materialization writes a NEW ``data_vN`` directory and
appends to the stage's ``_snapshots.json`` log (append-only, the Iceberg
snapshot-history twin; each entry records its schema too) — so handles
from earlier runs stay readable, ``read_snapshot`` time-travels to any
retained version, and ``expire_snapshots`` is the retention knob.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]  # fn(spark, inputs: dict[str, DataFrame]) -> DataFrame
    deps: list[str] = field(default_factory=list)
    params: dict = field(default_factory=dict)

    def config_hash(self) -> str:
        ident = {
            "name": self.name,
            "fn": f"{self.fn.__module__}.{self.fn.__qualname__}",
            "params": self.params,
        }
        return hashlib.sha256(json.dumps(ident, sort_keys=True, default=str).encode()).hexdigest()[:16]


def _manifest_path(workdir: str, stage: str) -> str:
    return os.path.join(workdir, stage, "_lineage.json")


def _snap_log_path(workdir: str, stage: str) -> str:
    return os.path.join(workdir, stage, "_snapshots.json")


def snapshots(workdir: str, stage: str) -> list[dict]:
    """The stage's snapshot log, oldest first — the sandbox twin of
    Iceberg's snapshot history. Each entry: version, manifest_hash, rows,
    written_at, path, schema. A pre-snapshot (un-versioned ``data``)
    checkpoint surfaces as a synthesized version-0 entry, without a
    schema, so time travel and retention see it too."""
    p = _snap_log_path(workdir, stage)
    if not os.path.exists(p):
        if os.path.isdir(os.path.join(workdir, stage, "data")):
            legacy = _load_manifest(workdir, stage) or {}
            return [
                {
                    "version": 0,
                    "manifest_hash": legacy.get("manifest_hash", "legacy"),
                    "rows": legacy.get("rows"),
                    "written_at": legacy.get("written_at"),
                    "path": "data",
                }
            ]
        return []
    with open(p) as f:
        return json.load(f)


def read_snapshot(
    spark: SparkSession, workdir: str, stage: str, version: int | None = None
) -> DataFrame:
    """Time travel: read a stage's output as of ``version`` (default:
    current). Raises listing the available versions on a miss."""
    snaps = snapshots(workdir, stage)
    if not snaps:
        raise FileNotFoundError(f"stage {stage!r} has no snapshots in {workdir}")
    if version is None:
        entry = snaps[-1]
    else:
        match = [s for s in snaps if s["version"] == version]
        if not match:
            have = [s["version"] for s in snaps]
            raise FileNotFoundError(
                f"stage {stage!r} has no snapshot v{version} (available: {have})"
            )
        entry = match[0]
    return _read_stage(spark, os.path.join(workdir, stage, entry["path"]), entry.get("schema"))


def expire_snapshots(workdir: str, stage: str, keep: int = 1) -> list[int]:
    """Drop all but the newest ``keep`` snapshots (Iceberg
    ``expire_snapshots`` twin). Returns the expired version numbers."""
    import shutil

    snaps = snapshots(workdir, stage)
    if keep < 1:
        raise ValueError("keep must be >= 1")
    if not snaps:
        return []  # never-materialized stage: nothing to expire, no log
    expired, kept = snaps[:-keep], snaps[-keep:]
    for s in expired:
        shutil.rmtree(os.path.join(workdir, stage, s["path"]), ignore_errors=True)
    with open(_snap_log_path(workdir, stage), "w") as f:
        json.dump(kept, f, indent=2)
    return [s["version"] for s in expired]


def _load_manifest(workdir: str, stage: str) -> dict | None:
    p = _manifest_path(workdir, stage)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def _read_stage(spark: SparkSession, data_dir: str, schema: dict | None) -> DataFrame:
    """Read a checkpoint with its recorded schema (no inference job);
    ``schema=None`` (written before schemas were recorded) infers it."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(data_dir)


def _file_row_counts(data_dir: str) -> dict[str, int]:
    """Per-file row counts from parquet footers — the per-partition lineage."""
    import pyarrow.parquet as pq

    counts = {}
    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            counts[fn] = pq.ParquetFile(os.path.join(data_dir, fn)).metadata.num_rows
    return counts


def _fingerprint(df: DataFrame) -> str:
    """A source's identity, found without a job: its files' paths, sizes
    and mtimes (only ``file:`` paths are stat'ed), or the plan's
    ``semanticHash`` when it has no files (a driver literal, a range)."""
    files = sorted(df.inputFiles())
    if not files:
        return f"plan:{df.semanticHash()}"
    stats = [os.stat(unquote(urlparse(f).path)) if f.startswith("file:") else None for f in files]
    parts = [f"{f}:{st.st_size}:{st.st_mtime_ns}" if st else f for f, st in zip(files, stats)]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    workdir: str,
    stages: list[Stage],
    sources: dict[str, DataFrame],
    force: bool = False,
) -> dict[str, DataFrame]:
    """Execute stages in order with checkpoint/resume. Returns a dict of
    stage name → (materialized) DataFrame. A manifest written before
    sources were fingerprinted records each as ``"source"``, so a stage
    reading a source recomputes once."""
    os.makedirs(workdir, exist_ok=True)
    results: dict[str, DataFrame] = dict(sources)
    manifests = {name: _fingerprint(df) for name, df in sources.items()}

    for st in stages:
        snaps = snapshots(workdir, st.name)
        # current data dir: latest snapshot, or the legacy un-versioned
        # layout from pre-snapshot checkpoints
        cur_rel = snaps[-1]["path"] if snaps else "data"
        data_dir = os.path.join(workdir, st.name, cur_rel)
        cfg = st.config_hash()
        input_sig = {d: manifests[d] for d in st.deps}
        prior = _load_manifest(workdir, st.name)
        if (
            not force
            and prior
            and prior.get("config_hash") == cfg
            and prior.get("inputs") == input_sig
            and os.path.isdir(data_dir)
        ):
            results[st.name] = _read_stage(spark, data_dir, prior.get("schema"))
            manifests[st.name] = prior["manifest_hash"]
            continue

        # new snapshot version (append-only — time travel via
        # read_snapshot, retention via expire_snapshots)
        version = (snaps[-1]["version"] + 1) if snaps else 1
        rel = f"data_v{version}"
        data_dir = os.path.join(workdir, st.name, rel)

        t0 = time.time()
        out = st.fn(spark, {d: results[d] for d in st.deps}, **st.params)
        out.write.mode("overwrite").parquet(data_dir)
        wall = time.time() - t0

        per_file = _file_row_counts(data_dir)
        manifest = {
            "stage": st.name,
            "config_hash": cfg,
            "inputs": input_sig,
            "rows": sum(per_file.values()),
            "files": per_file,
            "wall_sec": round(wall, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema": out.schema.jsonValue(),
        }
        mh = hashlib.sha256(json.dumps(manifest, sort_keys=True).encode()).hexdigest()[:16]
        manifest["manifest_hash"] = mh
        with open(_manifest_path(workdir, st.name), "w") as f:
            json.dump(manifest, f, indent=2)
        snaps.append(
            {
                "version": version,
                "manifest_hash": mh,
                "rows": manifest["rows"],
                "written_at": manifest["written_at"],
                "path": rel,
                "schema": manifest["schema"],
            }
        )
        with open(_snap_log_path(workdir, st.name), "w") as f:
            json.dump(snaps, f, indent=2)
        results[st.name] = _read_stage(spark, data_dir, manifest["schema"])
        manifests[st.name] = mh

    return results


# ---------------------------------------------------------------------------
# the concrete transcript→KG pipeline
# ---------------------------------------------------------------------------

def kg_stages(conv_ns: str | None = None) -> list[Stage]:
    from sopspark.kg.canon import materialize_graph, sameas_closure
    from sopspark.kg.extract import assemble_turns, extract_triples
    from sopspark.kg.link import link_entities
    from sopspark.terms import nq_line
    from pyspark.sql import functions as F

    def s_assemble(spark, inputs):
        return assemble_turns(inputs["transcripts"])

    def s_extract(spark, inputs):
        return extract_triples(inputs["assemble"])

    def s_link(spark, inputs):
        return link_entities(inputs["extract"], inputs["alias_dict"])

    def s_sameas(spark, inputs):
        return sameas_closure(inputs["sameas"])

    def s_graph(spark, inputs, conv_ns=None):
        return materialize_graph(inputs["link"], inputs["sameas_cc"], conv_ns=conv_ns)

    def s_canonical(spark, inputs):
        df = inputs["graph"]
        return df.select(nq_line(F.col("s"), F.col("p"), F.col("o"), F.col("g")).alias("line")).orderBy(
            "line"
        )

    return [
        Stage("assemble", s_assemble, deps=["transcripts"]),
        Stage("extract", s_extract, deps=["assemble"]),
        Stage("link", s_link, deps=["extract", "alias_dict"]),
        Stage("sameas_cc", s_sameas, deps=["sameas"]),
        Stage("graph", s_graph, deps=["link", "sameas_cc"], params={"conv_ns": conv_ns}),
        Stage("canonical", s_canonical, deps=["graph"]),
    ]


def run_kg_pipeline(
    spark: SparkSession, corpus_dir: str, workdir: str, conv_ns: str | None = None, force: bool = False
) -> dict[str, DataFrame]:
    sources = {
        "transcripts": spark.read.parquet(f"{corpus_dir}/transcripts.parquet"),
        "alias_dict": spark.read.parquet(f"{corpus_dir}/alias_dict.parquet"),
        "sameas": spark.read.parquet(f"{corpus_dir}/sameas.parquet"),
    }
    return run_pipeline(spark, workdir, kg_stages(conv_ns), sources, force=force)
