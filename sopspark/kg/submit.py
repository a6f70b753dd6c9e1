"""spark-submit entrypoint for the transcript→KG pipeline.

north_rule deploy mode: "ships via spark-submit --py-files". On a cluster:

    ZIP=$(python -c "import sopspark.session as s; print(s._package_zip())")
    spark-submit --py-files "$ZIP" \
        path/to/sopspark/kg/submit.py \
        --master cluster --corpus /mnt/shared/corpus --workdir /mnt/shared/kg

``--corpus``/``--workdir`` must be driver-visible filesystem paths (local
or NFS-mounted): the lineage manifests are written with plain ``open()``
— the sandbox stand-in for Iceberg snapshot metadata. An object-store
(s3://) workdir needs that manifest layer swapped for the real Iceberg
catalog (SURVEY.md §4.3.6).

``--master cluster`` leaves the Spark master to spark-submit; any other
value (default ``local[$SPARK_GRAFT_CPUS]``) builds a local session, so the
same script is the sandbox test path:

    python -m sopspark.kg.submit --synth 1000 --corpus /tmp/c --workdir /tmp/w

The pipeline itself is :func:`sopspark.kg.pipeline.run_kg_pipeline` — every
stage checkpoints parquet + a lineage manifest, so re-submitting after a
failure resumes mid-pipeline (kill-and-rerun tested).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(prog="sopspark-kg-submit", description=__doc__)
    ap.add_argument("--corpus", required=True, help="corpus dir (transcripts/alias_dict/sameas parquet)")
    ap.add_argument("--workdir", required=True, help="checkpoint/output dir")
    ap.add_argument("--conv-ns", default=None, help="named-graph namespace per conversation")
    ap.add_argument("--force", action="store_true", help="ignore checkpoints, recompute all stages")
    ap.add_argument("--master", default=None, help="Spark master; 'cluster' = leave to spark-submit")
    ap.add_argument("--synth", type=int, default=None, metavar="N_CONVS",
                    help="generate a deterministic synthetic corpus of N conversations into --corpus "
                    "first, unless it already holds one of that size")
    args = ap.parse_args(argv)

    own_session = spark is None
    if own_session:
        from sopspark.session import get_spark

        spark = get_spark(master=args.master, app_name="sopspark-kg")

    try:
        if args.synth:
            from sopspark.kg.synth import write_corpus

            # a rewritten source file invalidates every checkpoint reading it
            marker = Path(args.corpus, "_SYNTH")
            if not marker.is_file() or marker.read_text() != str(args.synth):
                marker.unlink(missing_ok=True)
                write_corpus(spark, args.corpus, n_convs=args.synth)
                marker.write_text(str(args.synth))

        from sopspark.kg.pipeline import _load_manifest, run_kg_pipeline

        run_kg_pipeline(spark, args.corpus, args.workdir, conv_ns=args.conv_ns, force=args.force)
        summary = {}
        for name in ("assemble", "extract", "link", "sameas_cc", "graph", "canonical"):
            m = _load_manifest(args.workdir, name)
            if m:
                summary[name] = {"rows": m["rows"], "wall_sec": m["wall_sec"], "files": len(m["files"])}
        print(json.dumps({"stages": summary, "workdir": args.workdir}))
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
