#!/usr/bin/env python
"""spark-submit entrypoint for the flagship pipeline.

Usage (local sandbox):
  spark-submit --py-files posmspark.zip jobs/run_pipeline.py \
      --pages /path/to/pages_parquet --workdir /path/to/checkpoints \
      [--n-docs 600000] [--force]

On a cluster the same invocation runs unchanged: the pages table is any
parquet/Iceberg path with columns (url, warc_ts, html, text, lang); all
parallelism comes from input splits + shuffle partitions. Checkpoints
land under --workdir with per-stage manifests (resume on rerun); the
job prints one summary line per stage from them (n_rows, n_partitions,
last_recomputed, wall_ms), then the result line.

Build the py-files archive with:
  (cd /root/repo && zip -r /tmp/posmspark.zip posmspark)
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of the pages table")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--n-docs", type=int, default=600_000,
                    help="synthesize this many pages if --pages not given")
    ap.add_argument("--force", action="store_true",
                    help="ignore checkpoints, recompute all stages")
    ap.add_argument("--table-out",
                    help="also commit the tile stats into a snapshot-"
                         "versioned table at this path (tablefmt)")
    ap.add_argument("--incremental-by", metavar="COL",
                    help="partition-level incremental recompute keyed on"
                         " this input column (e.g. lang): reruns rebuild"
                         " only changed partitions; with a hive-"
                         "partitioned --pages dir, change detection is"
                         " file-metadata only (zero input rescan)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from posmspark import lineage, synth
    from posmspark.pipeline import run_pipeline
    from posmspark.session import get_spark

    spark = get_spark("posmspark-pipeline")
    if args.pages:
        pages = args.pages  # path: lets incremental mode use file-metadata
        fp = f"pages:{args.pages}"
    else:
        pages = synth.pages_df(spark, args.n_docs)
        fp = f"synth:{args.n_docs}"

    out = run_pipeline(spark, pages, workdir=args.workdir,
                       input_fingerprint=fp, force=args.force,
                       incremental_by=args.incremental_by)
    row = out["tiles"].agg(
        F.sum("doc_count").alias("docs"), F.count(F.lit(1)).alias("tiles")
    ).collect()[0]
    line = (f"assigned_docs={row['docs']} tiles={row['tiles']} "
            f"workdir={args.workdir}")
    if args.table_out:
        from posmspark import tablefmt

        sid = tablefmt.commit_overwrite(
            out["tiles"], args.table_out, partition_by=["osm_id_l0"])
        line += f" table_snapshot={sid}"
    for stage in ("ingest", "assign", "tiles"):
        print(stage_summary(stage, lineage.read_manifest(
            os.path.join(args.workdir, f"stage_{stage}")) or {}))
    print(line)


def stage_summary(stage: str, man: dict) -> str:
    """One line per stage, read from its manifest (no pass over the
    data); last_recomputed is '-' for a whole-stage checkpoint, which
    records no per-key recompute."""
    recomputed = man.get("last_recomputed")
    return (f"stage={stage} n_rows={man.get('n_rows')} "
            f"n_partitions={man.get('n_partitions')} "
            f"last_recomputed="
            f"{'-' if recomputed is None else ','.join(recomputed)} "
            f"wall_ms={man.get('wall_ms')}")


if __name__ == "__main__":
    main()
