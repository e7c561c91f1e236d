#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule: spark-submit --py-files on a multi-executor
cluster):

    ./jobs/package.sh                       # builds dist/prec_spark.zip
    spark-submit \
      --master yarn --deploy-mode cluster \
      --num-executors 200 --executor-cores 5 --executor-memory 20g \
      --conf spark.sql.shuffle.partitions=2000 \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --py-files dist/prec_spark.zip \
      jobs/run_pipeline.py \
      --input  <iceberg-or-parquet transcripts table/path> \
      --output <workdir for checkpoints + triples>

Locally:

    python jobs/run_pipeline.py --input /root/testdata/sf0.1 --output /tmp/kg
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf_dir (local) or table path")
    ap.add_argument("--output", required=True, help="workdir for checkpoints/triples")
    ap.add_argument(
        "--named-graphs",
        action="store_true",
        help="also materialize the prec:targetGraph quad variant into "
        "<output>/quads, one parquet partition per named graph",
    )
    ap.add_argument(
        "--maintain",
        metavar="ICELITE_ROOT",
        help="instead of a full run, build or incrementally refresh the "
        "persisted provenance triple store for this IceLite transcripts "
        "table under <output> (changelog-driven delete+insert; see "
        "prec_spark/incremental.py)",
    )
    ap.add_argument(
        "--rollback-store",
        nargs="?",
        const=-1,
        type=int,
        metavar="SNAPSHOT",
        help="point the persisted --maintain store under <output> back "
        "at a retained earlier version (default: the previous one) via "
        "an atomic pointer swap; a later --maintain rolls forward again",
    )
    ap.add_argument(
        "--stream-merge",
        action="store_true",
        help="also replay the transcripts as an event-time-ordered "
        "3-batch stream and MERGE (insert-if-absent) the triples into "
        "<output>/kg_stream via foreachBatch — the lakehouse ingest "
        "path; reports the table count and that it is duplicate-free",
    )
    args = ap.parse_args()

    from prec_spark.pipeline import run_pipeline
    from prec_spark.session import build_session

    if args.rollback_store is not None:
        # pure metadata swap: no Spark session needed
        from prec_spark.incremental import rollback_store

        to = None if args.rollback_store == -1 else args.rollback_store
        print(json.dumps(rollback_store(args.output, to)))
        return

    spark = build_session(app_name="prec-spark-pipeline")
    if args.maintain:
        from prec_spark.incremental import maintain_to_current

        summary = maintain_to_current(
            spark, args.maintain, args.output, sf_dir=args.input
        )
        print(json.dumps(summary))
        spark.stop()
        return
    triples, pipe = run_pipeline(spark, args.input, args.output)
    summary = {
        "triples": triples.count(),
        "stages": [
            {"stage": m.stage, "rows": m.rows, "wall_ms": m.wall_ms, "resumed": m.resumed}
            for m in pipe.metrics
        ],
    }
    if args.named_graphs:
        from prec_spark.named_graphs import named_graph_quads
        from prec_spark.rdf.sink import write_quads_parquet

        quads = named_graph_quads(spark, args.input)
        write_quads_parquet(quads, os.path.join(args.output, "quads"))
        back = spark.read.parquet(os.path.join(args.output, "quads"))
        summary["named_graph_quads"] = back.count()
        summary["named_graphs"] = sorted(
            r.g for r in back.select("g").distinct().collect()
        )
    if args.stream_merge:
        import shutil

        from prec_spark.streaming.kg import (
            kg_stream_merge_to_parquet,
            stage_stream_source,
        )

        # The file-stream checkpoint tracks staged source files BY
        # PATH: rerunning into an existing output dir with different
        # input would silently skip the overwritten same-named batch
        # files and leave stale kg_stream contents. These three dirs
        # are derived artifacts of THIS run — clear them so every run
        # starts from a clean checkpoint.
        for d in ("stream_src", "stream_ckpt", "kg_stream"):
            shutil.rmtree(os.path.join(args.output, d), ignore_errors=True)
        src = os.path.join(args.output, "stream_src")
        stage_stream_source(spark, args.input, src)
        table = kg_stream_merge_to_parquet(
            spark,
            src,
            os.path.join(args.output, "kg_stream"),
            checkpoint_dir=os.path.join(args.output, "stream_ckpt"),
            # the transcripts corpus spans years of event time; the
            # horizon must cover its intra-conversation gaps
            watermark="200 days",
            horizon_ms=200 * 24 * 3600 * 1000,
        )
        total = table.count()
        distinct = table.select("s", "p", "o").distinct().count()
        summary["stream_merge"] = {
            "triples": total,
            "duplicate_free": total == distinct,
        }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
