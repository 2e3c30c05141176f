"""Corpus extraction job — the spark-submit entry point.

    spark-submit --py-files engine.zip jobs/extract_job.py \
        --input  <documents parquet/iceberg dir> \
        --output <icelite table dir> \
        --config boilerplate_strip \
        [--parallelism N] [--streaming]

Build engine.zip with ``python tools/package_pyfiles.py``.

Reads the interleaved documents table, salts/repartitions, runs the
extraction kernel, commits an icelite snapshot with per-bucket
lineage + metrics, and prints a one-line JSON job report.  Re-running
against the same output resumes: committed buckets are skipped.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--config", default="boilerplate_strip",
                   choices=["keep_everything", "boilerplate_strip",
                            "boilerplate_strip_br", "density_prune"])
    p.add_argument("--input-format", default="html",
                   choices=["html", "pdf", "warc"],
                   help="html: interleaved documents table through the "
                        "extraction kernel; pdf: (doc_id, content binary) "
                        "table through the PDF span parser; warc: a "
                        "directory of WARC crawl segments (ISO 28500, "
                        "plain or gzip)")
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--mode", default="resume", choices=["resume", "append"],
                   help="resume (default): re-running the SAME corpus "
                        "skips committed buckets; append: ingest a NEW "
                        "corpus (e.g. the next day's crawl) into an "
                        "existing table without bucket pruning")
    p.add_argument("--auto-compact-every", type=int, default=None,
                   help="fold the output table to one snapshot whenever "
                        "the active snapshot count reaches N")
    p.add_argument("--streaming", action="store_true",
                   help="treat --input as a stream source; by default an "
                        "availableNow catch-up batch that terminates when "
                        "current files are processed (checkpointed — "
                        "re-running picks up only new files)")
    p.add_argument("--continuous", action="store_true",
                   help="with --streaming: keep running and process files "
                        "as they arrive instead of the availableNow batch")
    p.add_argument("--streaming-sink", default="parquet",
                   choices=["parquet", "icelite"],
                   help="with --streaming: parquet (default) appends to a "
                        "flat directory; icelite commits each micro-batch "
                        "as a bucket-salted snapshot of the SAME table "
                        "layout the batch job writes — time travel, "
                        "incremental scans, and replay-idempotent commits "
                        "over the stream's ingest history")
    p.add_argument("--iceberg-catalog", default=None,
                   help="Iceberg catalog name to wire into the session "
                        "(needs the runtime jar via --packages; see "
                        "jobs/submit_extract.sh).  When set, --input may "
                        "be a table identifier like <catalog>.db.documents")
    p.add_argument("--iceberg-warehouse", default=None)
    args = p.parse_args(argv)
    if args.streaming and args.input_format != "html":
        p.error("--streaming currently supports --input-format html only")
    if args.streaming and args.mode != "resume":
        p.error("--mode applies to batch jobs only (the streaming sink's "
                "checkpoint provides its own exactly-once semantics)")
    if args.continuous and not args.streaming:
        p.error("--continuous requires --streaming")

    from mini_html_parser_spark import pipeline

    spark = pipeline.build_session(
        app_name="mini-html-parser-extract",
        iceberg_catalog=args.iceberg_catalog,
        iceberg_warehouse=args.iceberg_warehouse,
    )

    if args.streaming:
        from mini_html_parser_spark.operators.extract import extract_documents
        from mini_html_parser_spark.streaming.extract_stream import (
            read_document_stream, start_extraction_sink, start_icelite_sink,
        )

        stream = extract_documents(
            read_document_stream(spark, args.input), args.config
        )
        if args.streaming_sink == "icelite":
            q = start_icelite_sink(
                stream,
                table_path=args.output,
                checkpoint_dir=args.output + "/_checkpoint",
                available_now=not args.continuous,
            )
        else:
            q = start_extraction_sink(
                stream,
                output_dir=args.output + "/data/stream",
                checkpoint_dir=args.output + "/_checkpoint",
                available_now=not args.continuous,
            )
        q.awaitTermination()
        print(json.dumps({
            "mode": "streaming",
            "sink": args.streaming_sink,
            "trigger": "continuous" if args.continuous else "availableNow",
            "output": args.output,
            "session": pipeline.session_report(spark),
        }))
        return 0

    config = {} if args.input_format == "pdf" else {"config": args.config}
    if args.input_format == "warc":
        job, source = pipeline.run_warc_extraction_job, args.input
    else:
        job = (pipeline.run_pdf_extraction_job if args.input_format == "pdf"
               else pipeline.run_extraction_job)
        if args.iceberg_catalog and args.input.startswith(args.iceberg_catalog + "."):
            source = spark.table(args.input)  # catalog table swap-in
        else:
            source = spark.read.parquet(args.input)
    result = job(
        spark, source, args.output, parallelism=args.parallelism,
        auto_compact_every=args.auto_compact_every, mode=args.mode, **config,
    )
    snap = result["snapshot"]
    report = {
        "mode": "batch-warc" if args.input_format == "warc" else "batch",
        "snapshot_id": snap["snapshot_id"] if snap else None,
        "committed_rows": snap["total_rows"] if snap else 0,
        "metrics": {k: int(v) for k, v in (result["metrics"] or {}).items()},
    }
    if "warc_malformed_records" in result:
        report["warc_malformed_records"] = result["warc_malformed_records"]
    print(json.dumps({
        **report, "output": args.output,
        "session": pipeline.session_report(spark),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
