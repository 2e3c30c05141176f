"""Corpus statistics job — the spark-submit entry for the reference's
two-phase stats workflow (statistics/compute_aggregate_stats.py +
create_stats.py) in ONE Catalyst plan pass.

    spark-submit --py-files engine.zip jobs/stats_job.py \
        --input  <icelite table dir written by jobs/extract_job.py> \
        --output <stats dir> \
        [--tokenizer bpe|bytes|whitespace|bpe_fixpoint]

Phase 1 writes the reference's exact 14-column headerless
``stats_per_webpage`` gzip CSV (compute_aggregate_stats.py:73-104 /
create_stats.py:35-51); phase 2 writes the corpus-level describe()
per tag (``corpus_describe``, headered).  No CSV hop between the
phases — the describe chains directly on the per-doc frame.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="icelite table dir (extract_job output)")
    p.add_argument("--output", required=True)
    p.add_argument("--tokenizer", default="bpe",
                   choices=["bpe", "bytes", "whitespace", "bpe_fixpoint"])
    p.add_argument("--report", action="store_true",
                   help="also render the reference's five per-tag barh "
                        "panels (create_stats.py:95-168) as "
                        "dependency-free SVG under <output>/report")
    args = p.parse_args(argv)

    from mini_html_parser_spark.pipeline import build_session

    spark = build_session(app_name="mini-html-parser-stats")

    from mini_html_parser_spark.operators.stats import (
        stats_per_doc_table, tag_stats,
    )
    from mini_html_parser_spark.plans.icelite import IceliteTable
    from mini_html_parser_spark.sources.readers import write_csv_gz

    extracted = IceliteTable(args.input).read(spark)
    per_doc = stats_per_doc_table(extracted, tokenizer=args.tokenizer)
    # phase 2 re-reads phase 1's frame: persist so the kernel-derived
    # span rows aren't recomputed for the describe
    per_doc = per_doc.persist()
    write_csv_gz(per_doc, args.output + "/stats_per_webpage", header=False)
    described = tag_stats(per_doc)
    write_csv_gz(described, args.output + "/corpus_describe", header=True)
    report_files: list = []
    if args.report:
        from mini_html_parser_spark.operators.report import write_stats_report

        report_files = write_stats_report(described, args.output + "/report")
    n_rows = per_doc.count()
    n_tags = described.select("tag").distinct().count()
    per_doc.unpersist()
    print(json.dumps({
        "per_doc_rows": n_rows,
        "tags": n_tags,
        "tokenizer": args.tokenizer,
        "report_files": len(report_files),
        "output": args.output,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
