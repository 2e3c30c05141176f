"""icelite table maintenance CLI — the ops companion to extract_job.

    python jobs/table_tool.py <table_dir> info
    python jobs/table_tool.py <table_dir> history
    python jobs/table_tool.py <table_dir> compact
    python jobs/table_tool.py <table_dir> evolve \
        [--add name:type ...] [--rename old:new ...]
    python jobs/table_tool.py <table_dir> delete \
        --keys-parquet /path/keys.parquet [--key doc_id]
    python jobs/table_tool.py <table_dir> dedup \
        [--key doc_id] [--text-col text] [--dry-run]
    python jobs/table_tool.py <table_dir> vacuum [--grace-sec N]
    python jobs/table_tool.py <table_dir> checkpoint [--expire-manifests]
    python jobs/table_tool.py <table_dir> index [--key doc_id] [--n-bits N]
    python jobs/table_tool.py <table_dir> tag --name v1.0 [--snapshot ID]
    python jobs/table_tool.py <table_dir> tags
    python jobs/table_tool.py <table_dir> delete-tag --name v1.0
    python jobs/table_tool.py <table_dir> create-branch --name wap
    python jobs/table_tool.py <table_dir> publish-branch --name wap
    python jobs/table_tool.py <table_dir> delete-branch --name wap
    python jobs/table_tool.py <table_dir> branches
    python jobs/table_tool.py <table_dir> rollback --snapshot ID
    python jobs/table_tool.py <table_dir> partitions
    python jobs/table_tool.py <table_dir> files
    python jobs/table_tool.py <source_dir> matview --derived <dir> \
        [--view postings] [--key doc_id] [--mv-buckets 8]

``info``/``history``/``evolve``/``vacuum``/``checkpoint``/``tag``/
``tags``/``delete-tag`` and the branch commands are metadata-only
(no Spark session — they run instantly against the manifests);
``compact``/``delete``/``dedup`` build a local session.  Every
command prints one JSON line, mirroring extract_job's report
contract.

``vacuum`` reclaims orphan data directories (superseded by compact,
or leaked by a crashed writer) — see IceliteTable.vacuum for the
grace-window safety rule.

``delete`` commits an equality-delete snapshot from a parquet of key
values (PII takedowns: no data rewrite — the read path retracts the
rows, the next ``compact`` folds them away).

``dedup`` is POST-HOC corpus dedup of an already-ingested table: keep
the min-key row per exact text, commit one equality delete for every
other copy.  This is the retraction form of the ingest-time
``dedup_against`` path — at 100 TB the alternative is rewriting the
table.  ``--dry-run`` reports what would be deleted without
committing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("table")
    p.add_argument("command", choices=["info", "history", "compact",
                                       "evolve", "delete", "dedup",
                                       "vacuum", "checkpoint", "index",
                                       "tag", "tags", "delete-tag",
                                       "create-branch", "publish-branch",
                                       "delete-branch", "branches",
                                       "rollback", "partitions", "files",
                                       "rewrite", "matview"])
    p.add_argument("--name", default=None,
                   help="tag/delete-tag: release name (e.g. v1.0)")
    p.add_argument("--snapshot", default=None,
                   help="tag: snapshot id to pin (default: current tip)")
    p.add_argument("--add", action="append", default=[],
                   metavar="NAME:TYPE",
                   help="evolve: add a column (Spark type string, e.g. "
                        "lang:string, score:double)")
    p.add_argument("--rename", action="append", default=[],
                   metavar="OLD:NEW", help="evolve: rename a column")
    p.add_argument("--keys-parquet", default=None,
                   help="delete: parquet file/dir of key values")
    p.add_argument("--key", default="doc_id",
                   help="delete/dedup: key column (default doc_id)")
    p.add_argument("--text-col", default="text",
                   help="dedup: content column (default text)")
    p.add_argument("--dry-run", action="store_true",
                   help="dedup: report duplicates without committing")
    p.add_argument("--grace-sec", type=float, default=72 * 3600,
                   help="vacuum: only remove orphan dirs whose newest "
                        "mtime is older than this (default 72h; 0 only "
                        "when no writer is live)")
    p.add_argument("--n-bits", type=int, default=1 << 17,
                   help="index: bits per file bitmap (default 128Ki = "
                        "16 KB; ~10x max rows/file for ~1%% fp)")
    p.add_argument("--expire-manifests", action="store_true",
                   help="checkpoint: also remove the per-commit "
                        "manifest files the checkpoint folded (log "
                        "cleanup; keep them when external tooling "
                        "tails raw manifests)")
    p.add_argument("--retain-last", type=int, default=8,
                   help="checkpoint cleanup: always keep this many of "
                        "the newest folded manifests (torn-listing "
                        "shield for racing writers; 0 only when no "
                        "writer is live)")
    p.add_argument("--rebucket", type=int, default=None, metavar="N",
                   help="compact: partition-spec evolution — rewrite "
                        "the table under N buckets (cluster grew; see "
                        "IceliteTable.compact rebucket_to)")
    p.add_argument("--sort", default=None, metavar="COL[,COL...]",
                   help="compact: re-cluster rows inside each bucket "
                        "during the rewrite so min/max file stats get "
                        "tight enough to skip files (Iceberg "
                        "rewrite_data_files sort order)")
    p.add_argument("--zorder", default=None, metavar="COL,COL[,COL]",
                   help="compact/rewrite: multi-dimension re-cluster "
                        "by interleaved-bit z-value over numeric "
                        "columns so file stats prune on ANY of them "
                        "(mutually exclusive with --sort)")
    p.add_argument("--derived", default=None,
                   help="matview: the derived icelite table dir to "
                        "maintain from this table's changelog")
    p.add_argument("--view", default="postings",
                   help="matview: built-in transform (only 'postings')")
    p.add_argument("--consumer-id", default=None,
                   help="matview: changelog consumer checkpoint id "
                        "(default: derived from --derived's absolute "
                        "path, so two views maintained from one source "
                        "never silently split the changelog between "
                        "them)")
    p.add_argument("--mv-buckets", type=int, default=8,
                   help="matview postings: derived partition buckets")
    p.add_argument("--buckets", default=None, metavar="B[,B...]",
                   help="rewrite: lineage buckets to partially compact "
                        "(fold their small files + their share of the "
                        "equality deletes; everything else untouched)")
    args = p.parse_args(argv)

    from mini_html_parser_spark.plans.icelite import IceliteTable

    t = IceliteTable(args.table)

    if args.command == "info":
        snaps = t.snapshots()
        schema = t.current_schema()
        print(json.dumps({
            "table": args.table,
            "snapshots": len(snaps),
            "current_snapshot": snaps[-1]["snapshot_id"] if snaps else None,
            # rows-as-written with superseded (rewritten) counters
            # excluded — summing raw snapshot counters would double
            # count after a partial rewrite()
            "total_rows": sum(
                p["rows"] for p in t.partitions_summary()
            ),
            "committed_buckets": len(t.committed_buckets()),
            "partitioning": t.partitioning(),
            "schema_id": schema["schema_id"] if schema else None,
            "columns": (
                [f"{f['name']}:{f['type']}" for f in schema["fields"]]
                if schema else None
            ),
        }))
        return 0

    if args.command == "history":
        print(json.dumps({
            "table": args.table,
            "snapshots": [
                {
                    "sequence": s["sequence"],
                    "snapshot_id": s["snapshot_id"],
                    "parent_id": s.get("parent_id"),
                    "rows": s["total_rows"],
                    "schema_id": s.get("schema_id"),
                    "compacted": bool(s.get("compacted")),
                    "metrics": s.get("metrics") or {},
                }
                for s in t.snapshots()
            ],
        }))
        return 0

    if args.command == "evolve":
        def pair(opt, spec):
            k, sep, v = spec.partition(":")
            if not sep or not k or not v:
                p.error(f"{opt} expects NAME:VALUE, got {spec!r}")
            return k, v

        add = dict(pair("--add", a) for a in args.add)
        rename = dict(pair("--rename", r) for r in args.rename)
        if not add and not rename:
            p.error("evolve needs at least one --add or --rename")
        schema = t.evolve(add_columns=add or None, rename_columns=rename or None)
        print(json.dumps({
            "table": args.table,
            "schema_id": schema["schema_id"],
            "columns": [f"{f['name']}:{f['type']}" for f in schema["fields"]],
        }))
        return 0

    if args.command == "rollback":
        if not args.snapshot:
            p.error("rollback requires --snapshot (the id to restore)")
        rb = t.rollback(args.snapshot, metrics={"via": "table_tool"})
        print(json.dumps({
            "table": args.table,
            "sequence": rb["sequence"],
            "snapshot_id": rb["snapshot_id"],
            "rollback_to": rb["rollback_to"],
            "rollback_to_id": rb["rollback_to_id"],
        }))
        return 0

    if args.command == "partitions":
        print(json.dumps({
            "table": args.table,
            "partitions": t.partitions_summary(),
        }))
        return 0

    if args.command == "files":
        files = t.files_summary()
        print(json.dumps({
            "table": args.table,
            "n_files": len(files),
            "files": files,
        }))
        return 0

    if args.command == "vacuum":
        rep = t.vacuum(grace_sec=args.grace_sec)
        print(json.dumps({"table": args.table, **rep}))
        return 0

    if args.command == "tag":
        if not args.name:
            p.error("tag requires --name")
        rec = t.tag(args.name, snapshot_id=args.snapshot)
        print(json.dumps({"table": args.table, **rec}))
        return 0

    if args.command == "tags":
        print(json.dumps({"table": args.table, "tags": t.tags()}))
        return 0

    if args.command == "delete-tag":
        if not args.name:
            p.error("delete-tag requires --name")
        print(json.dumps({
            "table": args.table,
            "deleted": t.delete_tag(args.name),
            "name": args.name,
        }))
        return 0

    if args.command in ("create-branch", "publish-branch", "delete-branch"):
        if not args.name:
            p.error(f"{args.command} requires --name")
        if args.command == "create-branch":
            print(json.dumps({"table": args.table, **t.create_branch(args.name)}))
        elif args.command == "publish-branch":
            print(json.dumps({"table": args.table, **t.publish_branch(args.name)}))
        else:
            print(json.dumps({
                "table": args.table, "deleted": t.delete_branch(args.name),
                "name": args.name,
            }))
        return 0

    if args.command == "branches":
        print(json.dumps({"table": args.table, "branches": t.branches()}))
        return 0

    if args.command == "checkpoint":
        rep = t.checkpoint(expire_manifests=args.expire_manifests,
                           retain_last=args.retain_last)
        print(json.dumps({
            "table": args.table,
            "checkpoint": rep,
            "expired_manifests": bool(args.expire_manifests and rep),
        }))
        return 0

    # compact/delete/dedup: need a session for data-file work
    from mini_html_parser_spark.pipeline import build_session

    # build_session returns an active in-process session (tests)
    # unchanged, or builds one (CLI).  Deliberately NOT stopped here —
    # a borrowed session must survive the call; a CLI-owned one dies
    # with the process.
    spark = build_session(app_name=f"icelite-{args.command}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.command == "matview":
        # one maintenance cycle of a CDC-maintained derived table —
        # run from cron/scheduler per cadence; exactly-once per cycle
        # (plans/matview.py), so overlapping/crashed runs are safe
        if not args.derived:
            p.error("matview requires --derived")
        if args.view != "postings":
            p.error("only --view postings is built in; call "
                    "plans.matview.maintain_derived with a custom "
                    "transform for other views")
        from mini_html_parser_spark.plans.matview import (
            maintain_derived,
            postings_transform,
        )

        # consumer checkpoints live on the SOURCE keyed by id alone: a
        # shared default across different --derived targets would make
        # each cycle's window go to whichever view's cron fires first,
        # leaving BOTH silently incomplete
        import hashlib

        consumer = args.consumer_id or (
            "matview-"
            + hashlib.md5(
                os.path.abspath(args.derived).encode()
            ).hexdigest()[:12]
        )
        rep = maintain_derived(
            spark, t, IceliteTable(args.derived),
            postings_transform(
                n_buckets=args.mv_buckets,
                text_col=args.text_col,
                id_col=args.key,
            ),
            key_col=args.key,
            consumer_id=consumer,
        )
        print(json.dumps({
            "source": args.table, "derived": args.derived, **rep,
        }))
        return 0

    if args.command == "index":
        rep = t.index_keys(spark, col=args.key, n_bits=args.n_bits)
        print(json.dumps({"table": args.table, "key": args.key, **rep}))
        return 0

    if args.command == "delete":
        if not args.keys_parquet:
            p.error("delete requires --keys-parquet")
        keys = spark.read.parquet(args.keys_parquet)
        manifest = t.commit_delete(keys, key_col=args.key)
        print(json.dumps({
            "table": args.table,
            "deleted_keys": manifest["delete_count"] if manifest else 0,
            "snapshot_id": manifest["snapshot_id"] if manifest else None,
        }))
        return 0

    if args.command == "dedup":
        from pyspark.sql import functions as F

        rows = t.read(spark)
        h = F.md5(F.col(args.text_col))
        keep = (
            rows.withColumn("_h", h)
            .groupBy("_h")
            .agg(F.min(args.key).alias(args.key))
        )
        # non-keepers = rows whose (key, hash) is not the keeper pair
        dup_keys = (
            rows.withColumn("_h", h)
            .join(keep, [args.key, "_h"], "left_anti")
            .select(args.key)
        )
        if args.dry_run:
            n = dup_keys.count()
            print(json.dumps({
                "table": args.table, "would_delete": n, "dry_run": True,
            }))
            return 0
        manifest = t.commit_delete(dup_keys, key_col=args.key)
        print(json.dumps({
            "table": args.table,
            "deleted_keys": manifest["delete_count"] if manifest else 0,
            "snapshot_id": manifest["snapshot_id"] if manifest else None,
        }))
        return 0

    if args.command == "rewrite":
        if not args.buckets:
            p.error("rewrite requires --buckets B[,B...]")
        manifest = t.rewrite(
            spark,
            buckets={int(b) for b in args.buckets.split(",")},
            sort_within_buckets=(args.sort.split(",") if args.sort else None),
            zorder=(args.zorder.split(",") if args.zorder else None),
        )
        print(json.dumps({
            "table": args.table,
            "rewritten": manifest is not None,
            "snapshot_id": manifest["snapshot_id"] if manifest else None,
            "rows": manifest["total_rows"] if manifest else None,
            "replaced_files": (
                len(manifest["replaces"]) if manifest else 0
            ),
            "buckets": args.buckets,
        }))
        return 0

    manifest = t.compact(
        spark,
        rebucket_to=args.rebucket,
        sort_within_buckets=(args.sort.split(",") if args.sort else None),
        zorder=(args.zorder.split(",") if args.zorder else None),
    )
    print(json.dumps({
        "table": args.table,
        "compacted": manifest is not None,
        "snapshot_id": manifest["snapshot_id"] if manifest else None,
        "rows": manifest["total_rows"] if manifest else None,
        "folded": (manifest or {}).get("metrics", {}).get("compacted_snapshots"),
        "rebucketed_to": args.rebucket,
        "sorted_by": args.sort or None,
        "zordered_by": args.zorder or None,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
