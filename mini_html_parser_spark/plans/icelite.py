"""icelite — a minimal Iceberg-style snapshot/manifest table layer.

The sandbox has no Iceberg runtime jar, so snapshot semantics
(reference B8's resume + north_rule's per-partition lineage) are
provided by parquet data files + JSON manifests with an interface
shaped so a real Iceberg catalog drops in on a cluster
(``spark.jars.packages org.apache.iceberg:...`` + ``MERGE``/append).

Layout::

    <table>/data/snap-<n>-<uuid8>/bucket=<k>/*.parquet  (one dir per
                                    commit ATTEMPT; uuid-suffixed so
                                    concurrent writers never share)
    <table>/_icelite/snap-<n>.json    (manifest — THE commit point,
                                    published by atomic os.link; the
                                    <n> in the dir name is advisory,
                                    the manifest's sequence is truth)
    <table>/_icelite/schema-<k>.json  (schema versions, id-based
                                    column mapping; never removed)

A manifest records: snapshot id, parent id, data dir + file list
(``data_files``, ``[]`` for commits without data), committed buckets,
per-bucket row counts (lineage), schema id, and job-level metrics.
Every commit kind writes through one snapshot writer: _new_manifest
(shared manifest fields), _write_data (the one bucket write —
``bucket`` is the only partition column), _write_delete_keys and
_link_json (the one create-exclusive JSON publish).
Readers scan the manifests' file lists and refuse a manifest without
one (there is one manifest format, no directory walk); a
crashed or lost-race write never commits (its dir stays
unreferenced).  Resume = anti-join of input buckets against the
committed bucket set — no per-row bookkeeping.  Concurrent commits
are arbitrated optimistically per sequence (_commit_manifest).

Row-level deletes (round 6, VERDICT r5 #1) are Iceberg-style
EQUALITY DELETES: a manifest may carry ``delete_files`` (parquet of
key values) + ``delete_key``; the delete applies to data files whose
snapshot sequence is STRICTLY LOWER than the delete's (Iceberg's
sequence-number rule), so a later re-append of the same key
survives.  ``merge()`` commits delete + replacement data in ONE
manifest (atomic upsert).  The read path anti-joins active deletes
(broadcast when small); ``compact()`` rewrites through ``read`` and
therefore folds deletes into the data files.

File skipping (round 6, VERDICT r5 #2): commits record per-file
min/max for scalar columns (``file_stats``, from the parquet footers
the write already produced); ``read(prune=[...])`` drops files whose
stats cannot satisfy a predicate BEFORE the scan's file index is
built — manifest-level pruning, the caller still applies the exact
row filter (Iceberg's file-skip + residual contract).
"""

from __future__ import annotations

import json
import os
from contextlib import suppress
import shutil
import time
import uuid

from pyspark.sql import DataFrame, functions as F

from .. import bloom

# column types whose parquet-footer min/max are JSON-representable and
# totally ordered — the ones file_stats records (timestamps/decimals/
# binary are skipped: not comparable once round-tripped through JSON)
_STATS_MAX_STR = 64


def _bounds_may_satisfy(lo, hi, op, vals) -> bool:
    """True iff a file whose column spans [lo, hi] COULD contain a row
    satisfying ``col <op> vals``.  A None bound is unknown on that
    side and never prunes; incomparable types never prune."""
    try:
        if op == "=":
            v = vals[0]
            return (lo is None or lo <= v) and (hi is None or v <= hi)
        if op == "<":
            return lo is None or lo < vals[0]
        if op == "<=":
            return lo is None or lo <= vals[0]
        if op == ">":
            return hi is None or hi > vals[0]
        if op == ">=":
            return hi is None or hi >= vals[0]
        if op == "between":
            a, b = vals
            return (lo is None or lo <= b) and (hi is None or hi >= a)
        if op == "in":
            return any(
                (lo is None or lo <= v) and (hi is None or v <= hi)
                for v in vals
            )
    except TypeError:
        return True
    return True  # unknown operator: never prune


def _parquet_dir_readable(path: str) -> bool:
    """True when ``path`` holds at least one committed parquet part
    file.  A Bloom-index sidecar directory can be missing or contain
    only ``_temporary`` droppings during the entire first build or
    after a crash between the durable params-meta link and the bitmap
    append (ADVICE r6, medium); callers must degrade to the unindexed
    superset path instead of letting ``spark.read.parquet`` throw
    AnalysisException on the empty listing."""
    if not os.path.isdir(path):
        return False
    return any(
        name.startswith("part-") and not name.endswith(".crc")
        for name in os.listdir(path)
    )


def _link_json(path: str, obj) -> bool:
    """Create-exclusive JSON publish: ``obj`` is written FULLY to a
    writer-unique tmp file beside ``path``, then ``os.link``ed to it.
    The link is atomic and fails if ``path`` exists, so exactly one
    writer wins each name and readers never see a partial file.
    Returns True iff this call created ``path``."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _ddl(fields: list[dict]) -> str:
    return ", ".join(f"`{f['name']}` {f['type']}" for f in fields)


def _read_files(spark, files: list[str], fields: list[dict]) -> DataFrame:
    """THE read of a table's own data, delete and key-index files, with
    ``fields`` (recorded ``{"name", "type"}`` entries) as the read
    schema: a ``spark.read.parquet`` without one runs a Spark job to
    infer the schema from a footer."""
    return spark.read.schema(_ddl(fields)).parquet(*files)


# a key-index sidecar row: one data file's key (:func:`_index_file_key`)
# and its Bloom bitmap
_SIDECAR_FIELDS = [
    {"name": "f", "type": "string"},
    {"name": "bm", "type": "binary"},
]


def _index_file_key(path: str) -> str:
    """A data file's key in the key-index sidecar: its last three path
    components (``<snapshot dir>/bucket=<k>/<part file>``)."""
    return "/".join(os.path.normpath(path).split(os.sep)[-3:])


def _file_may_match(stats: dict | None, prune, rename: dict) -> bool:
    """Conjunction of ``prune`` predicates against one file's recorded
    column bounds.  ``rename`` maps CURRENT column names to the
    file's write-time physical names (id-based schema mapping); a
    column with no recorded bounds keeps the file (pruning is only
    ever a superset guarantee)."""
    if not stats:
        return True
    for pred in prune:
        col, op, *vals = pred
        bounds = stats.get(rename.get(col, col))
        if not bounds:
            continue
        if not _bounds_may_satisfy(bounds[0], bounds[1], op, vals):
            return False
    return True


class IceliteTable:
    # equality deletes larger than this skip the broadcast hint and
    # let AQE pick the join (takedowns are tiny; post-hoc dedup of a
    # committed corpus can retract millions of keys)
    BROADCAST_DELETE_MAX = 5_000_000
    # maintenance (compact/checkpoint/vacuum/tags) is main-only;
    # IceliteBranch flips this so commit_append can refuse auto-
    # maintenance kwargs BEFORE the commit is durable
    _can_maintain = True

    def __init__(self, path: str):
        self.path = path
        self.manifest_dir = os.path.join(path, "_icelite")
        # branches re-point manifests while SHARING the main table's
        # schema space (see IceliteBranch) — everything schema reads
        # through schema_dir, never manifest_dir directly
        self.schema_dir = self.manifest_dir

    # ---- manifest plumbing -------------------------------------------------
    @staticmethod
    def _name_seq(name: str, prefix: str) -> int | None:
        """Sequence encoded in a ``{prefix}{seq:06d}.json`` file name,
        or None for foreign files.  Parsed as int, never compared
        lexicographically — %06d overflows its zero-padding past 10^6
        commits and lexicographic order silently breaks there."""
        if not (name.startswith(prefix) and name.endswith(".json")):
            return None
        try:
            return int(name[len(prefix):-5])
        except ValueError:
            return None

    def _load_manifests(self, tail_only: bool) -> list[dict]:
        """Manifests in sequence order: the newest metadata CHECKPOINT
        (see :meth:`checkpoint`) plus the ``snap-`` files — with
        ``tail_only``, only those STRICTLY NEWER than the checkpoint;
        otherwise every one on disk (a file overrides its folded copy).

        A concurrent compact()/checkpoint() can remove a listed file
        between listdir and open.  Removal only starts AFTER the
        superseding file is durable, so a re-list sees the complete
        history: the scan retries after a short backoff, and raises if
        it is STILL torn after the budget instead of returning a
        partial view that could silently miss committed data (ADVICE
        r5, medium).

        Every writer records ``data_files`` (``[]`` for delete-only
        and rollback commits); a manifest without it is refused."""
        if not os.path.isdir(self.manifest_dir):
            return []

        def load(name):
            with open(os.path.join(self.manifest_dir, name)) as f:
                return json.load(f)

        for attempt in range(5):
            if attempt:
                time.sleep(0.05 * attempt)
            names = os.listdir(self.manifest_dir)
            ckpts = [
                (s, n) for n in names
                if (s := self._name_seq(n, "ckpt-")) is not None
            ]
            ckpt_seq, by_seq = -1, {}
            try:
                if ckpts:
                    ckpt_seq, name = max(ckpts)
                    for m in load(name)["snapshots"]:
                        by_seq[m["sequence"]] = m
                for n in names:
                    seq = self._name_seq(n, "snap-")
                    if seq is not None and not (tail_only and seq <= ckpt_seq):
                        by_seq[seq] = load(n)
            except FileNotFoundError:
                continue  # superseded mid-scan; re-list
            for seq, m in by_seq.items():
                if "data_files" not in m:
                    raise ValueError(
                        f"icelite table {self.path}: manifest "
                        f"snap-{seq:06d}.json records no data_files"
                    )
            return [by_seq[k] for k in sorted(by_seq)]
        raise RuntimeError(
            f"icelite table {self.path}: manifest scan still incomplete "
            "after 5 attempts (a concurrent compact() or checkpoint() is "
            "removing superseded metadata faster than we can list); retry"
        )

    def snapshots(self) -> list[dict]:
        """Active manifests, in sequence order (see :meth:`_live_chain`).

        Reads the newest metadata CHECKPOINT (see :meth:`checkpoint`)
        plus only the manifests STRICTLY NEWER than it — O(tail) file
        opens per call instead of O(#commits), which on a years-lived
        table (10^5 micro-batch commits) is the difference between
        one small read and opening every commit ever made."""
        return self._live_chain(self._load_manifests(tail_only=True))

    @staticmethod
    def _live_chain(snaps: list[dict]) -> list[dict]:
        """The live view of a manifest chain in sequence order.

        A ``compacted`` manifest SUPERSEDES everything below its
        sequence: older manifests are invisible even if still on disk,
        so a crash between writing the compacted manifest and removing
        the superseded ones can never double-count rows (ADVICE r2,
        medium — the remove loop is cleanup, not a correctness step).

        ``rollback`` manifests then fold into the chain: a rollback
        at sequence R targeting sequence T truncates every snapshot in
        (T, R) from the view — the state becomes exactly "as of T",
        and later commits build on that (Iceberg's
        ``rollback_to_snapshot``).  The rollback manifest itself stays
        in the chain (it owns its sequence and carries no files), so
        the next commit's sequence is still strictly increasing.
        Processed in ascending order: a later rollback legally
        truncates an earlier one (rolling back a rollback restores
        nothing by itself — its target is resolved against the chain
        as it stood when it committed, which ascending replay
        reproduces)."""
        floor = max(
            (s["sequence"] for s in snaps if s.get("compacted")), default=-1
        )
        live: list[dict] = []
        for s in snaps:
            if s["sequence"] < floor:
                continue
            tgt = s.get("rollback_to")
            if tgt is not None:
                live = [x for x in live if x["sequence"] <= tgt]
            live.append(s)
        return live

    def checkpoint(
        self, expire_manifests: bool = False, retain_last: int = 8
    ) -> dict | None:
        """Fold the active manifest list into ONE metadata file
        (``_icelite/ckpt-{seq:06d}.json``) so :meth:`snapshots` reads
        the checkpoint plus only strictly-newer manifests — Delta's
        parquet checkpoint / Iceberg's manifest list, in this table's
        single-filesystem seam.  Metadata-only: no data moves, no
        sequence is consumed, and writers are never blocked (the
        commit protocol is untouched — a checkpoint is a derived
        view, the manifests stay truth).

        Concurrency: the checkpoint is published through
        :func:`_link_json` (same arbitration as commits); a
        same-sequence race is benign — both checkpoints
        fold the identical active list.  Only STRICTLY-OLDER
        checkpoints are removed afterwards, so racing a newer
        checkpoint never regresses the metadata tip.

        ``expire_manifests=True`` additionally removes the per-commit
        manifest files the checkpoint folded (Delta's log cleanup);
        a reader racing the removal re-lists and finds the checkpoint
        (the same retry contract as compact()'s removal loop).  Leave
        False when external tooling still tails raw manifests.

        Cleanup always RETAINS the newest ``retain_last`` folded
        manifests (default 8).  Sequence arbitration rides os.link
        against ``snap-{seq}.json`` names: a writer whose directory
        listing was torn by concurrent link+unlink could miss BOTH the
        new checkpoint and a just-removed manifest, then re-claim that
        expired sequence — and its commit would be shadowed by the
        checkpoint.  The retention window means a collision would need
        a view ``retain_last`` commits stale, not one torn listing
        (the same reasoning as Delta's checkpoint + retained JSON
        log; on object stores the tip belongs to a real catalog —
        the same seam as :meth:`_commit_manifest`).

        Returns ``{"sequence": S, "count": n}`` or None for an empty
        table."""
        snaps = self.snapshots()
        if not snaps:
            return None
        seq = snaps[-1]["sequence"]
        # a lost same-sequence race is benign: the durable checkpoint
        # folds the identical active list
        _link_json(
            os.path.join(self.manifest_dir, f"ckpt-{seq:06d}.json"),
            {"sequence": seq, "snapshots": snaps},
        )
        # the new checkpoint is durable; older checkpoints and
        # (optionally) the folded manifests are cleanup, not truth
        for name in os.listdir(self.manifest_dir):
            s = self._name_seq(name, "ckpt-")
            if s is not None and s < seq:
                with suppress(FileNotFoundError):
                    os.remove(os.path.join(self.manifest_dir, name))
        if expire_manifests:
            # tag-pinned manifests must survive as FILES: a later
            # post-compact checkpoint folds only the active view, so
            # content that lived solely in this checkpoint would
            # become unreachable for tagged reads
            pinned = {s["sequence"] for s in self._pinned_manifests()}
            for s in snaps[:-retain_last] if retain_last else snaps:
                if s["sequence"] in pinned:
                    continue
                p = os.path.join(
                    self.manifest_dir, f"snap-{s['sequence']:06d}.json"
                )
                with suppress(FileNotFoundError):
                    os.remove(p)
        return {"sequence": seq, "count": len(snaps)}

    def current_snapshot(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def committed_buckets(self) -> set[int]:
        buckets: set[int] = set()
        for s in self.snapshots():
            buckets.update(int(b) for b in s["bucket_rows"].keys())
        return buckets

    # ---- schema evolution (VERDICT r4 #5) ----------------------------------
    #
    # Iceberg-style ID-BASED column mapping: every column gets a
    # stable field id at creation; renames keep the id, adds allocate
    # a fresh one.  Data files keep their write-time physical names,
    # and the read path maps physical names → current names BY ID, so
    # old snapshots remain readable after any number of renames, and
    # columns added later surface as typed nulls in pre-evolution
    # snapshots.  Schema versions live beside the manifests
    # (``_icelite/schema-<k>.json``, atomic write) and each snapshot
    # records the ``schema_id`` it was written under; compact() never
    # removes schema files.  Divergence from Iceberg, documented:
    # time travel presents the CURRENT schema (unified view), not the
    # as-of snapshot's schema — Iceberg's default is the latter with a
    # schema-id override.

    def schemas(self) -> list[dict]:
        if not os.path.isdir(self.schema_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.schema_dir)):
            if name.startswith("schema-") and name.endswith(".json"):
                with open(os.path.join(self.schema_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def current_schema(self) -> dict | None:
        ss = self.schemas()
        return ss[-1] if ss else None

    def _write_schema(self, schema: dict) -> dict:
        """Publish a schema version through :func:`_link_json`, so
        exactly one writer wins ``schema-<k>``.  A LOSER gets the
        winner's content back — callers must compare/validate against
        the return value rather than assume their own schema was
        registered."""
        os.makedirs(self.schema_dir, exist_ok=True)
        target = os.path.join(
            self.schema_dir, f"schema-{schema['schema_id']:06d}.json"
        )
        if _link_json(target, schema):
            return schema
        with open(target) as f:
            return json.load(f)

    def _validate_append_schema(self, df: DataFrame, schema: dict) -> None:
        """Refuse name OR type drift between ``df`` and the recorded
        table schema (silent drift across appends is how a long-lived
        table rots; a type change has no evolution path)."""
        want = {f["name"]: f["type"] for f in schema["fields"]}
        got = {f["name"]: f["type"] for f in self._schema_from_df(df)["fields"]}
        if set(got) != set(want):
            raise ValueError(
                f"icelite table {self.path}: append columns "
                f"{sorted(got)} != current table schema {sorted(want)}; "
                "call evolve(add_columns=..., rename_columns=...) first"
            )
        drift = {n: (got[n], want[n]) for n in got if got[n] != want[n]}
        if drift:
            raise ValueError(
                f"icelite table {self.path}: append column types differ "
                "from the table schema: "
                + ", ".join(
                    f"{n} is {g} but table has {w}"
                    for n, (g, w) in sorted(drift.items())
                )
                + "; cast the columns before appending"
            )

    @staticmethod
    def _schema_from_df(df: DataFrame) -> dict:
        """Schema v0 of ``df``: every column but the ``bucket``
        partition column, which lives in the data files' paths."""
        fields = [
            {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
            for i, f in enumerate(df.schema.fields)
            if f.name != "bucket"
        ]
        return {
            "schema_id": 0,
            "fields": fields,
            "last_field_id": len(fields),
        }

    def evolve(
        self,
        add_columns: dict[str, str] | None = None,
        rename_columns: dict[str, str] | None = None,
    ) -> dict:
        """Commit a new schema version: ``add_columns`` maps new name →
        Spark type string (old snapshots read them as typed nulls);
        ``rename_columns`` maps old name → new name (field id is
        preserved, so existing data files need no rewrite — the read
        path re-labels by id).  Metadata-only: no data is touched,
        exactly like Iceberg's ``ALTER TABLE``."""
        cur = self.current_schema()
        if cur is None:
            raise FileNotFoundError(
                f"icelite table {self.path} has no schema to evolve "
                "(commit at least one snapshot first)"
            )
        fields = [dict(f) for f in cur["fields"]]
        names = {f["name"] for f in fields}
        for old, new in (rename_columns or {}).items():
            if old not in names:
                raise KeyError(f"rename: no column {old!r} in current schema")
            if new in names:
                raise ValueError(f"rename: column {new!r} already exists")
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
            names.discard(old)
            names.add(new)
        last_id = cur["last_field_id"]
        for name, typ in (add_columns or {}).items():
            if name in names:
                raise ValueError(f"add: column {name!r} already exists")
            last_id += 1
            fields.append({"id": last_id, "name": name, "type": typ})
            names.add(name)
        proposed = {
            "schema_id": cur["schema_id"] + 1,
            "fields": fields,
            "last_field_id": last_id,
        }
        published = self._write_schema(proposed)
        if published != proposed:
            # another writer evolved to the same schema_id first —
            # surface the conflict instead of silently adopting theirs
            raise RuntimeError(
                f"icelite table {self.path}: concurrent schema "
                f"evolution conflict at schema_id {proposed['schema_id']}; "
                "re-read current_schema() and retry"
            )
        return published

    def partitioning(self) -> dict | None:
        """The bucket-layout the table was first committed with.

        Resume correctness requires stable bucket ids: the salt is
        ``pmod(xxhash64(doc_id), n_buckets)``, so replaying with a
        different ``n_buckets`` (e.g. a different cluster size)
        would remap ids against the committed set — silently skipping
        or re-extracting documents.  The first snapshot records the
        layout; resumes must reuse it (run_extraction_job errors on
        mismatch)."""
        for s in self.snapshots():
            p = s.get("partitioning")
            if p:
                return p
        return None

    # ---- metadata tables (Iceberg history/files/partitions) ------------------
    #
    # Operational introspection as QUERYABLE DataFrames, like SELECTing
    # Iceberg's `db.tbl.history` / `.files` / `.partitions`: what a
    # maintenance job, a cost dashboard, or an ingest monitor reads.
    # All three are built driver-side from the manifests (metadata is
    # tiny relative to data) and handed to Spark as local frames — no
    # data file is opened.

    @staticmethod
    def _snapshot_kind(s: dict) -> str:
        if s.get("rollback_to") is not None:
            return "rollback"
        if s.get("compacted"):
            return "compaction"
        if s.get("replaces") is not None:
            return "rewrite"
        if s.get("delete_files") and s.get("data_files"):
            return "merge"
        if s.get("delete_files"):
            return "delete"
        return "append"

    def history_df(self, spark) -> DataFrame:
        """One row per ACTIVE snapshot (the live chain — truncated and
        superseded history excluded, same view as :meth:`read`):
        sequence, id/parent lineage, commit kind, row/file/delete
        counters, schema id."""
        rows = [
            (
                int(s["sequence"]),
                s["snapshot_id"],
                s.get("parent_id"),
                self._snapshot_kind(s),
                int(s.get("total_rows") or 0),
                len(s["data_files"]),
                int(s.get("delete_count") or 0),
                s.get("schema_id"),
            )
            for s in self.snapshots()
        ]
        return spark.createDataFrame(
            rows,
            "sequence bigint, snapshot_id string, parent_id string, "
            "kind string, total_rows bigint, n_data_files int, "
            "delete_count bigint, schema_id int",
        )

    @staticmethod
    def _file_bucket(rel: str) -> int | None:
        for part in rel.split(os.sep):
            if part.startswith("bucket="):
                return int(part[len("bucket="):])
        return None

    def files_summary(self) -> list[dict]:
        """Metadata-only census of LIVE data files (one dict per file:
        table-relative path, owning snapshot, lineage bucket) — no
        Spark session, no storage listing.  Files superseded by a
        newer rewrite() are dead and excluded, same rule as the read
        path.  The CLI prints this; :meth:`files_df` wraps it as a
        DataFrame."""
        out = []
        snaps = self.snapshots()
        drop = self._replaced_map(snaps)
        for s in snaps:
            for f in self._live_files(s, drop):
                rel = os.path.relpath(f, self.path)
                out.append({
                    "file": rel,
                    "sequence": int(s["sequence"]),
                    "snapshot_id": s["snapshot_id"],
                    "bucket": self._file_bucket(rel),
                })
        return out

    def partitions_summary(self) -> list[dict]:
        """Per-bucket lineage summary (metadata-only): rows AS WRITTEN
        (the manifests' additive counters — equality deletes are not
        netted out, same as Iceberg's partitions table counting
        data-file rows), file count, and how many snapshots touched
        the bucket.  The skew report for a 100-TB table costs a
        metadata fold, not a scan."""
        snaps = self.snapshots()
        drop = self._replaced_map(snaps)
        # a rewrite() of bucket b supersedes EVERY older manifest's
        # rows in b (whole-bucket granularity is what keeps the
        # per-manifest counters attributable): count a manifest's
        # bucket_rows[b] only when no newer rewrite covers b
        rewrites: list[tuple[int, set[int]]] = [
            (s["sequence"], set(s.get("rewrites_buckets") or []))
            for s in snaps
            if s.get("rewrites_buckets")
        ]
        rows_by_bucket: dict[int, int] = {}
        snaps_by_bucket: dict[int, int] = {}
        files_by_bucket: dict[int, int] = {}
        for s in snaps:
            seq = s["sequence"]
            for b, n in (s.get("bucket_rows") or {}).items():
                bi = int(b)
                if any(rs > seq and bi in rb for rs, rb in rewrites):
                    continue
                rows_by_bucket[bi] = rows_by_bucket.get(bi, 0) + int(n)
                snaps_by_bucket[bi] = snaps_by_bucket.get(bi, 0) + 1
            for f in self._live_files(s, drop):
                bi = self._file_bucket(os.path.relpath(f, self.path))
                if bi is not None:
                    files_by_bucket[bi] = files_by_bucket.get(bi, 0) + 1
        return [
            {
                "bucket": b,
                "rows": rows_by_bucket[b],
                "n_files": files_by_bucket.get(b, 0),
                "n_snapshots": snaps_by_bucket.get(b, 0),
            }
            for b in sorted(rows_by_bucket)
        ]

    def files_df(self, spark) -> DataFrame:
        """:meth:`files_summary` as a queryable DataFrame."""
        return spark.createDataFrame(
            [
                (r["file"], r["sequence"], r["snapshot_id"], r["bucket"])
                for r in self.files_summary()
            ],
            "file string, sequence bigint, snapshot_id string, bucket int",
        )

    def partitions_df(self, spark) -> DataFrame:
        """:meth:`partitions_summary` as a queryable DataFrame."""
        return spark.createDataFrame(
            [
                (r["bucket"], r["rows"], r["n_files"], r["n_snapshots"])
                for r in self.partitions_summary()
            ],
            "bucket int, rows bigint, n_files int, n_snapshots int",
        )

    def register_views(self, spark, name: str) -> list[str]:
        """Expose the table to ``spark.sql`` the way an Iceberg
        catalog would: ``<name>`` = the current read (deletes,
        rollbacks and rewrites resolved), plus the metadata tables as
        ``<name>_history`` / ``<name>_files`` / ``<name>_partitions``
        (Iceberg's ``db.tbl.history`` etc., underscore-spelled —
        temp-view names cannot carry a dot).  Temp views are
        plan-by-reference: ``<name>`` re-plans per query but pins the
        snapshot list AT REGISTRATION (call again after new commits),
        matching a catalog's point-in-time scan semantics.  Returns
        the registered view names."""
        views = {
            name: self.read(spark),
            f"{name}_history": self.history_df(spark),
            f"{name}_files": self.files_df(spark),
            f"{name}_partitions": self.partitions_df(spark),
        }
        for vname, df in views.items():
            df.createOrReplaceTempView(vname)
        return sorted(views)

    # ---- tags: named immutable refs (Iceberg refs; round 6) -----------------
    #
    # The dataset-RELEASE primitive: ``tag("v1.0")`` pins the exact
    # corpus state a model was trained on.  A tag is a tiny metadata
    # file; while it exists, (a) compact() keeps every manifest at or
    # below the highest tagged sequence on disk (floor-hidden from the
    # ACTIVE view, so current reads are untouched), and (b) vacuum()
    # treats tag-pinned data dirs as referenced — so ``read(tag=...)``
    # reproduces the release byte-for-byte for as long as the tag
    # lives.  delete_tag() unpins; the next compact/vacuum cycle
    # reclaims.  Exactly Iceberg's expire-snapshots-respects-refs
    # contract, in the single-filesystem seam.

    def tags(self) -> dict[str, dict]:
        """Active tags: name → {snapshot_id, sequence, created_at}."""
        out: dict[str, dict] = {}
        if not os.path.isdir(self.manifest_dir):
            return out
        for name in os.listdir(self.manifest_dir):
            if name.startswith("tag-") and name.endswith(".json"):
                try:
                    with open(os.path.join(self.manifest_dir, name)) as f:
                        t = json.load(f)
                except FileNotFoundError:
                    continue  # concurrent delete_tag
                out[t["name"]] = t
        return out

    def tag(self, name: str, snapshot_id: str | None = None) -> dict:
        """Create an immutable named reference (default: current tip).
        Refuses to overwrite — a release name must never silently move
        (delete_tag first to re-cut a release)."""
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(
                f"icelite table {self.path} has no snapshots to tag"
            )
        if snapshot_id is None:
            target = snaps[-1]
        else:
            match = [s for s in snaps if s["snapshot_id"] == snapshot_id]
            if not match:
                raise KeyError(
                    f"icelite table {self.path}: snapshot {snapshot_id!r} "
                    "not found among active snapshots"
                )
            target = match[0]
        rec = {
            "name": name,
            "snapshot_id": target["snapshot_id"],
            "sequence": target["sequence"],
            "created_at": time.time(),
        }
        if not _link_json(
            os.path.join(self.manifest_dir, f"tag-{name}.json"), rec
        ):
            raise FileExistsError(
                f"icelite table {self.path}: tag {name!r} already exists "
                "(releases are immutable; delete_tag first to re-cut)"
            )
        return rec

    def delete_tag(self, name: str) -> bool:
        """Unpin a release.  Its manifests and data dirs become
        reclaimable by the NEXT compact/vacuum cycle."""
        try:
            os.remove(os.path.join(self.manifest_dir, f"tag-{name}.json"))
            return True
        except FileNotFoundError:
            return False

    # ---- rollback: undo a bad commit (Iceberg rollback_to_snapshot) ----------
    def rollback(self, to_snapshot_id: str, metrics: dict | None = None) -> dict:
        """Make ``to_snapshot_id``'s state current again — the
        bad-commit recovery primitive (a poisoned crawl batch, a
        mis-configured extraction run): METADATA-ONLY, no data moves,
        no rewrite.  Commits a ``rollback`` manifest whose
        ``rollback_to`` sequence truncates every later snapshot from
        the live view (see :meth:`_live_chain`); subsequent
        commits build on the restored state.

        Contracts (each pinned in tests/test_icelite.py):

        - the target must be ACTIVE (time travel to a truncated
          snapshot raises, same as post-``compact()`` expiry — this is
          a documented divergence from Iceberg, where rolled-back
          snapshots stay time-travelable until expire);
        - the rollback wins its sequence through the normal optimistic
          arbitration, so a concurrent append that lands between
          validation and the link is truncated too (last-writer-wins,
          exactly a catalog ``rollback``'s behavior);
        - CDC consumers checkpointed INSIDE the truncated range get
          the documented KeyError from read_changes → full re-sync
          (Delta's post-RESTORE contract); consumers at-or-below the
          target, or ones that only poll after the rollback, stay
          consistent — truncated snapshots emit no events, and genesis
          replay still reproduces ``read()``;
        - a later ``compact()`` folds the rollback away and removes
          the truncated manifests (their data dirs become orphans for
          ``vacuum``); tags cut BEFORE the rollback keep reading the
          pre-rollback bytes (their chain predates the rollback
          manifest), tags cut after embed it."""
        snaps = self.snapshots()
        target = next(
            (s for s in snaps if s["snapshot_id"] == to_snapshot_id), None
        )
        if target is None:
            raise KeyError(
                f"icelite table {self.path}: snapshot {to_snapshot_id!r} is "
                "not an active snapshot (never existed, expired by "
                "compact(), or already truncated by an earlier rollback)"
            )
        tip = snaps[-1]
        if target["snapshot_id"] == tip["snapshot_id"]:
            raise ValueError(
                f"icelite table {self.path}: {to_snapshot_id!r} is already "
                "the current snapshot — nothing to roll back"
            )
        return self._commit_manifest(self._new_manifest(
            tip,
            rollback_to=target["sequence"],
            rollback_to_id=target["snapshot_id"],
            metrics={**(metrics or {}), "rolled_back_from": tip["sequence"]},
            partitioning=target.get("partitioning"),
        ))

    def _all_manifests(self) -> list[dict]:
        """Every manifest on disk or folded into the newest checkpoint,
        floor filter NOT applied — the raw history tag resolution walks
        (pinned manifests below a compaction floor are invisible to
        snapshots() but still resolvable here).  publish_branch's
        fast-forward check and read(tag=...) consume this view, so it
        keeps the same torn-listing discipline as snapshots()."""
        return self._load_manifests(tail_only=False)

    def _pinned_manifests(self) -> list[dict]:
        """Manifests a tag keeps alive: everything at or below the
        highest tagged sequence (a tag's state is the full chain below
        it, minus whatever an OLDER compaction floor already folded —
        that floor's manifest is itself in the chain)."""
        tags = self.tags()
        if not tags:
            return []
        hi = max(t["sequence"] for t in tags.values())
        return [s for s in self._all_manifests() if s["sequence"] <= hi]

    # ---- branches: write-audit-publish (Iceberg branch refs; round 6) -------
    #
    # The WAP pattern for SAFE corpus updates: stage risky commits
    # (a new dedup pass, a re-crawl, a filter change) on a branch,
    # AUDIT the branch's read view with the usual quality checks, then
    # PUBLISH atomically-per-manifest as a fast-forward — or discard.
    # Readers of main never observe unaudited data.  A branch is a
    # manifest namespace (`_icelite/branch-<name>/`) sharing main's
    # data dir and schema space; its base history is pinned by an
    # internal tag, so main may compact freely while the branch lives.

    def create_branch(self, name: str) -> dict:
        """Fork a branch at the current tip.  The fork point is pinned
        with an internal tag (``__branch-<name>``), which is what
        keeps the base history resolvable under main's compaction and
        keeps vacuum off the base data dirs.  Fails if the branch (or
        a tag colliding with its pin) already exists.

        Ordering: mkdir FIRST (the namespace dir is the create mutex —
        a concurrent same-name create loses here, before any tag
        exists), then the pin tag, then the meta file.  The dir-first
        order means no crash point can leak an INVISIBLE pin tag with
        no branch dir (which would silently pin compaction/vacuum
        forever and block re-creating the name); every partial state
        keeps the dir, is visible in branches(), and is cleaned by a
        plain delete_branch."""
        bdir = os.path.join(self.manifest_dir, f"branch-{name}")
        os.makedirs(bdir)
        try:
            rec = self.tag(f"__branch-{name}")
            meta = {
                "name": name,
                "fork_sequence": rec["sequence"],
                "fork_snapshot_id": rec["snapshot_id"],
            }
            _link_json(os.path.join(bdir, "branch.json"), meta)
        except BaseException:
            # best-effort rollback of the mutex dir on a FAILED (not
            # crashed) create; a crash instead leaves the dir, which
            # delete_branch cleans
            self.delete_tag(f"__branch-{name}")
            shutil.rmtree(bdir, ignore_errors=True)
            raise
        return meta

    def branches(self) -> list[str]:
        if not os.path.isdir(self.manifest_dir):
            return []
        return sorted(
            n[len("branch-"):]
            for n in os.listdir(self.manifest_dir)
            if n.startswith("branch-")
            and os.path.isdir(os.path.join(self.manifest_dir, n))
        )

    def branch(self, name: str) -> "IceliteBranch":
        bdir = os.path.join(self.manifest_dir, f"branch-{name}")
        meta_path = os.path.join(bdir, "branch.json")
        if not os.path.exists(meta_path):
            raise KeyError(f"icelite table {self.path}: no branch {name!r}")
        with open(meta_path) as f:
            meta = json.load(f)
        return IceliteBranch(self.path, meta)

    def publish_branch(self, name: str) -> dict:
        """PUBLISH (WAP step 3): fast-forward main to the branch tip by
        linking the branch's manifests into main at their own
        sequences.  Requires main's tip to still be the fork point —
        if main advanced, publishing would interleave unaudited
        orderings, so it raises instead (cut a fresh branch from the
        new tip and re-stage; merge/rebase is deliberately out of
        scope).  Each link is atomic and the linked prefix is always a
        valid history, so a crash mid-publish leaves a readable main
        and a RE-RUN of publish completes idempotently (identical
        content at an existing target is skipped).  On success the
        branch namespace and its fork pin are removed — stop any
        stream still staging onto the branch FIRST (publish snapshots
        the branch's manifest list once; commits racing the removal
        are discarded with the namespace)."""
        br = self.branch(name)
        own = br._own_manifests()
        published = 0
        # fast-forward check against main's HISTORY, not its manifest
        # files: a compact() both advances the tip and removes the
        # superseded files, so "target file exists" can never be the
        # conflict signal.  Anything above the fork that is not our
        # own already-linked prefix (crashed publish re-run) means
        # main advanced — publishing would interleave unaudited
        # orderings or vanish below a compaction floor.
        own_ids = {s["snapshot_id"] for s in own}
        foreign = [
            s for s in self._all_manifests()
            if s["sequence"] > br.fork_sequence
            and s["snapshot_id"] not in own_ids
        ]
        if foreign:
            raise RuntimeError(
                f"icelite table {self.path}: cannot publish branch "
                f"{name!r} — main advanced past the fork point "
                "(fast-forward only; cut a fresh branch from the new "
                "tip and re-stage)"
            )
        for s in own:
            src = os.path.join(
                br.manifest_dir, f"snap-{s['sequence']:06d}.json"
            )
            target = os.path.join(
                self.manifest_dir, f"snap-{s['sequence']:06d}.json"
            )
            try:
                os.link(src, target)
                published += 1
            except FileExistsError:
                with open(target) as f:
                    if json.load(f).get("snapshot_id") != s["snapshot_id"]:
                        raise RuntimeError(
                            f"icelite table {self.path}: publish of branch "
                            f"{name!r} lost sequence {s['sequence']} to a "
                            "concurrent commit; main is unchanged beyond "
                            "the already-linked prefix"
                        )
        self.delete_branch(name)
        return {"published": published, "branch": name}

    def delete_branch(self, name: str) -> bool:
        """Discard a branch (WAP audit failed, or post-publish
        cleanup): its manifests vanish, the fork pin is released, and
        the next vacuum reclaims the branch's orphaned data dirs.

        Pin tag goes FIRST: a crash between the two steps then leaves
        a visible, re-deletable branch dir (deletion intent was
        already durable — re-run delete_branch), never an invisible
        orphaned ``__branch-*`` tag that would pin maintenance forever
        and block re-creating the name (mirrors create_branch's
        dir-first ordering)."""
        bdir = os.path.join(self.manifest_dir, f"branch-{name}")
        existed = os.path.isdir(bdir)
        self.delete_tag(f"__branch-{name}")
        shutil.rmtree(bdir, ignore_errors=True)
        return existed

    def _branch_manifests(self) -> list[dict]:
        """Every live branch's own manifests — data they reference is
        LIVE for vacuum even though main's snapshot view never sees
        it."""
        out: list[dict] = []
        if not os.path.isdir(self.manifest_dir):
            return out
        for name in os.listdir(self.manifest_dir):
            full = os.path.join(self.manifest_dir, name)
            if not (name.startswith("branch-") and os.path.isdir(full)):
                continue
            for n in os.listdir(full):
                if self._name_seq(n, "snap-") is None:
                    continue
                try:
                    with open(os.path.join(full, n)) as f:
                        out.append(json.load(f))
                except FileNotFoundError:
                    continue
        return out

    # ---- read / resume -----------------------------------------------------
    def _snapshot_files(self, snap: dict) -> list[str]:
        """Data files of one snapshot, from its manifest (Iceberg-style:
        no storage listing on the read path)."""
        return [os.path.join(self.path, p) for p in snap["data_files"]]

    @staticmethod
    def _data_manifests(snaps: list[dict]) -> list[dict]:
        """Manifests that carry data files (delete-only and rollback
        manifests record ``data_files: []``)."""
        return [s for s in snaps if s["data_files"]]

    @staticmethod
    def _replaced_map(snaps: list[dict]) -> dict[str, int]:
        """relative file path → highest sequence of a ``rewrite``
        manifest (see :meth:`rewrite`) among ``snaps`` that supersedes
        it.  A file is dead for a read iff a rewrite NEWER than its
        owning snapshot replaced it — computed over exactly the
        snapshot set being read, so time travel below a rewrite sees
        the originals and a rolled-back rewrite stops applying for
        free."""
        drop: dict[str, int] = {}
        for s in snaps:
            for rel in s.get("replaces") or []:
                if drop.get(rel, -1) < s["sequence"]:
                    drop[rel] = s["sequence"]
        return drop

    def _live_files(
        self, snap: dict, drop: dict[str, int] | None
    ) -> list[str]:
        """``_snapshot_files`` minus files a NEWER rewrite replaced."""
        files = self._snapshot_files(snap)
        if not drop:
            return files
        seq = snap["sequence"]
        return [
            f for f in files
            if drop.get(os.path.relpath(f, self.path), -1) <= seq
        ]

    @staticmethod
    def _delete_manifests(snaps: list[dict]) -> list[dict]:
        return [s for s in snaps if s.get("delete_files")]

    def _committed_schemas(self) -> list[dict]:
        """:meth:`schemas` of a table that has snapshots.  Every writer
        registers schema v0 before the first manifest, so a committed
        table without a schema file is refused rather than guessed at."""
        schemas = self.schemas()
        if not schemas:
            raise ValueError(
                f"icelite table {self.path} has snapshots but no "
                "_icelite/schema-*.json"
            )
        return schemas

    def _empty_frame(self, spark) -> DataFrame:
        """Zero-row frame in the table's CURRENT schema (+ the bucket
        lineage column) — the readable state of a fully-deleted,
        compacted table."""
        cur = self._committed_schemas()[-1]
        return spark.createDataFrame([], schema=_ddl(cur["fields"]) + ", `bucket` int")

    def _scan_snaps(
        self,
        spark,
        snaps: list[dict],
        buckets: set[int] | None = None,
        prune: list[tuple] | None = None,
        file_filter=None,
        drop: dict[str, int] | None = None,
    ) -> DataFrame | None:
        """One scan per DISTINCT schema version among the data files of
        ``snaps`` (not per snapshot — plan size stays O(schema
        versions), which is O(1) in practice since evolutions are
        rare), each projected to the current schema by field id plus
        the ``bucket`` lineage column, then unioned by name.

        A manifest's files enter the scan unless a NEWER ``rewrite``
        replaced them (``drop`` lets a caller that SPLIT the snapshot
        set — e.g. _read_snaps' delete-signature groups — supply the
        replacement map of the WHOLE read; computing it from a subset
        would miss a rewrite sitting in another group), their path
        bucket (:meth:`_file_bucket`) is outside ``buckets``, their
        recorded column bounds cannot satisfy ``prune`` (predicate
        names are CURRENT names, mapped to each version's write-time
        physical names by field id), or the Bloom ``file_filter``
        rejects them.  A data manifest without ``schema_id`` was
        written with the OLDEST schema's physical names (v0 is always
        derived from the same job's frame that also wrote them).
        Returns None when no file survives."""
        schemas = self._committed_schemas()
        current = schemas[-1]
        by_sid = {s["schema_id"]: s for s in schemas}
        legacy_sid = schemas[0]["schema_id"]
        cur_ids = {f["name"]: f["id"] for f in current["fields"]}
        if drop is None:
            drop = self._replaced_map(snaps)
        by_schema: dict[int, list[str]] = {}
        for s in snaps:
            sid = s.get("schema_id", legacy_sid)
            phys = {f["id"]: f["name"] for f in by_sid[sid]["fields"]}
            files = self._live_files(s, drop)
            if buckets is not None:
                files = [
                    f for f in files
                    if self._file_bucket(os.path.relpath(f, self.path))
                    in buckets
                ]
            if prune:
                rename = {
                    name: phys[fid]
                    for name, fid in cur_ids.items()
                    if fid in phys
                }
                fstats = s.get("file_stats") or {}
                files = [
                    f for f in files
                    if _file_may_match(
                        fstats.get(os.path.relpath(f, self.path)), prune, rename
                    )
                ]
            if file_filter is not None:
                files = [f for f in files if file_filter(f)]
            if files:
                by_schema.setdefault(sid, []).extend(files)
        out = None
        for sid, files in sorted(by_schema.items()):
            phys = {f["id"]: f["name"] for f in by_sid[sid]["fields"]}
            cols = [
                f"`{phys[f['id']]}` AS `{f['name']}`" if f["id"] in phys
                # column added after this snapshot was written
                else f"CAST(NULL AS {f['type']}) AS `{f['name']}`"
                for f in current["fields"]
            ]
            cols.append(
                "CAST(regexp_extract(input_file_name(), 'bucket=([0-9]+)', 1)"
                " AS int) AS bucket"
            )
            part = _read_files(spark, files, by_sid[sid]["fields"])
            part = part.selectExpr(*cols)
            out = part if out is None else out.unionByName(part)
        return out

    def _current_name_for(self, name: str, schema_id) -> str:
        """Map a WRITE-TIME column name to the current schema name via
        the stable field id (the same Iceberg id-based mapping the data
        read path uses).  Without this, renaming the delete-key column
        would brick every read of a table with active deletes — the
        anti-join would ask for a column the mapped scan no longer
        exposes.  A manifest without ``schema_id`` resolves via the
        newest schema that knows the name, since a later rename chain
        can legally re-introduce the old name for a DIFFERENT field
        id.  A name no schema maps stays as it is."""
        schemas = self._committed_schemas()
        src = next(
            (s for s in schemas if s["schema_id"] == schema_id), None
        ) or next(
            (s for s in reversed(schemas)
             if any(f["name"] == name for f in s["fields"])),
            {"fields": []},
        )
        fid = next((f["id"] for f in src["fields"] if f["name"] == name), None)
        return next(
            (f["name"] for f in schemas[-1]["fields"] if f["id"] == fid), name
        )

    def _column_type(self, name: str) -> str:
        """The recorded type of column ``name`` of the current schema."""
        return next(
            f["type"] for f in self._committed_schemas()[-1]["fields"]
            if f["name"] == name
        )

    def _read_delete_keys(
        self, spark, files: list[str], phys: str, cur: str
    ) -> DataFrame:
        """Equality-delete files keyed on the write-time name ``phys``,
        read with the key's recorded type and aliased to its current
        name ``cur``."""
        return _read_files(
            spark, files, [{"name": phys, "type": self._column_type(cur)}]
        ).selectExpr(f"`{phys}` AS `{cur}`")

    def _anti_join_deletes(
        self, spark, df: DataFrame, del_snaps: list[dict]
    ) -> DataFrame:
        """Drop rows whose key appears in any of ``del_snaps`` (the
        caller already restricted these to the deletes APPLICABLE to
        ``df``'s snapshots — strictly-newer sequences only).  Delete
        files are tiny relative to the corpus, so the anti-join
        broadcasts below BROADCAST_DELETE_MAX keys; above it AQE picks
        the strategy.

        Delete files keep their WRITE-TIME physical column name;
        deletes committed on either side of a rename are grouped by
        (current, physical) name pair, aliased to the CURRENT name,
        and unioned — so one anti-join per logical key column, however
        many renames the table has seen."""
        by_key: dict[tuple[str, str], list[str]] = {}
        counts: dict[str, int] = {}
        for d in del_snaps:
            phys = d["delete_key"]
            cur = self._current_name_for(phys, d.get("schema_id"))
            by_key.setdefault((cur, phys), []).extend(
                os.path.join(self.path, p) for p in d["delete_files"]
            )
            counts[cur] = counts.get(cur, 0) + int(d.get("delete_count") or 0)
        for key_col in sorted(counts):
            # no distinct: an anti-join is insensitive to duplicate
            # build-side keys, the writers already dedupe, and the
            # distinct's partial/final agg would put an Exchange on
            # this otherwise exchange-free read path
            keys = None
            for (cur, phys), files in sorted(by_key.items()):
                if cur != key_col:
                    continue
                part = self._read_delete_keys(spark, files, phys, cur)
                keys = part if keys is None else keys.unionByName(part)
            if counts[key_col] <= self.BROADCAST_DELETE_MAX:
                keys = F.broadcast(keys)
            df = df.join(keys, on=key_col, how="left_anti")
        return df

    def _read_snaps(
        self,
        spark,
        snaps: list[dict],
        buckets: set[int] | None = None,
        prune: list[tuple] | None = None,
        file_filter=None,
    ) -> DataFrame | None:
        """Scan ``snaps`` with equality deletes applied.  An equality
        delete at sequence D retracts matching rows from data at
        sequences STRICTLY BELOW D (Iceberg's sequence-number rule), so
        data snapshots are grouped by their applicable-delete
        signature — one flat scan + one broadcast anti-join per group,
        and a table with no deletes keeps today's single-scan plan
        unchanged.  Returns None when no data file survives."""
        data_snaps = self._data_manifests(snaps)
        del_snaps = self._delete_manifests(snaps)
        drop = self._replaced_map(snaps)
        groups: dict[tuple, list[dict]] = {}
        for s in data_snaps:
            sig = tuple(
                d["sequence"] for d in del_snaps if d["sequence"] > s["sequence"]
            )
            groups.setdefault(sig, []).append(s)
        parts = []
        for sig in sorted(groups):
            df = self._scan_snaps(
                spark, groups[sig], buckets, prune, file_filter, drop
            )
            if df is None:
                continue
            if sig:
                live = set(sig)
                df = self._anti_join_deletes(
                    spark, df, [d for d in del_snaps if d["sequence"] in live]
                )
            parts.append(df)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self,
        spark,
        buckets: set[int] | None = None,
        as_of_snapshot: str | None = None,
        prune: list[tuple] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """All committed rows as ONE scan.

        ``as_of_snapshot`` is Iceberg's ``VERSION AS OF`` time travel:
        only data files committed at or before that snapshot enter the
        scan.  A snapshot superseded by a later ``compact()`` is
        expired — time travel below the compaction floor raises (the
        same contract as Iceberg snapshot expiration).

        ``buckets`` prunes at the MANIFEST level: only files under the
        requested ``bucket=<k>`` dirs enter the scan's file index —
        stronger than scan-level PartitionFilters (the planner never
        even lists the other files; at 100 TB that's the difference
        between a metadata lookup and a storage listing).

        Early versions unioned one partition-discovering scan per
        snapshot — a plan that grows linearly with snapshot count and
        degrades at thousands of snapshots (long incremental jobs).
        Now the manifests provide the file list (like an Iceberg
        manifest list) and :meth:`_scan_snaps` puts the files of each
        schema version into one :func:`_read_files` scan — flat read
        with the recorded schema, no partition discovery and no
        schema-inference job — projected to the current schema
        by field id, with the ``bucket`` lineage column rebuilt from
        the ``bucket=<k>`` path component (a zero-shuffle projection).
        Every manifest records ``data_files`` and a table with a
        snapshot has a schema file; a read refuses (ValueError) a table
        that breaks either rule.

        ``prune`` is a list of simple predicates —
        ``("lang", "=", "en")``, ``("n_chars", "between", lo, hi)``,
        ``("n_chars", ">=", x)`` with ops ``= < <= > >= between`` —
        checked against each file's recorded column min/max
        (``file_stats`` in the manifest): files that provably contain
        no matching row never enter the scan's file index.  Pruning is
        a SUPERSET guarantee — the caller still applies the exact row
        filter (Iceberg's file-skip + residual contract).

        Plan size is constant in the number of snapshots; see
        BENCH/PLANS.md for the measured 200-snapshot plan-build times.
        """
        if tag is not None:
            # tagged release: resolve through the RAW history (tag-
            # pinned manifests may sit below a later compaction floor
            # and are invisible to snapshots()), then apply any floor
            # INSIDE the tag's own chain (a compaction the release
            # itself was cut after legitimately supersedes below it)
            if as_of_snapshot is not None:
                raise ValueError("pass either tag or as_of_snapshot, not both")
            rec = self.tags().get(tag)
            if rec is None:
                raise KeyError(
                    f"icelite table {self.path}: no tag {tag!r}"
                )
            # rollbacks the release was cut AFTER are part of its state
            # (a tag cut BEFORE a rollback has no rollback manifest in
            # its chain and keeps reading the pre-rollback bytes)
            chain = self._live_chain([
                s for s in self._all_manifests()
                if s["sequence"] <= rec["sequence"]
            ])
            out = self._read_snaps(spark, chain, buckets, prune)
            if out is None:
                raise FileNotFoundError(
                    f"icelite table {self.path}: tag {tag!r} resolves to "
                    "no data files"
                )
            return out
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"icelite table {self.path} has no snapshots")
        if as_of_snapshot is not None:
            target = [s for s in snaps if s["snapshot_id"] == as_of_snapshot]
            if not target:
                raise KeyError(
                    f"icelite table {self.path}: snapshot {as_of_snapshot!r} "
                    "not found among active snapshots (it never existed, or "
                    "was expired by a later compact())"
                )
            seq = target[0]["sequence"]
            snaps = [s for s in snaps if s["sequence"] <= seq]
        if buckets is not None:
            if not any(
                self._file_bucket(rel) in buckets
                for s in snaps for rel in s["data_files"]
            ):
                raise FileNotFoundError(
                    f"icelite table {self.path}: no data for buckets {sorted(buckets)}"
                )
        out = self._read_snaps(
            spark, snaps, buckets, prune,
            self._bloom_file_filter(spark, prune),
        )
        # no data files at all (fully-deleted table after compaction,
        # or everything pruned): empty frame in the current schema
        return out if out is not None else self._empty_frame(spark)

    def read_incremental(
        self, spark, after_snapshot: str, until_snapshot: str | None = None
    ) -> DataFrame:
        """Rows appended STRICTLY AFTER ``after_snapshot`` (optionally
        up to ``until_snapshot``) — Iceberg's incremental append scan,
        the consumption pattern of a daily-ingest downstream job
        (e.g. ``dedup_against`` the new rows only).  Append-only
        tables make this exact: every snapshot's files are disjoint.
        Raises KeyError when either endpoint was expired by
        ``compact()`` (history below the floor is gone).

        Equality deletes committed INSIDE the window retract matching
        rows appended earlier in the window (same strictly-lower-
        sequence rule as :meth:`read`); deletes outside the window
        never touch it — a delete at/below ``after_snapshot`` applies
        only to data that is itself outside the window, and one after
        ``until_snapshot`` hasn't happened yet from the window's
        viewpoint."""
        snaps = self.snapshots()
        by_id = {s["snapshot_id"]: s for s in snaps}
        if after_snapshot not in by_id:
            raise KeyError(
                f"icelite table {self.path}: snapshot {after_snapshot!r} "
                "not found among active snapshots (never existed or expired "
                "by compact())"
            )
        lo = by_id[after_snapshot]["sequence"]
        hi = None
        if until_snapshot is not None:
            if until_snapshot not in by_id:
                raise KeyError(
                    f"icelite table {self.path}: snapshot "
                    f"{until_snapshot!r} not found among active snapshots"
                )
            hi = by_id[until_snapshot]["sequence"]
        picked = [
            s for s in snaps
            if s["sequence"] > lo and (hi is None or s["sequence"] <= hi)
            # a rewrite() is maintenance, not a logical change: its
            # files RE-represent rows appended before the window —
            # including it would replay old rows as new (Iceberg's
            # incremental append scan skips replace snapshots too)
            and not s.get("replaces")
        ]
        out = self._read_snaps(spark, picked)
        if out is not None:
            return out
        return self.read(spark).limit(0)  # empty frame, right schema

    def read_changes(
        self,
        spark,
        after_snapshot: str | None = None,
        until_snapshot: str | None = None,
    ) -> DataFrame:
        """CDC changelog scan (Iceberg's ``create_changelog_view`` /
        Delta Change Data Feed): every row-level change committed
        STRICTLY AFTER ``after_snapshot`` (from table genesis when
        None), up to and including ``until_snapshot`` (the current
        snapshot when None), in the table's CURRENT schema plus three
        metadata columns:

          _change_type         ``'insert'`` | ``'delete'``
          _commit_sequence     the committing snapshot's sequence
          _commit_snapshot_id  the committing snapshot's id

        Inserts are attributed to their committing snapshot by ONE
        flat schema-aware scan plus a broadcast file→snapshot map
        keyed on each file's ``snap-dir/bucket=k/part-file`` path
        suffix (the snap dir is uuid-suffixed per commit, so the key
        is table-unique) — plan size constant in snapshot count, the
        same design rule as :meth:`read`.  RAW rows are emitted: a row
        inserted and retracted inside the window produces BOTH events;
        downstream nets them if it wants net semantics (Iceberg's
        changelog contract).

        A delete at sequence D emits the FULL ROW IMAGE of exactly the
        rows that were live entering D (visible rows of sequences < D
        after earlier deletes) and match its keys — one event per
        physical retraction, nothing for already-retracted keys or
        later re-appends.  Cost: one extra metadata-pruned scan per
        window delete; deletes are rare (takedowns), and each scan
        reads only sequences below D.  A :meth:`merge` manifest emits
        its delete events and its insert events at the SAME sequence —
        consumers replay a sequence's deletes before its inserts.

        Windows never span a ``compact()``: compaction expires the
        history it folds, so an endpoint below the floor raises
        KeyError (CDC consumers checkpoint their last-consumed
        snapshot and must stay above the floor — the same contract as
        :meth:`read_incremental`).  A genesis window over a compacted
        table reports the surviving compacted manifest as bootstrap
        inserts at its own sequence — which IS the net history."""
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(
                f"icelite table {self.path} has no snapshots"
            )
        by_id = {s["snapshot_id"]: s for s in snaps}
        lo = -1
        if after_snapshot is not None:
            if after_snapshot not in by_id:
                raise KeyError(
                    f"icelite table {self.path}: snapshot "
                    f"{after_snapshot!r} not found among active snapshots "
                    "(never existed or expired by compact())"
                )
            lo = by_id[after_snapshot]["sequence"]
        hi = snaps[-1]["sequence"]
        if until_snapshot is not None:
            if until_snapshot not in by_id:
                raise KeyError(
                    f"icelite table {self.path}: snapshot "
                    f"{until_snapshot!r} not found among active snapshots"
                )
            hi = by_id[until_snapshot]["sequence"]
        window = [s for s in snaps if lo < s["sequence"] <= hi]

        parts: list[DataFrame] = []
        # rewrite() manifests are physical maintenance, not logical
        # changes: skip them and scan the ORIGINAL manifests unfiltered
        # (their replaced files still hold the identical rows), so the
        # changelog keeps attributing every row to the snapshot that
        # logically inserted it and replay still nets to read()
        data_snaps = [
            s for s in self._data_manifests(window) if not s.get("replaces")
        ]
        if data_snaps:
            key_rows = []
            for s in data_snaps:
                for f in self._snapshot_files(s):
                    suffix = "/".join(os.path.normpath(f).split(os.sep)[-3:])
                    key_rows.append(
                        (suffix, s["sequence"], s["snapshot_id"])
                    )
            scan = self._scan_snaps(spark, data_snaps)
            if scan is not None:
                fmap = spark.createDataFrame(
                    key_rows,
                    "_file_key string, _commit_sequence bigint, "
                    "_commit_snapshot_id string",
                )
                ins = scan.withColumn(
                    "_file_key",
                    F.regexp_extract(
                        F.input_file_name(), r"([^/]+/[^/]+/[^/]+)$", 1
                    ),
                ).join(F.broadcast(fmap), on="_file_key", how="inner")
                parts.append(
                    ins.drop("_file_key")
                    .withColumn("_change_type", F.lit("insert"))
                )

        for d in self._delete_manifests(window):
            prior = [s for s in snaps if s["sequence"] < d["sequence"]]
            live = self._read_snaps(spark, prior)
            if live is None:
                continue
            cur = self._current_name_for(d["delete_key"], d.get("schema_id"))
            keys = self._read_delete_keys(
                spark,
                [os.path.join(self.path, p) for p in d["delete_files"]],
                d["delete_key"], cur,
            )
            hit = live.join(F.broadcast(keys), on=cur, how="left_semi")
            parts.append(
                hit.withColumn(
                    "_commit_sequence",
                    F.lit(int(d["sequence"])).cast("bigint"),
                )
                .withColumn("_commit_snapshot_id", F.lit(d["snapshot_id"]))
                .withColumn("_change_type", F.lit("delete"))
            )

        if not parts:
            return (
                self.read(spark)
                .limit(0)
                .withColumn("_commit_sequence", F.lit(0).cast("bigint"))
                .withColumn("_commit_snapshot_id", F.lit(""))
                .withColumn("_change_type", F.lit("insert"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def committed_stream_ids(self) -> set:
        """The replay-skip identity set: every ``stream_batch_id``
        recorded by a commit, including ids folded into
        ``stream_batch_ids`` by compaction (the identity-not-counter
        rule).  THE single implementation of the exactly-once fold —
        the streaming icelite sink and matview maintenance both
        consume this (review r6 pass 2: two hand-rolled copies would
        have to track the compaction folding rule in lockstep).
        Metadata-only: manifests, no data files."""
        seen: set = set()
        for s in self.snapshots():
            m = s.get("metrics") or {}
            if "stream_batch_id" in m:
                seen.add(m["stream_batch_id"])
            seen.update(m.get("stream_batch_ids") or [])
        return seen

    def consume_changes(self, spark, consumer_id: str):
        """AT-LEAST-ONCE changelog consumption — the polling-consumer
        loop around :meth:`read_changes` that a downstream job (index
        maintenance, a feature store, a replica) runs per cycle:

            changes, ack = table.consume_changes(spark, "my-indexer")
            if changes is not None:
                ... process ...
                ack()        # durably advance AFTER processing

        Returns ``(changes_df, ack)``; ``changes_df`` is None when
        the consumer is already at the tip (``ack`` is then a no-op).
        Progress lives in ``_icelite/consumer-<id>.json`` and is
        advanced by atomic ``os.replace`` only when ``ack()`` runs —
        a crash mid-processing replays the same window, so consumers
        key idempotent writes on ``(_commit_snapshot_id, ...)``
        (exactly the stream_batch_id replay-skip rule the streaming
        icelite sink uses).

        A consumer that lags past a ``compact()`` gets the documented
        KeyError from read_changes (its checkpointed snapshot was
        expired); recovery is a full re-sync, same as any CDC reader
        below the retention floor."""
        if "/" in consumer_id or consumer_id.startswith("."):
            raise ValueError(f"invalid consumer id {consumer_id!r}")
        pos_path = os.path.join(
            self.manifest_dir, f"consumer-{consumer_id}.json"
        )
        after = None
        if os.path.exists(pos_path):
            with open(pos_path) as f:
                after = json.load(f)["snapshot_id"]
        tip = self.current_snapshot()
        if tip is None or tip["snapshot_id"] == after:
            return None, (lambda: None)
        changes = self.read_changes(
            spark, after_snapshot=after, until_snapshot=tip["snapshot_id"]
        )

        def ack(_tip=tip):
            tmp = pos_path + f".{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "snapshot_id": _tip["snapshot_id"],
                        "sequence": _tip["sequence"],
                    },
                    f,
                )
            os.replace(tmp, pos_path)

        return changes, ack

    def requires_exact_resume(self) -> bool:
        """True once the table has ever been re-bucketed (partition-spec
        evolution).  Bucket-level skip-if-done assumes "bucket committed
        ⇒ every doc of that bucket committed"; after a re-bucket the new
        (coarser-per-doc) mapping can mark a bucket committed while some
        of its docs were never ingested under the OLD layout, so resume
        must fall back to the doc-exact anti-join.  The flag is sticky —
        exact resume is always correct, merely costlier.

        Tables first committed by builds that gave giant documents
        (> 200 000 chars) a bucket in a sparse space above
        ``n_buckets`` record that tier in their layout; their giants
        carry labels today's ``pmod(xxhash64(doc_id), n_buckets)``
        never produces, so they resume doc-exact too."""
        layout = self.partitioning() or {}
        return bool(
            layout.get("rebucketed") or "giant_bucket_space" in layout
        )

    def filter_pending(
        self,
        df: DataFrame,
        key_col: str = "doc_id",
        exact: bool | None = None,
    ) -> DataFrame:
        """Drop rows already committed (resume).

        Fast path (the default for a never-rebucketed table): drop rows
        whose BUCKET is committed — the committed-bucket set is tiny
        metadata (manifest-level, like Iceberg partition summaries), so
        this is a partition-pruning filter, not a data-scale anti-join.

        Exact path (``exact=True``, auto-selected after a re-bucket —
        see :meth:`requires_exact_resume`): anti-join on ``key_col``
        against the table's EVER-COMMITTED keys — the raw data files,
        deletes deliberately NOT applied.  Resume semantics must match
        the fast path: a bucket-committed (and later taken-down) doc
        is skipped there too, so applying deletes here would silently
        re-ingest PII takedowns on resume.  Caveat, shared with the
        fast path: once ``compact()`` physically folds a delete away,
        the key is gone from the data files and a resume treats the
        doc as new — retraction durability across compaction belongs
        to the delete's key list, which the caller keeps if the corpus
        will be re-fed.  A corpus-scale shuffle rather than a metadata
        filter — the price of partition evolution mid-ingest; the
        parquet scan on the build side is column-pruned to the key."""
        if exact is None:
            exact = self.requires_exact_resume()
        if exact:
            snaps = self.snapshots()
            committed = (
                self._scan_snaps(df.sparkSession, self._data_manifests(snaps))
                if snaps else None
            )
            if committed is None:
                return df
            return df.join(
                committed.select(key_col), on=key_col, how="left_anti"
            )
        done = self.committed_buckets()
        if not done:
            return df
        return df.filter(~F.col("bucket").isin(sorted(done)))

    def _list_data_files(self, data_dir: str) -> list[str]:
        """Relative parquet paths under a freshly-written data dir —
        recorded in the manifest so reads never list storage."""
        return sorted(
            os.path.relpath(os.path.join(root, n), self.path)
            for root, _dirs, names in os.walk(data_dir)
            for n in names
            if n.endswith(".parquet")
        )

    def _new_data_dir(self, snap_n: int) -> str:
        """uuid-suffixed: concurrent writers never share a directory
        (the sequence race is settled at the manifest link; reads use
        the manifest's file list, never the dir name)."""
        return os.path.join(
            self.path, "data", f"snap-{snap_n}-{uuid.uuid4().hex[:8]}"
        )

    def _write_data(self, out: DataFrame, snap_n: int) -> dict:
        """THE data write of every commit: ``out`` partitioned by
        ``bucket`` into a fresh data dir, and the manifest fields it
        produced (``data_dir``, ``data_files``, ``bucket_rows``,
        ``total_rows``, ``file_stats``) from the parquet footers alone
        — no Spark job re-scans the data.  An unreadable footer fails
        the commit (the lineage would be wrong); a stats failure only
        records no bounds.  A write that got no rows leaves no dir and
        records no ``data_dir``."""
        import pyarrow.parquet as pq

        data_dir = self._new_data_dir(snap_n)
        out.write.partitionBy("bucket").mode("overwrite").parquet(data_dir)
        data_files = self._list_data_files(data_dir)
        footers = {
            rel: pq.read_metadata(os.path.join(self.path, rel))
            for rel in data_files
        }
        bucket_rows: dict[str, int] = {}
        for rel, md in footers.items():
            b = str(self._file_bucket(rel))
            bucket_rows[b] = bucket_rows.get(b, 0) + md.num_rows
        try:
            file_stats = self._collect_file_stats(footers)
        except Exception:  # an optimization: never fails a commit
            file_stats = {}
        fields = {
            "data_files": data_files,
            "bucket_rows": bucket_rows,
            "total_rows": int(sum(bucket_rows.values())),
            "file_stats": file_stats,
        }
        if data_files:
            fields["data_dir"] = data_dir
        else:
            shutil.rmtree(data_dir, ignore_errors=True)
        return fields

    def _write_delete_keys(
        self, keys: DataFrame, key_col: str, snap_n: int
    ) -> dict | None:
        """THE equality-delete write (commit_delete and merge): the
        distinct ``key_col`` values of ``keys``, cast to the column's
        recorded type, into a fresh ``-deletes`` dir, and the manifest
        fields recording them, counted from the parquet footers — or
        None, with the dir removed, when there are no keys."""
        import pyarrow.parquet as pq

        delete_dir = self._new_data_dir(snap_n) + "-deletes"
        keys.select(
            F.col(key_col).cast(self._column_type(key_col)).alias(key_col)
        ).distinct().write.mode("overwrite").parquet(delete_dir)
        files = self._list_data_files(delete_dir)
        n = sum(pq.read_metadata(os.path.join(self.path, f)).num_rows for f in files)
        if n == 0:
            shutil.rmtree(delete_dir, ignore_errors=True)
            return None
        return {"delete_key": key_col, "delete_files": files, "delete_count": n}

    def _new_manifest(self, parent: dict | None, **fields) -> dict:
        """A manifest for the commit after ``parent`` (None: the
        table's first): next sequence, fresh snapshot id, parent link,
        no data or delete files, the parent's layout, and the current
        schema id — then the commit's own ``fields``, which override
        any of these."""
        manifest = {
            "sequence": parent["sequence"] + 1 if parent else 0,
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": parent["snapshot_id"] if parent else None,
            "data_files": [],
            "bucket_rows": {},
            "total_rows": 0,
            "partitioning": (parent or {}).get("partitioning"),
            **fields,
        }
        if "schema_id" not in manifest:
            manifest["schema_id"] = self._committed_schemas()[-1]["schema_id"]
        return manifest

    def _collect_file_stats(self, footers: dict) -> dict:
        """Per-file ``{column: [min, max]}`` bounds for scalar columns,
        from the parquet footers (``{rel: FileMetaData}``) the write
        just produced.  On a real cluster this bookkeeping belongs in
        the commit tasks, exactly as Iceberg writers record it during
        the write; the manifest format is the same either way.

        Safety rules (pruning must only ever be a superset):
        - a column missing min/max in ANY row group records no bounds;
        - non-JSON-orderable types (timestamps, decimals, raw binary)
          record no bounds;
        - float NaN bounds record no bounds (NaN comparisons would
          wrongly prune);
        - string bounds longer than _STATS_MAX_STR drop that side
          (recording a truncated max would wrongly prune rows above
          the truncation point — Iceberg solves this with
          truncate-and-increment; dropping the bound is the simple
          safe choice)."""
        out: dict[str, dict] = {}
        for rel, md in footers.items():
            mins: dict = {}
            maxs: dict = {}
            bad: set = set()
            seen: set = set()
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    if "." in name:  # nested field — skip
                        bad.add(name)
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        bad.add(name)
                        continue
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except UnicodeDecodeError:
                            bad.add(name)
                            continue
                    if not isinstance(mn, (int, float, str)) or isinstance(
                        mn, bool
                    ):
                        bad.add(name)
                        continue
                    if isinstance(mn, float) and (mn != mn or mx != mx):
                        bad.add(name)
                        continue
                    seen.add(name)
                    mins[name] = mn if name not in mins else min(mins[name], mn)
                    maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            stats = {}
            for name in seen - bad:
                mn, mx = mins[name], maxs[name]
                if isinstance(mn, str) and len(mn) > _STATS_MAX_STR:
                    mn = None
                if isinstance(mx, str) and len(mx) > _STATS_MAX_STR:
                    mx = None
                if mn is not None or mx is not None:
                    stats[name] = [mn, mx]
            if stats:
                out[rel] = stats
        return out

    # ---- commit protocol (optimistic concurrency) ----------------------------
    def _commit_manifest(
        self, manifest: dict, require_parent: bool = False
    ) -> dict | None:
        """Publish a manifest with Iceberg-style optimistic
        concurrency.  The manifest is linked to its sequence-numbered
        name by :func:`_link_json`, so exactly one writer wins each
        sequence and readers can never observe a partial manifest.  A
        loser re-reads the tip, re-parents, and retries at the next
        sequence (data dirs are uuid-suffixed, so concurrent writers
        never clobber each other's files either).

        ``require_parent=True`` (compaction, rewrite): the manifest is
        only valid for the exact history it folded — if ANY snapshot
        committed after it was computed, publishing would supersede
        data it never read, so the commit aborts (returns None)
        instead of retrying, and drops the manifest's ``data_dir``,
        which nothing can reference now (under contention with
        auto_compact each aborted attempt would otherwise leak a
        full-table-sized directory).  On object stores without link
        semantics the swap belongs to a real catalog; this protocol is the
        single-filesystem seam for it (same as Iceberg's
        HadoopTableOperations vs catalog-based commits)."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        expected_parent = manifest.get("parent_id")
        seq = manifest["sequence"]
        while True:
            tip = self.current_snapshot()
            tip_id = tip["snapshot_id"] if tip else None
            if require_parent and tip_id != expected_parent:
                if manifest.get("data_dir"):
                    shutil.rmtree(manifest["data_dir"], ignore_errors=True)
                return None  # history advanced under a compaction
            if not require_parent:
                manifest["parent_id"] = tip_id
                if tip is not None:
                    seq = max(seq, tip["sequence"] + 1)
            manifest["sequence"] = seq
            target = os.path.join(self.manifest_dir, f"snap-{seq:06d}.json")
            if _link_json(target, manifest):
                return manifest
            seq += 1

    # ---- maintenance ---------------------------------------------------------
    @staticmethod
    def _zorder_expr(df: DataFrame, cols: list[str]):
        """Interleaved-bit (Morton) z-value over numeric columns — the
        clustering key of an Iceberg ``rewrite_data_files`` z-order.
        Each column is mapped to a fixed-width code by min/max
        normalization (ONE column-pruned agg pass; nulls sort low,
        clamped at the edges so out-of-sample values can never corrupt
        the code), then the codes' bits are interleaved
        least-significant-first.  Entirely JVM-side expressions
        (shift/and/or inside whole-stage codegen) — no Python touches
        a row.  Bit width shrinks with column count so the interleave
        never reaches the bigint sign bit (which would invert the
        range order).

        Min/max (not quantile) normalization keeps the transform
        monotone per column — required for the pruning guarantee —
        at the cost of selectivity under heavy skew; for skewed
        columns, prefer single-column ``sort_within_buckets``."""
        numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
        types = dict(df.dtypes)
        for c in cols:
            if c not in types:
                raise ValueError(f"zorder column {c!r} not in {sorted(types)}")
            if types[c] not in numeric:
                raise ValueError(
                    f"zorder column {c!r} has type {types[c]} — z-ordering "
                    "needs a numeric column (min/max normalization must be "
                    "order-preserving); cast timestamps/dates to long first"
                )
        k = len(cols)
        bits = min(16, 62 // k)
        top = (1 << bits) - 1
        stats = df.agg(
            *[F.min(c).cast("double").alias(f"mn_{i}") for i, c in enumerate(cols)],
            *[F.max(c).cast("double").alias(f"mx_{i}") for i, c in enumerate(cols)],
        ).first()
        z = F.lit(0).cast("bigint")
        for j, c in enumerate(cols):
            mn, mx = stats[f"mn_{j}"], stats[f"mx_{j}"]
            if mn is None or mx is None or mx <= mn:
                continue  # constant or all-null column: contributes 0
            norm = (
                F.coalesce(F.col(c).cast("double"), F.lit(mn)) - F.lit(mn)
            ) / F.lit(mx - mn)
            code = F.least(
                F.lit(top),
                F.greatest(F.lit(0), F.floor(norm * top)),
            ).cast("bigint")
            for i in range(bits):
                bit = F.shiftright(code, i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
        return z

    def _clustered_for_write(
        self,
        spark,
        full: DataFrame,
        sort_within_buckets: list[str] | None,
        zorder: list[str] | None,
    ) -> DataFrame:
        """The rewrite-job clustering step shared by :meth:`compact`
        and :meth:`rewrite`.

        ``zorder``: multi-dimension re-cluster (Iceberg
        rewrite_data_files with a z-order) — a single-column sort
        makes files skippable on THAT column only; interleaving the
        bits of k normalized columns gives every file a tight
        hyper-box in k-space, so min/max pruning skips on ANY of them.

        ``sort_within_buckets``: single-dimension re-cluster (sort
        order rewrite) — unsorted ingest interleaves the whole value
        range into every file, so read(prune=...) keeps everything; a
        plain one-file-per-bucket rewrite can't help (sorting INSIDE
        one file never changes its min/max), so the rewrite
        RANGE-partitions on (bucket, sort cols) and each output file
        covers one tight contiguous slice.

        Both branches use an EXPLICIT partition count: an un-sized
        range repartition is AQE-coalescible (small inputs collapse to
        one file and the clustering silently evaporates);
        shuffle-partitions is the session's statement of intended
        write parallelism.  The Bloom key index sidecar goes stale
        after any rewrite (old file names) — stale entries are inert
        (unindexed files are never pruned); re-run index_keys to
        restore point-lookup skips."""
        if zorder:
            zv = self._zorder_expr(full, zorder)
            n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            return (
                full.withColumn("__zv", zv)
                .repartitionByRange(n_parts, F.col("bucket"), F.col("__zv"))
                .sortWithinPartitions("bucket", "__zv")
                .drop("__zv")
            )
        if sort_within_buckets:
            cols = [F.col("bucket")] + [F.col(c) for c in sort_within_buckets]
            n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            return full.repartitionByRange(
                n_parts, *cols
            ).sortWithinPartitions(*cols)
        return full.repartition("bucket")

    def compact(
        self,
        spark,
        rebucket_to: int | None = None,
        key_col: str = "doc_id",
        sort_within_buckets: list[str] | None = None,
        zorder: list[str] | None = None,
    ) -> dict | None:
        """Rewrite all committed snapshots into one (the analogue of
        Iceberg's ``rewrite_data_files`` + snapshot expiry).

        Compaction bounds manifest count and file count (many small
        appends → one file per bucket).  The new snapshot's manifest is
        written BEFORE the old manifests are removed, and
        ``snapshots()`` treats a ``compacted`` manifest as superseding
        every lower sequence — so a crash at ANY point (including
        between the manifest write and the removes) leaves a readable,
        duplicate-free table; committed_buckets/partitioning are
        preserved.  Old data dirs are left in place, never referenced.
        The rows go through :meth:`_write_data` like every commit's; a
        table with no live rows compacts to a manifest with no files
        and no ``data_dir`` (no empty dir is left behind), and an
        aborted commit drops the dir it wrote (:meth:`_commit_manifest`).

        ``rebucket_to`` is partition-spec EVOLUTION (Iceberg's
        ``replace_partition_field``, applied as a full rewrite): every
        row's lineage bucket is recomputed as
        ``pmod(xxhash64(key_col), rebucket_to)`` and the new layout is
        recorded, so a table created for an N-core cluster can be
        re-laid-out for 4N (the north rule's cluster growth).  Two
        contracts change:

        - future appends via ``run_extraction_job`` salt into the NEW
          ``n_buckets`` (the recorded layout is authoritative) with the
          same ``pipeline.with_salt_bucket`` formula as the rewritten
          rows;
        - the manifest carries a sticky ``rebucketed`` flag and resume
          switches from bucket-level skip-if-done to the doc-exact
          anti-join (see :meth:`requires_exact_resume` for why the
          bucket shortcut would silently drop pending docs).

        ``sort_within_buckets`` re-clusters on ONE dimension;
        ``zorder`` (mutually exclusive) interleaves the bits of
        several numeric columns (:meth:`_zorder_expr`) so min/max
        file stats prune on ANY of them — the multi-predicate
        workload's layout (Iceberg's z-order rewrite).
        """
        if zorder and sort_within_buckets:
            raise ValueError(
                "pass either sort_within_buckets (single-dimension "
                "clustering) or zorder (multi-dimension), not both"
            )
        snaps = self.snapshots()
        if (
            len(snaps) <= 1
            and rebucket_to is None
            and not sort_within_buckets
            and not zorder
        ):
            return None  # nothing to fold and no re-layout requested
        full = self.read(spark)
        layout = self.partitioning()
        if rebucket_to is not None:
            if key_col not in full.columns:
                raise ValueError(
                    f"rebucket_to needs key column {key_col!r}; table has "
                    f"{full.columns}"
                )
            from ..pipeline import with_salt_bucket

            full = with_salt_bucket(full, int(rebucket_to), key_col)
            layout = {
                **(layout or {}),
                "n_buckets": int(rebucket_to),
                "rebucketed": True,
            }
        parent = snaps[-1]
        snap_n = parent["sequence"] + 1
        # a fully-deleted table compacts to ZERO data files: still
        # publish the compacted manifest — it supersedes the history,
        # expiring both the old data and the now-folded delete files
        data = self._write_data(
            self._clustered_for_write(spark, full, sort_within_buckets, zorder),
            snap_n,
        )
        # job-level metrics are additive counters (docs parsed, spans
        # emitted, malformed fallbacks): key-wise sum the folded
        # snapshots' metrics so compaction never destroys them.
        # stream_batch_id is an IDENTITY, not a counter — summing it
        # would both erase the replay records and fabricate a future
        # batch id (review r5 #3: merged 0+1+2=3 would silently drop
        # real batch 3); fold ids into a stream_batch_ids list instead
        merged_metrics: dict = {}
        stream_ids: set = set()
        for s in snaps:
            for k, v in (s.get("metrics") or {}).items():
                if k == "stream_batch_id":
                    stream_ids.add(v)
                elif k == "stream_batch_ids":
                    stream_ids.update(v)
                elif isinstance(v, (int, float)) and not isinstance(v, bool):
                    merged_metrics[k] = merged_metrics.get(k, 0) + v
        if stream_ids:
            merged_metrics["stream_batch_ids"] = sorted(stream_ids)
        # rows rewritten through read() carry the CURRENT schema
        manifest = self._new_manifest(
            parent,
            **data,
            metrics={**merged_metrics, "compacted_snapshots": len(snaps)},
            partitioning=layout,
            compacted=True,
        )
        # require_parent: a compacted manifest supersedes everything
        # below its sequence, so it is only valid for the EXACT
        # history it folded — if any append won a sequence in the
        # meantime, publishing would shadow data this rewrite never
        # read.  Abort instead (the commit drops the rewrite dir).
        if self._commit_manifest(manifest, require_parent=True) is None:
            return None
        # the new manifest is durable; superseded manifests can go —
        # except tag-PINNED ones (a tagged release needs its full
        # manifest chain to stay resolvable; see the tags section).
        # Cut tags BEFORE compacting — a tag racing this removal loop
        # from another process can lose; tags and maintenance belong
        # to the same operational actor, like Iceberg's ref updates
        # going through the catalog.
        pinned = {s["sequence"] for s in self._pinned_manifests()}
        # remove every superseded ON-DISK manifest below the compacted
        # sequence, not just the folded live list: snapshots truncated
        # by a rollback are invisible to the view but their files (and
        # crash leftovers of an earlier removal loop) would otherwise
        # linger forever — after this commit, everything below snap_n
        # is superseded by construction
        for name in os.listdir(self.manifest_dir):
            s_old = self._name_seq(name, "snap-")
            if s_old is None or s_old >= snap_n or s_old in pinned:
                continue
            with suppress(FileNotFoundError):
                os.remove(os.path.join(self.manifest_dir, name))
        return manifest

    def rewrite(
        self,
        spark,
        buckets,
        sort_within_buckets: list[str] | None = None,
        zorder: list[str] | None = None,
    ) -> dict | None:
        """PARTIAL compaction (Iceberg ``rewrite_data_files`` with a
        filter): rewrite only the chosen lineage buckets — folding
        their small files and their share of the equality deletes —
        while every other bucket's files stay untouched.  At 100 TB
        this is the only maintenance that works: a full :meth:`compact`
        rewrites the corpus to fold one hot bucket's fragmentation.

        Mechanism: one ``rewrite`` manifest carries the new files PLUS
        ``replaces`` (the exact live files it supersedes).  The read
        path drops a file iff a NEWER rewrite among the snapshots being
        read replaced it (:meth:`_replaced_map`), so:

        - reads at/after the rewrite see the new files; time travel
          BELOW it sees the originals (their manifests stay active);
        - a rollback that truncates the rewrite restores the originals
          for free (the drop map is computed per read);
        - :meth:`read_incremental` and :meth:`read_changes` SKIP
          rewrite manifests — maintenance is not a logical change
          (Iceberg's incremental scan skips replace snapshots), and
          CDC keeps attributing rows to their logically-inserting
          snapshot by scanning the original manifests unfiltered;
        - rewritten rows carry the rewrite's sequence, so the active
          deletes folded into them (all at lower sequences) stop
          applying exactly when they became redundant; deletes
          committed AFTER the rewrite apply normally;
        - original files stay on disk referenced by their manifests
          (time travel) until a full compact() supersedes the history
          and vacuum() reclaims them — Iceberg's expire-then-clean
          contract.

        Granularity is whole buckets: per-manifest bucket_rows
        counters stay attributable (see :meth:`partitions_summary`).
        Commits with ``require_parent`` — a concurrent DELETE between
        the rewrite's read and its commit would be silently folded-out
        for the rewritten rows, so any history advance aborts (returns
        None), same contract as compact().

        The rows go through :meth:`_write_data`; buckets with no live
        rows left commit a manifest with no files and no ``data_dir``.

        Returns the committed manifest, or None when the buckets have
        no live files or the commit lost the race."""
        if zorder and sort_within_buckets:
            raise ValueError(
                "pass either sort_within_buckets or zorder, not both"
            )
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(
                f"icelite table {self.path} has no snapshots"
            )
        buckets = {int(b) for b in buckets}
        if not buckets:
            raise ValueError("rewrite needs at least one bucket")
        drop = self._replaced_map(snaps)
        replaced = sorted({
            os.path.relpath(f, self.path)
            for s in self._data_manifests(snaps)
            for f in self._live_files(s, drop)
            if self._file_bucket(os.path.relpath(f, self.path)) in buckets
        })
        if not replaced:
            return None  # nothing live in those buckets
        full = self.read(spark, buckets=buckets)  # deletes folded
        parent = snaps[-1]
        # every row of the chosen buckets deleted: a zero-file rewrite
        # still folds the dead files out of the read
        data = self._write_data(
            self._clustered_for_write(spark, full, sort_within_buckets, zorder),
            parent["sequence"] + 1,
        )
        manifest = self._new_manifest(
            parent,
            **data,
            replaces=replaced,
            rewrites_buckets=sorted(buckets),
            metrics={"rewritten_files": len(replaced)},
        )
        return self._commit_manifest(manifest, require_parent=True)

    def vacuum(
        self, grace_sec: float = 72 * 3600, now: float | None = None
    ) -> dict:
        """Reclaim ORPHAN data directories (Iceberg's
        ``remove_orphan_files``).  compact() deliberately leaves
        superseded data dirs on disk ("never referenced" — crash
        safety), and a crashed writer or compactor can leak a dir that
        no manifest ever came to reference; on a years-lived 100-TB
        table those orphans are the dominant storage cost.

        A ``data/`` subdirectory is removed iff BOTH:

        - no active manifest references it (via ``data_dir``,
          ``data_files`` or ``delete_files`` — the manifest is truth,
          exactly like the read path), and
        - its newest mtime is older than ``grace_sec`` (default 72 h,
          Iceberg's ``older_than`` convention).  Writers create their
          data dir BEFORE linking the manifest, so without the grace
          window vacuum would race an in-flight commit and delete data
          whose manifest is milliseconds away.  The grace window is
          the entire safety argument — callers passing ``0`` must know
          no writer is live.

        Metadata-only (no Spark session).  Returns a report dict;
        ``removed``/``kept_recent`` list directory names relative to
        ``data/``.  ``now`` is injectable for tests."""
        data_root = os.path.join(self.path, "data")
        report = {"removed": [], "kept_recent": [], "referenced": 0}
        if not os.path.isdir(data_root):
            return report
        referenced: set[str] = set()
        # tag-pinned manifests (below a compaction floor but kept
        # alive by a release tag) reference data dirs too, and so do
        # live branches' staged commits — vacuum must treat both as
        # live
        for s in (
            self.snapshots()
            + self._pinned_manifests()
            + self._branch_manifests()
        ):
            dd = s.get("data_dir")
            if dd:
                referenced.add(os.path.basename(os.path.normpath(dd)))
            for rel in (s.get("data_files") or []) + (
                s.get("delete_files") or []
            ):
                parts = os.path.normpath(rel).split(os.sep)
                if len(parts) >= 2 and parts[0] == "data":
                    referenced.add(parts[1])
        report["referenced"] = len(referenced)
        t_now = time.time() if now is None else now
        for name in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, name)
            if name in referenced or not os.path.isdir(full):
                continue
            try:
                newest = os.path.getmtime(full)
            except FileNotFoundError:
                # a concurrent vacuum already reclaimed it between our
                # listdir and here — nothing left to do for this dir
                continue
            for root, _dirs, names in os.walk(full):
                for n in names:
                    try:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(root, n))
                        )
                    except FileNotFoundError:
                        # the dir IS an in-flight write — leave it
                        newest = t_now
            if t_now - newest < grace_sec:
                report["kept_recent"].append(name)
                continue
            shutil.rmtree(full, ignore_errors=True)
            report["removed"].append(name)
        return report

    # ---- per-file key Bloom index (round 6) ----------------------------------
    #
    # Point lookups (`doc_id IN (...)`) are the one access pattern
    # min/max file stats cannot prune: high-cardinality ids interleave
    # across every file, so each file's [lo, hi] spans the whole key
    # space and nothing skips.  A small per-FILE Bloom filter over the
    # key column (Iceberg's puffin blobs / Delta's bloom index) turns a
    # takedown audit on a 10^12-doc table from a corpus scan into a
    # read of the handful of files whose bitmap might contain the key.

    def _key_index_paths(self, col: str) -> tuple[str, str]:
        return (
            os.path.join(self.manifest_dir, f"bloomidx-{col}.json"),
            os.path.join(self.manifest_dir, f"bloomidx-{col}"),
        )

    def index_keys(
        self, spark, col: str = "doc_id", n_bits: int = 1 << 17, k: int = 5
    ) -> dict:
        """Build or INCREMENTALLY refresh the per-file Bloom index over
        ``col``: one bitmap per data file (default 16 KB — size
        ``n_bits ≈ 10×`` the max rows per file for ~1% false
        positives), built distributed in one pass over the not-yet-
        indexed files (:func:`bloom.hash_pair` per row, bitmaps
        assembled per file by :func:`bloom.add` in ``applyInPandas`` —
        only (file, 16 KB) rows ever reach the sidecar).  The sidecar is parquet under
        ``_icelite/bloomidx-<col>/`` plus a params json; re-running
        after new commits indexes ONLY the new snapshots' files.

        Pruning stays a SUPERSET guarantee by construction: a file
        absent from the index (not yet refreshed, or written under a
        later rename) is always kept, and Bloom filters have no false
        negatives.  After renaming ``col`` itself, build a fresh index
        under the new name (the old sidecar keys no files the renamed
        read asks about — stale entries are inert, never wrong).

        Returns ``{"indexed_files": new, "total_files": all}``."""
        meta_path, idx_dir = self._key_index_paths(col)
        m, kk = bloom.round_bits(n_bits), int(k)
        # Params must be durable BEFORE any bitmap lands in the
        # sidecar: bitmaps appended under one m but probed under
        # another (crash between append and a late meta write, or two
        # concurrent first builds with different n_bits) would break
        # the Bloom no-false-negative guarantee — the probe side would
        # PRUNE files that contain the key.  Create-exclusive
        # (_link_json, the manifest-commit arbitration): the loser
        # adopts the winner's params before building anything.  Crash
        # after the meta write is harmless — an empty index keeps
        # every file unindexed-kept.
        if os.path.exists(meta_path) or not _link_json(
            meta_path, {"col": col, "n_bits": m, "k": kk}
        ):
            with open(meta_path) as f:
                meta = json.load(f)
            m, kk = meta["n_bits"], meta["k"]  # params fixed at creation
        live = self.snapshots()
        # replacement map over the FULL live chain: files a rewrite()
        # superseded are dead — enumerating them here would list them
        # as "missing" while the scan (same drop rule) never reads
        # them, so every refresh would re-scan those snapshots forever
        drop = self._replaced_map(live)
        snaps = self._data_manifests(live)
        done: set[str] = set()
        if _parquet_dir_readable(idx_dir):
            done = {
                r["f"]
                for r in _read_files(spark, [idx_dir], _SIDECAR_FIELDS)
                .select("f").collect()
            }
        files = [f for s in snaps for f in self._live_files(s, drop)]
        # scan only the files without a bitmap, so the sidecar never
        # holds two bitmaps for one file
        missing = {_index_file_key(f) for f in files} - done
        if not missing:
            return {"indexed_files": 0, "total_files": len(files)}
        scan = self._scan_snaps(
            spark, snaps, drop=drop,
            file_filter=lambda f: _index_file_key(f) in missing,
        )
        hashes = scan.select(
            *bloom.hash_pair(F.col(col)),
            F.regexp_extract(
                F.input_file_name(), r"([^/]+/[^/]+/[^/]+)$", 1
            ).alias("f"),
        )

        def _group_bitmap(key, pdf):
            import numpy as np
            import pandas as pd

            bits = np.zeros(m // 8, dtype=np.uint8)
            bloom.add(bits, pdf["h1"], pdf["h2"], kk)
            return pd.DataFrame({"f": [key[0]], "bm": [bits.tobytes()]})

        hashes.groupBy("f").applyInPandas(
            _group_bitmap, _ddl(_SIDECAR_FIELDS)
        ).write.mode("append").parquet(idx_dir)
        return {"indexed_files": len(missing), "total_files": len(files)}

    def _bloom_file_filter(self, spark, prune):
        """Planning-time file filter for ``(col, "in", v1, ...)``
        predicates backed by a key index — None when no such
        predicate/index pair exists.  The probe is one Spark job per
        indexed column: the sidecar read with its fixed schema, the
        literal values hashed in the same plan by the build's JVM
        :func:`bloom.hash_pair` (cast to the column's recorded type:
        xxhash64 of an int32 and an int64 differ), and the bitmaps
        probed in the executors.  Unindexed files always pass, and so
        does every file for a column the current schema lacks."""
        preds = [
            p for p in (prune or [])
            if p[1] == "in" and os.path.exists(self._key_index_paths(p[0])[0])
        ]
        if not preds:
            return None
        col_types = {
            f["name"]: f["type"]
            for f in self._committed_schemas()[-1]["fields"]
        }
        checks = []
        for col, _op, *vals in preds:
            meta_path, idx_dir = self._key_index_paths(col)
            # index_keys links the params meta before it appends the
            # first bitmap, so a first build in flight (or one that
            # crashed in between) leaves idx_dir missing or holding
            # only _temporary droppings: keep every file then, as for
            # any unindexed one, instead of reading an empty listing
            if col not in col_types or not _parquet_dir_readable(idx_dir):
                continue
            with open(meta_path) as f:
                kk = json.load(f)["k"]
            pairs = [
                bloom.hash_pair(F.lit(v).cast(col_types[col])) for v in vals
            ]
            probe = _read_files(spark, [idx_dir], _SIDECAR_FIELDS).select(
                "f",
                "bm",
                F.array(*(h1 for h1, _ in pairs)).alias("h1"),
                F.array(*(h2 for _, h2 in pairs)).alias("h2"),
            )

            # Probe the bitmaps IN THE EXECUTORS and collect only one
            # boolean per file: collecting the sidecar itself would
            # pull O(n_files × bitmap_bytes) to the driver on every
            # point-lookup read (1.6 GB at 100k files × 16 KB) — the
            # bitmaps never need to leave the cluster.
            def _might_batch(it, _kk=kk):
                import pandas as pd

                for pdf in it:
                    might = [
                        bool(bloom.might_contain(bm, h1, h2, _kk).any())
                        for bm, h1, h2 in zip(pdf["bm"], pdf["h1"], pdf["h2"])
                    ]
                    yield pd.DataFrame({"f": pdf["f"], "might": might})

            checks.append({
                r["f"]: r["might"]
                for r in probe.mapInPandas(
                    _might_batch, "f string, might boolean"
                ).collect()
            })

        if not checks:
            return None  # every candidate index was mid-build/crashed

        def keep(path: str) -> bool:
            suffix = _index_file_key(path)
            for flags in checks:
                might = flags.get(suffix)
                if might is None:
                    continue  # unindexed file: never prune
                if not might:
                    return False
            return True

        return keep

    # ---- row-level deletes (VERDICT r5 #1) -----------------------------------
    def commit_delete(
        self,
        keys: DataFrame,
        key_col: str = "doc_id",
        metrics: dict | None = None,
    ) -> dict | None:
        """Commit an EQUALITY-DELETE snapshot: every committed row at a
        STRICTLY LOWER sequence whose ``key_col`` value appears in
        ``keys`` is excluded from subsequent reads, from time travel
        at-or-after this snapshot, and from incremental scans; a later
        re-append of the same key survives (Iceberg's sequence-number
        rule).  ``compact()`` folds active deletes into rewritten data
        files, after which the delete file is expired with the
        superseded history.

        This is how PII takedowns and post-hoc dedup of an
        already-ingested corpus (the doc/passage sets that
        dedup.remove_duplicated_passages and minhash clustering
        produce) retract rows WITHOUT rewriting a 100-TB table.
        Reference anchor: B8's resume bookkeeping
        (compute_aggregate_stats.py:37-39) generalized to retraction.

        Returns the committed manifest, or None when ``keys`` is empty
        (no snapshot is written)."""
        parent = self.current_snapshot()
        if parent is None:
            raise FileNotFoundError(
                f"icelite table {self.path} has no snapshots to delete from"
            )
        schema = self._committed_schemas()[-1]
        if key_col not in {f["name"] for f in schema["fields"]}:
            raise KeyError(
                f"icelite table {self.path}: delete key {key_col!r} is not "
                "a column of the current table schema"
            )
        deletes = self._write_delete_keys(
            keys, key_col, parent["sequence"] + 1
        )
        if deletes is None:
            return None
        return self._commit_manifest(self._new_manifest(
            parent,
            **deletes,
            metrics={**(metrics or {}), "deleted_keys": deletes["delete_count"]},
            schema_id=schema["schema_id"],
        ))

    def merge(
        self, df: DataFrame, key_col: str = "doc_id", **kwargs
    ) -> dict | None:
        """Atomic upsert (Iceberg ``MERGE INTO`` row-delta semantics):
        ONE manifest carries both an equality delete of ``df``'s
        ``key_col`` values — which applies only to strictly-lower
        sequences, so the new rows themselves survive — and ``df`` as
        new data files.  Readers observe retraction and replacement
        together or not at all; keys absent from the table are plain
        inserts.  Accepts commit_append's keyword arguments."""
        return self.commit_append(df, delete_key=key_col, **kwargs)

    # ---- write / commit ----------------------------------------------------
    def commit_append(
        self,
        df: DataFrame,
        metrics: dict | None = None,
        metrics_provider=None,
        partitioning: dict | None = None,
        compact: bool = True,
        auto_compact_every: int | None = None,
        auto_checkpoint_every: int | None = None,
        delete_key: str | None = None,
        sort_within_buckets: list[str] | None = None,
    ) -> dict | None:
        """Write ``df`` partitioned by its ``bucket`` column (the
        table's only partition column) through :meth:`_write_data` and
        commit a snapshot manifest recording per-bucket lineage row
        counts (and the bucket layout, see :meth:`partitioning`).
        Empty input commits nothing and returns None.

        ``compact=True`` repartitions on ``bucket`` first: a
        partitionBy write from K upstream tasks otherwise emits up to
        K files PER bucket — the classic small-files problem (64 tasks
        × 1088 buckets ≈ 70k files per commit at production layout).
        The extra shuffle happens after the expensive compute and
        yields exactly one file per non-empty bucket.

        ``delete_key`` makes the commit a :meth:`merge`: the equality
        delete's keys are read back from the data files just written,
        so ``df``'s plan runs once.

        ``auto_compact_every=N`` folds the table down to one snapshot
        whenever the active-snapshot count reaches N after this commit
        — bounds manifest/file growth for long incremental jobs
        without a separate maintenance job.

        ``auto_checkpoint_every=N`` instead folds only METADATA: when
        N or more manifests sit above the newest checkpoint after
        this commit, :meth:`checkpoint` runs — snapshots() stays
        O(tail) for commit-heavy ingest (streaming sinks) without the
        data rewrite a compact implies.

        Both auto-maintenance kwargs are refused UP FRONT on a WAP
        branch (maintenance belongs to main — publish first): the
        refusal must come before the commit is durable, not as a
        NotImplementedError after it, which would kill a foreachBatch
        sink for a commit that actually succeeded."""
        if (auto_compact_every or auto_checkpoint_every) and not self._can_maintain:
            raise ValueError(
                f"icelite branch {self.path}: auto_compact_every / "
                "auto_checkpoint_every are main-only maintenance — "
                "publish the branch first, or commit without them"
            )
        parent = self.current_snapshot()

        # schema tracking: first non-empty commit registers schema v0
        # from the frame; later commits must match the CURRENT schema
        # exactly — names AND types (a new column requires an explicit
        # evolve() first; the append is refused at the write instead
        # of corrupting reads far from the cause)
        schema = self.current_schema()
        if schema is not None:
            self._validate_append_schema(df, schema)
        if delete_key is not None and delete_key not in df.columns:
            raise KeyError(
                f"icelite table {self.path}: merge key {delete_key!r} is "
                "not a column of the incoming frame"
            )

        out = df.repartition("bucket") if compact else df
        if sort_within_buckets:
            # Iceberg's write.sort-order: clustering rows inside each
            # file keeps the recorded min/max ranges TIGHT, which is
            # what makes read(prune=...) skip files instead of keeping
            # everything (unsorted commits interleave the whole value
            # range into every file).  sortWithinPartitions: no extra
            # exchange — the sort rides the compaction shuffle's
            # partitions.  Multi-file-per-bucket layouts benefit most;
            # the one-file-per-bucket default still gains row-group-
            # level locality.
            out = out.sortWithinPartitions(*sort_within_buckets)
        # empty input (e.g. resume with nothing pending) writes no
        # data files — no snapshot
        data = self._write_data(out, parent["sequence"] + 1 if parent else 0)
        if not data["data_files"]:
            return None

        if schema is None:
            # register v0 only now that the commit is known non-empty:
            # an empty first append (day-1 corpus filtered to nothing)
            # must not pin the table schema from a throwaway frame.
            # _write_schema arbitrates concurrent first commits — a
            # loser gets the WINNER's v0 back and must re-validate
            # against it (both writers skipped validation above); on
            # mismatch, drop our never-referenced data dir and refuse
            schema = self._write_schema(self._schema_from_df(df))
            try:
                self._validate_append_schema(df, schema)
            except ValueError:
                shutil.rmtree(data["data_dir"], ignore_errors=True)
                raise

        if metrics_provider is not None:
            # e.g. an Observation: resolvable only after the write
            # action above has completed
            metrics = {**(metrics or {}), **metrics_provider()}

        manifest = self._new_manifest(
            parent, **data, metrics=metrics or {}, schema_id=schema["schema_id"]
        )
        if partitioning:
            manifest["partitioning"] = partitioning
        if delete_key is not None:
            # MERGE (see merge()): retract this frame's keys from all
            # strictly-lower sequences in the SAME manifest as the new
            # data files — atomic upsert, no reader can observe the
            # retraction without the replacement.  The keys come from
            # the files just written, not from a second run of df.
            written = _read_files(
                df.sparkSession,
                [os.path.join(self.path, f) for f in data["data_files"]],
                schema["fields"],
            )
            manifest.update(
                self._write_delete_keys(written, delete_key, manifest["sequence"])
            )
        manifest = self._commit_manifest(manifest)
        if auto_compact_every and len(self.snapshots()) >= auto_compact_every:
            compacted = self.compact(df.sparkSession)
            if compacted is not None:
                # return the APPEND manifest: callers read their own
                # commit's metrics from the return value (the job
                # report would otherwise show compaction bookkeeping
                # instead of the run's parse/malformed counters); the
                # durable table state is the compacted snapshot.
                manifest["compaction"] = compacted["snapshot_id"]
        if auto_checkpoint_every:
            names = os.listdir(self.manifest_dir)
            ckpt_seq = max(
                (
                    s for n in names
                    if (s := self._name_seq(n, "ckpt-")) is not None
                ),
                default=-1,
            )
            tail = sum(
                1 for n in names
                if (s := self._name_seq(n, "snap-")) is not None
                and s > ckpt_seq
            )
            if tail >= auto_checkpoint_every:
                self.checkpoint()
        return manifest


class IceliteBranch(IceliteTable):
    """A write-audit-publish STAGING view of an :class:`IceliteTable`
    (Iceberg branch ref): commits land in the branch's own manifest
    namespace while reads see base-history-up-to-the-fork plus the
    branch's commits — main's readers never observe staged data.  The
    base history is pinned by the fork tag (``__branch-<name>``), so
    main may compact/checkpoint/vacuum freely while the branch lives.

    Shares main's data directory (uuid-suffixed dirs never collide)
    and schema space (WAP audits DATA; schema evolution happens on
    main).  Everything riding ``snapshots()`` — read, time travel,
    read_changes, consume_changes, filter_pending, commit_append,
    commit_delete, merge — works on the merged view unchanged.
    Maintenance (compact/checkpoint/vacuum/tags) belongs to main:
    publish first."""

    _can_maintain = False

    def __init__(self, path: str, meta: dict):
        super().__init__(path)
        self.branch_name = meta["name"]
        self.fork_sequence = meta["fork_sequence"]
        self.fork_snapshot_id = meta["fork_snapshot_id"]
        self._main = IceliteTable(path)
        self.manifest_dir = os.path.join(
            self._main.manifest_dir, f"branch-{meta['name']}"
        )
        # schema space stays main's (see class docstring)
        self.schema_dir = self._main.manifest_dir

    def _own_manifests(self) -> list[dict]:
        """The branch's staged commits only (no base history).  A
        published or deleted branch has no namespace left to read."""
        if not os.path.isdir(self.manifest_dir):
            raise FileNotFoundError(
                f"icelite table {self.path}: no branch {self.branch_name!r}"
            )
        return self._load_manifests(tail_only=False)

    def snapshots(self) -> list[dict]:
        # compactions and rollbacks at-or-below the fork are part of
        # the pinned base state; the branch itself cannot roll back
        # (see rollback())
        base = self._live_chain([
            s for s in self._main._all_manifests()
            if s["sequence"] <= self.fork_sequence
        ])
        return base + self._own_manifests()

    def compact(self, *a, **k):
        raise NotImplementedError(
            "compaction belongs to main — publish or discard the branch first"
        )

    def rewrite(self, *a, **k):
        raise NotImplementedError(
            "rewrite (partial compaction) is maintenance and belongs to "
            "main — publish or discard the branch first"
        )

    def checkpoint(self, *a, **k):
        raise NotImplementedError(
            "metadata checkpointing belongs to main's namespace"
        )

    def vacuum(self, *a, **k):
        raise NotImplementedError(
            "vacuum runs on main (it already treats live branches' data "
            "as referenced)"
        )

    def tag(self, *a, **k):
        raise NotImplementedError("tags belong to main — publish first")

    def create_branch(self, *a, **k):
        raise NotImplementedError("branches do not nest")

    def rollback(self, *a, **k):
        raise NotImplementedError(
            "rollback belongs to main — a branch stages NEW commits only; "
            "to drop staged work, delete_branch() and re-stage"
        )
