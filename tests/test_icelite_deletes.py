"""icelite row-level deletes / MERGE (round 6, VERDICT r5 #1) and
file-level column-stats pruning (VERDICT r5 #2).

Equality-delete contract under test (Iceberg sequence-number rule):
a delete at sequence D retracts matching keys from data at sequences
STRICTLY BELOW D — later re-appends of the same key survive; merge()
is atomic (one manifest = delete + replacement); compact() folds
active deletes into rewritten data files.
"""

import pytest
from pyspark.sql import functions as F

from mini_html_parser_spark.plans.icelite import IceliteTable


def _df(spark, lo, hi, n_buckets=4, tag="text"):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(f"{tag}-"), F.col("id")).alias("text"),
        F.pmod(F.col("id"), F.lit(n_buckets)).cast("int").alias("bucket"),
    )


def _keys(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "doc_id bigint")


# ---------------------------------------------------------------------------
# equality deletes
# ---------------------------------------------------------------------------

def test_delete_excluded_from_read_but_not_time_travel(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t"))
    snap0 = t.commit_append(_df(spark, 0, 100))
    d = t.commit_delete(_keys(spark, [5, 17, 23]), key_col="doc_id")
    assert d["delete_count"] == 3 and d["total_rows"] == 0

    back = t.read(spark)
    assert back.count() == 97
    assert back.filter(F.col("doc_id").isin(5, 17, 23)).count() == 0

    # time travel BEFORE the delete still sees the rows
    pre = t.read(spark, as_of_snapshot=snap0["snapshot_id"])
    assert pre.count() == 100
    # time travel AT the delete snapshot applies it
    at = t.read(spark, as_of_snapshot=d["snapshot_id"])
    assert at.count() == 97


def test_reappend_after_delete_survives(spark, tmp_path):
    """The strictly-lower-sequence rule: a delete must not retract a
    LATER re-ingest of the same key (takedown then legitimate
    re-crawl)."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 20))
    t.commit_delete(_keys(spark, [7]), key_col="doc_id")
    t.commit_append(_df(spark, 7, 8, tag="recrawl"))

    rows = t.read(spark).filter(F.col("doc_id") == 7).collect()
    assert len(rows) == 1
    assert rows[0]["text"] == "recrawl-7"


def test_empty_delete_is_noop_and_bad_key_refused(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    before = len(t.snapshots())
    assert t.commit_delete(_keys(spark, []), key_col="doc_id") is None
    assert len(t.snapshots()) == before
    with pytest.raises(KeyError, match="not a column"):
        t.commit_delete(_keys(spark, [1]), key_col="nope")


def test_incremental_scan_respects_window_deletes(spark, tmp_path):
    """Deletes inside the incremental window retract earlier in-window
    rows; deletes of PRE-window rows do not leak rows into the
    window's result."""
    t = IceliteTable(str(tmp_path / "t"))
    a = t.commit_append(_df(spark, 0, 50))          # seq 0 (pre-window)
    t.commit_append(_df(spark, 50, 100))            # seq 1 (in window)
    # seq 2: deletes 3 in-window keys and 2 pre-window keys
    t.commit_delete(_keys(spark, [60, 61, 62, 5, 6]), key_col="doc_id")

    inc = t.read_incremental(spark, after_snapshot=a["snapshot_id"])
    ids = {r["doc_id"] for r in inc.select("doc_id").collect()}
    assert ids == set(range(50, 100)) - {60, 61, 62}

    full = t.read(spark)
    assert full.count() == 100 - 5


def test_merge_upsert_atomic_manifest(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    m = t.merge(_df(spark, 5, 15, tag="v2"), key_col="doc_id")
    # ONE manifest carries both the delete and the new data
    assert m["delete_count"] == 10 and m["total_rows"] == 10

    back = t.read(spark)
    assert back.count() == 15
    rows = {r["doc_id"]: r["text"] for r in back.collect()}
    assert rows[3] == "text-3"          # untouched
    assert rows[7] == "v2-7"            # replaced, exactly once
    assert rows[12] == "v2-12"          # plain insert


def test_merge_evaluates_its_input_plan_once(spark, tmp_path):
    """merge() writes the frame once and reads its delete keys back
    from the data files it just wrote: a Python UDF computing the key
    runs once per input row, not once for the data and again for the
    keys."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    calls = spark.sparkContext.accumulator(0)

    def counted(i):
        calls.add(1)
        return i

    key = F.udf(counted, "bigint")
    src = _df(spark, 5, 15, tag="v2").withColumn("doc_id", key("doc_id"))
    m = t.merge(src, key_col="doc_id")
    assert calls.value == 10
    assert m["delete_count"] == 10 and m["total_rows"] == 10
    rows = {r["doc_id"]: r["text"] for r in t.read(spark).collect()}
    assert len(rows) == 15 and rows[3] == "text-3" and rows[7] == "v2-7"


def test_commit_delete_runs_no_spark_job_after_its_write(
    spark, tmp_path, monkeypatch
):
    """commit_delete counts the keys it wrote from the parquet footers:
    once the key write has run, the commit starts no Spark job (a
    read-back of the delete dir would infer its schema and count)."""
    import uuid

    from pyspark.sql.readwriter import DataFrameWriter

    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    sc = spark.sparkContext
    group = f"after-delete-write-{uuid.uuid4().hex}"
    write = DataFrameWriter.parquet

    def write_then_group(self, *args, **kwargs):
        write(self, *args, **kwargs)
        sc.setJobGroup(group, "jobs after the delete-key write")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_group)
    try:
        d = t.commit_delete(_keys(spark, [3, 4]), key_col="doc_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert d["delete_count"] == 2
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert t.read(spark).count() == 8


def test_compact_folds_deletes(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 100))
    t.commit_delete(_keys(spark, list(range(0, 100, 10))), key_col="doc_id")
    t.merge(_df(spark, 42, 43, tag="v2"), key_col="doc_id")

    folded = t.compact(spark)
    assert folded is not None and folded["compacted"]
    assert not folded.get("delete_files")
    assert len(t.snapshots()) == 1

    back = t.read(spark)
    assert back.count() == 90  # 10 deleted; doc 42 replaced, not added
    rows = {r["doc_id"]: r["text"] for r in back.collect()}
    assert 10 not in rows and rows[42] == "v2-42"
    # the folded table's manifest carries the post-delete row count
    assert folded["total_rows"] == 90


def test_delete_everything_then_compact_leaves_readable_empty_table(
    spark, tmp_path
):
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 20))
    t.commit_delete(_df(spark, 0, 20).select("doc_id"), key_col="doc_id")
    assert t.read(spark).count() == 0

    folded = t.compact(spark)
    assert folded is not None and folded["data_files"] == []
    empty = t.read(spark)
    assert empty.count() == 0
    assert set(empty.columns) == {"doc_id", "text", "bucket"}


def test_delete_survives_schema_evolution(spark, tmp_path):
    """Delete keys recorded before a rename still retract after it
    (the key column's FIELD ID is stable; the delete file stores the
    key values, and reads anti-join on the current name)."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 30))
    t.commit_delete(_keys(spark, [3, 4]), key_col="doc_id")
    t.evolve(add_columns={"lang": "string"})
    assert t.read(spark).count() == 28
    assert (
        t.read(spark).filter(F.col("doc_id").isin(3, 4)).count() == 0
    )


# ---------------------------------------------------------------------------
# file-level column-stats pruning
# ---------------------------------------------------------------------------

def _lang_df(spark, lo, hi):
    """bucket correlates with lang, so each data FILE (one per bucket
    after the compact write) covers exactly one lang value — the shape
    stats pruning exploits."""
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("de"), F.lit("en"), F.lit("fr"), F.lit("ja")),
            (F.pmod(F.col("id"), F.lit(4)) + 1).cast("int"),
        ).alias("lang"),
        (F.col("id") * 10).alias("n_chars"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bucket"),
    )


def test_stats_prune_equality_shrinks_file_list(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t"))
    snap = t.commit_append(_lang_df(spark, 0, 200))
    assert snap["file_stats"], "commit must record file stats"

    full = t.read(spark)
    pruned = t.read(spark, prune=[("lang", "=", "en")])
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert len(pruned.inputFiles()) == 1  # exactly the en bucket's file

    # superset guarantee: pruning + residual filter == plain filter
    want = sorted(
        r["doc_id"]
        for r in full.filter(F.col("lang") == "en").select("doc_id").collect()
    )
    got = sorted(
        r["doc_id"]
        for r in pruned.filter(F.col("lang") == "en").select("doc_id").collect()
    )
    assert got == want and len(got) == 50


def test_stats_prune_numeric_between(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t"))
    # two commits with disjoint n_chars ranges → range predicate keeps
    # only the second commit's files
    t.commit_append(_lang_df(spark, 0, 100))     # n_chars 0..990
    t.commit_append(_lang_df(spark, 100, 200))   # n_chars 1000..1990

    full = t.read(spark)
    pruned = t.read(spark, prune=[("n_chars", "between", 1500, 1700)])
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    got = pruned.filter(F.col("n_chars").between(1500, 1700)).count()
    want = full.filter(F.col("n_chars").between(1500, 1700)).count()
    assert got == want == 21

    # >= variant prunes the first commit entirely
    ge = t.read(spark, prune=[("n_chars", ">=", 1000)])
    assert len(ge.inputFiles()) == len(pruned.inputFiles()) == 4 or (
        len(ge.inputFiles()) < len(full.inputFiles())
    )
    assert ge.filter(F.col("n_chars") >= 1000).count() == 100


def test_stats_prune_maps_renamed_columns_by_field_id(spark, tmp_path):
    """Stats are recorded under WRITE-TIME physical names; after a
    rename, pruning on the CURRENT name must still hit them (id-based
    mapping, same contract as the read projection)."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_lang_df(spark, 0, 200))
    t.evolve(rename_columns={"lang": "language"})

    full = t.read(spark)
    pruned = t.read(spark, prune=[("language", "=", "fr")])
    assert len(pruned.inputFiles()) == 1
    assert (
        pruned.filter(F.col("language") == "fr").count()
        == full.filter(F.col("language") == "fr").count()
        == 50
    )


def test_stats_prune_never_drops_matching_rows_with_mixed_files(
    spark, tmp_path
):
    """Files whose bounds straddle the predicate stay in the scan —
    pruning is a superset guarantee, results identical to no pruning."""
    t = IceliteTable(str(tmp_path / "t"))
    # single bucket → one file spanning the whole doc_id range
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97).alias("score"),
        F.lit(0).cast("int").alias("bucket"),
    )
    t.commit_append(df)
    pruned = t.read(spark, prune=[("score", "=", 42)])
    assert len(pruned.inputFiles()) == 1
    assert pruned.filter(F.col("score") == 42).count() == 5  # 42+97k < 500


# ---------------------------------------------------------------------------
# table_tool delete / dedup ops commands
# ---------------------------------------------------------------------------

def test_table_tool_delete_and_posthoc_dedup(spark, tmp_path, capsys):
    """The ops wiring for retraction: `delete --keys-parquet` commits
    an equality delete, and `dedup` finds exact-duplicate texts in the
    committed corpus and retracts every non-min-key copy — the
    post-hoc form of ingest dedup, no table rewrite."""
    import json as _json
    import os as _os
    import sys as _sys

    jobs_dir = _os.path.join(_os.path.dirname(__file__), "..", "jobs")
    _sys.path.insert(0, jobs_dir)
    try:
        import table_tool
    finally:
        _sys.path.remove(jobs_dir)

    def run(*argv):
        assert table_tool.main(list(argv)) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    tbl = str(tmp_path / "ops")
    t = IceliteTable(tbl)
    # 30 docs; doc_ids 20-29 duplicate the TEXTS of 0-9
    base = _df(spark, 0, 20)
    dups = _df(spark, 0, 10).select(
        (F.col("doc_id") + 20).alias("doc_id"), "text", "bucket"
    )
    t.commit_append(base.unionByName(dups))

    # dry-run reports, commits nothing
    rep = run(tbl, "dedup", "--dry-run")
    assert rep["would_delete"] == 10
    assert len(t.snapshots()) == 1

    rep = run(tbl, "dedup")
    assert rep["deleted_keys"] == 10
    back = t.read(spark)
    assert back.count() == 20
    assert back.select("text").distinct().count() == 20
    assert back.filter(F.col("doc_id") >= 20).count() == 0  # min-key kept

    # explicit key-file delete (takedown shape)
    keys_path = str(tmp_path / "keys.parquet")
    spark.createDataFrame([(1,), (2,)], "doc_id bigint").write.parquet(keys_path)
    rep = run(tbl, "delete", "--keys-parquet", keys_path)
    assert rep["deleted_keys"] == 2
    assert t.read(spark).count() == 18


def test_sort_within_buckets_tightens_row_group_stats(spark, tmp_path):
    """write.sort-order analogue: sorting rows inside each bucket's
    file makes the parquet ROW-GROUP min/max ranges disjoint (the
    native reader's row-group pruning bites), instead of every group
    spanning the whole value range."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    def ranges(table_dir):
        t = IceliteTable(table_dir)
        snap = t.current_snapshot()
        out = []
        for rel in snap["data_files"]:
            md = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    if col.path_in_schema == "score":
                        out.append((col.statistics.min, col.statistics.max))
        return out

    # shuffled scores so unsorted files interleave the whole range
    df = spark.range(0, 50_000).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id"), F.lit(50_000)).alias("score"),
        F.lit(0).cast("int").alias("bucket"),
    )
    unsorted_dir = str(tmp_path / "plain")
    sorted_dir = str(tmp_path / "sorted")
    # default 128 MB row groups put all 50k rows in ONE group; shrink
    # the writer block so the file genuinely has several groups
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    try:
        IceliteTable(unsorted_dir).commit_append(df)
        IceliteTable(sorted_dir).commit_append(
            df, sort_within_buckets=["score"]
        )
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)

    rs = sorted(ranges(sorted_dir))
    assert len(rs) > 1, "need multiple row groups for the assertion"
    # sorted: consecutive row-group ranges never overlap
    for (a_lo, a_hi), (b_lo, b_hi) in zip(rs, rs[1:]):
        assert a_hi <= b_lo, (a_hi, b_lo)
    # and the same read results either way
    assert (
        IceliteTable(sorted_dir).read(spark).count()
        == IceliteTable(unsorted_dir).read(spark).count()
        == 50_000
    )


# ---------------------------------------------------------------------------
# vacuum (orphan data-dir reclamation)
# ---------------------------------------------------------------------------

def test_vacuum_removes_superseded_dirs_after_compact(spark, tmp_path):
    """compact() leaves the superseded data dirs on disk (crash
    safety); vacuum() reclaims exactly those once the grace window has
    passed, never anything a live manifest references."""
    import os
    import time

    tbl = str(tmp_path / "t")
    t = IceliteTable(tbl)
    t.commit_append(_df(spark, 0, 50))
    t.commit_append(_df(spark, 50, 100))
    t.commit_delete(_keys(spark, [3]), key_col="doc_id")
    assert t.compact(spark) is not None

    data_root = os.path.join(tbl, "data")
    before = set(os.listdir(data_root))
    assert len(before) == 4  # 2 appends + 1 delete dir + compacted

    # inside the grace window nothing moves
    rep = t.vacuum(grace_sec=3600)
    assert rep["removed"] == []
    assert len(rep["kept_recent"]) == 3
    assert set(os.listdir(data_root)) == before

    # past the grace window the three superseded dirs go; the
    # referenced (compacted) dir survives and the table still reads
    rep = t.vacuum(grace_sec=3600, now=time.time() + 7200)
    assert len(rep["removed"]) == 3
    assert rep["referenced"] == 1
    left = set(os.listdir(data_root))
    assert len(left) == 1
    assert t.read(spark).count() == 99


def test_vacuum_grace_window_protects_inflight_writer(spark, tmp_path):
    """A writer creates its data dir BEFORE linking the manifest; a
    dir with recent mtimes must be treated as an in-flight commit,
    not an orphan — even with grace_sec=0 passed a stale `now`."""
    import os
    import time

    tbl = str(tmp_path / "t")
    t = IceliteTable(tbl)
    t.commit_append(_df(spark, 0, 10))

    # fake an in-flight writer: dir exists, manifest not yet linked
    inflight = os.path.join(tbl, "data", "snap-2-deadbeef")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "wb") as f:
        f.write(b"x")

    rep = t.vacuum(grace_sec=3600)
    assert rep["removed"] == []
    assert rep["kept_recent"] == ["snap-2-deadbeef"]

    # a crashed writer's leak is reclaimable once it is provably old
    old = time.time() - 10 * 3600
    os.utime(os.path.join(inflight, "part-0.parquet"), (old, old))
    os.utime(inflight, (old, old))
    rep = t.vacuum(grace_sec=3600)
    assert rep["removed"] == ["snap-2-deadbeef"]
    assert t.read(spark).count() == 10


# ---------------------------------------------------------------------------
# deletes across schema evolution + exact-resume semantics (round 6)
# ---------------------------------------------------------------------------

def test_delete_key_survives_rename(spark, tmp_path):
    """Delete files keep their WRITE-TIME physical column name; the
    read path must map it to the CURRENT name by field id, or renaming
    the delete-key column would brick every read of a table with
    active deletes (the anti-join would ask the mapped scan for a
    column it no longer exposes)."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 20))
    t.commit_delete(_keys(spark, [3, 4]), key_col="doc_id")
    t.evolve(rename_columns={"doc_id": "id"})

    back = t.read(spark)
    assert "id" in back.columns and "doc_id" not in back.columns
    assert back.count() == 18
    assert back.filter(F.col("id").isin(3, 4)).count() == 0

    # a delete committed AFTER the rename (physical name `id`) and the
    # pre-rename delete (physical `doc_id`) both resolve to the current
    # name and apply together
    t.commit_delete(
        spark.createDataFrame([(5,)], "id bigint"), key_col="id"
    )
    back = t.read(spark)
    assert back.count() == 17
    assert back.filter(F.col("id").isin(3, 4, 5)).count() == 0


def test_exact_resume_skips_taken_down_docs(spark, tmp_path):
    """filter_pending(exact=True) anti-joins against EVER-COMMITTED
    keys with deletes deliberately NOT applied: the fast (bucket) path
    skips a committed-then-deleted doc too, so the exact path applying
    deletes would silently re-ingest PII takedowns on resume."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.commit_delete(_keys(spark, [3]), key_col="doc_id")

    batch = _df(spark, 0, 12)  # 0..9 committed (3 since deleted), 10..11 new
    got = sorted(
        r["doc_id"] for r in t.filter_pending(batch, exact=True).collect()
    )
    assert got == [10, 11]


def test_vacuum_skips_concurrently_reclaimed_dir(spark, tmp_path, monkeypatch):
    """Two vacuums racing: the loser's getmtime() hits a dir the winner
    already rmtree'd between listdir and stat — that is a skip for that
    dir, not a crash (and never a removal double-report)."""
    import os
    import shutil

    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5))
    orphan = os.path.join(str(tmp_path / "t"), "data", "snap-9-deadbeef")
    os.makedirs(orphan)

    real_getmtime = os.path.getmtime

    def racy(p):
        if os.path.normpath(str(p)) == orphan:
            shutil.rmtree(orphan, ignore_errors=True)
            raise FileNotFoundError(p)
        return real_getmtime(p)

    monkeypatch.setattr(os.path, "getmtime", racy)
    rep = t.vacuum(grace_sec=0)
    assert "snap-9-deadbeef" not in rep["removed"]
    assert "snap-9-deadbeef" not in rep["kept_recent"]
    assert t.read(spark).count() == 5


# ---------------------------------------------------------------------------
# CDC changelog reads (round 6)
# ---------------------------------------------------------------------------

def test_read_changes_full_history_and_replay(spark, tmp_path):
    """Genesis changelog: every append's raw rows as inserts at their
    committing sequence, every retraction as a full-row-image delete
    event; replaying the log in sequence order (deletes before
    inserts within a sequence) reproduces read() exactly."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))               # seq 0: +10
    t.commit_delete(_keys(spark, [3, 5]))            # seq 1: -2
    t.commit_append(_df(spark, 10, 15))              # seq 2: +5

    ch = t.read_changes(spark)
    ins = ch.filter(F.col("_change_type") == "insert").collect()
    assert len(ins) == 15  # raw: deleted rows still appear as inserts
    seq_of = {r["doc_id"]: r["_commit_sequence"] for r in ins}
    assert seq_of[0] == 0 and seq_of[9] == 0 and seq_of[14] == 2

    dels = ch.filter(F.col("_change_type") == "delete").collect()
    assert sorted(r["doc_id"] for r in dels) == [3, 5]
    assert all(r["_commit_sequence"] == 1 for r in dels)
    assert sorted(r["text"] for r in dels) == ["text-3", "text-5"]

    # replay property
    state: dict[int, str] = {}
    for seq in sorted({r["_commit_sequence"] for r in ins + dels}):
        for r in dels:
            if r["_commit_sequence"] == seq:
                state.pop(r["doc_id"], None)
        for r in ins:
            if r["_commit_sequence"] == seq:
                state[r["doc_id"]] = r["text"]
    now = {r["doc_id"]: r["text"] for r in t.read(spark).collect()}
    assert state == now


def test_read_changes_window_skips_already_retracted(spark, tmp_path):
    """A delete of an already-retracted key emits nothing (one event
    per physical retraction); a window delete still retracts
    PRE-window rows; pre-window inserts never appear."""
    t = IceliteTable(str(tmp_path / "t"))
    s0 = t.commit_append(_df(spark, 0, 10))          # seq 0 (pre-window)
    t.commit_delete(_keys(spark, [4]))               # seq 1: -4
    t.commit_delete(_keys(spark, [4, 6]))            # seq 2: only 6 live

    ch = t.read_changes(spark, after_snapshot=s0["snapshot_id"])
    assert ch.filter(F.col("_change_type") == "insert").count() == 0
    got = sorted(
        (r["_commit_sequence"], r["doc_id"])
        for r in ch.filter(F.col("_change_type") == "delete").collect()
    )
    assert got == [(1, 4), (2, 6)]


def test_read_changes_merge_emits_both_events(spark, tmp_path):
    """merge() at sequence q: delete events carry the OLD row images
    of live matching keys (absent keys emit nothing), insert events
    carry the new rows — both stamped with q."""
    t = IceliteTable(str(tmp_path / "t"))
    s0 = t.commit_append(_df(spark, 0, 5))
    t.merge(_df(spark, 3, 6, tag="re"))              # 3,4 live; 5 new

    ch = t.read_changes(spark, after_snapshot=s0["snapshot_id"])
    dels = ch.filter(F.col("_change_type") == "delete").collect()
    assert sorted(r["doc_id"] for r in dels) == [3, 4]
    assert all(r["text"].startswith("text-") for r in dels)  # old image
    ins = ch.filter(F.col("_change_type") == "insert").collect()
    assert sorted(r["doc_id"] for r in ins) == [3, 4, 5]
    assert all(r["text"].startswith("re-") for r in ins)
    assert {r["_commit_sequence"] for r in dels + ins} == {1}


def test_read_changes_compaction_floor_and_bootstrap(spark, tmp_path):
    """An endpoint expired by compact() raises; a genesis window over
    a compacted table reports the compacted manifest as bootstrap
    inserts at its own sequence."""
    t = IceliteTable(str(tmp_path / "t"))
    s0 = t.commit_append(_df(spark, 0, 10))
    t.commit_delete(_keys(spark, [7]))
    t.commit_append(_df(spark, 10, 12))
    t.compact(spark)                                  # seq 3 supersedes 0-2

    with pytest.raises(KeyError, match="expired"):
        t.read_changes(spark, after_snapshot=s0["snapshot_id"])

    ch = t.read_changes(spark)
    rows = ch.collect()
    assert all(r["_change_type"] == "insert" for r in rows)
    assert all(r["_commit_sequence"] == 3 for r in rows)
    assert sorted(r["doc_id"] for r in rows) == [i for i in range(12) if i != 7]


def test_read_changes_survives_rename(spark, tmp_path):
    """Changelog events come out in the CURRENT schema: delete events
    committed under the old column name map by field id."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 8))
    t.commit_delete(_keys(spark, [2]))
    t.evolve(rename_columns={"doc_id": "id"})

    ch = t.read_changes(spark)
    assert "id" in ch.columns and "doc_id" not in ch.columns
    dels = ch.filter(F.col("_change_type") == "delete").collect()
    assert [r["id"] for r in dels] == [2]


# ---------------------------------------------------------------------------
# per-file key Bloom index: point-lookup file skipping (round 6)
# ---------------------------------------------------------------------------

def test_key_index_prunes_point_lookup_files(spark, tmp_path):
    """doc_id IN (...) pruning: min/max can't skip interleaved ids,
    the Bloom index can — the planned file list shrinks to the files
    that might hold the keys, and the residual filter keeps the
    result exact."""
    t = IceliteTable(str(tmp_path / "t"))
    # bucket = doc_id % 8 -> each file holds ids of one residue class
    t.commit_append(_df(spark, 0, 400, n_buckets=8))
    rep = t.index_keys(spark, col="doc_id")
    assert rep["indexed_files"] == rep["total_files"] == 8

    full = t.read(spark)
    pruned = t.read(spark, prune=[("doc_id", "in", 5, 13)])
    # ids 5 and 13 are both ≡5 (mod 8): one file (plus Bloom fp ≈ 0)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert len(pruned.inputFiles()) <= 2
    got = sorted(
        r["doc_id"]
        for r in pruned.filter(F.col("doc_id").isin(5, 13)).collect()
    )
    assert got == [5, 13]


def test_key_index_unindexed_files_always_kept(spark, tmp_path):
    """Superset guarantee: files committed AFTER the index was built
    are not in the sidecar and must never be pruned; a refresh then
    indexes ONLY the new snapshot and tightens the plan."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 100, n_buckets=4))
    t.index_keys(spark, col="doc_id")
    t.commit_append(_df(spark, 100, 200, n_buckets=4))  # unindexed

    # 150 lives only in the unindexed snapshot: must survive pruning
    pruned = t.read(spark, prune=[("doc_id", "in", 150)])
    got = [
        r["doc_id"]
        for r in pruned.filter(F.col("doc_id") == 150).collect()
    ]
    assert got == [150]
    # the unindexed snapshot's files are all kept
    assert len(pruned.inputFiles()) >= 4

    rep = t.index_keys(spark, col="doc_id")   # incremental refresh
    assert rep["indexed_files"] == 4 and rep["total_files"] == 8
    tighter = t.read(spark, prune=[("doc_id", "in", 150)])
    assert len(tighter.inputFiles()) < len(pruned.inputFiles())
    assert [
        r["doc_id"]
        for r in tighter.filter(F.col("doc_id") == 150).collect()
    ] == [150]


def test_key_index_meta_without_bitmaps_degrades_to_unpruned(spark, tmp_path):
    """ADVICE r6 (medium): index_keys durably writes the params meta
    BEFORE the bitmap sidecar exists, so during the first build — or
    after a crash between the meta link and the bitmap append — a
    read(prune=[(col,'in',...)]) must treat every file as
    unindexed-kept (superset guarantee), not throw AnalysisException
    from reading a missing/empty sidecar directory."""
    import os
    import shutil

    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 100, n_buckets=4))
    t.index_keys(spark, col="doc_id")
    meta_path, idx_dir = t._key_index_paths("doc_id")

    # crash window 1: meta present, sidecar dir gone entirely
    shutil.rmtree(idx_dir)
    pruned = t.read(spark, prune=[("doc_id", "in", 7)])
    assert [
        r["doc_id"] for r in pruned.filter(F.col("doc_id") == 7).collect()
    ] == [7]
    assert len(pruned.inputFiles()) >= 4  # nothing pruned, nothing lost

    # crash window 2: sidecar dir exists but holds only _temporary
    os.makedirs(os.path.join(idx_dir, "_temporary"), exist_ok=True)
    pruned2 = t.read(spark, prune=[("doc_id", "in", 7)])
    assert pruned2.filter(F.col("doc_id") == 7).count() == 1

    # a re-run completes the index and pruning tightens again
    t.index_keys(spark, col="doc_id")
    tight = t.read(spark, prune=[("doc_id", "in", 7)])
    assert len(tight.inputFiles()) < 4
    assert tight.filter(F.col("doc_id") == 7).count() == 1


def test_key_index_string_column(spark, tmp_path):
    """String keys hash through the same JVM xxhash64 path; literal
    probes are cast to the column's declared type (int32 vs int64
    would otherwise hash differently and silently mis-prune)."""
    t = IceliteTable(str(tmp_path / "t"))
    df = _df(spark, 0, 64, n_buckets=4).withColumn(
        "url", F.concat(F.lit("https://ex.com/p/"), F.col("doc_id"))
    )
    t.commit_append(df)
    t.index_keys(spark, col="url", n_bits=1 << 12)

    pruned = t.read(
        spark, prune=[("url", "in", "https://ex.com/p/17")]
    )
    assert len(pruned.inputFiles()) < 4
    assert pruned.filter(
        F.col("url") == "https://ex.com/p/17"
    ).count() == 1
    # absent key: every indexed file drops, result is empty
    miss = t.read(spark, prune=[("url", "in", "https://ex.com/p/999")])
    assert miss.filter(F.col("url") == "https://ex.com/p/999").count() == 0


def test_key_index_probe_and_noop_refresh_run_one_spark_job(spark, tmp_path):
    """The sidecar is read with its fixed schema (no footer-inference
    job) and the probe keys are hashed inside the probe plan (no
    separate hash job): a pruned read starts exactly one Spark job
    before its action, the probe, and a refresh with nothing new to
    index runs one, the read of the indexed file names."""
    import uuid

    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 200, n_buckets=8))
    t.index_keys(spark, col="doc_id")
    sc = spark.sparkContext

    def jobs_of(run):
        group = f"key-index-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "key index jobs")
        try:
            out = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    pruned, n_read = jobs_of(
        lambda: t.read(spark, prune=[("doc_id", "in", 3, 7)])
    )
    assert n_read == 1
    assert len(pruned.inputFiles()) <= 3
    assert sorted(
        r["doc_id"]
        for r in pruned.filter(F.col("doc_id").isin(3, 7)).collect()
    ) == [3, 7]
    rep, n_refresh = jobs_of(lambda: t.index_keys(spark, col="doc_id"))
    assert rep == {"indexed_files": 0, "total_files": 8}
    assert n_refresh == 1


def test_compact_sort_clusters_for_stats_pruning(spark, tmp_path):
    """compact(sort_within_buckets=[col]) is the Iceberg sort-order
    rewrite: before it, every file spans the whole value range and
    prune keeps everything; after it, files cover tight contiguous
    slices and a selective BETWEEN drops most of the plan — results
    identical either way."""
    t = IceliteTable(str(tmp_path / "t"))
    df = _df(spark, 0, 800, n_buckets=4).withColumn(
        "n_chars", F.pmod(F.xxhash64("doc_id"), F.lit(10_000)).cast("int")
    )
    t.commit_append(df)

    before = t.read(spark, prune=[("n_chars", "between", 100, 200)])
    n_before = len(before.inputFiles())
    assert n_before == 4  # interleaved values: nothing skippable

    t.compact(spark, sort_within_buckets=["n_chars"])
    after = t.read(spark, prune=[("n_chars", "between", 100, 200)])
    assert len(after.inputFiles()) < len(t.read(spark).inputFiles())
    got = sorted(
        r["doc_id"]
        for r in after.filter(F.col("n_chars").between(100, 200)).collect()
    )
    want = sorted(
        r["doc_id"]
        for r in df.filter(F.col("n_chars").between(100, 200)).collect()
    )
    assert got == want and len(got) > 0


def test_compact_zorder_prunes_on_every_dimension(spark, tmp_path):
    """compact(zorder=[x, y]) is the Iceberg z-order rewrite: a
    single-column sort makes files skippable on that column ONLY
    (files span the full range of every other column); interleaving
    the bits of both normalized columns gives each file a tight
    hyper-box, so a selective window on EITHER dimension drops files
    from the plan — and results stay identical to the plain filter."""
    t = IceliteTable(str(tmp_path / "t"))
    df = (
        _df(spark, 0, 3000, n_buckets=2)
        .withColumn(
            "x", F.pmod(F.xxhash64("doc_id"), F.lit(10_000)).cast("int")
        )
        .withColumn(
            "y",
            F.pmod(
                F.xxhash64(F.concat(F.col("doc_id").cast("string"), F.lit("y"))),
                F.lit(10_000),
            ).cast("int"),
        )
    )
    t.commit_append(df)

    # unsorted ingest: every file spans both full ranges, nothing skips
    assert len(
        t.read(spark, prune=[("x", "between", 0, 900)]).inputFiles()
    ) == 2

    t.compact(spark, zorder=["x", "y"])
    total = len(t.read(spark).inputFiles())
    assert total > 4  # the range shuffle spread the rewrite
    for col in ("x", "y"):
        pruned = t.read(spark, prune=[(col, "between", 0, 900)])
        assert 0 < len(pruned.inputFiles()) < total, col
        got = sorted(
            r["doc_id"]
            for r in pruned.filter(F.col(col).between(0, 900)).collect()
        )
        want = sorted(
            r["doc_id"] for r in df.filter(F.col(col).between(0, 900)).collect()
        )
        assert got == want and len(got) > 0, col

    # guard rails: non-numeric and conflicting-mode requests refuse
    with pytest.raises(ValueError, match="numeric"):
        t.compact(spark, zorder=["text"])
    with pytest.raises(ValueError, match="not both"):
        t.compact(spark, zorder=["x"], sort_within_buckets=["y"])


# ---------------------------------------------------------------------------
# tags (dataset releases) + CDC consumer (round 6)
# ---------------------------------------------------------------------------

def test_tag_reproduces_release_through_compaction(spark, tmp_path):
    """tag('v1') pins the exact corpus state (appends + deletes) and
    keeps reproducing it byte-for-byte after later appends AND after a
    compact() that expires the untagged history; delete_tag unpins and
    the next vacuum reclaims."""
    import os as _os

    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 50))
    t.commit_delete(_keys(spark, [7, 9]))
    rec = t.tag("v1")
    assert rec["sequence"] == 1

    t.commit_append(_df(spark, 50, 80))
    t.compact(spark)  # folds the history v1 points into

    # current view: everything minus the takedowns
    assert t.read(spark).count() == 78
    # tagged release: the exact v1 state, still resolvable below the floor
    v1 = t.read(spark, tag="v1")
    assert v1.count() == 48
    assert v1.filter(F.col("doc_id").isin(7, 9)).count() == 0
    assert v1.filter(F.col("doc_id") >= 50).count() == 0

    # vacuum with zero grace keeps the tagged release's data dirs
    t.vacuum(grace_sec=0)
    assert t.read(spark, tag="v1").count() == 48

    # unpin: the release's dirs become orphans and vacuum reclaims
    assert t.delete_tag("v1")
    rep = t.vacuum(grace_sec=0)
    assert rep["removed"]
    with pytest.raises(KeyError, match="no tag"):
        t.read(spark, tag="v1")
    assert t.read(spark).count() == 78  # current view untouched


def test_tag_survives_checkpoint_expire(spark, tmp_path):
    """checkpoint(expire_manifests) must keep tag-pinned manifest
    FILES: a later post-compact checkpoint folds only the active view,
    so pinned content living solely in the old checkpoint would become
    unreachable."""
    import os as _os

    t = IceliteTable(str(tmp_path / "t"))
    for i in range(5):
        t.commit_append(_df(spark, i * 10, (i + 1) * 10))
    t.tag("rel", snapshot_id=t.snapshots()[2]["snapshot_id"])  # seq 2
    t.checkpoint(expire_manifests=True, retain_last=0)
    names = set(_os.listdir(t.manifest_dir))
    # pinned chain 0..2 kept as files, 3..4 expired into the ckpt
    assert {"snap-000000.json", "snap-000001.json",
            "snap-000002.json"} <= names
    assert "snap-000003.json" not in names
    assert t.read(spark, tag="rel").count() == 30
    assert t.read(spark).count() == 50

    t.commit_append(_df(spark, 50, 60))
    t.compact(spark)
    t.checkpoint(expire_manifests=True, retain_last=0)
    assert t.read(spark, tag="rel").count() == 30
    assert t.read(spark).count() == 60


def test_tag_immutability_and_cli(spark, tmp_path, capsys):
    import json as _json
    import os as _os
    import sys as _sys

    jobs_dir = _os.path.join(_os.path.dirname(__file__), "..", "jobs")
    _sys.path.insert(0, jobs_dir)
    try:
        import table_tool
    finally:
        _sys.path.remove(jobs_dir)

    tbl = str(tmp_path / "t")
    t = IceliteTable(tbl)
    t.commit_append(_df(spark, 0, 10))

    def run(*argv):
        assert table_tool.main(list(argv)) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    rec = run(tbl, "tag", "--name", "v1.0")
    assert rec["sequence"] == 0
    with pytest.raises(FileExistsError, match="immutable"):
        t.tag("v1.0")
    listed = run(tbl, "tags")
    assert set(listed["tags"]) == {"v1.0"}
    assert run(tbl, "delete-tag", "--name", "v1.0")["deleted"] is True
    assert run(tbl, "tags")["tags"] == {}


def test_consume_changes_at_least_once(spark, tmp_path):
    """Polling CDC consumer: unacked windows replay; acked windows
    advance; at the tip the consumer gets None."""
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))

    ch, ack = t.consume_changes(spark, "idx")
    assert ch is not None and ch.count() == 10   # genesis window
    # crash before ack: the SAME window replays
    ch2, ack2 = t.consume_changes(spark, "idx")
    assert ch2.count() == 10
    ack2()

    ch3, _ = t.consume_changes(spark, "idx")
    assert ch3 is None                            # at the tip

    t.commit_delete(_keys(spark, [3]))
    t.commit_append(_df(spark, 10, 12))
    ch4, ack4 = t.consume_changes(spark, "idx")
    rows = ch4.collect()
    assert sorted(
        (r["_change_type"], r["doc_id"]) for r in rows
    ) == [("delete", 3), ("insert", 10), ("insert", 11)]
    ack4()
    ch5, _ = t.consume_changes(spark, "idx")
    assert ch5 is None


# ---------------------------------------------------------------------------
# branches: write-audit-publish (round 6)
# ---------------------------------------------------------------------------

def test_branch_write_audit_publish(spark, tmp_path):
    """WAP: staged commits (append + takedown) are invisible to main's
    readers until publish; publish fast-forwards main and removes the
    branch namespace + fork pin."""
    from mini_html_parser_spark.plans.icelite import IceliteTable

    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 40))
    t.create_branch("wap")
    b = t.branch("wap")
    b.commit_append(_df(spark, 40, 60))
    b.commit_delete(_keys(spark, [3]))

    # audit view: base + staged; main: unchanged
    assert b.read(spark).count() == 59
    assert t.read(spark).count() == 40
    assert t.branches() == ["wap"]

    rep = t.publish_branch("wap")
    assert rep["published"] == 2
    after = t.read(spark)
    assert after.count() == 59
    assert after.filter(F.col("doc_id") == 3).count() == 0
    assert t.branches() == [] and t.tags() == {}
    # sequences stayed gapless through the fast-forward
    assert [s["sequence"] for s in t.snapshots()] == [0, 1, 2]


def test_branch_discard_under_main_compaction(spark, tmp_path):
    """A live branch keeps reading its fork state while main compacts
    past it (the fork tag pins base history); main advancing refuses a
    publish (fast-forward only); discard releases the pin and vacuum
    reclaims the staged data."""
    from mini_html_parser_spark.plans.icelite import IceliteTable

    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 20))
    t.create_branch("exp")
    b = t.branch("exp")
    b.commit_append(_df(spark, 20, 30))

    # main moves on: new commit + compact (expires the fork's history
    # from the ACTIVE view; the branch pin keeps it resolvable)
    t.commit_append(_df(spark, 100, 105))
    t.compact(spark)
    assert t.read(spark).count() == 25
    assert b.read(spark).count() == 30          # fork base + staged
    t.vacuum(grace_sec=0)
    assert b.read(spark).count() == 30          # staged data is live

    with pytest.raises(RuntimeError, match="fast-forward only"):
        t.publish_branch("exp")

    assert t.delete_branch("exp")
    rep = t.vacuum(grace_sec=0)
    assert rep["removed"]                        # staged dirs reclaimed
    assert t.read(spark).count() == 25


def test_branch_publish_crash_rerun_is_idempotent(spark, tmp_path):
    """A publish that crashed after linking a prefix re-runs to
    completion: identical already-linked targets are skipped, the rest
    link, main ends at the branch tip."""
    import os as _os

    from mini_html_parser_spark.plans.icelite import IceliteTable

    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.create_branch("wap")
    b = t.branch("wap")
    b.commit_append(_df(spark, 10, 20))
    b.commit_append(_df(spark, 20, 30))

    first = b._own_manifests()[0]
    _os.link(
        _os.path.join(b.manifest_dir, f"snap-{first['sequence']:06d}.json"),
        _os.path.join(t.manifest_dir, f"snap-{first['sequence']:06d}.json"),
    )
    rep = t.publish_branch("wap")
    assert rep["published"] == 1                 # only the missing one
    assert t.read(spark).count() == 30
    assert [s["sequence"] for s in t.snapshots()] == [0, 1, 2]
