"""icelite snapshot/resume semantics (reference B8 skip-if-done +
north_rule per-partition lineage)."""

import os

import pytest
from pyspark.sql import functions as F

from mini_html_parser_spark.plans.icelite import IceliteTable


def _df(spark, lo, hi, n_buckets=4):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text-"), F.col("id")).alias("text"),
            F.pmod(F.col("id"), F.lit(n_buckets)).cast("int").alias("bucket"),
        )
    )


def test_commit_read_lineage(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl"))
    snap = t.commit_append(_df(spark, 0, 100), metrics={"docs_parsed": 100})
    assert snap["sequence"] == 0
    assert snap["total_rows"] == 100
    assert sorted(snap["bucket_rows"]) == ["0", "1", "2", "3"]
    assert sum(snap["bucket_rows"].values()) == 100
    back = t.read(spark)
    assert back.count() == 100
    assert t.current_snapshot()["metrics"]["docs_parsed"] == 100
    # compact commit: exactly one data file per non-empty bucket (the
    # small-files guard — a partitionBy write from K tasks would
    # otherwise emit up to K files per bucket)
    import glob

    for b in range(4):
        files = glob.glob(os.path.join(t.path, "data", "snap-0-*", f"bucket={b}", "*.parquet"))
        assert len(files) == 1, (b, files)


def test_read_starts_no_spark_job_before_its_action(spark, tmp_path):
    """read() builds its plan from the manifests and the recorded
    schema: neither the data scan nor the delete-key scan runs a Spark
    job to infer a schema from a parquet footer."""
    import uuid

    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(_df(spark, 0, 100))
    t.commit_delete(spark.createDataFrame([(3,), (7,)], "doc_id bigint"))
    sc = spark.sparkContext
    group = f"icelite-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read plan only")
    try:
        back = t.read(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert back.count() == 98


def _bucket_counts(df):
    return {str(r["bucket"]): r["count"] for r in df.groupBy("bucket").count().collect()}


def test_footer_lineage_matches_spark_counts(spark, tmp_path):
    """bucket_rows come from the written files' parquet footers (no
    read-back job); after every kind of write they equal a per-bucket
    Spark count of what the table reads back."""
    t = IceliteTable(str(tmp_path / "tbl"))
    # several files per bucket (no compaction shuffle), uneven buckets
    a = t.commit_append(_df(spark, 0, 90, n_buckets=5).repartition(3), compact=False)
    assert a["bucket_rows"] == _bucket_counts(t.read(spark))
    assert a["total_rows"] == 90
    b = t.commit_append(_df(spark, 90, 130, n_buckets=3))
    assert b["bucket_rows"] == _bucket_counts(_df(spark, 90, 130, n_buckets=3))
    t.commit_delete(spark.createDataFrame([(0,), (1,), (7,), (95,)], "doc_id bigint"))

    r = t.rewrite(spark, buckets={0, 1})
    assert r["bucket_rows"] == _bucket_counts(t.read(spark, buckets={0, 1}))
    c = t.compact(spark)
    assert c["bucket_rows"] == _bucket_counts(t.read(spark))
    assert c["total_rows"] == 126
    rb = t.compact(spark, rebucket_to=3)
    assert rb["bucket_rows"] == _bucket_counts(t.read(spark))
    assert sorted(rb["bucket_rows"]) == ["0", "1", "2"]


def test_unreadable_footer_fails_the_commit(spark, tmp_path, monkeypatch):
    """Lineage is not best-effort: a footer that cannot be read fails
    the commit instead of publishing wrong bucket_rows."""
    import pyarrow.parquet as pq
    import pytest

    def broken(*_a, **_k):
        raise OSError("unreadable footer")

    t = IceliteTable(str(tmp_path / "tbl"))
    monkeypatch.setattr(pq, "read_metadata", broken)
    with pytest.raises(OSError, match="unreadable footer"):
        t.commit_append(_df(spark, 0, 20))
    assert t.snapshots() == []


def test_resume_skips_committed_buckets(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl2"))
    # first run commits only buckets 0 and 1 (simulated partial run)
    first = _df(spark, 0, 100).filter(F.col("bucket") < 2)
    t.commit_append(first)
    assert t.committed_buckets() == {0, 1}

    # resume: pending rows are exactly buckets 2,3
    pending = t.filter_pending(_df(spark, 0, 100))
    got_buckets = {r["bucket"] for r in pending.select("bucket").distinct().collect()}
    assert got_buckets == {2, 3}

    snap2 = t.commit_append(pending)
    assert snap2["sequence"] == 1
    assert snap2["parent_id"] == t.snapshots()[0]["snapshot_id"]

    # full table now visible, no duplicates
    back = t.read(spark)
    assert back.count() == 100
    assert back.select("doc_id").distinct().count() == 100


def test_empty_commit_is_noop(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl3"))
    t.commit_append(_df(spark, 0, 10))
    before = len(t.snapshots())
    out = t.commit_append(t.filter_pending(_df(spark, 0, 10)))
    assert out is None
    assert len(t.snapshots()) == before


def test_resume_reuses_recorded_bucket_layout(spark, tmp_path):
    """Bucket ids are pmod(xxhash64(doc_id), n_buckets) — a resume
    with a different parallelism must reuse the RECORDED n_buckets or
    it remaps ids against the committed set (silently skipping or
    re-extracting documents).  The manifest records the layout; a
    conflicting explicit request errors (round-1 advice)."""
    import pytest

    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.pipeline import run_extraction_job

    out = str(tmp_path / "tbl5")
    docs = generate_documents(spark, 25)

    r1 = run_extraction_job(spark, docs, out, parallelism=2)
    t = IceliteTable(out)
    layout = t.partitioning()
    assert layout is not None and layout["n_buckets"] == 4
    n_first = t.read(spark).count()
    assert r1["metrics"]["docs_parsed"] == 25

    # resume with NO explicit parallelism on a "bigger cluster"
    # (defaultParallelism here != 2): everything is already committed,
    # so the job must find zero pending rows — if the layout were
    # recomputed from the current parallelism, doc ids would remap to
    # uncommitted bucket ids and re-extract as duplicates
    r2 = run_extraction_job(spark, docs, out)
    assert r2["snapshot"] is None
    back = t.read(spark)
    assert back.count() == n_first
    assert back.select("doc_id").distinct().count() == 25

    # an explicitly conflicting layout must error, not silently remap
    with pytest.raises(ValueError, match="resume layout mismatch"):
        run_extraction_job(spark, docs, out, parallelism=8)


def test_compact_rewrites_snapshots(spark, tmp_path):
    """compact() folds N snapshots into one: same rows, same committed
    buckets, same recorded layout, one read scan afterwards."""
    t = IceliteTable(str(tmp_path / "tbl6"))
    t.commit_append(_df(spark, 0, 40), partitioning={"n_buckets": 4})
    t.commit_append(_df(spark, 40, 70))
    t.commit_append(_df(spark, 70, 100))
    assert len(t.snapshots()) == 3
    before = {r["doc_id"] for r in t.read(spark).select("doc_id").collect()}

    manifest = t.compact(spark)
    assert manifest["compacted"] and manifest["metrics"]["compacted_snapshots"] == 3
    assert len(t.snapshots()) == 1
    assert t.committed_buckets() == {0, 1, 2, 3}
    assert t.partitioning() == {"n_buckets": 4}
    after = {r["doc_id"] for r in t.read(spark).select("doc_id").collect()}
    assert after == before and len(after) == 100
    # compacting a single snapshot is a no-op
    assert t.compact(spark) is None


def test_manifest_is_commit_point(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl4"))
    t.commit_append(_df(spark, 0, 20))
    # simulate a crashed second write: data dir exists, no manifest
    os.makedirs(os.path.join(t.path, "data", "snap-1", "bucket=0"), exist_ok=True)
    assert t.read(spark).count() == 20  # uncommitted dir invisible

def test_compact_crash_window_no_duplicates(spark, tmp_path):
    """ADVICE r2 (medium): a crash between writing the compacted
    manifest and removing the superseded ones must not double-count —
    a ``compacted`` manifest supersedes every lower sequence even when
    both are on disk."""
    import shutil

    t = IceliteTable(str(tmp_path / "tbl7"))
    t.commit_append(_df(spark, 0, 50))
    t.commit_append(_df(spark, 50, 100))
    # snapshot the manifest dir before compaction, then restore the
    # old manifests afterwards = the exact crash interleaving
    saved = str(tmp_path / "saved_manifests")
    shutil.copytree(t.manifest_dir, saved)
    t.compact(spark)
    for name in os.listdir(saved):
        dst = os.path.join(t.manifest_dir, name)
        if not os.path.exists(dst):
            shutil.copy(os.path.join(saved, name), dst)
    # both old manifests AND the compacted one are now on disk
    # (plus the schema file, which compaction must never remove)
    snap_files = [n for n in os.listdir(t.manifest_dir) if n.startswith("snap-")]
    assert len(snap_files) == 3
    assert "schema-000000.json" in os.listdir(t.manifest_dir)
    assert len(t.snapshots()) == 1  # only the compacted one is active
    assert t.read(spark).count() == 100
    assert t.read(spark).select("doc_id").distinct().count() == 100
    assert t.committed_buckets() == {0, 1, 2, 3}


def test_auto_compact_bounds_snapshot_count(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "tbl8"))
    for i in range(7):
        t.commit_append(_df(spark, i * 10, (i + 1) * 10), auto_compact_every=3)
        assert len(t.snapshots()) <= 3
    assert t.read(spark).count() == 70
    assert t.read(spark).select("doc_id").distinct().count() == 70


def test_many_snapshots_single_scan(spark, tmp_path):
    """200 snapshots must still read as ONE scan with a flat plan —
    the manifest-driven file list replaces the per-snapshot union
    (VERDICT r2 #6).  Plan-build time is asserted loosely; the
    measured before/after numbers live in BENCH/PLANS.md."""
    import time

    t = IceliteTable(str(tmp_path / "tbl9"))
    # cheap commits: write parquet dirs + manifests directly through
    # the public API but with tiny frames
    for i in range(200):
        t.commit_append(_df(spark, i * 2, i * 2 + 2, n_buckets=2), compact=False)
    assert len(t.snapshots()) == 200

    t0 = time.monotonic()
    df = t.read(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    build_s = time.monotonic() - t0
    # one scan node, no Union in the plan
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 1
    assert df.count() == 400
    assert build_s < 30, f"plan build took {build_s:.1f}s"

def test_bucket_pruned_read(spark, tmp_path):
    """read(buckets=...) prunes at the manifest level: only the
    requested buckets' files enter the scan."""
    t = IceliteTable(str(tmp_path / "tbl10"))
    t.commit_append(_df(spark, 0, 100))
    part = t.read(spark, buckets={1, 3})
    assert {r["bucket"] for r in part.select("bucket").distinct().collect()} == {1, 3}
    assert part.count() == 50
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_extraction_job_auto_compact_preserves_resume(spark, tmp_path):
    """Incremental extraction runs with auto_compact_every: snapshots
    stay bounded, committed buckets + layout survive compaction, and a
    full resume still finds nothing pending."""
    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.pipeline import run_extraction_job, with_salt_bucket

    out = str(tmp_path / "tblc")
    docs = generate_documents(spark, 30)
    # three partial runs, each seeing a disjoint bucket slice of the
    # corpus (the crash-and-retry shape resume is built for)
    salted = with_salt_bucket(docs, 4)
    for buckets in ((0, 1), (2,), (3,)):
        subset = salted.filter(F.col("bucket").isin(*buckets)).drop("bucket")
        run_extraction_job(spark, subset, out, parallelism=2,
                           auto_compact_every=2)
    t = IceliteTable(out)
    assert len(t.snapshots()) <= 2  # compaction kept the count bounded
    assert t.partitioning()["n_buckets"] == 4
    back = t.read(spark)
    assert back.select("doc_id").distinct().count() == 30
    assert back.count() == 30
    # resume over the full corpus: everything already committed
    r = run_extraction_job(spark, docs, out)
    assert r["snapshot"] is None
    assert t.read(spark).count() == 30


def test_auto_compact_preserves_commit_metrics(spark, tmp_path):
    """The Nth commit (the one that triggers auto-compact) must still
    return ITS OWN metrics, and compaction must fold the additive
    counters of superseded snapshots into the compacted manifest."""
    t = IceliteTable(str(tmp_path / "tbl10"))
    last = None
    for i in range(4):
        last = t.commit_append(
            _df(spark, i * 10, (i + 1) * 10),
            metrics={"docs_parsed": 10, "malformed": i},
            auto_compact_every=2,
        )
    # the triggering commit's return still carries its metrics
    assert last["metrics"]["docs_parsed"] == 10
    assert last["metrics"]["malformed"] == 3
    assert "compaction" in last
    # history counters survived every compaction round
    snaps = t.snapshots()
    assert len(snaps) == 1 and snaps[0]["compacted"]
    assert snaps[0]["metrics"]["docs_parsed"] == 40
    assert snaps[0]["metrics"]["malformed"] == 0 + 1 + 2 + 3
    assert t.read(spark).count() == 40


def test_time_travel_read(spark, tmp_path):
    """VERSION AS OF: as_of_snapshot reads only data committed at or
    before that snapshot; compaction expires older snapshots (reading
    below the floor raises, like Iceberg snapshot expiration)."""
    import pytest

    t = IceliteTable(str(tmp_path / "tt"))
    s0 = t.commit_append(_df(spark, 0, 40))
    s1 = t.commit_append(_df(spark, 1000, 1030))
    s2 = t.commit_append(_df(spark, 2000, 2020))
    assert t.read(spark).count() == 90
    assert t.read(spark, as_of_snapshot=s0["snapshot_id"]).count() == 40
    assert t.read(spark, as_of_snapshot=s1["snapshot_id"]).count() == 70
    assert t.read(spark, as_of_snapshot=s2["snapshot_id"]).count() == 90
    with pytest.raises(KeyError):
        t.read(spark, as_of_snapshot="no-such-snapshot")
    # compaction folds history: time travel below the floor is expired
    t.compact(spark)
    assert t.read(spark).count() == 90
    with pytest.raises(KeyError):
        t.read(spark, as_of_snapshot=s0["snapshot_id"])


def test_incremental_read(spark, tmp_path):
    """Incremental append scan: rows strictly after a snapshot,
    optional until bound, empty when nothing newer, expired history
    raises."""
    import pytest

    t = IceliteTable(str(tmp_path / "inc"))
    s0 = t.commit_append(_df(spark, 0, 40))
    s1 = t.commit_append(_df(spark, 1000, 1030))
    s2 = t.commit_append(_df(spark, 2000, 2020))
    inc = t.read_incremental(spark, s0["snapshot_id"])
    assert inc.count() == 50
    ids = {r["doc_id"] for r in inc.select("doc_id").collect()}
    assert min(ids) >= 1000  # only the two later commits
    assert t.read_incremental(
        spark, s0["snapshot_id"], until_snapshot=s1["snapshot_id"]
    ).count() == 30
    assert t.read_incremental(spark, s2["snapshot_id"]).count() == 0
    with pytest.raises(KeyError):
        t.read_incremental(spark, "nope")
    t.compact(spark)
    with pytest.raises(KeyError):
        t.read_incremental(spark, s0["snapshot_id"])


def test_daily_ingest_pipeline_integration(spark, tmp_path):
    """The daily-crawl composition: day-1 WARC extract job; day-2 job
    appends a new snapshot; read_incremental picks exactly day-2's
    rows; dedup_against drops the pages day 2 re-crawled verbatim."""
    from mini_html_parser_spark.operators.dedup import dedup_against
    from mini_html_parser_spark.pipeline import run_warc_extraction_job
    from mini_html_parser_spark.sources.warc import warc_bytes

    day1_pages = [
        (f"http://d1/{i}", f"<html><body><p>stable page {i}</p></body></html>")
        for i in range(6)
    ]
    # day 2: three unchanged re-crawls (same content, new URLs) and
    # two genuinely new pages
    day2_pages = [
        (f"http://d2/re{i}", f"<html><body><p>stable page {i}</p></body></html>")
        for i in range(3)
    ] + [
        (f"http://d2/new{i}", f"<html><body><p>fresh content {i}</p></body></html>")
        for i in range(2)
    ]
    out = str(tmp_path / "corpus")
    d1 = tmp_path / "w1"; d1.mkdir()
    (d1 / "a.warc").write_bytes(warc_bytes(day1_pages))
    r1 = run_warc_extraction_job(spark, str(d1), out, parallelism=2)
    snap1 = r1["snapshot"]["snapshot_id"]

    d2 = tmp_path / "w2"; d2.mkdir()
    (d2 / "b.warc").write_bytes(warc_bytes(day2_pages))
    # mode="append": day 2 is a NEW corpus into the same table — its
    # docs legitimately land in day-1's committed bucket ids, so the
    # default bucket-level resume pruning would silently drop them
    # (this test CAUGHT that with the default mode)
    r2 = run_warc_extraction_job(
        spark, str(d2), out, parallelism=2, mode="append"
    )
    assert r2["snapshot"] is not None

    t = IceliteTable(out)
    new_rows = t.read_incremental(spark, snap1).select("doc_id", "text")
    assert new_rows.count() == 5  # exactly day 2
    corpus = t.read(spark, as_of_snapshot=snap1).select("doc_id", "text")
    survivors = {
        r["doc_id"] for r in dedup_against(new_rows, corpus).collect()
    }
    assert survivors == {"http://d2/new0", "http://d2/new1"}


def test_schema_evolution_add_and_rename(spark, tmp_path):
    """Iceberg-style id-based evolution (VERDICT r4 #5): v1 rows are
    committed, the schema gains a column and renames another, v2 rows
    append under the new schema — and every read surface (full read,
    time travel, incremental scan, bucket-pruned read) presents the
    UNIFIED current schema: renamed columns resolve by field id in old
    files, the added column reads as typed nulls there."""
    t = IceliteTable(str(tmp_path / "evo"))
    snap1 = t.commit_append(_df(spark, 0, 40))
    assert t.current_schema()["schema_id"] == 0
    assert snap1["schema_id"] == 0

    # metadata-only evolution: rename text -> body, add lang
    s2 = t.evolve(add_columns={"lang": "string"},
                  rename_columns={"text": "body"})
    assert s2["schema_id"] == 1
    # field id preserved across the rename; the add got a fresh id
    ids = {f["name"]: f["id"] for f in s2["fields"]}
    ids_v0 = {f["name"]: f["id"] for f in t.schemas()[0]["fields"]}
    assert ids["body"] == ids_v0["text"] and ids["lang"] == max(ids.values())

    # old-schema append now refuses (drift needs an explicit evolve)
    import pytest
    with pytest.raises(ValueError, match="evolve"):
        t.commit_append(_df(spark, 40, 50))

    v2 = (
        _df(spark, 40, 80)
        .withColumnRenamed("text", "body")
        .withColumn("lang", F.concat(F.lit("l"), F.pmod("doc_id", F.lit(3))))
    )
    snap2 = t.commit_append(v2)
    assert snap2["schema_id"] == 1

    # unified full read: 80 rows, current names, nulls only for v1
    full = t.read(spark)
    assert set(full.columns) == {"doc_id", "body", "lang", "bucket"}
    assert full.count() == 80
    assert full.filter(F.col("lang").isNull()).count() == 40
    assert full.filter((F.col("doc_id") == 7) & (F.col("body") == "text-7")).count() == 1
    assert full.filter((F.col("doc_id") == 47) & (F.col("lang") == "l2")).count() == 1

    # time travel to the v1 snapshot still presents the unified schema
    old = t.read(spark, as_of_snapshot=snap1["snapshot_id"])
    assert set(old.columns) == {"doc_id", "body", "lang", "bucket"}
    assert old.count() == 40 and old.filter(F.col("lang").isNotNull()).count() == 0

    # incremental scan across the evolution boundary
    inc = t.read_incremental(spark, after_snapshot=snap1["snapshot_id"])
    assert set(inc.columns) == {"doc_id", "body", "lang", "bucket"}
    assert inc.count() == 40 and inc.filter(F.col("lang").isNull()).count() == 0

    # bucket-pruned read through the schema path
    pruned = t.read(spark, buckets={1})
    assert pruned.count() == 20 and set(pruned.columns) == {"doc_id", "body", "lang", "bucket"}


def test_schema_evolution_survives_compaction(spark, tmp_path):
    """compact() folds mixed-schema snapshots into one CURRENT-schema
    snapshot; schema files survive, lineage and reads stay exact."""
    t = IceliteTable(str(tmp_path / "evoc"))
    t.commit_append(_df(spark, 0, 30))
    t.evolve(add_columns={"score": "double"})
    v2 = _df(spark, 30, 60).withColumn("score", F.col("doc_id") * 0.5)
    t.commit_append(v2)
    assert t.compact(spark) is not None
    assert len(t.snapshots()) == 1
    assert t.current_schema()["schema_id"] == 1
    full = t.read(spark)
    assert full.count() == 60
    assert full.filter(F.col("score").isNull()).count() == 30
    assert full.filter(F.col("score") == 20.0).count() == 1  # doc 40
    # further appends keep working under the current schema
    t.commit_append(_df(spark, 60, 70).withColumn("score", F.lit(1.0)))
    assert t.read(spark).count() == 70


def test_schema_evolution_legacy_snapshots_use_oldest_schema(spark, tmp_path):
    """Review r5: snapshots written BEFORE schema tracking must be
    projected with the OLDEST registered schema's physical names after
    an evolve(), not the current ones (their files carry v0 names)."""
    t = IceliteTable(str(tmp_path / "legacy"))
    snap0 = t.commit_append(_df(spark, 0, 20))
    # simulate a pre-round-5 manifest: strip schema_id from snap-0
    import json as _json

    mpath = os.path.join(t.manifest_dir, "snap-000000.json")
    with open(mpath) as f:
        m = _json.load(f)
    del m["schema_id"]
    with open(mpath, "w") as f:
        _json.dump(m, f)

    t.evolve(rename_columns={"text": "body"}, add_columns={"lang": "string"})
    v2 = (_df(spark, 20, 40).withColumnRenamed("text", "body")
          .withColumn("lang", F.lit("en")))
    t.commit_append(v2)
    full = t.read(spark)
    assert full.count() == 40
    assert full.filter((F.col("doc_id") == 3) & (F.col("body") == "text-3")).count() == 1
    assert full.filter(F.col("lang").isNull()).count() == 20
    # compact() reads through the same path and must also work
    assert t.compact(spark) is not None
    assert t.read(spark).count() == 40


def test_schema_type_drift_refused(spark, tmp_path):
    """Review r5: an append whose column TYPES differ from the
    recorded schema is refused at the write (names alone passing let
    mixed-type files corrupt reads far from the cause)."""
    import pytest

    t = IceliteTable(str(tmp_path / "typed"))
    t.commit_append(_df(spark, 0, 10))
    bad = _df(spark, 10, 20).withColumn("text", F.col("doc_id").cast("double"))
    with pytest.raises(ValueError, match="types differ"):
        t.commit_append(bad)
    # cast back -> accepted
    ok = _df(spark, 10, 20)
    assert t.commit_append(ok) is not None


def test_empty_first_commit_does_not_pin_schema(spark, tmp_path):
    """Review r5: an empty first append must not register schema v0
    from a throwaway frame — the first REAL append defines the
    schema."""
    t = IceliteTable(str(tmp_path / "emptyfirst"))
    assert t.commit_append(_df(spark, 0, 0)) is None
    assert t.current_schema() is None
    real = _df(spark, 0, 10).withColumnRenamed("text", "body")
    assert t.commit_append(real) is not None
    assert {f["name"] for f in t.current_schema()["fields"]} == {"doc_id", "body"}
    assert t.read(spark).count() == 10


def test_concurrent_commit_sequence_race(spark, tmp_path):
    """Optimistic concurrency (round 5): two writers racing for the
    same sequence must BOTH commit — the loser re-parents at the next
    sequence instead of silently overwriting the winner's manifest
    (the old os.replace path lost one commit's rows)."""
    import uuid as _uuid

    t = IceliteTable(str(tmp_path / "race"))
    t.commit_append(_df(spark, 0, 10))
    tip = t.current_snapshot()

    def mk(rows):
        return {
            "sequence": tip["sequence"] + 1,
            "snapshot_id": _uuid.uuid4().hex,
            "parent_id": tip["snapshot_id"],
            "data_dir": tip["data_dir"],          # irrelevant for the race
            "data_files": [], "bucket_rows": {"0": rows},
            "total_rows": rows, "metrics": {},
            "partitioning": tip.get("partitioning"),
            "schema_id": 0,
        }

    a, b = mk(1), mk(2)
    ra = t._commit_manifest(dict(a))
    rb = t._commit_manifest(dict(b))     # same intended sequence
    assert ra["sequence"] == 1 and rb["sequence"] == 2
    # linear history: loser re-parented onto the winner
    assert ra["parent_id"] == tip["snapshot_id"]
    assert rb["parent_id"] == ra["snapshot_id"]
    snaps = t.snapshots()
    assert [s["sequence"] for s in snaps] == [0, 1, 2]
    # no tmp litter
    assert not [n for n in os.listdir(t.manifest_dir) if n.endswith(".tmp")]


def test_threaded_concurrent_appends(spark, tmp_path):
    """Two real writers appending through the full commit_append path
    concurrently: every commit must survive with all rows readable
    and a linear parent chain."""
    import threading

    t = IceliteTable(str(tmp_path / "race2"))
    errs = []

    def writer(lo):
        try:
            for i in range(3):
                t.commit_append(_df(spark, lo + i * 10, lo + i * 10 + 10))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th1 = threading.Thread(target=writer, args=(0,))
    th2 = threading.Thread(target=writer, args=(100,))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs
    snaps = t.snapshots()
    assert len(snaps) == 6
    assert [s["sequence"] for s in snaps] == list(range(6))
    by_id = {s["snapshot_id"]: s for s in snaps}
    for s in snaps[1:]:
        assert s["parent_id"] in by_id
        assert by_id[s["parent_id"]]["sequence"] == s["sequence"] - 1
    back = t.read(spark)
    assert back.count() == 60
    assert back.select("doc_id").distinct().count() == 60


def test_compaction_aborts_when_history_advances(spark, tmp_path):
    """A compacted manifest supersedes every lower sequence, so it
    must refuse to publish if an append committed after the fold was
    computed (it would shadow rows it never read)."""
    t = IceliteTable(str(tmp_path / "race3"))
    t.commit_append(_df(spark, 0, 20))
    t.commit_append(_df(spark, 20, 40))

    # interleave: an append lands between compact's read and publish,
    # simulated by patching _commit_manifest to append first
    orig = t._commit_manifest

    def racing_commit(manifest, require_parent=False):
        if require_parent and not getattr(racing_commit, "fired", False):
            racing_commit.fired = True
            t.commit_append(_df(spark, 40, 60))
        return orig(manifest, require_parent)

    t._commit_manifest = racing_commit
    assert t.compact(spark) is None          # aborted, not shadowed
    t._commit_manifest = orig
    assert t.read(spark).count() == 60       # nothing lost
    # the aborted rewrite's data dir was dropped, not leaked: every
    # dir under data/ is referenced by an active manifest
    referenced = {os.path.basename(s_["data_dir"]) for s_ in t.snapshots()}
    on_disk = set(os.listdir(os.path.join(t.path, "data")))
    assert on_disk == referenced, (on_disk, referenced)
    # next compact (quiet history) folds everything
    assert t.compact(spark) is not None
    assert len(t.snapshots()) == 1
    assert t.read(spark).count() == 60


def test_first_commit_schema_race(spark, tmp_path):
    """Review r5 #2: concurrent FIRST commits race schema v0 through
    link arbitration — the loser must re-validate against the
    winner's schema and refuse (cleaning its data dir) instead of
    silently clobbering v0."""
    import pytest

    t = IceliteTable(str(tmp_path / "srace"))
    orig = t._write_schema
    winner_v0 = {
        "schema_id": 0,
        "fields": [{"id": 1, "name": "doc_id", "type": "bigint"},
                   {"id": 2, "name": "body", "type": "string"}],
        "last_field_id": 2,
    }

    def racing_write(schema):
        # simulate the concurrent winner landing first
        if not getattr(racing_write, "fired", False):
            racing_write.fired = True
            orig(dict(winner_v0))
        return orig(schema)

    t._write_schema = racing_write
    with pytest.raises(ValueError, match="append columns"):
        t.commit_append(_df(spark, 0, 10))  # has (doc_id, text) != winner
    t._write_schema = orig
    # loser left nothing behind: no snapshot, no orphan data dirs
    assert t.snapshots() == []
    data_root = os.path.join(t.path, "data")
    leftover = os.listdir(data_root) if os.path.isdir(data_root) else []
    assert leftover == [], leftover
    # winner's schema stands; a conforming append works
    assert {f["name"] for f in t.current_schema()["fields"]} == {"doc_id", "body"}
    ok = _df(spark, 0, 10).withColumnRenamed("text", "body")
    assert t.commit_append(ok) is not None
    assert t.read(spark).count() == 10


def test_concurrent_evolve_conflict(spark, tmp_path):
    """Review r5 #2 (evolve side): two writers evolving to the same
    schema_id — the loser gets a conflict error, never a silent adopt."""
    import pytest

    t = IceliteTable(str(tmp_path / "erace"))
    t.commit_append(_df(spark, 0, 10))
    orig = t._write_schema
    occupier = {
        "schema_id": 1,
        "fields": t.current_schema()["fields"] + [
            {"id": 3, "name": "other", "type": "string"}],
        "last_field_id": 3,
    }

    def racing_write(schema):
        # the competing evolve lands BETWEEN our read and our write
        if not getattr(racing_write, "fired", False):
            racing_write.fired = True
            orig(dict(occupier))
        return orig(schema)

    t._write_schema = racing_write
    with pytest.raises(RuntimeError, match="concurrent schema evolution"):
        t.evolve(add_columns={"lang": "string"})
    t._write_schema = orig
    # re-read and retry works (next free id, on top of the winner)
    s = t.evolve(add_columns={"lang": "string"})
    assert s["schema_id"] == 2
    assert {f["name"] for f in s["fields"]} == {"doc_id", "text", "other", "lang"}


def test_table_tool_cli(spark, tmp_path, capsys):
    """jobs/table_tool.py end-to-end: info/history are metadata-only,
    evolve commits a schema version, compact folds snapshots — each
    printing one JSON report line."""
    import json as _json
    import sys as _sys

    jobs_dir = os.path.join(os.path.dirname(__file__), "..", "jobs")
    _sys.path.insert(0, jobs_dir)
    try:
        import table_tool
    finally:
        _sys.path.remove(jobs_dir)

    tbl = str(tmp_path / "ops")
    t = IceliteTable(tbl)
    t.commit_append(_df(spark, 0, 30), metrics={"docs_parsed": 30})
    t.commit_append(_df(spark, 30, 50))

    def run(*argv):
        assert table_tool.main(list(argv)) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    info = run(tbl, "info")
    assert info["snapshots"] == 2 and info["total_rows"] == 50
    assert info["schema_id"] == 0
    assert "text:string" in info["columns"]

    hist = run(tbl, "history")
    assert [s["sequence"] for s in hist["snapshots"]] == [0, 1]
    assert hist["snapshots"][0]["metrics"]["docs_parsed"] == 30

    ev = run(tbl, "evolve", "--add", "lang:string", "--rename", "text:body")
    assert ev["schema_id"] == 1 and "body:string" in ev["columns"]
    assert "lang:string" in ev["columns"]

    comp = run(tbl, "compact")
    assert comp["compacted"] and comp["rows"] == 50 and comp["folded"] == 2
    assert len(t.snapshots()) == 1
    # evolved + compacted table still reads under the unified schema
    back = t.read(spark)
    assert back.count() == 50 and "body" in back.columns


# ---------------------------------------------------------------------------
# partition-spec evolution: compact(rebucket_to=N) + exact resume (round 6)
# ---------------------------------------------------------------------------

def test_rebucket_rewrites_layout_and_lineage(spark, tmp_path):
    """compact(rebucket_to=64): same rows, bucket lineage recomputed
    under the new hash space, new layout recorded with the sticky
    ``rebucketed`` flag, counter conservation through the fold."""
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(_df(spark, 0, 60), partitioning={"n_buckets": 4},
                    metrics={"docs_parsed": 60})
    t.commit_append(_df(spark, 60, 100), metrics={"docs_parsed": 40})

    manifest = t.compact(spark, rebucket_to=64)
    assert manifest["compacted"]
    assert t.partitioning()["n_buckets"] == 64
    assert t.partitioning()["rebucketed"] is True
    assert t.requires_exact_resume()
    # lineage recomputed under the new mapping: ids in [0, 64),
    # more than the old 4, counts conserved
    buckets = t.committed_buckets()
    assert buckets and all(0 <= b < 64 for b in buckets)
    assert len(buckets) > 4
    assert manifest["total_rows"] == 100
    assert manifest["metrics"]["docs_parsed"] == 100
    back = t.read(spark)
    assert back.count() == 100
    assert back.select("doc_id").distinct().count() == 100
    # rebucket works even from a single snapshot (plain compact no-ops)
    assert t.compact(spark) is None
    m2 = t.compact(spark, rebucket_to=8)
    assert m2 is not None and t.partitioning()["n_buckets"] == 8
    assert t.read(spark).count() == 100


def test_rebucket_partial_ingest_resume_is_exact(spark, tmp_path):
    """THE hazard rebucketing creates: a partially-ingested corpus is
    re-laid-out, so 'bucket committed' no longer implies 'every doc of
    that bucket committed'.  Resume after rebucket must ingest exactly
    the missing docs — no loss (the bucket shortcut would silently
    drop pending docs landing in committed buckets), no duplicates."""
    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.pipeline import run_extraction_job, with_salt_bucket

    out = str(tmp_path / "tbl")
    docs = generate_documents(spark, 30)
    salted = with_salt_bucket(docs, 4)
    subset = salted.filter(F.col("bucket").isin(0, 1)).drop("bucket")
    run_extraction_job(spark, subset, out, parallelism=2)
    t = IceliteTable(out)
    n_partial = t.read(spark).count()
    assert 0 < n_partial < 30

    # cluster grew: re-lay-out the table.  16 (a multiple of 4) would
    # keep pmod congruence classes aligned and never mix committed
    # with pending docs in one bucket — 6 breaks the congruence, which
    # is the general case the exact path exists for
    assert t.compact(spark, rebucket_to=6) is not None
    # sanity: under the new mapping at least one committed bucket id
    # also receives a PENDING doc — the exact case the bucket
    # shortcut would lose
    pending_buckets = {
        r["bucket"]
        for r in with_salt_bucket(
            salted.filter(~F.col("bucket").isin(0, 1)).drop("bucket"), 6
        ).select("bucket").distinct().collect()
    }
    assert pending_buckets & t.committed_buckets()

    # resume over the FULL corpus: exactly the missing docs arrive
    r = run_extraction_job(spark, docs, out)
    assert r["snapshot"] is not None
    assert r["metrics"]["docs_parsed"] == 30 - n_partial
    back = t.read(spark)
    assert back.count() == 30
    assert back.select("doc_id").distinct().count() == 30

    # second resume: nothing pending (exact path no-op contract)
    r2 = run_extraction_job(spark, docs, out)
    assert r2["snapshot"] is None
    assert t.read(spark).count() == 30


def test_filter_pending_fast_path_stays_join_free(spark, tmp_path):
    """The default (never-rebucketed) resume path must remain a
    metadata isin-filter — no join, no Exchange in the plan.  The
    exact path is the documented price of evolution, not a new
    default."""
    t = IceliteTable(str(tmp_path / "tbl"))
    t.commit_append(_df(spark, 0, 40))
    assert not t.requires_exact_resume()
    plan = (
        t.filter_pending(_df(spark, 0, 80))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_table_tool_compact_rebucket_cli(spark, tmp_path, capsys):
    import json as _json
    import sys as _sys

    jobs_dir = os.path.join(os.path.dirname(__file__), "..", "jobs")
    _sys.path.insert(0, jobs_dir)
    try:
        import table_tool
    finally:
        _sys.path.remove(jobs_dir)

    tbl = str(tmp_path / "ops")
    t = IceliteTable(tbl)
    t.commit_append(_df(spark, 0, 50))
    assert table_tool.main([tbl, "compact", "--rebucket", "32"]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["compacted"] and rep["rebucketed_to"] == 32
    assert t.partitioning()["n_buckets"] == 32
    assert t.read(spark).count() == 50


# ---------------------------------------------------------------------------
# metadata checkpointing (round 6): snapshots() = newest ckpt + tail
# ---------------------------------------------------------------------------

def test_checkpoint_equivalence_and_tail_only_reads(spark, tmp_path):
    """After checkpoint(), snapshots() must be identical to the full
    manifest scan AND must open only manifests strictly newer than
    the checkpoint — O(tail), not O(#commits)."""
    import builtins
    import os as _os

    t = IceliteTable(str(tmp_path / "t"))
    for i in range(6):
        t.commit_append(_df(spark, i * 10, (i + 1) * 10))
    full = t.snapshots()
    assert [s["sequence"] for s in full] == list(range(6))

    rep = t.checkpoint()
    assert rep == {"sequence": 5, "count": 6}
    t.commit_append(_df(spark, 60, 70))   # seq 6 (tail)
    t.commit_append(_df(spark, 70, 80))   # seq 7 (tail)

    opened: list[str] = []
    real_open = builtins.open

    def counting_open(f, *a, **k):
        name = _os.path.basename(str(f))
        if name.startswith("snap-") and name.endswith(".json"):
            opened.append(name)
        return real_open(f, *a, **k)

    builtins.open = counting_open
    try:
        merged = t.snapshots()
    finally:
        builtins.open = real_open
    assert [s["sequence"] for s in merged] == list(range(8))
    assert sorted(opened) == ["snap-000006.json", "snap-000007.json"]
    assert t.read(spark).count() == 80


def test_checkpoint_expire_manifests_and_recheckpoint(spark, tmp_path):
    """expire_manifests removes the folded per-commit files; the table
    stays fully readable/writable, a later checkpoint supersedes the
    older one (only one ckpt file remains), and compact() still works
    over a checkpointed history."""
    import os as _os

    t = IceliteTable(str(tmp_path / "t"))
    for i in range(4):
        t.commit_append(_df(spark, i * 10, (i + 1) * 10))
    # retain_last=0 is the no-live-writers maintenance mode (same
    # caller contract as vacuum(grace_sec=0)); the default retention
    # window is what shields racing writers from torn listings
    t.checkpoint(expire_manifests=True, retain_last=0)
    names = _os.listdir(t.manifest_dir)
    assert not any(n.startswith("snap-") for n in names)
    assert t.read(spark).count() == 40

    t.commit_append(_df(spark, 40, 50))  # sequences continue past ckpt
    assert [s["sequence"] for s in t.snapshots()] == [0, 1, 2, 3, 4]
    t.checkpoint(expire_manifests=True, retain_last=0)
    ckpts = [n for n in _os.listdir(t.manifest_dir) if n.startswith("ckpt-")]
    assert ckpts == ["ckpt-000004.json"]

    # default retention: a fresh expire keeps the newest manifests
    t.commit_append(_df(spark, 50, 60))
    t.commit_append(_df(spark, 60, 70))
    t.checkpoint(expire_manifests=True)   # retain_last=8 > 2 folded
    names = _os.listdir(t.manifest_dir)
    assert sorted(n for n in names if n.startswith("snap-")) == [
        "snap-000005.json", "snap-000006.json"
    ]

    # compact over a checkpoint-backed history: floor supersedes the
    # ckpt's folded entries, reads stay exact
    t.compact(spark)
    assert len(t.snapshots()) == 1
    assert t.read(spark).count() == 70


def test_auto_checkpoint_every(spark, tmp_path):
    """commit_append(auto_checkpoint_every=N) folds metadata whenever
    N manifests sit above the newest checkpoint."""
    import os as _os

    t = IceliteTable(str(tmp_path / "t"))
    for i in range(7):
        t.commit_append(
            _df(spark, i * 10, (i + 1) * 10), auto_checkpoint_every=3
        )
    ckpts = sorted(
        n for n in _os.listdir(t.manifest_dir) if n.startswith("ckpt-")
    )
    # ckpt at seq 2 (3 tail manifests), superseded by one at seq 5
    assert ckpts == ["ckpt-000005.json"]
    assert [s["sequence"] for s in t.snapshots()] == list(range(7))
    assert t.read(spark).count() == 70


def test_checkpoint_cli(spark, tmp_path, capsys):
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
    t.commit_append(_df(spark, 10, 20))

    assert table_tool.main([tbl, "checkpoint", "--expire-manifests"]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["checkpoint"] == {"sequence": 1, "count": 2}
    assert rep["expired_manifests"] is True
    assert t.read(spark).count() == 20


# ---- round-6 review-pass regressions ----------------------------------------


def test_branch_auto_maintenance_refused_up_front(spark, tmp_path):
    """Review r6 #3: auto_compact_every / auto_checkpoint_every on a
    WAP branch must be refused BEFORE the commit is durable — not as a
    NotImplementedError after it (which would kill a foreachBatch sink
    for a commit that actually succeeded)."""
    import pytest

    t = IceliteTable(str(tmp_path / "tbl_bam"))
    t.commit_append(_df(spark, 0, 20))
    t.create_branch("wap")
    br = t.branch("wap")
    before = len(br.snapshots())
    with pytest.raises(ValueError, match="main-only maintenance"):
        br.commit_append(_df(spark, 20, 40), auto_checkpoint_every=2)
    with pytest.raises(ValueError, match="main-only maintenance"):
        br.commit_append(_df(spark, 20, 40), auto_compact_every=2)
    # nothing was committed by the refused calls
    assert len(br.snapshots()) == before
    # and a plain staged commit still works
    br.commit_append(_df(spark, 20, 40))
    assert br.read(spark).count() == 40


def test_branch_pin_never_leaks_without_dir(spark, tmp_path):
    """Review r6 #9: no crash point in create/delete_branch may leave
    an invisible __branch-* pin tag with no branch dir (permanent
    compaction/vacuum pin + blocked re-create).  Orderings under test:
    create = mkdir -> tag -> meta (failed create rolls both back);
    delete = tag first, dir second (crashed delete is re-runnable)."""
    import os as _os

    import pytest

    t = IceliteTable(str(tmp_path / "tbl_pin"))
    # create on an EMPTY table fails at the tag step: the mutex dir
    # must be rolled back and no pin tag may survive
    with pytest.raises(Exception):
        t.create_branch("early")
    assert "early" not in t.branches()
    assert not _os.path.exists(
        _os.path.join(t.manifest_dir, "tag-__branch-early.json")
    )

    t.commit_append(_df(spark, 0, 20))
    t.create_branch("wap")
    # simulate a delete that crashed between its two steps (tag gone,
    # dir still present): the branch stays VISIBLE and a re-run of
    # delete_branch finishes the job
    t.delete_tag("__branch-wap")
    assert "wap" in t.branches()
    assert t.delete_branch("wap") is True
    assert "wap" not in t.branches()
    # the name is immediately re-creatable (the old-bug state raised
    # FileExistsError from the leaked pin here)
    t.create_branch("wap")
    assert "wap" in t.branches()
    t.delete_branch("wap")


def test_index_keys_params_durable_before_bitmaps(spark, tmp_path):
    """Review r6 #2: the sidecar params (n_bits, k) must be durable
    BEFORE any bitmap is appended, so a crash-then-rebuild with a
    different n_bits default can never probe old bitmaps under a new
    modulus (false negatives -> wrong pruning).  Also pins the
    crashed-first-build recovery: meta present + empty sidecar is a
    valid state that a re-run completes under the ORIGINAL params."""
    import glob
    import json as _json
    import shutil

    t = IceliteTable(str(tmp_path / "tbl_idx"))
    for lo in (0, 40):
        t.commit_append(_df(spark, lo, lo + 40, n_buckets=2))
    r = t.index_keys(spark, "doc_id", n_bits=2048, k=3)
    assert r["indexed_files"] > 0
    meta_path, idx_dir = t._key_index_paths("doc_id")
    meta = _json.load(open(meta_path))
    assert (meta["n_bits"], meta["k"]) == (2048, 3)

    # crashed-first-build state: params durable, no bitmaps yet
    shutil.rmtree(idx_dir)
    # a rebuild asking for DIFFERENT params must adopt the recorded ones
    r2 = t.index_keys(spark, "doc_id", n_bits=1 << 17, k=5)
    assert r2["indexed_files"] > 0
    assert _json.load(open(meta_path))["n_bits"] == 2048

    # and point-lookup pruning stays exact (superset guarantee intact)
    got = sorted(
        r["doc_id"]
        for r in t.read(spark, prune=[("doc_id", "in", 7, 63)]).collect()
        if r["doc_id"] in (7, 63)
    )
    assert got == [7, 63]


@pytest.mark.parametrize("scan", ["_all_manifests", "snapshots"])
def test_all_manifests_raises_on_persistently_torn_listing(
    spark, tmp_path, monkeypatch, scan
):
    """Review r6 #4: _all_manifests must not silently return a partial
    history when a listed manifest stays unopenable across the retry
    budget (publish_branch's fast-forward safety check and tag reads
    consume this view).  snapshots() reads through the same loader."""
    import os as _os

    t = IceliteTable(str(tmp_path / "tbl_torn"))
    t.commit_append(_df(spark, 0, 10))
    real_listdir = _os.listdir

    def phantom(path):
        names = real_listdir(path)
        if _os.path.normpath(path) == _os.path.normpath(t.manifest_dir):
            names = list(names) + ["snap-000099.json"]  # listed, never openable
        return names

    monkeypatch.setattr(_os, "listdir", phantom)
    with pytest.raises(RuntimeError, match="incomplete after 5 attempts"):
        getattr(t, scan)()


def test_manifest_without_data_files_is_refused(spark, tmp_path):
    """Every writer records ``data_files``; the manifest loader refuses
    one without it, naming the manifest, instead of walking the data
    directory."""
    import json as _json

    t = IceliteTable(str(tmp_path / "no_files"))
    t.commit_append(_df(spark, 0, 10))
    mpath = os.path.join(t.manifest_dir, "snap-000000.json")
    with open(mpath) as f:
        m = _json.load(f)
    del m["data_files"]
    with open(mpath, "w") as f:
        _json.dump(m, f)
    for call in (t.snapshots, t._all_manifests, lambda: t.read(spark)):
        with pytest.raises(ValueError, match="snap-000000.json"):
            call()


def test_read_without_schema_file_is_refused(spark, tmp_path):
    """A table with a snapshot always has a schema file (commit_append
    registers v0 before the first manifest); a read of one whose
    schema file is gone raises instead of scanning the raw parquet."""
    t = IceliteTable(str(tmp_path / "no_schema"))
    t.commit_append(_df(spark, 0, 10))
    os.remove(os.path.join(t.manifest_dir, "schema-000000.json"))
    with pytest.raises(ValueError, match="no _icelite/schema"):
        t.read(spark)


def _pinned_manifest(t, m):
    """``m`` with ids dropped and uuid paths reduced to their stable
    part (``data/snap-<n>[-deletes]/[bucket=<k>/]part``); every other
    value is kept as written."""
    import re

    def path(p):
        p = p[len(t.path) + 1:] if p.startswith(t.path + os.sep) else p
        return re.sub(
            r"^data/snap-(\d+)-[0-9a-f]{8}(-deletes)?(/bucket=\d+)?"
            r"(/part-.*\.parquet)?$",
            lambda g: "data/snap-" + g[1] + (g[2] or "") + (g[3] or "")
            + ("/part" if g[4] else ""),
            p,
        )

    out = {k: v for k, v in m.items() if not k.endswith("_id") or k == "schema_id"}
    for k in ("data_files", "replaces"):
        if k in out:
            out[k] = sorted(path(p) for p in out[k])
    if "delete_files" in out:
        out["delete_files"] = sorted({path(p) for p in out["delete_files"]})
    if "data_dir" in out:
        out["data_dir"] = path(out["data_dir"])
    if "file_stats" in out:
        out["file_stats"] = {path(p): v for p, v in out["file_stats"].items()}
    return out


def test_every_commit_kind_writes_the_pinned_manifest(spark, tmp_path):
    """Append, merge, commit_delete, rewrite, rollback and compact on
    one table: each manifest's key set and every value that is not an
    id, a uuid path or a timestamp, as committed."""
    t = IceliteTable(str(tmp_path / "pin"))
    layout = {"n_buckets": 4}

    def v2(lo, hi):
        return _df(spark, lo, hi).withColumn(
            "text", F.concat(F.lit("v2-"), F.col("doc_id"))
        )

    a = t.commit_append(
        _df(spark, 0, 12), metrics={"docs_parsed": 12}, partitioning=layout
    )
    mg = t.merge(v2(10, 14), metrics={"docs_parsed": 4})
    d = t.commit_delete(
        spark.createDataFrame([(0,), (5,), (5,)], "doc_id bigint"),
        metrics={"takedown": 1},
    )
    rw = t.rewrite(spark, buckets={1})
    a2 = t.commit_append(_df(spark, 20, 22), metrics={"docs_parsed": 2})
    rb = t.rollback(rw["snapshot_id"], metrics={"reason": 7})
    c = t.compact(spark)
    chain = [a, mg, d, rw, a2, rb, c]
    for prev, m in zip(chain, chain[1:]):
        assert m["parent_id"] == prev["snapshot_id"]
    assert rb["rollback_to_id"] == rw["snapshot_id"]
    assert len({m["snapshot_id"] for m in chain}) == len(chain)

    def text_stats(prefix, ids):
        texts = [f"{prefix}-{i}" for i in ids]
        return {"doc_id": [min(ids), max(ids)], "text": [min(texts), max(texts)]}

    want = [
        {
            "sequence": 0,
            "data_dir": "data/snap-0",
            "data_files": [f"data/snap-0/bucket={b}/part" for b in range(4)],
            "bucket_rows": {"0": 3, "1": 3, "2": 3, "3": 3},
            "total_rows": 12,
            "metrics": {"docs_parsed": 12},
            "partitioning": layout,
            "schema_id": 0,
            "file_stats": {
                f"data/snap-0/bucket={b}/part": text_stats(
                    "text", [i for i in range(12) if i % 4 == b]
                )
                for b in range(4)
            },
        },
        {
            "sequence": 1,
            "data_dir": "data/snap-1",
            "data_files": [f"data/snap-1/bucket={b}/part" for b in range(4)],
            "bucket_rows": {"0": 1, "1": 1, "2": 1, "3": 1},
            "total_rows": 4,
            "metrics": {"docs_parsed": 4},
            "partitioning": layout,
            "schema_id": 0,
            "file_stats": {
                f"data/snap-1/bucket={b}/part": text_stats(
                    "v2", [i for i in range(10, 14) if i % 4 == b]
                )
                for b in range(4)
            },
            "delete_key": "doc_id",
            "delete_files": ["data/snap-1-deletes/part"],
            "delete_count": 4,
        },
        {
            "sequence": 2,
            "data_files": [],
            "bucket_rows": {},
            "total_rows": 0,
            "delete_key": "doc_id",
            "delete_files": ["data/snap-2-deletes/part"],
            "delete_count": 2,
            "metrics": {"takedown": 1, "deleted_keys": 2},
            "partitioning": layout,
            "schema_id": 0,
        },
        {
            "sequence": 3,
            "data_dir": "data/snap-3",
            "data_files": ["data/snap-3/bucket=1/part"],
            "bucket_rows": {"1": 3},
            "total_rows": 3,
            "replaces": ["data/snap-0/bucket=1/part", "data/snap-1/bucket=1/part"],
            "rewrites_buckets": [1],
            "metrics": {"rewritten_files": 2},
            "partitioning": layout,
            "file_stats": {
                "data/snap-3/bucket=1/part": {
                    "doc_id": [1, 13], "text": ["text-1", "v2-13"],
                },
            },
            "schema_id": 0,
        },
        {
            "sequence": 4,
            "data_dir": "data/snap-4",
            "data_files": [f"data/snap-4/bucket={b}/part" for b in (0, 1)],
            "bucket_rows": {"0": 1, "1": 1},
            "total_rows": 2,
            "metrics": {"docs_parsed": 2},
            "partitioning": layout,
            "schema_id": 0,
            "file_stats": {
                f"data/snap-4/bucket={b}/part": text_stats("text", [20 + b])
                for b in (0, 1)
            },
        },
        {
            "sequence": 5,
            "data_files": [],
            "bucket_rows": {},
            "total_rows": 0,
            "rollback_to": 3,
            "metrics": {"reason": 7, "rolled_back_from": 4},
            "partitioning": layout,
            "schema_id": 0,
        },
        {
            "sequence": 6,
            "data_dir": "data/snap-6",
            "data_files": [f"data/snap-6/bucket={b}/part" for b in range(4)],
            "bucket_rows": {"0": 3, "1": 3, "2": 3, "3": 3},
            "total_rows": 12,
            "metrics": {
                "docs_parsed": 16, "takedown": 1, "deleted_keys": 2,
                "rewritten_files": 2, "reason": 7, "rolled_back_from": 4,
                "compacted_snapshots": 5,
            },
            "partitioning": layout,
            "compacted": True,
            "file_stats": {
                "data/snap-6/bucket=0/part": {
                    "doc_id": [4, 12], "text": ["text-4", "v2-12"],
                },
                "data/snap-6/bucket=1/part": {
                    "doc_id": [1, 13], "text": ["text-1", "v2-13"],
                },
                "data/snap-6/bucket=2/part": {
                    "doc_id": [2, 10], "text": ["text-2", "v2-10"],
                },
                "data/snap-6/bucket=3/part": {
                    "doc_id": [3, 11], "text": ["text-3", "v2-11"],
                },
            },
            "schema_id": 0,
        },
    ]
    got = [_pinned_manifest(t, m) for m in chain]
    for g, w in zip(got, want):
        assert set(g) == set(w), (g["sequence"], sorted(g), sorted(w))
        assert g == w, g["sequence"]
    assert [_pinned_manifest(t, m) for m in t.snapshots()] == [want[-1]]
