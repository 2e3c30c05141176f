"""Source/sink round-trips (reference B1/B3/B5)."""

import glob
import gzip
import os

from pyspark.sql import functions as F

from mini_html_parser_spark.sources import readers


def test_jsonl_gz_roundtrip(spark, tmp_path):
    df = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body-"), F.col("id")).alias("document_html"),
    )
    path = str(tmp_path / "out_jsonl")
    readers.write_jsonl_gz(df, path)
    files = glob.glob(os.path.join(path, "*.json.gz"))
    assert files, "expected gzip json part files"
    with gzip.open(files[0], "rt") as f:
        assert '"document_html"' in f.readline()
    back = readers.read_jsonl(spark, path)
    assert back.count() == 50
    assert set(back.columns) == {"doc_id", "document_html"}


def test_csv_gz_roundtrip(spark, tmp_path):
    df = spark.range(0, 20).select(
        F.col("id").alias("tag_id"), F.lit(1.5).alias("score")
    )
    path = str(tmp_path / "out_csv")
    readers.write_csv_gz(df, path)
    assert glob.glob(os.path.join(path, "*.csv.gz"))
    back = readers.read_csv(spark, path, schema="tag_id long, score double", header=True)
    assert back.count() == 20
    assert back.agg(F.sum("score")).collect()[0][0] == 30.0


def test_register_tables(spark):
    tables = readers.register_tables(spark, "/root/testdata/sf0.001")
    assert "documents" in tables and "lineitem" in tables
    assert spark.sql("select count(*) n from documents").collect()[0]["n"] == 500


def test_extract_job_cli(spark, tmp_path):
    """jobs/extract_job.py end-to-end through its argparse surface
    (batch mode, local parquet), plus the Iceberg deploy seam: the
    config dict jobs/submit_extract.sh spells as --conf pairs must
    come from iceberg_configs() verbatim (no jar offline, so the seam
    is exercised up to session-config assembly)."""
    import sys

    sys.path.insert(0, "jobs")
    import extract_job

    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.pipeline import iceberg_configs

    src = str(tmp_path / "docs")
    out = str(tmp_path / "table")
    generate_documents(spark, 12, partitions=2).write.parquet(src)
    rc = extract_job.main([
        "--input", src, "--output", out, "--config", "boilerplate_strip",
        "--parallelism", "2",
    ])
    assert rc == 0
    from mini_html_parser_spark.plans.icelite import IceliteTable

    assert IceliteTable(out).read(spark).count() == 12

    cfg = iceberg_configs("lake", "s3a://bkt/wh")
    assert cfg["spark.sql.catalog.lake"] == "org.apache.iceberg.spark.SparkCatalog"
    assert cfg["spark.sql.catalog.lake.warehouse"] == "s3a://bkt/wh"
    assert cfg["spark.sql.catalog.lake.type"] == "hadoop"
    assert "IcebergSparkSessionExtensions" in cfg["spark.sql.extensions"]


def test_warc_roundtrip_plain_gzip_and_per_record(spark, tmp_path):
    """WARC writer/reader round trip in all three layouts (plain,
    whole-file gzip, per-record gzip members a la Common Crawl);
    bodies containing 'WARC/1.0' cannot desynchronize the
    length-driven walk."""
    from mini_html_parser_spark.sources.warc import (
        parse_warc, read_warc, warc_bytes,
    )

    pages = [
        ("http://a.example/1", "<html><body><p>hello wörld</p></body></html>"),
        # adversarial body: contains a fake record header + CRLFs
        ("http://a.example/2", "<p>WARC/1.0\r\nContent-Length: 3\r\n\r\nxyz</p>"),
        ("http://a.example/3", "<p>漢字</p>"),
    ]
    for kwargs in [{}, {"compress": True}, {"per_record_gzip": True}]:
        rows, malformed = parse_warc(warc_bytes(pages, **kwargs))
        assert malformed == 0
        assert [(u, h) for u, _c, h in rows] == pages, kwargs

    # Spark operator over a directory of segments
    d = tmp_path / "warc"
    d.mkdir()
    (d / "seg-0.warc").write_bytes(warc_bytes(pages[:2]))
    (d / "seg-1.warc.gz").write_bytes(warc_bytes(pages[2:], per_record_gzip=True))
    got = read_warc(spark, str(d)).collect()
    assert {(r["url"], r["html"]) for r in got} == set(pages)
    assert all(r["file_malformed"] == 0 for r in got)
    assert all(r["content_type"].startswith("text/html") for r in got)


def test_warc_malformed_honesty(spark):
    """Truncated payloads and garbage headers are COUNTED, and valid
    records after damage are still recovered."""
    from mini_html_parser_spark.sources.warc import parse_warc, warc_bytes

    good = warc_bytes([("http://x/1", "<p>ok</p>")])
    # truncate the last record's payload
    rows, malformed = parse_warc(good[:-20])
    assert malformed >= 1
    # garbage between records: resync finds the next record
    damaged = good + b"garbage bytes not a record" + warc_bytes(
        [("http://x/2", "<p>two</p>")]
    )
    rows, malformed = parse_warc(damaged)
    urls = [u for u, _c, _h in rows]
    assert "http://x/1" in urls and "http://x/2" in urls
    assert malformed >= 1


def test_warc_feeds_extraction_kernel(spark, tmp_path):
    """End-to-end crawl ingestion: WARC segments → read_warc → the
    interleaved contract → the extraction kernel."""
    from pyspark.sql import functions as F

    from mini_html_parser_spark.operators.extract import extract_documents
    from mini_html_parser_spark.sources.warc import read_warc, warc_bytes

    pages = [
        (f"http://site/{i}", f"<html><body><p>doc {i} body text</p></body></html>")
        for i in range(5)
    ]
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg.warc.gz").write_bytes(warc_bytes(pages, compress=True))
    docs = read_warc(spark, str(d)).select(
        F.col("url").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.col("html").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    ext = extract_documents(docs, "boilerplate_strip")
    out = {r["doc_id"]: r for r in ext.collect()}
    assert len(out) == 5
    assert all(r["n_spans"] > 0 and not r["malformed"] for r in out.values())
    assert "doc 3 body text" in out["http://site/3"]["text"]


def test_warc_extraction_job_end_to_end_with_resume(spark, tmp_path):
    """run_warc_extraction_job: crawl segments through the salted +
    icelite-resumable pipeline; a re-run is a resume no-op."""
    from mini_html_parser_spark.pipeline import run_warc_extraction_job
    from mini_html_parser_spark.plans.icelite import IceliteTable
    from mini_html_parser_spark.sources.warc import warc_bytes

    pages = [
        (f"http://crawl/{i}",
         f"<html><body><p>page {i} content here</p>"
         f"<footer>boilerplate footer</footer></body></html>")
        for i in range(8)
    ]
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "a.warc").write_bytes(warc_bytes(pages[:5]))
    (d / "b.warc.gz").write_bytes(warc_bytes(pages[5:], per_record_gzip=True))
    out = str(tmp_path / "out")
    m1 = run_warc_extraction_job(spark, str(d), out, parallelism=4)
    assert m1["metrics"]["docs_parsed"] == 8
    assert m1["metrics"]["malformed_fallbacks"] == 0
    rows = IceliteTable(out).read(spark).collect()
    assert len(rows) == 8
    by_id = {r["doc_id"]: r["text"] for r in rows}
    assert "page 3 content here" in by_id["http://crawl/3"]
    assert "boilerplate footer" not in by_id["http://crawl/3"]
    # resume: nothing pending
    m2 = run_warc_extraction_job(spark, str(d), out, parallelism=4)
    assert m2["snapshot"] is None
    assert len(IceliteTable(out).read(spark).collect()) == 8


def test_stats_job_cli_and_warc_cli(spark, tmp_path):
    """jobs/stats_job.py end-to-end on an extract_job output (the
    reference's two-phase stats workflow through one CLI), and
    extract_job's --input-format warc path."""
    import glob as _glob
    import sys

    sys.path.insert(0, "jobs")
    import extract_job
    import stats_job

    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.sources.warc import warc_bytes

    src = str(tmp_path / "docs")
    table = str(tmp_path / "table")
    stats_out = str(tmp_path / "stats")
    generate_documents(spark, 10, partitions=2).write.parquet(src)
    assert extract_job.main(["--input", src, "--output", table,
                             "--parallelism", "2"]) == 0
    assert stats_job.main(["--input", table, "--output", stats_out,
                           "--tokenizer", "bytes", "--report"]) == 0
    assert _glob.glob(stats_out + "/stats_per_webpage/*.csv.gz")
    assert _glob.glob(stats_out + "/corpus_describe/*.csv.gz")
    assert _glob.glob(stats_out + "/report/*.svg")
    assert _glob.glob(stats_out + "/report/index.html")

    # WARC input straight through the CLI
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "seg.warc").write_bytes(warc_bytes(
        [(f"http://w/{i}", f"<html><body><p>warc {i}</p></body></html>")
         for i in range(4)]
    ))
    wout = str(tmp_path / "wtable")
    assert extract_job.main(["--input", str(crawl), "--output", wout,
                             "--input-format", "warc",
                             "--parallelism", "2"]) == 0
    from mini_html_parser_spark.plans.icelite import IceliteTable

    assert IceliteTable(wout).read(spark).count() == 4


def test_warc_corrupt_gzip_member_and_negative_length(spark):
    """A damaged gzip member or a negative Content-Length is COUNTED
    as malformed — never an exception, and later members/records are
    still recovered."""
    from mini_html_parser_spark.sources.warc import parse_warc, warc_bytes

    good = warc_bytes([("http://g/1", "<p>one</p>")], per_record_gzip=True)
    # corrupt the second member's deflate stream
    second = good.index(b"\x1f\x8b", 1)
    damaged = bytearray(good)
    damaged[second + 20] ^= 0xFF
    rows, malformed = parse_warc(bytes(damaged))
    assert malformed >= 1  # no exception

    neg = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://n/1\r\nContent-Length: -5\r\n\r\n")
    tail = warc_bytes([("http://n/2", "<p>after</p>")])
    rows, malformed = parse_warc(neg + tail)
    assert malformed >= 1
    assert "http://n/2" in [u for u, _c, _h in rows]


def test_warc_truncated_gzip_member_counted(spark):
    """Truncation does NOT raise from zlib — member completeness is
    checked via d.eof; a cut-off final member is counted and earlier
    members are recovered.  The chunked feed path (forced tiny chunk)
    produces identical output."""
    import mini_html_parser_spark.sources.warc as W
    from mini_html_parser_spark.sources.warc import parse_warc, warc_bytes

    pages = [("http://t/1", "<p>one</p>"), ("http://t/2", "<p>two</p>")]
    blob = warc_bytes(pages, per_record_gzip=True)
    m2 = blob.index(b"\x1f\x8b", 1)
    m3 = blob.index(b"\x1f\x8b", m2 + 1)
    rows, malformed = parse_warc(blob[: m3 + 8])
    assert [u for u, _c, _h in rows] == ["http://t/1"] and malformed >= 1
    old = W._GZ_CHUNK
    W._GZ_CHUNK = 7
    try:
        rows, malformed = parse_warc(blob)
        assert [u for u, _c, _h in rows] == ["http://t/1", "http://t/2"]
        assert malformed == 0
    finally:
        W._GZ_CHUNK = old


def test_warc_job_surfaces_source_damage(spark, tmp_path):
    """run_warc_extraction_job reports warc_malformed_records when a
    segment carries damaged records (the adapter must not silently
    swallow source-level corruption)."""
    from mini_html_parser_spark.pipeline import run_warc_extraction_job
    from mini_html_parser_spark.sources.warc import warc_bytes

    good = warc_bytes(
        [(f"http://ok/{i}", f"<html><body><p>fine {i}</p></body></html>")
         for i in range(3)]
    )
    damaged = good + b"\r\n\r\ngarbage-not-a-record"
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg.warc").write_bytes(damaged)
    out = str(tmp_path / "tbl")
    r = run_warc_extraction_job(spark, str(d), out, parallelism=2)
    assert r["metrics"]["docs_parsed"] == 3
    assert r["warc_malformed_records"] == 1
    # a resume no-op extracts nothing, yet reports the same damage
    again = run_warc_extraction_job(spark, str(d), out, parallelism=2)
    assert again["snapshot"] is None
    assert again["warc_malformed_records"] == 1


def test_warc_job_all_garbage_crawl_counts_damage(spark, tmp_path):
    """A crawl with no parseable page commits nothing, and its damage
    count is still exact: one garbage region plus one truncated
    record."""
    from mini_html_parser_spark.pipeline import run_warc_extraction_job

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "junk.warc").write_bytes(
        b"not a warc record\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort"
    )
    r = run_warc_extraction_job(spark, str(d), str(tmp_path / "tbl"), parallelism=2)
    assert r["snapshot"] is None
    assert r["warc_malformed_records"] == 2


def test_warc_commit_parses_once_without_readback(spark, tmp_path):
    """A fresh WARC commit is one write query: the segments are parsed
    inside it (damage counted by an Observation) and the lineage comes
    from parquet footers.  Under AQE that query is three jobs (parse +
    salt shuffle, extract + commit shuffle, write); a separate damage
    action or a read-back of the written files adds jobs."""
    import uuid

    from mini_html_parser_spark.pipeline import run_warc_extraction_job
    from mini_html_parser_spark.sources.warc import warc_bytes

    pages = [(f"http://one/{i}", f"<html><body><p>page {i}</p></body></html>")
             for i in range(20)]
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "a.warc").write_bytes(warc_bytes(pages[:10]) + b"\r\n\r\ngarbage")
    (d / "b.warc.gz").write_bytes(warc_bytes(pages[10:], per_record_gzip=True))
    sc = spark.sparkContext
    group = f"warc-commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one WARC commit")
    try:
        r = run_warc_extraction_job(spark, str(d), str(tmp_path / "tbl"), parallelism=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r["metrics"]["docs_parsed"] == 20
    assert r["warc_malformed_records"] == 1
    assert sum(r["snapshot"]["bucket_rows"].values()) == 20
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, f"{len(jobs)} Spark jobs for one WARC commit"


def test_warc_midfile_corrupt_member_resyncs(spark):
    """One corrupt gzip member mid-segment must not drop the rest of
    the file: the walk resyncs on the next gzip magic, counts the
    damage, and recovers every later record."""
    from mini_html_parser_spark.sources.warc import parse_warc, warc_bytes

    pages = [(f"http://r/{i}", f"<p>rec {i}</p>") for i in range(4)]
    blob = warc_bytes(pages, per_record_gzip=True)
    m2 = blob.index(b"\x1f\x8b", 1)  # first response member
    dmg = bytearray(blob)
    dmg[m2 + 20] ^= 0xFF
    rows, malformed = parse_warc(bytes(dmg))
    urls = [u for u, _c, _h in rows]
    assert malformed >= 1
    assert {"http://r/1", "http://r/2", "http://r/3"} <= set(urls)


def test_extract_job_cli_streaming(spark, tmp_path):
    """extract_job --streaming end-to-end: availableNow catch-up batch
    processes current files and terminates; a re-run after new files
    arrive picks up ONLY the delta (checkpoint resume)."""
    import sys

    sys.path.insert(0, "jobs")
    import extract_job

    from mini_html_parser_spark.datagen import generate_pandas
    from mini_html_parser_spark.operators.extract import DOCUMENTS_SCHEMA

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")

    def write(lo, hi):
        pdf = generate_pandas(hi - lo, seed=42, start=lo)
        spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(inp)

    write(0, 8)
    assert extract_job.main(["--input", inp, "--output", out,
                             "--streaming"]) == 0
    assert spark.read.parquet(out + "/data/stream").count() == 8
    write(8, 12)
    assert extract_job.main(["--input", inp, "--output", out,
                             "--streaming"]) == 0
    result = spark.read.parquet(out + "/data/stream")
    assert result.count() == 12
    assert result.select("doc_id").distinct().count() == 12

    # icelite sink variant: micro-batches become table snapshots with
    # the full read surface and checkpointed delta resume
    from mini_html_parser_spark.plans.icelite import IceliteTable

    out2 = str(tmp_path / "out_tbl")
    assert extract_job.main(["--input", inp, "--output", out2,
                             "--streaming", "--streaming-sink", "icelite"]) == 0
    t = IceliteTable(out2)
    assert t.read(spark).count() == 12
    write(12, 15)
    assert extract_job.main(["--input", inp, "--output", out2,
                             "--streaming", "--streaming-sink", "icelite"]) == 0
    back = t.read(spark)
    assert back.count() == 15
    assert back.select("doc_id").distinct().count() == 15


def test_warc_late_member_corruption_does_not_swallow_next(spark):
    """A byte flipped near the END of a member decodes most of that
    member before zlib errors; the partial output must be DROPPED
    (its truncated record header would otherwise consume the next
    member's records) and one damage region counts ONCE regardless of
    false gzip magics inside it."""
    from mini_html_parser_spark.sources.warc import parse_warc, warc_bytes

    pages = [(f"http://l/{i}", f"<p>late {i}</p>") for i in range(4)]
    blob = warc_bytes(pages, per_record_gzip=True)
    starts = []
    p = 0
    while True:
        p = blob.find(b"\x1f\x8b", p + 1)
        if p == -1:
            break
        starts.append(p)
    # corrupt member 2 (first response) near its END
    end2 = starts[2] if len(starts) > 2 else len(blob)
    dmg = bytearray(blob)
    dmg[end2 - 5] ^= 0xFF
    rows, malformed = parse_warc(bytes(dmg))
    urls = [u for u, _c, _h in rows]
    assert malformed >= 1
    # the damaged record is gone, every LATER record survives intact
    assert "http://l/1" not in urls
    assert {"http://l/2", "http://l/3"} <= set(urls), urls
