"""One bucket formula for every writer: ``bucket = pmod(xxhash64(doc_id),
n_buckets)`` whatever the document's size, from the batch job and the
streaming icelite sink alike; tables whose first commit recorded the
older giant-document bucket tier still resume exactly."""

import pytest
from pyspark.sql import functions as F

from mini_html_parser_spark.datagen import generate_pandas
from mini_html_parser_spark.operators.extract import (
    DOCUMENTS_SCHEMA,
    extract_documents,
)
from mini_html_parser_spark.pipeline import run_extraction_job
from mini_html_parser_spark.plans.icelite import IceliteTable

N_BUCKETS = 4
GIANT_CHARS = 200_000  # the older tier's threshold, on span text length
LEGACY_TIER = {"giant_bucket_space": 1024, "giant_doc_chars": GIANT_CHARS}


def _html_span(text):
    return [{"kind": "html", "text": text, "media_ref": "", "offset": 0}]


def _giant_text_html():
    """Over the threshold before and after extraction."""
    para = "<p>" + " ".join(f"word{i}" for i in range(40)) + "</p>\n"
    return "<html><body>" + para * (GIANT_CHARS // len(para) + 50) + "</body></html>"


def _giant_markup_html():
    """Over the threshold as HTML, a few hundred chars once extracted."""
    script = "<script>var x = '" + "y" * 1000 + "';</script>\n"
    return (
        "<html><head>" + script * (GIANT_CHARS // len(script) + 20)
        + "</head><body><p>small visible text</p></body></html>"
    )


def _plain_bucket(spark, doc_ids):
    df = spark.createDataFrame([(d,) for d in doc_ids], "doc_id string")
    rows = df.select(
        "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).alias("b")
    ).collect()
    return {r["doc_id"]: int(r["b"]) for r in rows}


def _pick_ids(spark, want):
    """One ``giant-*`` id per wanted plain-bucket set, in order."""
    cands = [f"giant-{k:03d}" for k in range(64)]
    plain = _plain_bucket(spark, cands)
    out = []
    for buckets in want:
        out.append(next(
            d for d in cands if plain[d] in buckets and d not in out
        ))
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    """20 small datagen documents plus two giants: ``(docs, giant_ids)``."""
    small = generate_pandas(20, seed=42)
    g_text, g_markup = _pick_ids(spark, [{0, 1}, {2, 3}])
    rows = [
        (r.doc_id, [dict(s) for s in r.spans]) for r in small.itertuples()
    ] + [
        (g_text, _html_span(_giant_text_html())),
        (g_markup, _html_span(_giant_markup_html())),
    ]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    return docs, (g_text, g_markup)


def _pairs(spark, path):
    return {
        (r["doc_id"], r["bucket"])
        for r in IceliteTable(path).read(spark)
        .select("doc_id", "bucket").collect()
    }


def test_giant_document_gets_the_plain_hash_bucket(spark, tmp_path, corpus):
    docs, giants = corpus
    sizes = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.aggregate("spans", F.lit(0), lambda a, s: a + F.length(s["text"]))
            .alias("n"),
        ).collect()
    }
    assert all(sizes[g] > GIANT_CHARS for g in giants)

    out = str(tmp_path / "tbl")
    run_extraction_job(spark, docs, out, parallelism=N_BUCKETS // 2)
    pairs = _pairs(spark, out)
    assert len(pairs) == 22
    plain = _plain_bucket(spark, sizes)
    assert pairs == set(plain.items())
    assert IceliteTable(out).partitioning() == {"n_buckets": N_BUCKETS}


def test_stream_sink_and_batch_job_bucket_alike(spark, tmp_path, corpus):
    from mini_html_parser_spark.streaming.extract_stream import (
        icelite_batch_writer,
    )

    docs, (_, g_markup) = corpus
    extracted = extract_documents(docs)
    n_chars = extracted.filter(F.col("doc_id") == g_markup).first()["n_chars"]
    assert n_chars < GIANT_CHARS  # giant as HTML, small once extracted

    batch, stream = str(tmp_path / "batch"), str(tmp_path / "stream")
    run_extraction_job(spark, docs, batch, parallelism=N_BUCKETS // 2)
    icelite_batch_writer(stream, n_buckets=N_BUCKETS)(extracted, 0)
    assert _pairs(spark, stream) == _pairs(spark, batch)
    assert len(_pairs(spark, batch)) == 22


def test_legacy_tier_table_resumes_every_missing_doc_once(
    spark, tmp_path, corpus
):
    """A table first committed with the giant tier in its layout,
    partially ingested: its committed giant carries a label at or
    above ``n_buckets``, and the pending giant's plain bucket is
    already committed.  Bucket-level pruning would drop the pending
    giant and re-ingest the committed one; the resume must go
    doc-exact instead."""
    docs, (g_pending, g_done) = corpus
    out = str(tmp_path / "legacy")
    plain = F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS))
    legacy_bucket = F.when(
        F.col("doc_id") == g_done,
        N_BUCKETS + F.pmod(F.xxhash64("doc_id"), F.lit(1024)),
    ).otherwise(plain)
    partial = docs.filter(
        (plain.isin(0, 1) & (F.col("doc_id") != g_pending))
        | (F.col("doc_id") == g_done)
    )
    t = IceliteTable(out)
    t.commit_append(
        extract_documents(partial).withColumn(
            "bucket", legacy_bucket.cast("int")
        ),
        partitioning={"n_buckets": N_BUCKETS, **LEGACY_TIER},
    )
    n_partial = t.read(spark).count()
    committed = t.committed_buckets()
    assert any(b >= N_BUCKETS for b in committed)
    assert _plain_bucket(spark, [g_pending])[g_pending] in committed
    assert t.requires_exact_resume()

    r = run_extraction_job(spark, docs, out)
    assert r["metrics"]["docs_parsed"] == 22 - n_partial
    back = t.read(spark)
    assert back.count() == 22
    assert back.select("doc_id").distinct().count() == 22
    # the recorded layout is reused verbatim, so the table stays exact
    assert t.partitioning() == {"n_buckets": N_BUCKETS, **LEGACY_TIER}
    assert run_extraction_job(spark, docs, out)["snapshot"] is None
