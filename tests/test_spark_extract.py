"""Spark path == kernel path: the DataFrame pipeline must produce
field-for-field what the unit-verified scalar kernel produces (every
output column and every span field, per BASELINE.json input_hint)."""

import pandas as pd
import pytest

from test_kernel_corpus import MAX_DOC_CHARS, SEED
from test_kernel_corpus import N_DOCS as N_CORPUS_DOCS

from mini_html_parser_spark import datagen
from mini_html_parser_spark.datagen import generate_pandas
from mini_html_parser_spark.kernel import boilerplate_strip_config, extract
from mini_html_parser_spark.operators.extract import (
    DOCUMENTS_SCHEMA,
    EXTRACTED_SCHEMA,
    OUTPUT_SPAN_SCHEMA,
    assemble_html,
    document_html,
    extract_documents,
    explode_spans,
)


def _span(kind, text, media_ref, offset):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


# rendering edge cases, run through every test below next to the
# generated documents: duplicate and out-of-order offsets keep input
# order, NULL fields render "", an empty or NULL array renders ""
EDGE_DOCS = {
    "edge-ties": [
        _span("html", "</p></body></html>", "", 2),
        _span("html", "<html><body><p>a", "", 0),
        _span("html", " b", "", 1),
        _span("media", "", "media://m1", 1),
        _span("html", " c", "", 1),
    ],
    "edge-null-media-ref": [
        _span("html", "<html><body><p>x ", "", 0),
        _span("media", None, None, 1),
        _span("html", "</p></body></html>", "", 2),
    ],
    "edge-null-kind-text": [
        _span(None, "<html><body><p>k</p>", None, 0),
        _span("html", None, "", 1),
        _span("html", "</body></html>", "", 2),
    ],
    "edge-empty": [],
    "edge-null": None,
}
N_GENERATED = 40
N_DOCS = N_GENERATED + len(EDGE_DOCS)


@pytest.fixture(scope="module")
def docs_pdf():
    edge = pd.DataFrame({"doc_id": list(EDGE_DOCS), "spans": list(EDGE_DOCS.values())})
    return pd.concat([generate_pandas(N_GENERATED, seed=42), edge], ignore_index=True)


@pytest.fixture(scope="module")
def extracted(spark, docs_pdf):
    sdf = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    out = extract_documents(sdf, "boilerplate_strip").cache()
    out.count()
    return out


def test_row_count_and_schema(extracted):
    assert extracted.count() == N_DOCS
    names = [f.name for f in extracted.schema.fields]
    assert names == ["doc_id", "text", "spans", "n_spans", "malformed", "n_chars"]


def _kernel_span(s) -> dict:
    row = {f.name: getattr(s, f.name) for f in OUTPUT_SPAN_SCHEMA.fields}
    row["attrs"], row["attr_values"] = list(s.attrs), list(s.attr_values)
    return row


def test_spark_matches_kernel(extracted, docs_pdf):
    """Every output column and every span field equals the scalar
    kernel's, doc by doc and span by span."""
    cfg = boilerplate_strip_config()
    got = {r["doc_id"]: r for r in extracted.collect()}
    assert len(got) == N_DOCS
    for _, row in docs_pdf.iterrows():
        expect = extract(assemble_html(row["spans"]), cfg)
        g = got[row["doc_id"]]
        assert (g["text"], g["n_spans"], g["malformed"], g["n_chars"]) == (
            expect.text, len(expect.spans), expect.malformed, len(expect.text)
        )
        assert [s.asDict() for s in g["spans"]] == [
            _kernel_span(s) for s in expect.spans
        ]


def test_media_spans_preserved_in_order(extracted, docs_pdf):
    media_in = {
        row["doc_id"]: [s["media_ref"] or "" for s in sorted(row["spans"] or [],
                                                             key=lambda x: x["offset"])
                        if s["kind"] == "media"]
        for _, row in docs_pdf.iterrows()
    }
    rows = (
        explode_spans(extracted)
        .filter("kind = 'media'")
        .orderBy("doc_id", "offset")
        .collect()
    )
    media_out = {}
    for r in rows:
        media_out.setdefault(r["doc_id"], []).append(r["media_ref"])
    for doc_id, refs in media_in.items():
        assert media_out.get(doc_id, []) == refs


def test_malformed_counter(spark):
    pdf = pd.DataFrame({
        "doc_id": ["good", "bad"],
        "spans": [
            [{"kind": "html", "text": "<html><body><p>ok</p></body></html>",
              "media_ref": "", "offset": 0}],
            [{"kind": "html", "text": "<p> broken </>", "media_ref": "", "offset": 0}],
        ],
    })
    sdf = spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)
    out = extract_documents(sdf, "keep_everything")
    rows = {r["doc_id"]: r["malformed"] for r in out.collect()}
    assert rows == {"good": False, "bad": True}


def test_null_offset_and_null_span_keep_the_job(spark):
    """A NULL offset next to another span sorts first and a NULL span
    renders "": neither fails the job its document runs in."""
    docs = [
        ("good", [_span("html", "<html><body><p>ok</p></body></html>", "", 0)]),
        ("null-offset", [_span("html", " two</p></body></html>", "", 1),
                         _span("html", "<html><body><p>one", "", None)]),
        ("null-span", [_span("html", "<html><body><p>x</p></body></html>", "", 0), None]),
    ]
    sdf = spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: r["text"] for r in extract_documents(sdf).collect()}
    assert assemble_html(docs[1][1]) == "<html><body><p>one two</p></body></html>"
    cfg = boilerplate_strip_config()
    assert got == {d: extract(assemble_html(s), cfg).text for d, s in docs}
    assert got["null-offset"] == "one two\n"


def test_document_html_matches_assemble_html(spark):
    """The Catalyst rendering equals its scalar reference over the
    kernel corpus's generated documents, giants (0.5-2 M chars) included,
    and over one giant cut into ~900 spans listed in reverse offset order
    (no UDF involved)."""
    docs = [(str(i), datagen._doc_spans(SEED, i)) for i in range(N_CORPUS_DOCS)]
    giant = next(h for h in map(assemble_html, (s for _, s in docs)) if len(h) > MAX_DOC_CHARS)
    cuts = range(0, len(giant), 1000)
    docs.append(("many-spans", [_span("html", giant[c:c + 1000], "", c) for c in reversed(cuts)]))
    sdf = spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA)
    got = dict(sdf.select("doc_id", document_html("spans")).collect())
    assert len(got) == len(docs) == N_CORPUS_DOCS + 1
    assert got["many-spans"] == giant and len(cuts) > 500
    for doc_id, spans in docs:
        assert got[doc_id] == assemble_html(spans), doc_id


def test_engine_parity_arrow_vs_pandas(spark, extracted, docs_pdf):
    """The hand-built Arrow arrays of the mapInArrow engine must be
    row-identical to the same kernel results built as per-span dicts in
    pandas and converted by Spark's own pandas path."""
    cfg = boilerplate_strip_config()
    rows = []
    for _, row in docs_pdf.iterrows():
        r = extract(assemble_html(row["spans"]), cfg)
        rows.append({
            "doc_id": row["doc_id"],
            "text": r.text,
            "spans": [_kernel_span(s) for s in r.spans],
            "n_spans": len(r.spans),
            "malformed": bool(r.malformed),
            "n_chars": len(r.text),
        })
    p = (spark.createDataFrame(pd.DataFrame(rows), schema=EXTRACTED_SCHEMA)
         .orderBy("doc_id").collect())
    a = extracted.orderBy("doc_id").collect()
    assert len(a) == len(p) == N_DOCS
    for x, y in zip(a, p):
        assert x.asDict(recursive=True) == y.asDict(recursive=True)
