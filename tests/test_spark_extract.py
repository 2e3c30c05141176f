"""Spark path == kernel path: the DataFrame pipeline must produce
field-for-field what the unit-verified scalar kernel produces (every
output column and every span field, per BASELINE.json input_hint)."""

import pandas as pd
import pytest

from mini_html_parser_spark.datagen import generate_pandas
from mini_html_parser_spark.kernel import boilerplate_strip_config, extract
from mini_html_parser_spark.operators.extract import (
    DOCUMENTS_SCHEMA,
    EXTRACTED_SCHEMA,
    OUTPUT_SPAN_SCHEMA,
    assemble_html,
    extract_documents,
    explode_spans,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def docs_pdf():
    return generate_pandas(N_DOCS, seed=42)


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
        row["doc_id"]: [s["media_ref"] for s in sorted(row["spans"], key=lambda x: x["offset"])
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
