"""The BM25 and TF-IDF oracles agree with Spark on a corpus with a
NULL-text row: such a row is not a document, so it counts in neither
engine's N (``retrieval.corpus_stats``)."""

import importlib.util
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as E

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table_hash():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.table_hash


@pytest.mark.parametrize("name", ["bm25_topk", "bm25_batch_topk", "tfidf_top_terms"])
def test_oracle_skips_null_text(spark, tmp_path, name):
    src = os.path.join(E.SF0001, "documents.parquet")
    if not os.path.exists(src):
        pytest.skip(f"{src} not found")
    docs = pq.read_table(src)
    text = docs.column("text").to_pylist()
    text[0] = None
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(text, pa.string())
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    sf = str(tmp_path)

    got = E.queries()[name](spark, sf)
    cols = [c.lower() for c in got.columns]
    rows = [tuple(r) for r in got.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'")
    rel = con.sql(E.oracle_sql()[name])
    want_cols = [c.lower() for c in rel.columns]
    want = rel.fetchall()

    assert rows, name
    assert sorted(cols) == sorted(want_cols)
    table_hash = _table_hash()
    assert table_hash(cols, rows) == table_hash(want_cols, want)
