"""End-to-end stats job golden: extracted → span_stats →
stats_per_doc_table → gzip CSV, pinned to the reference's 14-column
stats_per_webpage layout (compute_aggregate_stats.py:73-104,
create_stats.py:35-51) — the reference pipeline's final data product
before its matplotlib report layer."""

import glob
import math

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from mini_html_parser_spark.datagen import generate_documents
from mini_html_parser_spark.operators.extract import extract_documents
from mini_html_parser_spark.operators.stats import (
    STATS_PER_DOC_COLUMNS, stats_per_doc_table, tag_stats,
)
from mini_html_parser_spark.sources.readers import read_csv, write_csv_gz

REFERENCE_LAYOUT = [
    "tag",
    "count_per_doc",
    "text_length_mean", "text_length_median", "text_length_std",
    "text_length_max", "text_length_min",
    "self_closing",
    "token_length_mean", "token_length_median", "token_length_std",
    "token_length_max", "token_length_min",
    "doc_id",
]


def test_stats_per_doc_csv_roundtrip(spark, tmp_path):
    assert STATS_PER_DOC_COLUMNS == REFERENCE_LAYOUT

    docs = generate_documents(spark, 40)
    extracted = extract_documents(docs, "boilerplate_strip")
    per_doc = stats_per_doc_table(extracted, tokenizer="bpe")
    assert per_doc.columns == REFERENCE_LAYOUT

    out = str(tmp_path / "stats_per_webpage")
    write_csv_gz(per_doc, out, header=False)
    assert glob.glob(out + "/*.csv.gz")

    schema = StructType(
        [StructField("tag", StringType())]
        + [StructField(c, DoubleType()) for c in REFERENCE_LAYOUT[1:-1]]
        + [StructField("doc_id", StringType())]
    )
    back = read_csv(spark, out, schema=schema, header=False)
    assert back.columns == REFERENCE_LAYOUT

    want = {
        (r["doc_id"], r["tag"]): r for r in per_doc.collect()
    }
    got = {(r["doc_id"], r["tag"]): r for r in back.collect()}
    assert set(got) == set(want) and len(got) > 0
    for key, g in got.items():
        w = want[key]
        for c in REFERENCE_LAYOUT[1:-1]:
            gv, wv = g[c], float(w[c]) if w[c] is not None else None
            if wv is None or (isinstance(wv, float) and math.isnan(wv)):
                # std of a single span is NaN/null — csv round-trips it
                assert gv is None or math.isnan(gv)
            else:
                assert gv is not None and abs(gv - wv) < 1e-9, (key, c, gv, wv)

    # phase 2 (create_stats.py:74-78): corpus describe() per tag runs
    # directly on the same frame — one chained groupBy, no CSV hop
    described = tag_stats(per_doc)
    assert {"tag", "stat_col", "count", "mean", "std", "min", "p25", "p50", "p75", "max"} == set(described.columns)
    assert described.count() > 0


def test_span_stats_and_tag_stats_keep_their_schema(spark):
    """Both stats levels keep every column's name, type and position
    (the per-doc CSV layout and the describe() rows are read by
    position downstream)."""
    from mini_html_parser_spark.operators.stats import span_stats

    df = spark.createDataFrame(
        [("d1", "hello world", [("p", 0, 5), ("br", 6, 6)])],
        "doc_id string, text string, spans array<struct<value:string,"
        "char_start_idx:int,char_end_idx:int>>",
    )
    per_doc = span_stats(df)
    assert [(f.name, f.dataType.simpleString()) for f in per_doc.schema] == [
        ("doc_id", "string"), ("tag", "string"), ("count_per_doc", "bigint"),
        *[(f"{m}_{s}", "double")
          for m in ("text_length", "token_length")
          for s in ("mean", "median", "std", "max", "min")],
        ("self_closing", "double"),
    ]
    described = tag_stats(per_doc)
    assert [(f.name, f.dataType.simpleString()) for f in described.schema] == [
        ("tag", "string"), ("stat_col", "string"), ("count", "bigint"),
        *[(c, "double")
          for c in ("mean", "std", "min", "p25", "p50", "p75", "max")],
    ]
    rows = {(r["tag"], r["stat_col"]): r for r in described.collect()}
    assert rows[("br", "self_closing")]["p50"] == 1.0
    assert rows[("p", "text_length_max")]["max"] == 5.0


def test_span_rows_bytes_vectorized_parity(spark):
    """The numpy utf8-cumsum path must equal a plain-Python
    `len(text[a:b].encode())` recomputation on unicode-heavy docs with
    null ends, inverted spans, out-of-range indexes and empty span
    lists (the loop path's exact semantics)."""
    from mini_html_parser_spark.operators.stats import span_rows

    rows = [
        ("d1", "héllo 漢字 wörld 🎉 plain ascii tail", [
            ("p", 0, 5), ("em", 6, 8), ("b", 9, None), ("i", 15, 16),
            ("q", 20, 10),     # inverted: text_length negative, tokens 0
            ("z", 2, 999),     # end past len: clamps
            ("s", 4, 4),       # self-closing
        ]),
        ("d2", "", [("p", 0, 0)]),
        ("d3", "no spans here", []),
        ("d4", "𝄞𝄞𝄞 four-byte chars", [("m", 0, 3), ("m", 1, 5)]),
    ]
    df = spark.createDataFrame(
        [(d, t, [{"kind": "tag", "value": v, "char_start_idx": a,
                  "char_end_idx": b} for v, a, b in sp])
         for d, t, sp in rows],
        "doc_id string, text string, spans array<struct<kind:string,"
        "value:string,char_start_idx:int,char_end_idx:int>>",
    )
    got = {
        (r["doc_id"], r["tag"], r["char_start_idx"]): (
            r["char_end_idx"], r["text_length"], r["self_closing"],
            r["token_length"],
        )
        for r in span_rows(df, tokenizer="bytes").collect()
    }
    want = {}
    for d, t, sp in rows:
        for v, a, b in sp:
            e = a if b is None else b
            want[(d, v, a)] = (
                e, float(e - a), int(e == a),
                float(len(t[a:e].encode("utf-8"))),
            )
    assert got == want


def test_span_rows_whitespace_and_bpe_vectorized_parity(spark):
    """All tokenizer paths now share the vectorized pre-projection
    (VERDICT r3 #5): the whitespace run-cumsum and the bpe
    bounds-sliced path must equal a plain-Python
    `count(text[a:max(a,b)])` recomputation — including spans that
    start/end mid-token, unicode whitespace, null ends, inverted and
    out-of-range spans, and empty docs."""
    import random

    from mini_html_parser_spark.operators.bpe import count_tokens as bpe_count
    from mini_html_parser_spark.operators.stats import span_rows

    rng = random.Random(20260817)
    ws_pool = " \t\n  　\x1c\x85"
    word_pool = ["héllo", "wörld", "漢字", "x", "ab", "🎉🎉", "q-r"]
    docs = []
    for i in range(24):
        parts = []
        for _ in range(rng.randrange(0, 30)):
            parts.append(rng.choice(word_pool) if rng.random() < 0.6
                         else rng.choice(ws_pool) * rng.randrange(1, 4))
        text = "".join(parts)
        n = len(text)
        spans = []
        for j in range(rng.randrange(0, 8)):
            a = rng.randrange(0, n + 1) if n else 0
            b = rng.choice(
                [None, a, rng.randrange(0, n + 2) if n else 0, n + 50]
            )
            spans.append((f"t{j}", a, b))
        docs.append((f"d{i}", text, spans))
    # hand-picked straddle cases: span starts mid-token / on a space
    docs.append(("edge", "aa bb  cc\tdd", [
        ("m", 1, 5),   # mid-token start, mid-token end → "a bb" = 2
        ("m2", 2, 6),  # starts on space → "bb " = 1
        ("m3", 0, 0), ("m4", 3, 3),
    ]))
    df = spark.createDataFrame(
        [(d, t, [{"kind": "tag", "value": v, "char_start_idx": a,
                  "char_end_idx": b} for v, a, b in sp])
         for d, t, sp in docs],
        "doc_id string, text string, spans array<struct<kind:string,"
        "value:string,char_start_idx:int,char_end_idx:int>>",
    )
    for tokenizer, counter in [
        ("whitespace", lambda p: len(p.split())),
        ("bpe", bpe_count),
    ]:
        got = {
            (r["doc_id"], r["tag"]): r["token_length"]
            for r in span_rows(df, tokenizer=tokenizer).collect()
        }
        want = {}
        for d, t, sp in docs:
            for v, a, b in sp:
                e = a if b is None else max(b, a)
                want[(d, v)] = float(counter(t[a:e]))
        assert got == want, tokenizer


def test_stats_report_svg_panels(spark, tmp_path):
    """B25 figures: the five reference panels render as well-formed
    SVG with bars proportional to the describe means; body is the
    percentage denominator and excluded from the bars."""
    import xml.etree.ElementTree as ET

    from mini_html_parser_spark.operators.report import (
        PANEL_STATS, stats_report_panels, write_stats_report,
    )

    docs = generate_documents(spark, 30)
    extracted = extract_documents(docs, "boilerplate_strip")
    described = tag_stats(stats_per_doc_table(extracted, tokenizer="bytes"))
    panels = stats_report_panels(described)
    assert set(PANEL_STATS) <= set(panels)
    assert {"length_mean_pct_of_body", "diff_text_token_pct"} <= set(panels)

    # well-formed XML; bars present; body excluded from labels
    ns = {"s": "http://www.w3.org/2000/svg"}
    means = {
        (r["tag"], r["stat_col"]): r["mean"]
        for r in described.select("tag", "stat_col", "mean").collect()
    }
    tags = sorted({t for t, _ in means} - {"body"})
    for name, svg in panels.items():
        root = ET.fromstring(svg)
        texts = [t.text for t in root.findall(".//s:text", ns)]
        rects = root.findall(".//s:rect", ns)
        assert rects, name
        for t in tags:
            assert t in texts, (name, t)
        assert "body" not in texts[1:]  # only ever in the title line

    # bar widths proportional to values within a panel
    root = ET.fromstring(panels["count_per_doc"])
    rects = root.findall(".//s:rect", ns)
    widths = [float(r.get("width")) for r in rects]
    vals = [means[(t, "count_per_doc")] for t in
            sorted(tags, key=lambda t: means[(t, "count_per_doc")])]
    top = max(range(len(vals)), key=lambda i: vals[i])
    assert widths[top] == max(widths)

    files = write_stats_report(described, str(tmp_path / "report"))
    assert any(f.endswith("index.html") for f in files)
    assert sum(f.endswith(".svg") for f in files) == 5


def test_svg_barh_negative_panel_and_list_merges(spark):
    """All-negative series stays inside the canvas (hi clamped to 0),
    and the gpt2 encoder accepts JSON-style list pairs."""
    import xml.etree.ElementTree as ET

    from mini_html_parser_spark.operators.gpt2_bpe import gpt2_encode
    from mini_html_parser_spark.operators.report import svg_barh

    svg = svg_barh([("diff", [-1.0, -0.9, -0.4])], ["a", "b", "c"], "neg")
    root = ET.fromstring(svg)
    width = float(root.get("width"))
    ns = {"s": "http://www.w3.org/2000/svg"}
    for r in root.findall(".//s:rect", ns):
        assert 0 <= float(r.get("x")) <= width
        assert float(r.get("x")) + float(r.get("width")) <= width + 1
    # list pairs (json.load shape) must not raise
    assert gpt2_encode("hello", [["h", "e"], ["he", "l"]]) == ["hel", "l", "o"]
