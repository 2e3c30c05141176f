"""Spark-side extraction operator.

Input contract (BASELINE.json ``input_hint``): a table of interleaved
text + media documents::

    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

A document's renderable HTML is the concatenation of its spans in
``offset`` order, each ``media`` span standing for
``<img src="{media_ref}" alt="">`` (FIXTURES.md §1; mirrors the
reference emitting ``img`` as a zero-length inline span carrying
``src`` — reference html_parser.py:75 and the 6 img rows of
parse_scripts/data_test/wiki_page_metadata.jsonl).

Two entry points.  :func:`extract_documents` takes the spans contract
and renders each document's HTML once, in Catalyst (:func:`document_html`,
one JVM projection; :func:`assemble_html` is its scalar reference).
:func:`extract_html` takes ``(doc_id, html)`` and is the only
``mapInArrow`` UDF: the whole per-document kernel runs inside the
vectorized batch (SURVEY.md §2A), and it never sees ``spans``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import ExtractionConfig
from ..kernel.config import NAMED_CONFIGS
from ..kernel.extract import make_extract_fn

# ---- schemas (FIXTURES.md §1/§2) -----------------------------------------

INPUT_SPAN_SCHEMA = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(INPUT_SPAN_SCHEMA)),
])

OUTPUT_SPAN_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("type", StringType()),
    StructField("char_start_idx", IntegerType()),
    StructField("relative_start_pos", IntegerType()),
    StructField("char_end_idx", IntegerType()),
    StructField("relative_end_pos", IntegerType()),
    StructField("value", StringType()),
    StructField("attrs", ArrayType(StringType())),
    StructField("attr_values", ArrayType(StringType())),
    StructField("kind", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

EXTRACTED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("text", StringType()),
    StructField("spans", ArrayType(OUTPUT_SPAN_SCHEMA)),
    StructField("n_spans", IntegerType()),
    StructField("malformed", BooleanType()),
    StructField("n_chars", LongType()),
])


def document_html(spans) -> Column:
    """Interleaved spans → renderable HTML string, as one Catalyst
    expression: each span becomes ``struct(offset, index, piece)``,
    ``sort_array`` orders them (NULL offsets first; the index keeps
    ties in input order), and the pieces are joined.  A NULL span
    renders ``""``, as does a NULL or empty array."""
    def keyed(s, i):
        piece = F.when(
            s["kind"] == "media",
            F.concat(F.lit('<img src="'), F.coalesce(s["media_ref"], F.lit("")),
                     F.lit('" alt="">')),
        ).otherwise(F.coalesce(s["text"], F.lit("")))
        return F.struct(s["offset"].alias("offset"), i.alias("index"),
                        piece.alias("piece"))

    ordered = F.sort_array(F.transform(spans, keyed))
    return F.coalesce(
        F.array_join(F.transform(ordered, lambda k: k["piece"]), ""), F.lit("")
    )


def assemble_html(spans) -> str:
    """Scalar reference of :func:`document_html` (same NULL and tie
    rules), for tests and benchmarks."""
    if spans is None:
        return ""
    parts = []
    for s in sorted((s for s in spans if s is not None),
                    key=lambda x: (x["offset"] is not None, x["offset"] or 0)):
        if s["kind"] == "media":
            parts.append(f'<img src="{s["media_ref"] or ""}" alt="">')
        else:
            parts.append(s["text"] or "")
    return "".join(parts)


def _resolve_config(config) -> ExtractionConfig:
    if isinstance(config, str):
        return NAMED_CONFIGS[config]()
    return config if config is not None else ExtractionConfig()


def extract_documents(
    df: DataFrame,
    config: ExtractionConfig | str = "boilerplate_strip",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """documents ``(doc_id, spans)`` → extracted: :func:`extract_html`
    over each document's :func:`document_html`.

    ``html`` replaces ``spans`` in place and every other input column
    still reaches the UDF, so Catalyst prunes no column below an
    upstream round-robin exchange, whose placement hashes whole rows
    (pipeline.repartition_for_extraction)."""
    return extract_html(
        df.withColumn("html", document_html("spans")).drop("spans"),
        config, passthrough_cols,
    )


def extract_html(
    df: DataFrame,
    config: ExtractionConfig | str = "boilerplate_strip",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """``(doc_id, html)`` → extracted: the corpus parse job as one
    narrow stage.

    The kernel runs inside ``mapInArrow`` batches over the ``html``
    strings (a NULL parses as ``""``), and the nested span output is
    built as flat Arrow arrays + offsets, not per-span Python dicts;
    no shuffle is introduced — partitioning/salting is the caller's
    concern (see pipeline.repartition_for_extraction).

    ``passthrough_cols`` are copied verbatim to the output (e.g. the
    salt ``bucket``, so lineage uses the exact partitioning key).
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    cfg = _resolve_config(config)
    passthrough = passthrough_cols or []
    spark_schema = StructType(
        EXTRACTED_SCHEMA.fields + [df.schema[c] for c in passthrough]
    )
    arrow_schema = to_arrow_schema(spark_schema)
    span_type = arrow_schema.field("spans").type.value_type  # struct

    def process(batches):
        extract_one = make_extract_fn(cfg)  # once per task (guide §4.5)
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            htmls = batch.column("html").to_pylist()

            texts: list = []
            n_spans: list = []
            malformed: list = []
            n_chars: list = []
            span_offsets = [0]
            all_spans: list = []

            for html in htmls:
                r = extract_one(html or "")
                texts.append(r.text)
                n_spans.append(len(r.spans))
                malformed.append(bool(r.malformed))
                n_chars.append(len(r.text))
                all_spans.extend(r.spans)
                span_offsets.append(span_offsets[-1] + len(r.spans))

            # column assembly in bulk comprehensions (~35 % of the
            # operator's non-kernel time was the per-span append loop)
            attrs_flat: list = []; attrs_offsets = [0]
            vals_flat: list = []; vals_offsets = [0]
            ao = attrs_offsets.append; vo = vals_offsets.append
            ae = attrs_flat.extend; ve = vals_flat.extend
            for s in all_spans:
                # attr values from the kernel are never None (the DOM
                # sink normalizes valueless attrs to "" at parse time)
                ae(s.attrs); ao(len(attrs_flat))
                ve(s.attr_values); vo(len(vals_flat))

            n_all = len(all_spans)
            str_t = pa.string()
            struct = pa.StructArray.from_arrays(
                [
                    # key/type are dataclass constants ("html"/"local")
                    # on every span the kernel emits
                    pa.array(["html"] * n_all, str_t),
                    pa.array(["local"] * n_all, str_t),
                    pa.array([s.char_start_idx for s in all_spans], pa.int32()),
                    pa.array([s.relative_start_pos for s in all_spans], pa.int32()),
                    pa.array([s.char_end_idx for s in all_spans], pa.int32()),
                    pa.array([s.relative_end_pos for s in all_spans], pa.int32()),
                    pa.array([s.value for s in all_spans], str_t),
                    pa.ListArray.from_arrays(
                        pa.array(attrs_offsets, pa.int32()), pa.array(attrs_flat, str_t)
                    ),
                    pa.ListArray.from_arrays(
                        pa.array(vals_offsets, pa.int32()), pa.array(vals_flat, str_t)
                    ),
                    pa.array([s.kind for s in all_spans], str_t),
                    pa.array([s.media_ref for s in all_spans], str_t),
                    pa.array([s.offset for s in all_spans], pa.int32()),
                ],
                fields=list(span_type),
            )
            spans_arr = pa.ListArray.from_arrays(
                pa.array(span_offsets, pa.int32()), struct
            )
            cols = [
                pa.array([str(d) for d in doc_ids], str_t),
                pa.array(texts, str_t),
                spans_arr,
                pa.array(n_spans, pa.int32()),
                pa.array(malformed, pa.bool_()),
                pa.array(n_chars, pa.int64()),
            ]
            for c in passthrough:
                cols.append(batch.column(c))
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return df.mapInArrow(process, schema=spark_schema)


def explode_spans(extracted: DataFrame) -> DataFrame:
    """extracted → one row per span (reference B11, compute_aggregate_stats.py:48)."""
    return (
        extracted
        .select("doc_id", "text", F.explode("spans").alias("span"))
        .select(
            "doc_id",
            "text",
            F.col("span.value").alias("tag"),
            F.col("span.char_start_idx").alias("char_start_idx"),
            F.col("span.char_end_idx").alias("char_end_idx"),
            F.col("span.relative_start_pos").alias("relative_start_pos"),
            F.col("span.relative_end_pos").alias("relative_end_pos"),
            F.col("span.attrs").alias("attrs"),
            F.col("span.attr_values").alias("attr_values"),
            F.col("span.kind").alias("kind"),
            F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"),
        )
    )
