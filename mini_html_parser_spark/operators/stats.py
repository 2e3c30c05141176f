"""Statistics module — the reference's two-phase stats job as ONE
Catalyst plan (reference: statistics/compute_aggregate_stats.py +
create_stats.py; SURVEY.md §3.3, operators B11–B23).

Phase 1 (per-doc × tag) and phase 2 (corpus describe per tag) were a
CSV hop + dask job in the reference; here they are two chained
``groupBy`` levels over the exploded span table — partial/final hash
aggregation, no materialization between phases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# numeric stat columns of the per-doc table (FIXTURES.md §3; column
# order pinned by statistics/create_stats.py:35-51)
_STAT_COLS = [
    "count_per_doc",
    "text_length_mean", "text_length_median", "text_length_std",
    "text_length_max", "text_length_min",
    "self_closing",
    "token_length_mean", "token_length_median", "token_length_std",
    "token_length_max", "token_length_min",
]

_SPAN_ROW_SCHEMA = (
    "doc_id string, tag string, char_start_idx int, char_end_idx int, "
    "text_length double, self_closing int, token_length double"
)

# CPython's str.split() whitespace set (Py_UNICODE_ISSPACE) — needed
# to count whitespace tokens per span WITHOUT slicing the span text:
# token count in [a,b) falls out of a cumulative sum of token-run
# starts over the whole doc (one vectorized pass), the same shape as
# the utf-8 cumsum trick.
_UNICODE_WS = (
    list(range(0x09, 0x0E)) + list(range(0x1C, 0x21)) + [0x85, 0xA0, 0x1680]
    + list(range(0x2000, 0x200B)) + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
)


def span_rows(
    extracted: DataFrame, tokenizer: str = "bytes", slim: bool = False
) -> DataFrame:
    """Exploded spans + derived columns (reference B11–B16).

    ``text_length = char_end_idx - char_start_idx`` with null end
    backfilled from start (B13, compute_aggregate_stats.py:52-54);
    ``self_closing = (end == start)``; span text sliced from the doc
    text (B15) and token length from the pluggable tokenizer (B16).
    Tokenizers: ``"bpe"`` = the engine's self-contained subword BPE
    (operators/bpe.py — the reference's GPT-2 tokenizer is
    offline-unavailable, this is the closest public-knowledge stand-
    in); ``"bytes"`` (utf-8 length) and ``"whitespace"`` (split count)
    remain as cheap proxies.

    Spans' start/end/tag arrive as per-doc ARRAYS (``spans.value``
    field projections: nested-schema pruning pushes them into the scan,
    which reads 3 of the 12 span fields), so the batch loop is per doc,
    not per span.  The per-span struct walk was the allocation hot spot
    of the stats bench (≈1.4 M spans / 750 docs): numpy gathers cut it
    ~4× and remove the allocator-pressure creep across repeats.

    token_length per tokenizer:

    * ``bytes`` — utf8_len(text[a:b]) == cum[b] − cum[a] where ``cum``
      is the per-doc cumulative utf-8 byte width of each char: ONE
      vectorized pass (utf-32 decode → width table → cumsum) replaces
      a ``text[a:b]; piece.encode()`` per span.
    * ``whitespace`` — len(piece.split()) == (token-run starts inside
      [a,b)) + 1 if a run straddles ``a``; run starts are
      ``nonspace & shift(space)`` over the doc's codepoints, their
      cumsum makes every span an O(1) gather.  Zero slicing.
    * ``bpe`` / ``bpe_fixpoint`` — the subword merge loop is
      inherently per-piece Python; everything AROUND it (null
      backfill, clipping, lengths, output assembly) stays vectorized
      and only ``count_tokens`` runs per span, over a zip of the
      clipped numpy bounds.
    """
    # Span-text slicing happens in an Arrow-batched Python stage, not
    # in JVM expressions: two prior shapes were measured and rejected —
    # (a) explode-then-substring duplicates the full document text
    # into every span row (a 1 MB doc with 40k spans materializes
    # ~40 GB through Generate); (b) substring() inside an array
    # transform avoids the duplication but UTF8String.substringSQL
    # seeks the char offset by scanning, O(text_len) per span →
    # O(spans × text_len) per giant doc.  CPython slicing is O(slice)
    # with O(1) indexing, so one pass over each doc's spans is linear.
    if tokenizer not in ("bytes", "whitespace", "bpe", "bpe_fixpoint"):
        raise ValueError(f"unknown tokenizer {tokenizer!r}")

    from typing import Iterator

    import numpy as np
    import pandas as pd

    if tokenizer == "bpe_fixpoint":
        # true classic BPE (Sennrich/GPT-2 semantics) — Python-only,
        # for real-tokenizer statistics; see operators/bpe.py docstring
        from .bpe import count_tokens as _bpe_count

        def count_tokens(piece: str) -> int:
            return _bpe_count(piece, fixpoint=True)
    elif tokenizer == "bpe":
        from .bpe import count_tokens
    else:
        count_tokens = None  # bytes / whitespace: closed-form cumsum

    ws_codes = np.asarray(_UNICODE_WS, dtype=np.uint32)

    pre = extracted.selectExpr(
        "doc_id",
        "text",
        "spans.value AS tags",
        "spans.char_start_idx AS starts",
        "spans.char_end_idx AS ends",
    )

    def slice_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # slim: an aggregating caller (span_stats) never reads the raw
        # char offsets — don't assemble or ship them across the Arrow
        # boundary (guide §4.1: pass only the columns the consumer
        # needs; Spark can't prune INSIDE an opaque Python stage)
        cols = (
            ("doc_id", "tag", "text_length", "self_closing", "token_length")
            if slim else
            ("doc_id", "tag", "char_start_idx", "char_end_idx",
             "text_length", "self_closing", "token_length")
        )
        for pdf in batches:
            doc_ids, counts = [], []
            tag_parts, s_parts, e_parts, tok_parts = [], [], [], []
            for doc_id, text, tags, starts, ends in zip(
                pdf["doc_id"], pdf["text"], pdf["tags"], pdf["starts"], pdf["ends"]
            ):
                n = len(starts)
                if n == 0:
                    continue
                s = np.asarray(starts, dtype=np.int64)
                # char_end_idx is nullable: null backfills from start (B13)
                e_raw = np.asarray(ends, dtype=np.float64)
                e = np.where(np.isnan(e_raw), s, e_raw).astype(np.int64)
                n_chars = len(text)
                lo = np.clip(s, 0, n_chars)
                hi = np.clip(np.maximum(e, s), 0, n_chars)
                if tokenizer == "bytes":
                    # utf-8 width per char:
                    # 1 + [U+0080,) + [U+0800,) + [U+10000,)
                    codes = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    )
                    widths = (
                        1
                        + (codes >= 0x80).astype(np.int64)
                        + (codes >= 0x800)
                        + (codes >= 0x10000)
                    )
                    cum = np.zeros(len(codes) + 1, dtype=np.int64)
                    np.cumsum(widths, out=cum[1:])
                    tok = cum[hi] - cum[lo]
                elif tokenizer == "whitespace":
                    codes = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    )
                    nonspace = ~np.isin(codes, ws_codes)
                    # run start at i ⇔ nonspace[i] and (i==0 or space[i-1])
                    run_start = nonspace.copy()
                    run_start[1:] &= ~nonspace[:-1]
                    cum = np.zeros(len(codes) + 1, dtype=np.int64)
                    np.cumsum(run_start, out=cum[1:])
                    tok = cum[hi] - cum[lo]
                    if n_chars > 0:
                        # a run straddling the span start is a token of
                        # the slice but its start lies before lo: +1
                        # when the span is non-empty, lo lands on a
                        # nonspace char, and that char does not itself
                        # start a run
                        lo_c = np.minimum(lo, n_chars - 1)
                        straddle = (
                            (hi > lo)
                            & (lo < n_chars)
                            & nonspace[lo_c]
                            & ~run_start[lo_c]
                        )
                        tok = tok + straddle
                else:  # bpe variants: per-piece Python, bounds numpy
                    tok = np.fromiter(
                        (count_tokens(text[a:b]) for a, b in zip(lo, hi)),
                        dtype=np.int64,
                        count=n,
                    )
                doc_ids.append(doc_id)
                counts.append(n)
                tag_parts.append(np.asarray(tags, dtype=object))
                s_parts.append(s)
                e_parts.append(e)
                tok_parts.append(tok)
            if not doc_ids:
                yield pd.DataFrame({k: [] for k in cols})
                continue
            s_all = np.concatenate(s_parts)
            e_all = np.concatenate(e_parts)
            out = {
                "doc_id": np.repeat(np.asarray(doc_ids, dtype=object), counts),
                "tag": np.concatenate(tag_parts),
                "char_start_idx": s_all.astype(np.int32),
                "char_end_idx": e_all.astype(np.int32),
                "text_length": (e_all - s_all).astype(np.float64),
                "self_closing": (e_all == s_all).astype(np.int32),
                "token_length": np.concatenate(tok_parts).astype(np.float64),
            }
            yield pd.DataFrame({k: out[k] for k in cols})

    schema = (
        "doc_id string, tag string, text_length double, "
        "self_closing int, token_length double"
    ) if slim else _SPAN_ROW_SCHEMA
    return pre.mapInPandas(slice_batches, schema=schema)


def span_stats(extracted: DataFrame, tokenizer: str = "bytes") -> DataFrame:
    """Per-(doc, tag) statistics (reference phase 1, B18/B19;
    compute_aggregate_stats.py:72-90).  Exact median to match pandas;
    ``self_closing`` is the ratio of self-closing spans (B19,
    compute_aggregate_stats.py:88-90).  One SQL statement: one parse
    and analysis instead of a Column-API round trip per expression."""
    rows = span_rows(extracted, tokenizer, slim=True)
    return rows.sparkSession.sql(
        """SELECT doc_id, tag, count(*) AS count_per_doc,
             avg(text_length) AS text_length_mean,
             median(text_length) AS text_length_median,
             stddev(text_length) AS text_length_std,
             max(text_length) AS text_length_max,
             min(text_length) AS text_length_min,
             avg(token_length) AS token_length_mean,
             median(token_length) AS token_length_median,
             stddev(token_length) AS token_length_std,
             max(token_length) AS token_length_max,
             min(token_length) AS token_length_min,
             CAST(sum(self_closing) / count(*) AS double) AS self_closing
           FROM {rows} GROUP BY doc_id, tag""",
        rows=rows,
    )


# the reference's per-webpage stats CSV layout: headerless, 14
# columns in this exact order (compute_aggregate_stats.py:73-104
# writes them; create_stats.py:35-51 names them on read-back)
STATS_PER_DOC_COLUMNS = ["tag", *_STAT_COLS, "doc_id"]


def stats_per_doc_table(extracted: DataFrame, tokenizer: str = "bpe") -> DataFrame:
    """``span_stats`` projected into the reference's
    ``stats_per_webpage`` column order — the frame whose gzip-CSV
    dump is the reference stats job's per-file deliverable
    (B25's data product; the barh report layer reads this file)."""
    return span_stats(extracted, tokenizer).select(*STATS_PER_DOC_COLUMNS)


def tag_stats(per_doc: DataFrame) -> DataFrame:
    """Corpus-level describe() per tag (reference phase 2, B20;
    compute_aggregate_stats.py:134-136): count/mean/std/min/p25/p50/
    p75/max for every numeric column, one output row per (tag, stat
    column) — a long-format describe that one groupBy computes, with
    the three quartiles from one percentile buffer per group."""
    pairs = ", ".join(f"'{c}', CAST({c} AS double)" for c in _STAT_COLS)
    return per_doc.sparkSession.sql(
        f"""SELECT tag, stat_col, `count`, mean, std, `min`,
             q[0] AS p25, q[1] AS p50, q[2] AS p75, `max`
           FROM (SELECT tag, stat_col, count(value) AS `count`,
                   avg(value) AS mean, stddev(value) AS std,
                   min(value) AS `min`,
                   percentile(value, array(0.25, 0.5, 0.75)) AS q,
                   max(value) AS `max`
                 FROM (SELECT tag, stack({len(_STAT_COLS)}, {pairs})
                         AS (stat_col, value) FROM {{per_doc}})
                 GROUP BY tag, stat_col)""",
        per_doc=per_doc,
    )
