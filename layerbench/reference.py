"""Reference outputs built with the scalar kernel, and the output checks.

The reference for a workload is computed outside Spark with
``assemble_html`` + ``make_extract_fn`` — the same public functions the
extraction operator calls per document — so a Spark-side ordering,
NULL or duplication bug shows up as a mismatch.  Two forms:

* extraction output: doc, span, malformed and char counts plus an
  order-independent digest of ``(doc_id, text, spans)``, computed
  identically by :func:`row_hash` (Python) and :func:`digest_aggregate`
  (Spark SQL);
* span statistics: ``tag_stats(span_stats(...))`` recomputed with numpy,
  compared value by value with a relative tolerance.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

CONFIG = "boilerplate_strip"

# field separators of the canonical row string; NULL has its own marker
# so that NULL and "" digest differently
_NULL = "\x00"
_SEP_ROW, _SEP_SPANS, _SEP_FIELD, _SEP_LIST = "\x1f", "\x1d", "\x1e", "\x1c"
# md5 hex digits kept per row: 15 hex digits fit a signed 64-bit conv()
_HASH_HEX = 15

STAT_COLS = [
    "count_per_doc",
    "text_length_mean", "text_length_median", "text_length_std",
    "text_length_max", "text_length_min",
    "self_closing",
    "token_length_mean", "token_length_median", "token_length_std",
    "token_length_max", "token_length_min",
]
# tag_stats output columns after (tag, stat_col)
TAG_STAT_FIELDS = ("count", "mean", "std", "min", "p25", "p50", "p75", "max")


def _s(v) -> str:
    return _NULL if v is None else str(v)


def _join(values) -> str:
    if values is None:
        return _NULL
    return _SEP_LIST.join(_NULL if v is None else v for v in values)


SPAN_FIELDS = (
    "key", "type", "char_start_idx", "relative_start_pos", "char_end_idx",
    "relative_end_pos", "value", "attrs", "attr_values", "kind", "media_ref", "offset",
)
_LIST_FIELDS = frozenset(("attrs", "attr_values"))


def row_hash(doc_id, text, spans) -> int:
    """Digest term of one extracted row (kernel ``Span`` objects); see
    :func:`digest_aggregate`."""
    span_strs = [
        _SEP_FIELD.join(
            _join(getattr(s, f)) if f in _LIST_FIELDS else _s(getattr(s, f))
            for f in SPAN_FIELDS
        )
        for s in spans
    ]
    row = _SEP_ROW.join((_s(doc_id), _s(text), _SEP_SPANS.join(span_strs)))
    return int(hashlib.md5(row.encode("utf-8")).hexdigest()[:_HASH_HEX], 16)


def digest_aggregate(extracted):
    """One-row aggregate of an extracted frame: ``docs``, ``spans``,
    ``malformed``, ``chars`` and ``digest`` (the sum of every row's
    :func:`row_hash`, computed in Spark SQL)."""
    from pyspark.sql import functions as F

    def c(col):
        return F.coalesce(col.cast("string"), F.lit(_NULL))

    def j(col):
        return F.coalesce(F.array_join(col, _SEP_LIST, _NULL), F.lit(_NULL))

    span_str = F.transform("spans", lambda s: F.concat_ws(
        _SEP_FIELD,
        c(s["key"]), c(s["type"]), c(s["char_start_idx"]), c(s["relative_start_pos"]),
        c(s["char_end_idx"]), c(s["relative_end_pos"]), c(s["value"]),
        j(s["attrs"]), j(s["attr_values"]), c(s["kind"]), c(s["media_ref"]),
        c(s["offset"]),
    ))
    row = F.concat_ws(
        _SEP_ROW, c(F.col("doc_id")), c(F.col("text")),
        F.coalesce(F.array_join(span_str, _SEP_SPANS), F.lit(_NULL)),
    )
    h = F.conv(F.substring(F.md5(row), 1, _HASH_HEX), 16, 10).cast("decimal(20,0)")
    return extracted.select(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_spans").alias("spans"),
        F.sum(F.col("malformed").cast("long")).alias("malformed"),
        F.sum("n_chars").alias("chars"),
        F.sum(h).alias("digest"),
    ).collect()[0]


@dataclass
class Reference:
    """Scalar-kernel reference of one workload's extraction output."""

    docs: int = 0
    spans: int = 0
    malformed: int = 0
    chars: int = 0
    digest: int = 0
    html_bytes: int = 0
    per_doc_stats: list = field(default_factory=list)

    def merge(self, other: "Reference") -> None:
        self.docs += other.docs
        self.spans += other.spans
        self.malformed += other.malformed
        self.chars += other.chars
        self.digest += other.digest
        self.html_bytes += other.html_bytes
        self.per_doc_stats.extend(other.per_doc_stats)

    def check_extraction(self, row) -> str | None:
        """Mismatch description for a :func:`digest_aggregate` row, or None."""
        if row is None:
            return "no output row"
        got = (row["docs"], row["spans"] or 0, row["malformed"] or 0,
               row["chars"] or 0, int(row["digest"] or 0))
        want = (self.docs, self.spans, self.malformed, self.chars, self.digest)
        if got != want:
            names = ("docs", "spans", "malformed", "chars", "digest")
            diffs = [f"{n}: got {g} want {w}" for n, g, w in zip(names, got, want) if g != w]
            return "extraction output differs from the scalar reference: " + "; ".join(diffs)
        return None


def _doc_stats(doc_id: str, text: str, spans) -> list[tuple]:
    """Per-(doc, tag) rows of ``stats.span_stats`` with the "bytes"
    tokenizer: NULL end backfilled from start, bounds clipped to the text."""
    import numpy as np

    n = len(text)
    by_tag: dict = {}
    for s in spans:
        a = s.char_start_idx
        e = a if s.char_end_idx is None else s.char_end_idx
        lo = min(max(a, 0), n)
        hi = min(max(max(e, a), 0), n)
        rec = by_tag.setdefault(s.value, ([], [], []))
        rec[0].append(e - a)
        rec[1].append(1 if e == a else 0)
        rec[2].append(len(text[lo:hi].encode("utf-8")))
    rows = []
    for tag, (tl, sc, tok) in by_tag.items():
        tl = np.asarray(tl, dtype=np.float64)
        tok = np.asarray(tok, dtype=np.float64)
        k = len(tl)

        def std(v):
            return float(np.std(v, ddof=1)) if k > 1 else None

        rows.append((
            doc_id, tag, k,
            float(tl.mean()), float(np.median(tl)), std(tl), float(tl.max()), float(tl.min()),
            sum(sc) / k,
            float(tok.mean()), float(np.median(tok)), std(tok), float(tok.max()), float(tok.min()),
        ))
    return rows


def reference_part(docs, with_stats: bool) -> Reference:
    """Reference of ``docs`` — an iterable of ``(doc_id, spans)`` — or of
    the response pages of a WARC segment when ``docs`` is a path.  Runs
    in a worker process of the set-up pool."""
    from mini_html_parser_spark.kernel.config import NAMED_CONFIGS
    from mini_html_parser_spark.kernel.extract import make_extract_fn
    from mini_html_parser_spark.operators.extract import assemble_html

    if isinstance(docs, str):
        docs = warc_pages(docs)
    extract_one = make_extract_fn(NAMED_CONFIGS[CONFIG]())
    ref = Reference()
    for doc_id, spans in docs:
        html = assemble_html(spans)
        r = extract_one(html)
        ref.docs += 1
        ref.spans += len(r.spans)
        ref.malformed += bool(r.malformed)
        ref.chars += len(r.text)
        ref.digest += row_hash(doc_id, r.text, r.spans)
        ref.html_bytes += len(html.encode("utf-8"))
        if with_stats:
            ref.per_doc_stats.extend(_doc_stats(doc_id, r.text, r.spans))
    return ref


def warc_pages(path: str) -> list[tuple[str, list]]:
    """A WARC segment's response pages as ``(doc_id, spans)`` documents,
    shaped as ``pipeline.warc_documents`` shapes them."""
    from mini_html_parser_spark.sources.warc import parse_warc

    with open(path, "rb") as f:
        rows, _ = parse_warc(f.read())
    return [
        (url, [{"kind": "html", "text": html, "media_ref": "", "offset": 0}])
        for url, _, html in rows
    ]


def tag_stats_reference(per_doc_stats: list) -> dict:
    """``stats.tag_stats`` over per-(doc, tag) rows: ``{(tag, stat_col):
    (count, mean, std, min, p25, p50, p75, max)}``; NULL inputs are
    skipped as Spark's aggregates skip them."""
    import numpy as np

    values: dict = {}
    for row in per_doc_stats:
        tag = row[1]
        for col, v in zip(STAT_COLS, row[2:]):
            values.setdefault((tag, col), [])
            if v is not None:
                values[(tag, col)].append(float(v))
    out = {}
    for key, vs in values.items():
        if not vs:
            out[key] = (0,) + (None,) * 7
            continue
        a = np.asarray(vs)
        p25, p50, p75 = (float(x) for x in np.percentile(a, [25, 50, 75]))
        out[key] = (
            len(vs), float(a.mean()),
            float(np.std(a, ddof=1)) if len(vs) > 1 else None,
            float(a.min()), p25, p50, p75, float(a.max()),
        )
    return out


def check_tag_stats(rows, want: dict, rel_tol: float = 1e-7) -> str | None:
    """Mismatch description for collected ``tag_stats`` rows, or None."""
    got = {(r["tag"], r["stat_col"]): tuple(r[f] for f in TAG_STAT_FIELDS) for r in rows}
    if len(rows) != len(got):
        return f"tag_stats has {len(rows) - len(got)} duplicate (tag, stat_col) rows"
    if got.keys() != want.keys():
        return (f"tag_stats keys differ: {len(got.keys() - want.keys())} unexpected, "
                f"{len(want.keys() - got.keys())} missing")
    for key, w in want.items():
        for name, g, x in zip(TAG_STAT_FIELDS, got[key], w):
            if g is None or x is None:
                ok = g is None and x is None
            else:
                ok = math.isclose(g, x, rel_tol=rel_tol, abs_tol=1e-9)
            if not ok:
                return f"tag_stats {key} {name}: got {g} want {x}"
    return None
