"""PDF / layout parsing (north_rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics").

No PDF library ships in this environment, so the operator is built in
two genuinely-functional layers rather than a stub:

* :func:`extract_pdf_text` — a from-scratch parser for the textual
  subset of PDF (published ISO 32000 structure): it walks
  ``stream…endstream`` content streams and evaluates the text-showing
  operators ``Tj`` / ``'`` / ``TJ`` inside ``BT…ET`` blocks, with PDF
  string-escape handling and ``Td``/``TD``/``T*`` treated as line
  breaks, ``/Type /Page`` counted for pagination.  Uncompressed
  streams only (``/FlateDecode`` needs zlib — wired behind an
  import-try since zlib IS stdlib, so deflated streams work too).
* :func:`pdf_bytes_from_text` — a deterministic minimal-PDF writer
  (one font, one content stream per page) used by datagen/tests; its
  output is exactly the subset the parser handles, giving a
  byte-exact round-trip contract the DuckDB oracle can check in
  closed form.

Spark side: :func:`parse_pdf_documents` is an Arrow-batched
``mapInPandas`` stage, like the HTML kernel's ``mapInArrow`` one —
binary column in, (text, n_pages, malformed) out, no per-row Python
at the DataFrame level.
Malformed bytes degrade to ``malformed=True`` with empty text, the
same fallback-metric contract as the HTML path.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# minimal writer (datagen/tests)
# ---------------------------------------------------------------------------


def _escape_pdf_string(s: str) -> bytes:
    out = s.encode("utf-8")
    out = out.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")
    # a raw newline inside a literal string would be a PDF line break;
    # keep the byte stream single-line per Tj.  '>' is octal-escaped
    # so the reader's [^>]-bounded dict regexes can never be cut short
    # by a '>' inside a /Subject media ref.
    return (
        out.replace(b"\r", rb"\r")
        .replace(b"\n", rb"\n")
        .replace(b">", rb"\076")
    )


def _text_block_ops(text: str) -> bytes:
    """One ``BT…ET`` block showing ``text`` (``\\n`` → ``Td`` line
    moves) — the single text-encoding point shared by both writers."""
    ops = [b"BT /F1 12 Tf 72 720 Td"]
    for i, line in enumerate(text.split("\n")):
        if i > 0:
            ops.append(b"0 -14 Td")
        ops.append(b"(" + _escape_pdf_string(line) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def pdf_bytes_from_text(text: str, lines_per_page: int = 40) -> bytes:
    """A deterministic, minimal, single-font PDF carrying ``text``
    (``\\n``-separated lines; paginated every ``lines_per_page``).
    Structurally complete — header, page tree, per-page uncompressed
    content streams, xref table, trailer — so any conforming reader
    sees the same text the bundled parser extracts."""
    lines = text.split("\n")
    pages = [
        lines[i : i + lines_per_page]
        for i in range(0, len(lines), lines_per_page)
    ] or [[""]]

    objs: list[bytes] = []  # 1-indexed object bodies, in object order
    n_pages = len(pages)
    # object layout: 1=Catalog, 2=Pages, 3=Font,
    #                4..3+n = Page objects, 4+n..3+2n = content streams
    page_ids = [4 + i for i in range(n_pages)]
    content_ids = [4 + n_pages + i for i in range(n_pages)]

    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for pid, cid in zip(page_ids, content_ids):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {cid} 0 R >>"
            ).encode()
        )
    for page_lines in pages:
        stream = _text_block_ops("\n".join(page_lines))
        objs.append(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
        )

    return _assemble_pdf(objs)


def _assemble_pdf(objs: list[bytes]) -> bytes:
    """Body + xref + trailer around 1-indexed object bodies (object 1
    must be the Catalog)."""
    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objs) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(buf)


def pdf_bytes_from_spans(spans: list) -> bytes:
    """A deterministic single-page PDF interleaving text and media:
    ``spans`` is a sequence of ``("text", content)`` /
    ``("media", ref)`` tuples.  Text spans become ``BT…ET`` blocks,
    media spans become 1×1 image XObjects painted with ``Do`` at their
    document-order position, carrying ``ref`` in ``/Subject`` — the
    convention :func:`extract_pdf_spans` reads back, giving a lossless
    interleaved round trip (modulo text-internal ``\\n`` structure)."""
    content_ops: list[bytes] = []
    images: list[tuple[bytes, str]] = []  # (name, ref)
    for kind, payload in spans:
        if kind == "media":
            name = b"Im%d" % len(images)
            images.append((name, payload))
            content_ops.append(b"q 1 0 0 1 72 72 cm /" + name + b" Do Q")
        else:
            content_ops.append(_text_block_ops(payload))
    stream = b"\n".join(content_ops)

    # object layout: 1=Catalog, 2=Pages, 3=Font, 4=Page, 5=Contents,
    #                6..5+k = image XObjects
    img_ids = {name: 6 + i for i, (name, _ref) in enumerate(images)}
    xobj = b""
    if images:
        entries = b" ".join(
            b"/%s %d 0 R" % (name, img_ids[name]) for name, _ in images
        )
        xobj = b" /XObject << " + entries + b" >>"
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >>" + xobj + b" >> "
        b"/Contents 5 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
    ]
    for name, ref in images:
        pixel = b"\x00"
        objs.append(
            b"<< /Type /XObject /Subtype /Image /Name /" + name
            + b" /Subject (" + _escape_pdf_string(ref) + b")"
            + b" /Width 1 /Height 1 /ColorSpace /DeviceGray"
            + b" /BitsPerComponent 8 /Length %d >>\nstream\n%s\nendstream"
            % (len(pixel), pixel)
        )
    return _assemble_pdf(objs)


# ---------------------------------------------------------------------------
# from-scratch reader
# ---------------------------------------------------------------------------

_STREAM_START_RE = re.compile(rb"stream\r?\n")
# direct /Length only (an indirect "/Length 12 0 R" is ignored and the
# stream falls back to endstream-scanning).  The (?!\d) stops the
# group from backtracking to a digit prefix ("12 0 R" would otherwise
# match group "1" once the full value fails the lookahead).
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d|\s+\d+\s+R)")
_OBJ_HDR_RE = re.compile(rb"\d+\s+\d+\s+obj\b")
_PAGE_RE = re.compile(rb"/Type\s*/Page(?![s/])")
_FLATE_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/FlateDecode")


def _iter_streams(data: bytes):
    """Yield ``(head, body, (start, end), exact)`` for each content
    stream; ``exact`` is True when the body was sliced by a direct
    ``/Length`` (byte-exact) rather than by endstream-scanning.

    The body is sliced by the dict's direct ``/Length`` when present —
    NOT by searching for ``endstream`` — so document text containing
    the word "endstream" (or compressed bytes that happen to spell it)
    cannot truncate or desynchronize the scan.  ``head`` is the dict
    region before ``stream`` (back to the enclosing ``obj``, bounded),
    used for filter detection."""
    pos = 0
    n = len(data)
    while pos < n:
        m = _STREAM_START_RE.search(data, pos)
        if m is None:
            return
        body_start = m.end()
        # head = the dict region back to the enclosing "N G obj"
        # header (full header match, NOT rfind(b"obj") — 'obj' bytes
        # inside a dict string value like (media://object1) would
        # truncate the head and hide /Length //Filter).  The window
        # starts small (the overwhelmingly common case) but WIDENS
        # until a header is found or file start is reached — a stream
        # dict larger than the first window must not silently lose its
        # /Length and /FlateDecode keys (ADVICE r3: a large-dict Flate
        # stream would be raw-scanned into garbage text).
        win = 2048
        hdr = None
        while True:
            win_lo = max(m.start() - win, 0)
            for hdr in _OBJ_HDR_RE.finditer(data, win_lo, m.start()):
                pass  # last header before the stream
            if hdr is not None or win_lo == 0:
                break
            win *= 16
        dict_start = hdr.start() if hdr is not None else win_lo
        head = data[dict_start : m.start()]
        lm = None
        for lm in _LENGTH_RE.finditer(head):
            pass  # keep the LAST /Length in the window (nearest dict)
        if lm is not None:
            length = int(lm.group(1))
            body_end = min(body_start + length, n)
            nxt = data.find(b"endstream", body_end)
            pos = nxt + len(b"endstream") if nxt != -1 else body_end
        else:
            body_end = data.find(b"endstream", body_start)
            if body_end == -1:
                body_end = n
                pos = n
            else:
                pos = body_end + len(b"endstream")
        yield head, data[body_start:body_end], (body_start, body_end), lm is not None
# PDF literal-string content with up to TWO levels of balanced
# unescaped parentheses — ISO 32000 7.3.4.2 allows balanced parens
# unescaped inside literal strings ("(see (Fig. 1)) Tj" is
# conforming).  Unbounded nesting needs a real tokenizer; two levels
# covers real-world prose, and anything deeper leaves an unmatched
# Tj/TJ token behind, which the residue check below converts into
# degraded=True instead of silent text loss.
_STR_L0 = rb"(?:\\.|[^\\()])*"
_STR_L1 = rb"(?:\\.|[^\\()]|\(" + _STR_L0 + rb"\))*"
_STR_INNER = rb"(?:\\.|[^\\()]|\(" + _STR_L1 + rb"\))*"
# text-showing / positioning operators, scanned linearly over the
# stream: literal strings are matched as whole tokens FIRST, so their
# content can never be misread as an operator (a "BT…ET" bracketing
# regex would end the block at an "ET" inside a string).  BT itself is
# a token and acts as the text-block separator.  The TJ-array branch
# matches strings as whole tokens too, so a ']' inside a string cannot
# terminate the array early.
_OP_RE = re.compile(
    rb"\((" + _STR_INNER + rb")\)\s*(Tj|')"  # literal string + show op
    rb"|\[((?:\\.|\(" + _STR_INNER + rb"\)|[^\]\\(])*)\]\s*TJ"  # array show
    rb"|(T\*|-?[\d.]+\s+-?[\d.]+\s+(?:Td|TD))"  # line moves
    rb"|(BT)"
    rb"|/(\w+)\s+Do",                    # XObject paint (images)
    re.DOTALL,
)
# show operators that survive in a stream AFTER removing everything
# _OP_RE matched ⇒ the scanner failed to pair them with a string
# operand (e.g. >2-level paren nesting) — honesty demands degraded=True
_UNMATCHED_SHOW_RE = re.compile(rb"(?<![\w/])(?:Tj|TJ)(?![\w])")
# image XObject dicts: /Name pairs the Do operand, /Subject carries
# the media reference (the writer's convention; a plain image without
# /Subject falls back to its name).  Located by anchoring on
# /Subtype /Image and scanning to the BALANCED enclosing << >> (a
# nested sub-dict like /DecodeParms << … >> would cut a [^>]-class
# regex short).
_SUBTYPE_IMAGE_RE = re.compile(rb"/Subtype\s*/Image")
_DICT_TOK_RE = re.compile(rb"<<|>>")
_IMG_NAME_RE = re.compile(rb"/Name\s*/(\w+)")
_IMG_SUBJECT_RE = re.compile(rb"/Subject\s*\((" + _STR_INNER + rb")\)")
_TJ_STR_RE = re.compile(rb"\((" + _STR_INNER + rb")\)")


def _image_dict_regions(structure: bytes) -> list[bytes]:
    """The innermost balanced ``<< … >>`` region around each
    ``/Subtype /Image`` anchor — a stack walk over dict tokens, so
    nested sub-dicts (``/DecodeParms << … >>``) can't truncate the
    match the way a ``[^>]`` character class does."""
    anchors = [m.start() for m in _SUBTYPE_IMAGE_RE.finditer(structure)]
    if not anchors:
        return []
    regions: dict[int, tuple[int, int]] = {}
    stack: list[int] = []
    for t in _DICT_TOK_RE.finditer(structure):
        if t.group(0) == b"<<":
            stack.append(t.start())
        elif stack:
            lo, hi = stack.pop(), t.end()
            # inner dicts close first, so the first region covering an
            # anchor is its innermost enclosing dict — the image dict
            for a in anchors:
                if lo < a < hi and a not in regions:
                    regions[a] = (lo, hi)
    return [structure[lo:hi] for lo, hi in regions.values()]
_ESC_RE = re.compile(rb"\\([nrtbf()\\]|[0-7]{1,3})")

_ESC_MAP = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> bytes:
    def sub(m: "re.Match[bytes]") -> bytes:
        g = m.group(1)
        if g in _ESC_MAP:
            return _ESC_MAP[g]
        return bytes([int(g, 8) & 0xFF])  # octal escape

    return _ESC_RE.sub(sub, raw)


def extract_pdf_spans(data: bytes) -> tuple[list, int, bool]:
    """Extract ``(spans, n_pages, malformed)`` from PDF bytes, where
    ``spans`` is the ordered interleaved sequence of
    ``("text", content)`` and ``("media", ref)`` tuples — text from
    the ``Tj``/``'``/``TJ`` operators (``Td``/``TD``/``T*`` emit line
    breaks, ``BT`` separates blocks), media from image-XObject ``Do``
    paints in document order (ref = the image dict's ``/Subject``
    string, falling back to the XObject name).  Uncompressed and
    Flate-compressed content streams.  Anything that is not a PDF
    degrades to ``([], 0, True)`` — never raises."""
    if not data or not data.startswith(b"%PDF-"):
        return [], 0, True
    streams = list(_iter_streams(data))
    # structural scans (/Type /Page counting, image-dict refs) run on
    # the NON-stream bytes only, so document text that happens to
    # contain "/Type /Page" or an image-dict-shaped string can't
    # inflate the page count or plant phantom media refs
    gaps: list[bytes] = []
    prev = 0
    for _h, _b, (s, e), _exact in streams:
        gaps.append(data[prev:s])
        prev = e
    gaps.append(data[prev:])
    structure = b"".join(gaps)
    n_pages = len(_PAGE_RE.findall(structure))
    # media_ref lookup: image name → /Subject
    refs: dict[bytes, str] = {}
    for im in _image_dict_regions(structure):
        name = _IMG_NAME_RE.search(im)
        if name is None:
            continue
        subj = _IMG_SUBJECT_RE.search(im)
        refs[name.group(1)] = (
            _unescape(subj.group(1)).decode("utf-8", errors="replace")
            if subj is not None
            else name.group(1).decode()
        )

    spans: list = []
    chunks: list[bytes] = []

    def flush():
        if chunks:
            spans.append(
                ("text", b"".join(chunks).decode("utf-8", errors="replace"))
            )
            chunks.clear()

    degraded = False
    try:
        for head, stream, _span, exact in streams:
            if _FLATE_RE.search(head):
                try:
                    # /Length-sliced bodies are byte-exact — no rstrip
                    # (it could eat legitimate trailing \n/\r of the
                    # compressed payload); endstream-sliced ones carry
                    # the writer's framing newline, strip it then
                    stream = zlib.decompress(
                        stream if exact else stream.rstrip(b"\r\n")
                    )
                except zlib.error:
                    if exact:
                        # genuinely compressed but corrupt: skipping is
                        # honest only if the caller can see it — raw-
                        # scanning would emit binary garbage as text
                        degraded = True
                        continue
                    # endstream-sliced + failed: likely a misdetected
                    # filter (dict not fully visible) — raw-scan
                    pass
            first = True
            gap_lo = 0  # residue tracking: bytes _OP_RE did not consume
            for op in _OP_RE.finditer(stream):
                # honesty check on the gap before this match: a Tj/TJ
                # token the operator scan did NOT consume (e.g. a
                # string with >2 nested paren levels) means text was
                # dropped — flag it rather than report clean
                if _UNMATCHED_SHOW_RE.search(stream, gap_lo, op.start()):
                    degraded = True
                gap_lo = op.end()
                if op.group(6):  # image paint → media span, in order
                    name = op.group(6)
                    if name in refs:
                        flush()
                        spans.append(("media", refs[name]))
                    continue
                if op.group(5):  # BT → text-block (≈ page) separator
                    if chunks and chunks[-1] != b"\n":
                        chunks.append(b"\n")
                    first = True
                    continue
                if op.group(4):  # Td/TD/T* → new line
                    if chunks and chunks[-1] != b"\n" and not first:
                        chunks.append(b"\n")
                    continue
                if op.group(1) is not None:
                    # ' is "next line, then show" (ISO 32000 9.4.3)
                    if (
                        op.group(2) == b"'"
                        and chunks
                        and chunks[-1] != b"\n"
                        and not first
                    ):
                        chunks.append(b"\n")
                    chunks.append(_unescape(op.group(1)))
                    first = False
                elif op.group(3) is not None:
                    for s in _TJ_STR_RE.finditer(op.group(3)):
                        chunks.append(_unescape(s.group(1)))
                    first = False
            if _UNMATCHED_SHOW_RE.search(stream, gap_lo):
                degraded = True  # trailing unconsumed show op
    except Exception:
        return [], n_pages, True
    flush()
    return spans, n_pages, degraded


def extract_pdf_text(data: bytes) -> tuple[str, int, bool]:
    """Text-only view of :func:`extract_pdf_spans`: the concatenated
    text spans (media paints contribute nothing)."""
    spans, n_pages, malformed = extract_pdf_spans(data)
    return (
        "".join(t for kind, t in spans if kind == "text"),
        n_pages,
        malformed,
    )


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

PDF_RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("malformed", BooleanType()),
    ]
)


def parse_pdf_documents(
    df: DataFrame, content_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched PDF text extraction: ``(id, binary)`` in →
    ``(doc_id, text, n_pages, malformed)`` out.  Stateless narrow map
    — identical scaling shape to the HTML extraction kernel (and the
    same malformed-fallback metric contract)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids, texts, pages, bad = [], [], [], []
            for doc_id, blob in zip(pdf[id_col], pdf[content_col]):
                t, n, m = extract_pdf_text(bytes(blob) if blob is not None else b"")
                ids.append(str(doc_id))
                texts.append(t)
                pages.append(n)
                bad.append(m)
            yield pd.DataFrame(
                {"doc_id": ids, "text": texts, "n_pages": pages, "malformed": bad}
            )

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        run, PDF_RESULT_SCHEMA
    )


# the input_hint span schema: (kind, text, media_ref, offset)
PDF_SPANS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "n_pages int, malformed boolean"
)


def parse_pdf_interleaved(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """PDF → the engine's interleaved document contract:
    ``spans array<struct<kind,text,media_ref,offset>>`` in document
    order (text blocks + image paints), so a PDF corpus feeds the same
    downstream pipeline as HTML-extracted documents.
    ``passthrough_cols`` (e.g. the lineage ``bucket``) are carried
    through the batch unchanged."""
    import pandas as pd

    extra = list(passthrough_cols or [])

    def run(batches):
        for pdf in batches:
            rows = []
            for idx, (doc_id, blob) in enumerate(
                zip(pdf[id_col], pdf[content_col])
            ):
                spans, n, m = extract_pdf_spans(
                    bytes(blob) if blob is not None else b""
                )
                row = {
                    "doc_id": str(doc_id),
                    "spans": [
                        {
                            "kind": kind,
                            "text": payload if kind == "text" else "",
                            "media_ref": payload if kind == "media" else "",
                            "offset": i,
                        }
                        for i, (kind, payload) in enumerate(spans)
                    ],
                    "n_pages": n,
                    "malformed": m,
                }
                for c in extra:
                    row[c] = pdf[c].iloc[idx]
                rows.append(row)
            yield pd.DataFrame(
                rows, columns=["doc_id", "spans", "n_pages", "malformed"] + extra
            )

    schema = PDF_SPANS_SCHEMA
    if extra:
        extra_schema = ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}" for c in extra
        )
        schema = f"{PDF_SPANS_SCHEMA}, {extra_schema}"
    return df.select(F.col(id_col), F.col(content_col), *extra).mapInPandas(
        run, schema
    )
