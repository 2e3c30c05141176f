"""Single-process traced pass of the scalar kernel over a workload's documents.

Times the kernel's public entry points one document at a time:
``assemble_html``, ``fast_scan.scan`` with a sink that does nothing,
``dom.parse_document`` (scan + DOM build) and ``make_extract_fn(cfg)``
(parse + rewrite + linearize).  The phase times are differences of
these calls, so each document is parsed three times.
"""

from __future__ import annotations

import math
import time


def _noop(*args) -> None:
    pass


class _NoopSink:
    malformed = False
    handle_starttag = handle_startendtag = handle_endtag = staticmethod(_noop)
    handle_data = handle_comment = staticmethod(_noop)


def kernel_pass(docs, config: str) -> dict:
    """Per-phase kernel metrics (names as in BENCHMARK.json) plus
    ``slowest``, the five slowest documents as (doc_id, bytes, kernel s)."""
    from mini_html_parser_spark.kernel import fast_scan
    from mini_html_parser_spark.kernel.config import NAMED_CONFIGS
    from mini_html_parser_spark.kernel.dom import parse_document
    from mini_html_parser_spark.kernel.extract import make_extract_fn
    from mini_html_parser_spark.operators.extract import assemble_html

    extract_one = make_extract_fn(NAMED_CONFIGS[config]())
    sink = _NoopSink()
    clock = time.perf_counter
    per_doc = []
    assemble_s = scan_s = parse_s = 0.0
    useful = spans = malformed = total_bytes = 0
    for doc_id, doc_spans in docs:
        t0 = clock()
        html = assemble_html(doc_spans)
        t1 = clock()
        try:
            fast_scan.scan(html, sink)
            useful += 1
        except Exception:  # any scanner error sends parse_document to stdlib
            pass
        t2 = clock()
        parse_document(html)
        t3 = clock()
        r = extract_one(html)
        t4 = clock()
        assemble_s += t1 - t0
        scan_s += t2 - t1
        parse_s += t3 - t2
        n_bytes = len(html.encode("utf-8"))
        total_bytes += n_bytes
        per_doc.append((t4 - t3, doc_id, n_bytes))
        spans += len(r.spans)
        malformed += bool(r.malformed)
    kernel_s = sum(t for t, _, _ in per_doc)
    per_doc.sort(reverse=True)
    top = per_doc[: max(1, math.ceil(len(per_doc) / 100))]
    mb = total_bytes / 1e6
    return {
        "operators.extract.assemble_s": assemble_s,
        "kernel.fast_scan.scan_s": scan_s,
        "kernel.fast_scan.mb_per_s": mb / scan_s,
        "kernel.fast_scan.useful_ratio": useful / len(per_doc),
        "kernel.dom.build_s": parse_s - scan_s,
        "kernel.extract.rewrite_linearize_s": kernel_s - parse_s,
        "kernel.extract.s": kernel_s,
        "kernel.extract.mb_per_s": mb / kernel_s,
        "kernel.extract.max_doc_s": per_doc[0][0],
        "kernel.extract.top1pct_share": sum(t for t, _, _ in top) / kernel_s,
        "kernel.extract.spans": spans,
        "kernel.extract.malformed": malformed,
        "slowest": [{"doc_id": d, "bytes": b, "kernel_s": t} for t, d, b in per_doc[:5]],
    }
