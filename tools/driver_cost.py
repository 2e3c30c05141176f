#!/usr/bin/env python3
"""Driver-side cost of building the span-stats readback plan.

    python tools/driver_cost.py [n_docs] [repeats]

Commits ``n_docs`` generated documents (default 200) to a fresh icelite
table, then builds ``tag_stats(span_stats(read))`` step by step
``repeats`` times (default 7) and prints one line per step: the wall ms
and the py4j round trips it took, each the min over the repeats.  The
steps are ``read``, ``span_rows``, ``span_stats`` (which builds its own
``span_rows``), ``tag_stats`` and ``action`` (the collect).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.operators import stats
    from mini_html_parser_spark.pipeline import build_session, run_extraction_job
    from mini_html_parser_spark.plans.icelite import IceliteTable

    n_docs = int(argv[1]) if len(argv) > 1 else 200
    repeats = int(argv[2]) if len(argv) > 2 else 7
    spark = build_session(app_name="driver_cost")
    spark.sparkContext.setLogLevel("ERROR")
    client = spark.sparkContext._gateway._gateway_client
    send, trips = client.send_command, [0]

    def counted(*args, **kwargs):
        trips[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    best: dict[str, tuple[float, int]] = {}

    def step(name: str, build):
        trips[0] = 0
        t0 = time.perf_counter()
        out = build()
        ms, n = (time.perf_counter() - t0) * 1e3, trips[0]
        old_ms, old_n = best.get(name, (ms, n))
        best[name] = (min(ms, old_ms), min(n, old_n))
        return out

    with tempfile.TemporaryDirectory() as tmp:
        table = os.path.join(tmp, "t")
        docs = generate_documents(spark, n_docs, partitions=4)
        run_extraction_job(spark, docs, table, parallelism=4)
        for i in range(repeats + 1):
            snap = step("read", lambda: IceliteTable(table).read(spark))
            step("span_rows", lambda: stats.span_rows(snap, slim=True))
            per_doc = step("span_stats", lambda: stats.span_stats(snap))
            out = step("tag_stats", lambda: stats.tag_stats(per_doc))
            step("action", out.collect)
            if i == 0:  # the first pass warms the JVM and the workers
                best.clear()
    print(f"{'step':<12}{'wall_ms':>10}{'py4j_calls':>12}   (min of {repeats})")
    for name, (ms, n) in best.items():
        print(f"{name:<12}{ms:>10.1f}{n:>12}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
