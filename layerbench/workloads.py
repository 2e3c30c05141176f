"""The three workloads: inputs made from the seed, warm-up, timed body, check.

Each workload is a closed loop of one job at a time from one driver.
``prepare`` generates the inputs from the seed into the run's work
directory and builds the scalar reference; ``warm_up`` runs the engine
on a plan of a different size (re-running the measured plan would reuse
its shuffle output).  ``run_once`` is the timed body and ``verify`` the
untimed output check of one timed run.
"""

from __future__ import annotations

import os
import shutil

from .reference import (
    CONFIG,
    Reference,
    check_tag_stats,
    digest_aggregate,
    reference_part,
    tag_stats_reference,
    warc_pages,
)

# Input sizes.  The skewed corpus is a size-stratified draw from the
# datagen stream: a fixed number of small (< 10 K chars) and medium
# (10-100 K chars) documents, in stream order, plus ONE giant whose size
# is pinned to a narrow window.  The seed changes every document's
# content but not the work profile, so runs with different seeds are
# comparable.  One giant, not several: round-robin placement after the
# salt exchange hashes row contents, so two giants would share a task
# for some seeds and not others.
SIZES = {
    "full": {
        "skew_small": 240, "skew_medium": 8,
        "skew_giant_chars": [900_000, 950_000],
        "warc_segments": 4,
    },
    # small inputs for the harness self-test
    "small": {
        "skew_small": 40, "skew_medium": 2,
        "skew_giant_chars": [500_000, 700_000],
        "warc_segments": 1,
    },
}
_SMALL_DOC_CHARS = 10_000
_MEDIUM_DOC_CHARS = 100_000
_WARM_DOCS = 64
# a WARC segment: generate_warc_segments puts ~29 pages of ~36 K chars
# (uniform 8-64 K) into each 1 MiB segment
_WARC_DOCS_PER_SEGMENT = 28
_WARC_CHARS_PER_SEGMENT = 1_000_000
_PROFILE_TOLERANCE = 0.001
_GEN_CHUNK = 512
_MAX_STREAM_DOCS = 400_000


def skewed_docs(seed: int, sizes: dict) -> list[tuple[str, list]]:
    """``(doc_id, spans)`` of the skewed corpus for ``seed`` (see SIZES)."""
    from mini_html_parser_spark.datagen import generate_pandas
    from mini_html_parser_spark.operators.extract import assemble_html

    lo, hi = sizes["skew_giant_chars"]
    want = {"small": sizes["skew_small"], "medium": sizes["skew_medium"], "giant": 1}
    picked = []
    start = 0
    while any(want.values()):
        if start >= _MAX_STREAM_DOCS:
            raise RuntimeError(f"seed {seed}: no giant of {lo}-{hi} chars in the "
                               f"first {_MAX_STREAM_DOCS} datagen documents")
        chunk = generate_pandas(_GEN_CHUNK, seed=seed, start=start)
        for doc_id, spans in zip(chunk["doc_id"], chunk["spans"]):
            n = len(assemble_html(spans))
            if n < _SMALL_DOC_CHARS:
                cls = "small"
            elif n < _MEDIUM_DOC_CHARS:
                cls = "medium"
            else:
                cls = "giant" if lo <= n < hi else None
            if cls is not None and want[cls]:
                want[cls] -= 1
                picked.append((doc_id, spans))
        start += _GEN_CHUNK
    return picked


def write_docs_parquet(docs, path: str) -> None:
    """Write documents in the engine's input schema as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from mini_html_parser_spark.operators.extract import DOCUMENTS_SCHEMA

    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in docs],
        schema=to_arrow_schema(DOCUMENTS_SCHEMA),
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _fixed_profile(pages: list, n_docs: int, chars: int) -> list:
    """``n_docs`` of ``pages``, in stream order, whose HTML adds up to
    ``chars`` within ``_PROFILE_TOLERANCE``: the first ``n_docs``, with
    single swaps against the rest until the total fits."""
    if len(pages) <= n_docs:
        raise RuntimeError(f"{len(pages)} pages generated; need more than {n_docs}")
    chosen, spare = list(range(n_docs)), list(range(n_docs, len(pages)))
    size = [len(html) for _, html in pages]
    total = sum(size[i] for i in chosen)
    while abs(total - chars) > chars * _PROFILE_TOLERANCE:
        gap, a, b = min((abs(total - size[i] + size[j] - chars), a, b)
                        for a, i in enumerate(chosen) for b, j in enumerate(spare))
        if gap >= abs(total - chars):
            raise RuntimeError(f"no {n_docs} of {len(pages)} pages add up to {chars} chars")
        total += size[spare[b]] - size[chosen[a]]
        chosen[a], spare[b] = spare[b], chosen[a]
    return [pages[i] for i in sorted(chosen)]


def warc_archive(seed: int, out_dir: str, n_segments: int) -> list[str]:
    """Write a WARC archive of ``n_segments`` segments afresh and return
    the segment paths.  The pages are ``generate_warc_segments`` pages
    (8-64 KB each), drawn so that every segment holds
    ``_WARC_DOCS_PER_SEGMENT`` of them and the archive
    ``_WARC_CHARS_PER_SEGMENT`` chars per segment: the seed changes every
    page but not the document count or the bytes, which the throughput
    metrics divide by.  The first segment is whole-file gzip, as
    generate_warc_segments writes every 4th."""
    from mini_html_parser_spark.datagen import generate_warc_segments
    from mini_html_parser_spark.sources.warc import parse_warc, warc_bytes

    shutil.rmtree(out_dir, ignore_errors=True)  # a set-up never hits the cache
    raw = out_dir + "-raw"
    shutil.rmtree(raw, ignore_errors=True)
    generate_warc_segments(raw, n_segments=n_segments + 1, raw_mb_per_segment=1, seed=seed)
    pages = []
    for name in sorted(os.listdir(raw)):
        if name.startswith("segment-"):
            with open(os.path.join(raw, name), "rb") as f:
                pages.extend((url, html) for url, _, html in parse_warc(f.read())[0])
    shutil.rmtree(raw)
    per = _WARC_DOCS_PER_SEGMENT
    pages = _fixed_profile(pages, per * n_segments, _WARC_CHARS_PER_SEGMENT * n_segments)
    os.makedirs(out_dir)
    paths = []
    for s in range(n_segments):
        gz = s % 4 == 0
        paths.append(os.path.join(out_dir, f"segment-{s:04d}.warc" + (".gz" if gz else "")))
        with open(paths[-1], "wb") as f:
            f.write(warc_bytes(pages[s * per:(s + 1) * per], compress=gz))
    return paths


def _balanced_chunks(docs, n: int) -> list[list]:
    """Deal documents, largest first, into ``n`` chunks of similar size."""
    from mini_html_parser_spark.operators.extract import assemble_html

    order = sorted(docs, key=lambda d: -len(assemble_html(d[1])))
    return [order[k::n] for k in range(n)]


class Context:
    """What a workload needs from the harness: the session, core count,
    seed, sizes, work directory, the set-up process pool and the tracer."""

    def __init__(self, spark, nproc: int, seed: int, sizes: dict, work: str, pool, tracer):
        self.spark = spark
        self.span = tracer.span
        self.nproc = nproc
        self.seed = seed
        self.sizes = sizes
        self.work = work
        self.pool = pool

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def reference(self, parts, with_stats: bool = False) -> Reference:
        ref = Reference()
        for part in self.pool.starmap(reference_part, [(p, with_stats) for p in parts]):
            ref.merge(part)
        return ref


class SkewedCorpus:
    """read parquet -> repartition_for_extraction -> extract_documents ->
    count/sum aggregate (with the output digest)."""

    name = "skewed_corpus"
    layers = {"pipeline", "operators.extract", "kernel"}
    timed_runs = 5

    def prepare(self, ctx: Context) -> None:
        with ctx.span("setup.inputs"):
            self.docs_list = skewed_docs(ctx.seed, ctx.sizes)
            self.input = ctx.path("skewed.parquet")
            write_docs_parquet(self.docs_list, self.input)
            warm = [d for d in self.docs_list
                    if sum(len(s["text"]) for s in d[1]) < _MEDIUM_DOC_CHARS]
            write_docs_parquet(warm[:_WARM_DOCS], ctx.path("skewed-warm.parquet"))
        with ctx.span("setup.reference"):
            self.ref = ctx.reference(_balanced_chunks(self.docs_list, ctx.nproc))

    def warm_up(self, ctx: Context) -> None:
        self._job(ctx, ctx.path("skewed-warm.parquet"))

    @staticmethod
    def extracted(ctx: Context, path: str):
        from mini_html_parser_spark.operators.extract import extract_documents
        from mini_html_parser_spark.pipeline import repartition_for_extraction

        docs = ctx.spark.read.parquet(path)
        return extract_documents(repartition_for_extraction(docs, ctx.nproc), CONFIG)

    def _job(self, ctx: Context, path: str):
        return digest_aggregate(self.extracted(ctx, path))

    def run_once(self, ctx: Context, i: int):
        return self._job(ctx, self.input)

    def verify(self, ctx: Context, out) -> str | None:
        return self.ref.check_extraction(out)

    def kernel_docs(self):
        return self.docs_list


class WarcIngest:
    """pipeline.run_warc_extraction_job over a generated archive, into a
    fresh icelite table each run."""

    name = "warc_ingest"
    layers = {"pipeline", "sources.warc", "operators.extract", "kernel", "plans.icelite"}
    timed_runs = 4
    warm_runs = 3

    def prepare(self, ctx: Context) -> None:
        warm = ctx.path("warc-warm")
        with ctx.span("setup.inputs"):
            self.segments = warc_archive(
                ctx.seed, ctx.path("warc"), ctx.sizes["warc_segments"])
            # a plan of a different size, so that warming up reuses no
            # shuffle output of the measured one
            warc_archive(ctx.seed + 1, warm, max(1, ctx.sizes["warc_segments"] // 2))
        with ctx.span("setup.reference"):
            self.ref = ctx.reference(self.segments)

    def warm_up(self, ctx: Context) -> None:
        """Jobs on the smaller archive, the first with an output check:
        it starts the engine, the others let it warm up."""
        from mini_html_parser_spark.pipeline import run_warc_extraction_job

        table = ctx.path("tables", "warm")
        for k in range(self.warm_runs):
            shutil.rmtree(table, ignore_errors=True)
            run_warc_extraction_job(ctx.spark, ctx.path("warc-warm"), table, config=CONFIG)
            if k == 0:
                self._read_digest(ctx, table)
        shutil.rmtree(table, ignore_errors=True)

    @staticmethod
    def _read_digest(ctx: Context, table: str):
        from mini_html_parser_spark.plans.icelite import IceliteTable

        return digest_aggregate(IceliteTable(table).read(ctx.spark))

    def run_once(self, ctx: Context, i: int):
        from mini_html_parser_spark.pipeline import run_warc_extraction_job

        table = ctx.path("tables", f"warc-{i}")
        shutil.rmtree(table, ignore_errors=True)
        return table, run_warc_extraction_job(ctx.spark, ctx.path("warc"), table, config=CONFIG)

    def verify(self, ctx: Context, out) -> str | None:
        table, result = out
        try:
            m = result["metrics"]
            got = (m.get("docs_parsed"), m.get("spans_emitted"),
                   m.get("malformed_fallbacks"), result["warc_malformed_records"])
            want = (self.ref.docs, self.ref.spans, self.ref.malformed, 0)
            if got != want:
                return f"job metrics {got} differ from the reference {want}"
            return self.ref.check_extraction(self._read_digest(ctx, table))
        finally:
            shutil.rmtree(table, ignore_errors=True)

    def kernel_docs(self):
        return [d for seg in self.segments for d in warc_pages(seg)]


class SpanStatsReadback:
    """stats.tag_stats(stats.span_stats(table.read(spark))) over a
    snapshot committed once in set-up; the kernel does not run."""

    name = "span_stats_readback"
    layers = {"pipeline", "plans.icelite", "operators.stats"}
    timed_runs = 10
    warm_runs = 10

    def prepare(self, ctx: Context) -> None:
        with ctx.span("setup.inputs"):
            segments = warc_archive(ctx.seed, ctx.path("warc"), ctx.sizes["warc_segments"])
        with ctx.span("setup.reference"):
            self.ref = ctx.reference(segments, with_stats=True)
            self.want = tag_stats_reference(self.ref.per_doc_stats)

    def warm_up(self, ctx: Context) -> None:
        """Commit the snapshot (the engine's first jobs), then run the
        stats plan over half of it a few times."""
        from pyspark.sql import functions as F

        from mini_html_parser_spark.pipeline import run_warc_extraction_job

        self.table = ctx.path("tables", "readback")
        run_warc_extraction_job(ctx.spark, ctx.path("warc"), self.table, config=CONFIG)
        for _ in range(self.warm_runs):
            self._job(ctx, lambda df: df.filter(F.xxhash64("doc_id") % 2 == 0))

    def _job(self, ctx: Context, narrow=lambda df: df):
        from mini_html_parser_spark.operators import stats
        from mini_html_parser_spark.plans.icelite import IceliteTable

        snapshot = narrow(IceliteTable(self.table).read(ctx.spark))
        return stats.tag_stats(stats.span_stats(snapshot)).collect()

    def run_once(self, ctx: Context, i: int):
        return self._job(ctx)

    def verify(self, ctx: Context, out) -> str | None:
        return check_tag_stats(out, self.want)

    def kernel_docs(self):
        return None


WORKLOADS = {w.name: w for w in (SkewedCorpus, WarcIngest, SpanStatsReadback)}
