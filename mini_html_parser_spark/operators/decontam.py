"""Benchmark decontamination: word-n-gram overlap between a corpus
and a (small) benchmark/eval set.

The standard pre-training hygiene pass (cf. the n-gram overlap
decontamination described publicly for GPT-3 §C / PaLM / Llama): any
training document sharing too many distinct word n-grams with an eval
benchmark is flagged so it can be dropped before training.

100-TB shape
------------
The benchmark side is small (eval suites are MBs), the corpus side is
the 100-TB table — so the bench n-gram set is **broadcast** and the
corpus side never shuffles for the join.  Per document:

* n-grams are built JVM-side (split + slice + concat_ws — whole-stage
  codegen, no Python),
* each distinct gram becomes one exploded row keyed by ``xxhash64``
  (8-byte join key instead of the gram string),
* a broadcast LEFT join marks grams present in the benchmark,
* one ``groupBy(doc_id)`` (the only shuffle; partial aggregation
  map-side combines, so shuffle rows ≈ corpus rows) counts
  total vs shared distinct grams.

``xxhash64`` collisions could in principle over-count shared grams;
at 64 bits the chance across even 10^10 distinct grams is ~1e-9 —
accepted, same trade every public LSH/dedup pipeline makes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# explicit whitespace class, not \s: Java \s includes \x0b, RE2
# (DuckDB) \s does not — the explicit class is identical in both
# engines for every byte (rationale: operators/bpe.py, ADVICE r2)
from .bpe import WS_RE as _WS  # shared oracle-parity regex


def ngrams_of_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word ``n``-grams of a TOKEN-ARRAY column as
    ``array<string>`` (space-joined; tokens cannot contain spaces so
    joined-string equality ⇔ token-sequence equality).  Documents with
    fewer than ``n`` tokens yield an empty array.

    ``toks`` must be a materialized column (projected with
    ``withColumn``/``select``), NOT an inline ``split(...)``
    expression: Catalyst does not common-subexpression-eliminate
    inside lambda functions, so an inline split is re-evaluated by
    every ``element_at`` — measured 17× slower on the sf0.1 corpus."""
    width = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), width),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(width >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag corpus documents contaminated by ``bench``.

    Returns one row per input document:
    ``(id_col, n_ngrams, n_shared, contamination, contaminated)``
    where ``contamination = n_shared / n_ngrams`` (0.0 for docs with
    no n-grams) and ``contaminated = contamination >= threshold``.

    ``bench`` only needs ``text_col``; it is reduced to its distinct
    n-gram hash set and broadcast.

    Single corpus scan, single shuffle: ``explode_outer`` keeps
    zero-gram documents as one null-gram row (null join key → never
    matches bench; not counted in ``n_ngrams``), so no second scan /
    join-back is needed to re-surface them.
    """
    toks = F.split(F.trim(F.col(text_col)), _WS)
    bench_grams = (
        bench.select(toks.alias("_toks"))
        .select(F.explode(ngrams_of_tokens(F.col("_toks"), n)).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )

    doc_grams = docs.select(F.col(id_col), toks.alias("_toks")).select(
        F.col(id_col),
        F.explode_outer(ngrams_of_tokens(F.col("_toks"), n)).alias("g"),
    ).select(
        id_col,
        "g",
        # xxhash64(NULL) degrades to the seed constant, which a real
        # bench gram could in principle hash to — keep null keys null
        F.when(F.col("g").isNotNull(), F.xxhash64("g")).alias("gh"),
    )

    counted = (
        doc_grams.join(F.broadcast(bench_grams), "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count("g").alias("n_ngrams"),
            F.count("_hit").alias("n_shared"),
        )
    )

    n_ngrams = F.col("n_ngrams").cast("long")
    n_shared = F.col("n_shared").cast("long")
    contamination = F.when(
        n_ngrams > 0, F.round(n_shared / n_ngrams, 6)
    ).otherwise(F.lit(0.0))
    return counted.select(
        F.col(id_col),
        n_ngrams.alias("n_ngrams"),
        n_shared.alias("n_shared"),
        contamination.cast("double").alias("contamination"),
        (contamination >= F.lit(threshold)).alias("contaminated"),
    )
