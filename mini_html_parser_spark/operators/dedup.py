"""Deduplication operators (training-data pipeline additions).

Exact and near-duplicate detection over a ``(doc_id, text)`` corpus.
Everything except the simhash bit accumulation is built-in-function
JVM-side work; candidate generation always goes through banding/
bucketing so no stage is O(n²) at corpus scale (the published
MinHash-LSH construction: shingle → minhash → band → bucket), and
inside a bucket the pair emitter caps quadratic blowup with
representative→member star edges (see MAX_BUCKET_PAIRS_SIZE).
Duplicate clusters come out of :func:`dedup_clusters` (connected
components over the candidate edges).
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType

from .. import bloom as bloom_layout

# Buckets above this size emit (bucket-min representative → member)
# star edges instead of all intra-bucket pairs.  On web-crawl corpora a
# boilerplate page duplicated d=10⁶ times would otherwise explode one
# bucket into d²/2 ≈ 5·10¹¹ candidate pairs — a job-killer no AQE
# setting fixes.  Star edges are O(d), lossless for exact-duplicate
# groups (similarity is transitive there), and the standard recall
# trade-off for near-dup groups (members link through the
# representative; downstream connected-components recovers clusters).
# Not a silent cap: every bucket member still appears in the output.
MAX_BUCKET_PAIRS_SIZE = 128


def _bucket_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    carry_cols: list[str] | None = None,
    max_bucket_size: int | None = MAX_BUCKET_PAIRS_SIZE,
    dedupe: bool = True,
    heavy_carry: bool = False,
) -> DataFrame:
    """(id_a, id_b[, carry_a/carry_b…]) candidate pairs per bucket.

    Buckets of ≤ ``max_bucket_size`` rows emit all pairs (the exact
    LSH construction); larger buckets emit representative→member star
    edges — see MAX_BUCKET_PAIRS_SIZE.  ``max_bucket_size=None``
    disables the star fallback entirely (all pairs at ANY bucket
    size) — for callers whose SEMANTICS are pairwise (semantic_dedup)
    rather than candidate-generation recall, where the caller controls
    bucket size by construction and a silent star degradation would
    change results, not just recall.

    Default shape: ONE shuffle — ``groupBy(bucket).collect_list`` then
    array expressions emit the pairs.  A self-join shape was measured
    16× slower here: Catalyst turns it into broadcast joins whose
    probe/build sides each recompute the (expensive) bucket-key
    expression from the scan — 12 recomputations of the shingle→md5
    chain in the exact-dedup plan.  The agg shape computes the key
    once and holds at most one bucket's members in a row (8 MB for a
    10⁶-duplicate bucket).

    ``heavy_carry=True`` keeps the join shape instead — for wide
    carry columns (e.g. embedding vectors) where materializing a
    giant bucket's members in one row would not be safe; callers
    should pre-materialize (persist) ``bucketed`` in that case.

    ``dedupe=False`` skips the final distinct — correct whenever each
    id appears in exactly one bucket (the bucketing is a partition, so
    a pair can only be emitted once).
    """
    carry_cols = carry_cols or []
    if max_bucket_size is None:
        max_bucket_size = 1 << 62  # no star fallback: all pairs always
    if heavy_carry:
        return _bucket_pairs_join(
            bucketed, bucket_cols, id_col, carry_cols, max_bucket_size, dedupe
        )

    item = F.struct(F.col(id_col).alias("_id"), *[F.col(c) for c in carry_cols])
    grouped = bucketed.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list(item)).alias("_m")
    )

    def pair(a: Column, b: Column) -> Column:
        return F.struct(
            a["_id"].alias("id_a"),
            b["_id"].alias("id_b"),
            *[a[c].alias(f"{c}_a") for c in carry_cols],
            *[b[c].alias(f"{c}_b") for c in carry_cols],
        )

    m = F.col("_m")
    all_pairs = F.filter(
        F.flatten(F.transform(m, lambda a: F.transform(m, lambda b: pair(a, b)))),
        lambda s: s["id_a"] < s["id_b"],
    )
    star = F.transform(
        F.slice(m, 2, F.size(m) - 1), lambda b: pair(F.element_at(m, 1), b)
    )
    pairs = F.when(F.size(m) <= max_bucket_size, all_pairs).otherwise(star)
    out = grouped.select(F.explode(pairs).alias("_p")).select("_p.*")
    return out.distinct() if dedupe else out


def _bucket_pairs_join(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    carry_cols: list[str],
    max_bucket_size: int,
    dedupe: bool,
) -> DataFrame:
    """Join-shaped variant of :func:`_bucket_pairs` for heavy carry
    columns (see there)."""
    stats = bucketed.groupBy(*bucket_cols).agg(
        F.min(id_col).alias("_rep"), F.count("*").alias("_bsz")
    )
    tagged = bucketed.join(stats, bucket_cols)

    small = tagged.filter(F.col("_bsz") <= max_bucket_size)
    l, r = small.alias("l"), small.alias("r")
    cond: Column = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for c in bucket_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    small_pairs = l.join(r, cond).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry_cols],
        *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry_cols],
    )

    big = tagged.filter(
        (F.col("_bsz") > max_bucket_size) & (F.col(id_col) != F.col("_rep"))
    )
    if carry_cols:
        reps = tagged.filter(
            (F.col("_bsz") > max_bucket_size) & (F.col(id_col) == F.col("_rep"))
        ).select(
            *bucket_cols,
            *[F.col(c).alias(f"{c}_a") for c in carry_cols],
        ).dropDuplicates(bucket_cols)
        big_pairs = big.join(reps, bucket_cols).select(
            F.col("_rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            *[F.col(f"{c}_a") for c in carry_cols],
            *[F.col(c).alias(f"{c}_b") for c in carry_cols],
        )
    else:
        big_pairs = big.select(
            F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
        )
    out = small_pairs.unionByName(big_pairs)
    return out.distinct() if dedupe else out


# ---- exact dedup -----------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated content hash
    with the surviving (min) id and the duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Survivors only: first id per content hash (deterministic)."""
    w = df.withColumn("content_hash", F.md5(F.col(text_col)))
    keep = w.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return w.join(keep, [id_col, "content_hash"], "left_semi").drop("content_hash")


# ---- MinHash + LSH ----------------------------------------------------------

def shingles(text: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingle set (distinct) as array<string>."""
    toks = F.split(F.trim(text), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def minhash_signature(sh: F.Column, num_hashes: int = 32) -> F.Column:
    """k-permutation minhash via seeded xxhash64 — pure JVM expression."""
    return F.array(*[
        F.array_min(F.transform(sh, lambda s, i=i: F.xxhash64(s, F.lit(i))))
        for i in range(num_hashes)
    ])


def _spread(df: DataFrame) -> DataFrame:
    """Spread a frame to the session's default parallelism when its
    physical partitioning is narrower.

    CPU-heavy per-row expressions (shingling, 32-hash signatures)
    execute in the stage of their input scan — a single small parquet
    file scans as 1-2 partitions, serializing the whole computation on
    2 cores while the rest idle (measured: 4.4 s → 0.7 s on the
    sf0.1 exact-dedup path).  At real corpus scale the scan has
    thousands of splits and this becomes a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    cur = df.rdd.getNumPartitions()
    return df.repartition(target) if cur < target else df


def shingle_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sh) shingle-set frame.  Callers that feed both the LSH
    candidate stage and the Jaccard verify stage should .persist()
    this — the shingle expression otherwise re-evaluates once per
    join branch (4× on the full dedup pipeline, measured)."""
    return _spread(df).select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: same minhash band bucket.

    rows/band = num_hashes/bands; a pair colliding in ANY band is a
    candidate.  Output: (id_a, id_b) with id_a < id_b, distinct.
    The bucket join shuffles on (band, band_hash) — uniform by
    construction, so no skew handling needed beyond AQE.
    """
    banded = minhash_bands(
        df, text_col, id_col, num_hashes, bands, shingle_n, shingle_df
    )
    return _bucket_pairs(banded, ["band", "bucket"], id_col)


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Banded minhash rows ``(id, band, bucket)`` — the LSH index in
    its PERSISTABLE form: this is what a production pipeline maintains
    incrementally as its corpus near-dup index table (append the
    surviving batch's band rows after every ingest — the same
    maintain-the-summary pattern as :func:`dedup_against`'s hash set
    and :func:`bloom_accumulate`'s bitmap), so the daily batch joins
    a ready index instead of re-signing 100 TB."""
    rows_per_band = num_hashes // bands
    # materialize the shingle array once; computing the signature from
    # the inline shingle expression would re-evaluate the split/
    # sequence/distinct chain inside every one of the k hash lambdas
    sh = shingle_df if shingle_df is not None else shingle_frame(df, text_col, id_col, shingle_n)
    sig = sh.select(F.col(id_col), minhash_signature(F.col("sh"), num_hashes).alias("sig"))
    return sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws("_", *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ])
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (never O(n²))."""
    sh = shingle_df if shingle_df is not None else shingle_frame(df, text_col, id_col, shingle_n)
    a = sh.alias("a")
    b = sh.alias("b")
    joined = (
        candidates.join(a, candidates.id_a == F.col(f"a.{id_col}"))
        .join(b, candidates.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a", "id_b",
            (
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("jaccard"),
        )
    )
    return joined.filter(F.col("jaccard") >= threshold)


def shingle_fingerprint(sh: F.Column) -> F.Column:
    """Canonical fingerprint of a shingle SET: md5 over the sorted,
    per-shingle-md5'd elements.  Each shingle is hashed BEFORE the
    concat: fixed-width hex never contains the separator, so distinct
    sets can't serialize alike — a raw '|' join would collide when
    tokens contain '|' (ADVICE r2: Jaccard 1.0 ⇔ identical sets must
    hold for all text)."""
    return F.md5(F.concat_ws("|", F.transform(F.array_sort(sh), F.md5)))


def exact_shingle_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """θ=1.0 fast path: Jaccard 1.0 ⇔ identical shingle SETS ⇔ equal
    sorted-set fingerprints, so one md5 + one groupBy-shaped self-join
    replaces the whole MinHash machinery (32 seeded xxhash64 per
    shingle + 8-band self-join + verify — measured ~3× slower).
    Pair set matches ``jaccard_verify(..., threshold=1.0)`` for groups
    of ≤ MAX_BUCKET_PAIRS_SIZE members; larger duplicate groups emit
    min-id→member star edges instead of all O(d²) pairs (lossless for
    dedup/clustering: set equality is transitive).
    """
    sh = shingle_df if shingle_df is not None else shingle_frame(df, text_col, id_col, shingle_n)
    fp = sh.select(F.col(id_col), shingle_fingerprint(F.col("sh")).alias("fp"))
    pairs = _bucket_pairs(fp, ["fp"], id_col, dedupe=False)
    # star edges (groups > MAX_BUCKET_PAIRS_SIZE) are lossless here:
    # set equality is transitive, so rep→member edges span the group
    return pairs.select("id_a", "id_b", F.lit(1.0).alias("jaccard"))


def jaccard_duplicates(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs at ``threshold``.

    θ ≥ 1.0 dispatches to the exact fingerprint fast path; θ < 1.0
    runs MinHash-LSH candidate generation + exact Jaccard verify.
    """
    if threshold >= 1.0:
        return exact_shingle_duplicates(df, text_col, id_col, shingle_n)
    sh = shingle_frame(df, text_col, id_col, shingle_n).persist()
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n, shingle_df=sh
    )
    return jaccard_verify(
        cands, df, text_col, id_col, shingle_n, threshold, shingle_df=sh
    )


# ---- duplicate clusters (connected components) -------------------------------

def dedup_clusters(
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate clusters from candidate-pair ``(id_a, id_b)`` edges:
    one ``(doc_id, cluster_id)`` row per node that appears in any
    edge, with ``cluster_id`` = the minimum id reachable from it.

    Iterative min-label propagation, O(graph diameter) rounds with an
    early-stop convergence check.  Dedup candidate graphs have tiny
    diameters by construction — `_bucket_pairs` emits cliques (small
    buckets) and stars (big buckets), so 2-3 rounds in practice;
    ``max_iter`` bounds pathological chains.  Each round is one
    shuffle (groupBy min over the undirected edge list); labels are
    ``localCheckpoint``-ed to truncate the growing lineage — the
    standard Spark shape for this (the large-star/small-star
    alternation of Kiveris et al. is the published alternative when
    diameters are large; not needed for dedup graphs).
    """
    # materialize the symmetric edge list ONCE: it joins into every
    # propagation round, and the upstream edge build (shingle → md5 →
    # groupBy) is expensive — without this, each round recomputes it
    # from the scan (measured 2-3 recomputations even on 1-round
    # convergence: label init + each round's prop)
    sym = (
        edges.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(edges.selectExpr("id_b AS src", "id_a AS dst"))
        .localCheckpoint()
    )
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("min_dst"))
        .select(F.col("src").alias("node"), F.least("src", "min_dst").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # candidate label for each node: min over neighbors' labels
        prop = (
            sym.join(labels, sym.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        merged = (
            labels.join(prop, labels.node == prop.dst, "left")
            .select(
                "node",
                "label",
                F.least("label", F.coalesce("nbr_label", "label")).alias("new_label"),
            )
        ).localCheckpoint()
        changed = merged.filter(F.col("new_label") < F.col("label")).count()
        labels = merged.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )

def simhash_batch(texts) -> "pd.Series":
    """Batch simhash: one numpy pass over ALL tokens of the batch.

    Column-wise FNV-1a — every token advances one byte per step, so
    the per-token sequential recurrence is preserved exactly (bit-for-
    bit equal to :func:`hash_token`, pinned by pytest) while the work
    is vectorized across the batch's whole token set.  Bit votes are
    summed per document with one ``np.add.reduceat``.  Measured ≥5×
    over the per-token Python loop it replaced (BENCH/PLANS.md).
    """
    import numpy as np

    token_lists = [(t or "").split() for t in texts]
    n_docs = len(token_lists)
    counts = np.fromiter((len(tl) for tl in token_lists), dtype=np.int64, count=n_docs)
    total = int(counts.sum())
    if total == 0:
        return pd.Series(np.zeros(n_docs, dtype=np.int64))

    # one utf-8 encode for the whole batch: join tokens with ' ' and
    # recover boundaries from the 0x20 positions — a space byte can't
    # occur inside a token (str.split consumed them) nor inside a
    # multi-byte utf-8 sequence (continuation bytes are ≥ 0x80)
    blob = " ".join(" ".join(tl) for tl in token_lists if tl).encode("utf-8")
    flat = np.frombuffer(blob, dtype=np.uint8)
    seps = np.flatnonzero(flat == 0x20)
    starts = np.concatenate(([0], seps + 1))
    lens = np.concatenate((seps, [flat.size])) - starts

    # column-wise FNV over length-sorted tokens: the still-alive set at
    # byte j is then a contiguous suffix (slice views instead of mask
    # gathers — ~5× faster on this memory-bandwidth-bound box)
    order = np.argsort(lens, kind="stable")
    lens_s = lens[order]
    starts_s = starts[order]
    hs = np.full(total, 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for j in range(int(lens_s[-1]) if total else 0):
        k = int(np.searchsorted(lens_s, j + 1))
        hs[k:] = (hs[k:] ^ flat[starts_s[k:] + j]) * prime
    h = np.empty_like(hs)
    h[order] = hs

    # bit matrix via unpackbits (uint64 shift-broadcasting is ~400×
    # slower in numpy — measured); vote = 2·popcount − n_tokens
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    nonempty = counts > 0
    offsets = np.concatenate(([0], np.cumsum(counts[:-1])))[nonempty]
    bitsums = np.add.reduceat(bits, offsets, axis=0, dtype=np.int32)
    votes = 2 * bitsums - counts[nonempty, None]
    sigbits = (votes > 0).astype(np.uint8)
    sigs = np.packbits(sigbits, axis=1, bitorder="little").view(np.uint64).ravel()
    out = np.zeros(n_docs, dtype=np.uint64)
    out[nonempty] = sigs
    return pd.Series(out.view(np.int64))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit simhash per document.

    Token hashing + bit-vote accumulation run batch-vectorized in
    numpy inside an Arrow-batched pandas UDF (64-wide bit expressions
    would bloat codegen); banding/bucketing stays JVM-side.
    """

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        return simhash_batch(texts)

    return df.withColumn("simhash", _simhash(F.col(text_col)))


def hash_token(tok: str) -> int:
    """Deterministic 64-bit FNV-1a (stable across workers, unlike
    Python's salted ``hash``)."""
    h = 0xCBF29CE484222325
    for b in tok.encode("utf-8"):
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_candidates(df_with_sig: DataFrame, id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates by the 4×16-bit block trick: any pair with
    hamming ≤ 3 must agree on at least one 16-bit block (pigeonhole),
    so bucket by each block and verify hamming inside buckets."""
    blocks = df_with_sig.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("block"),
                F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
            ) for b in range(4)
        ])).alias("bl"),
    ).select(id_col, "simhash", "bl.block", "bl.val")
    pairs = _bucket_pairs(blocks, ["block", "val"], id_col, carry_cols=["simhash"])
    return pairs.select(
        "id_a", "id_b",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def neardup_survivors(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivors after near-duplicate CLUSTER resolution: every doc
    keeps its row unless it belongs to a duplicate cluster and is not
    that cluster's representative (the minimum id — same deterministic
    keep-rule as :func:`exact_dedup`).  Completes the near-dup
    workflow: candidates (:func:`minhash_lsh_candidates` /
    :func:`exact_shingle_duplicates`) → clusters
    (:func:`dedup_clusters`) → survivors.

    Scale shape: the doomed set (non-representative members) is
    cluster-membership-sized, far smaller than the corpus, and the
    anti-join needs no sort — at real scale AQE broadcasts it when it
    fits, shuffles otherwise.
    """
    clusters = dedup_clusters(edges, id_col=id_col)
    doomed = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(doomed, id_col, "left_anti")


# ---- substring-level exact dedup (Lee et al. 2022) --------------------------

# explicit whitespace class, not \s: Java \s includes \x0b, RE2
# (DuckDB) \s does not — single shared definition (operators/bpe.py)
from .bpe import WS_RE as _WS  # noqa: E402


def duplicated_passages(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated passages of ≥ ``k`` tokens (the
    substring-level exact dedup of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — their suffix-array
    construction is single-node; the distributed equivalent is token
    k-gram fingerprinting).

    Returns one row per maximal duplicated passage:
    ``(id_col, tok_start, tok_end, n_tokens)`` with 0-based token
    indexes (``[tok_start, tok_end)``), where a passage is maximal iff
    every k-token window inside it appears verbatim in at least one
    OTHER document.  A passage of m ≥ k tokens shared verbatim by two
    documents makes all its m−k+1 windows cross-doc duplicated, so the
    consecutive-run merge recovers exactly the maximal shared
    passages; within-doc repeats alone do NOT count (cross-doc is
    ``min(doc) ≠ max(doc)``, not total count).

    100-TB shape — never O(pairs), never a corpus suffix array on one
    node:

    * k-grams are built JVM-side (slice + concat_ws inside a
      ``transform`` over a MATERIALIZED token-array column — the
      lambda-CSE invariant) and immediately hashed to 8-byte
      ``xxhash64`` keys, so no gram string crosses a shuffle;
    * cross-doc duplicated fingerprints come from ONE
      ``groupBy(gh)`` with map-side partial ``min/max(doc)`` — a gram
      duplicated 10⁶ times partially aggregates, unlike a
      window-over-gh shape which would shuffle every occurrence of a
      hot gram to one reducer;
    * marking positions is an inner join of the positions frame
      against the (much smaller) duplicated-fingerprint set on the
      8-byte key — O(corpus positions), with AQE skew-join splitting
      the probe side under mega-duplicated grams.  No pair emission
      at all, so the ``_bucket_pairs`` star-edge question never
      arises: output size is bounded by corpus positions, not
      bucket²;
    * run merging is gaps-and-islands: one window per document
      (``p − row_number()``), one shuffle on ``id_col``.

    Three shuffles total, each linear in corpus token count.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toks = _spread(df).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), _WS).alias("_toks")
    )
    width = F.size("_toks") - (k - 1)
    gram_hashes = F.transform(
        F.sequence(F.lit(1), width),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_toks", i, k))),
    )
    pos = toks.select(
        F.col(id_col),
        F.posexplode(
            F.when(width >= 1, gram_hashes).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("p", "gh"),
    )
    dup = (
        pos.groupBy("gh")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("gh")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("p")
    islands = pos.join(dup, "gh").withColumn(
        "_isl", F.col("p") - F.row_number().over(w)
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("p").alias("tok_start"),
            (F.max("p") + F.lit(k)).alias("tok_end"),
        )
        .select(
            id_col,
            F.col("tok_start").cast("int").alias("tok_start"),
            F.col("tok_end").cast("int").alias("tok_end"),
            (F.col("tok_end") - F.col("tok_start")).cast("int").alias("n_tokens"),
        )
    )


def remove_duplicated_passages(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The removal step of substring-level exact dedup (Lee et al.
    2022 keep-one-occurrence policy, made deterministic): for every
    cross-doc duplicated k-gram the occurrence in the MINIMUM doc id
    survives; all other occurrences are cut from their documents.

    Returns ``(id_col, text_clean, n_removed_tokens)`` — one row per
    input document, non-duplicated text byte-preserved (tokens
    re-joined with single spaces), duplicated intervals excised.

    Same three linear shuffles as :func:`duplicated_passages` plus one
    interval-collect groupBy and a left join back to the token frame;
    the rebuild is pure JVM (indexed ``filter`` over the token array
    against the doc's interval list — O(tokens × intervals_per_doc),
    and interval lists are bounded by tokens/k).  Still no pair
    emission anywhere.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toks = _spread(df).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), _WS).alias("_toks")
    )
    width = F.size("_toks") - (k - 1)
    gram_hashes = F.transform(
        F.sequence(F.lit(1), width),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_toks", i, k))),
    )
    pos = toks.select(
        F.col(id_col),
        F.posexplode(
            F.when(width >= 1, gram_hashes).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("p", "gh"),
    )
    # cross-doc duplicated grams WITH their surviving (min) doc
    dup = (
        pos.groupBy("gh")
        .agg(F.min(id_col).alias("_keep"), F.max(id_col).alias("_mx"))
        .filter(F.col("_keep") != F.col("_mx"))
        .select("gh", "_keep")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("p")
    doomed = (
        pos.join(dup, "gh")
        .filter(F.col(id_col) != F.col("_keep"))
        .withColumn("_isl", F.col("p") - F.row_number().over(w))
    )
    intervals = (
        doomed.groupBy(id_col, "_isl")
        .agg(
            F.min("p").alias("s"),
            (F.max("p") + F.lit(k)).alias("e"),
        )
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("_iv"))
    )
    joined = toks.join(intervals, id_col, "left")
    kept = F.when(F.col("_iv").isNull(), F.col("_toks")).otherwise(
        F.filter(
            "_toks",
            lambda t, i: ~F.exists(
                "_iv", lambda iv: (i >= iv["s"]) & (i < iv["e"])
            ),
        )
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        (F.size("_toks") - F.size(kept)).cast("int").alias("n_removed_tokens"),
    )


# ---- paragraph-level dedup (RefinedWeb / Falcon line dedup) ------------------

def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Sub-document exact dedup at PARAGRAPH (line) granularity —
    RefinedWeb's line-level dedup (Penedo et al. 2023,
    arXiv:2306.01116): web boilerplate (nav bars, cookie banners,
    footers) repeats across millions of pages while the surrounding
    documents are unique, so document-level dedup never sees it.

    Units are the ``sep``-split segments of ``text_col`` whose
    ``trim()`` is non-empty (pure-whitespace segments are dropped from
    the reassembly — a normalization, stated contract).  Policy: a
    paragraph survives only at its globally FIRST occurrence —
    seniority is min ``(id, position)`` under natural ordering.  For
    the complementary Falcon THRESHOLD rule (drop every occurrence of
    a line seen in ≥ N distinct docs, keeping rare lines everywhere)
    use :func:`..text_analysis.remove_boilerplate_lines` — the two are
    different retention semantics, not variants of one knob.

    Returns one row per input document that has at least one non-empty
    paragraph: ``(id, text, n_kept, n_dropped)`` with ``text`` the
    surviving paragraphs re-joined by ``sep`` in original order (may
    be ``''`` when everything was dropped — the caller typically
    filters ``n_kept > 0``).

    100-TB shape: three linear shuffles — posexplode → paragraph-key
    aggregate (partial-agg combines the heavy hitters map-side, so a
    nav bar on 10⁸ pages arrives at the reducer as one row per
    partition, never 10⁸ rows on one key) → co-partitioned join back
    on the paragraph key → one groupBy(doc) reassembly.  No window
    over the paragraph key (a window would sort the hot key's whole
    group on one task); no Python."""
    paras = (
        df.select(
            F.col(id_col),
            # re.escape: F.split takes a Java REGEX while array_join
            # below re-joins with the LITERAL sep — an unescaped
            # sep='|' would split between every character and reassemble
            # garbage.  Python's escape set (punctuation only) is
            # Java-regex-safe.
            F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
                "pos", "para"
            ),
        )
        .filter(F.length(F.trim(F.col("para"))) > 0)
    )
    senior = paras.groupBy("para").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_w")
    )
    flagged = paras.join(senior, "para").withColumn(
        "_keep",
        (F.col(id_col) == F.col("_w")[id_col])
        & (F.col("pos") == F.col("_w")["pos"]),
    )
    agg = flagged.groupBy(id_col).agg(
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(F.col("_keep").cast("long"))).alias(
            "n_dropped"
        ),
        # collect_list skips nulls: only kept paragraphs enter; the
        # array_sort on (pos, para) structs restores original order
        F.array_sort(
            F.collect_list(F.when(F.col("_keep"), F.struct("pos", "para")))
        ).alias("_ps"),
    )
    return agg.select(
        F.col(id_col),
        F.array_join(F.col("_ps.para"), sep).alias(text_col),
        "n_kept",
        "n_dropped",
    )


def dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_batch: bool = True,
) -> DataFrame:
    """Incremental ingestion dedup: survivors of a NEW batch against
    an EXISTING corpus (the daily-crawl case — ingest only documents
    whose exact content is not already in the training set).

    ``within_batch=True`` first keeps the min-id representative of
    each content hash inside the batch, then a ``left_anti`` join on
    ``md5(text)`` drops anything the corpus already has.

    100-TB shape: the corpus side reduces to its DISTINCT 16-byte
    hash set — in production that set is maintained incrementally as
    its own table (append the new survivors' hashes per ingest, the
    icelite pattern) rather than recomputed, making the daily cost
    O(batch) + one hash-key shuffle join (AQE-handled); nothing here
    is O(corpus × batch)."""
    h = F.md5(F.col(text_col))
    corpus_hashes = corpus_df.select(h.alias("content_hash")).distinct()
    w = new_df.withColumn("content_hash", h)
    if within_batch:
        keep = w.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
        w = w.join(keep, [id_col, "content_hash"], "left_semi")
    return w.join(corpus_hashes, "content_hash", "left_anti").drop("content_hash")


def neardup_against(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    threshold: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    within_batch: bool = True,
    corpus_bands: DataFrame | None = None,
    corpus_fingerprints: DataFrame | None = None,
    verify: bool = True,
    broadcast_batch: bool = False,
) -> DataFrame:
    """NEAR-dup incremental ingestion: survivors of a NEW batch whose
    near-duplicate is not already in the corpus — the fuzzy analogue
    of :func:`dedup_against` (which only catches byte-identical text).
    The daily-crawl case: recrawled pages differ by a timestamp or ad
    block but are the same document.

    Batch and corpus ids must be disjoint (always true for an ingest
    increment — fresh ids by construction).

    ``threshold >= 1.0``: shingle-SET equality (whitespace-run and
    duplicate-shingle insensitive — already fuzzier than md5(text)),
    via :func:`shingle_fingerprint` anti-join; the maintainable corpus
    summary is one 32-hex fingerprint per doc
    (``corpus_fingerprints=(id, fp)``).

    ``threshold < 1.0``: MinHash-LSH — batch band rows join the corpus
    band INDEX (``corpus_bands``, see :func:`minhash_bands` — the
    persistable index a production pipeline maintains incrementally),
    then ``verify=True`` (default) confirms candidates with exact
    n-gram Jaccard ≥ threshold (needs ``corpus_df`` text for the
    candidate docs only); ``verify=False`` is the LSH-only policy
    (tune bands/rows to the threshold; no corpus text needed at all).

    100-TB shape: the corpus is never re-signed — its index table is
    appended per ingest.  The band join shuffles only band rows
    (corpus index side is hash-partitioned once if stored bucketed);
    ``broadcast_batch=True`` makes it a map-side join for takedown- or
    small-increment-sized batches (corpus index never moves).  The
    verify join touches corpus text for candidate ids only — bounded
    by candidate count, not corpus size.  ``within_batch`` keeps the
    min-id representative of each intra-batch near-dup group
    (θ=1.0 semantics: fingerprint groupBy; θ<1: pairwise near-dup
    juniors drop, matching :func:`neardup_survivors`)."""
    if threshold >= 1.0:
        sh_new = shingle_frame(new_df, text_col, id_col, shingle_n)
        fp_new = sh_new.select(
            F.col(id_col), shingle_fingerprint(F.col("sh")).alias("fp")
        )
        w = new_df.join(fp_new, id_col)
        if within_batch:
            keep = w.groupBy("fp").agg(F.min(id_col).alias(id_col))
            w = w.join(keep, [id_col, "fp"], "left_semi")
        if corpus_fingerprints is not None:
            cfp = corpus_fingerprints.select(F.col("fp")).distinct()
        else:
            if corpus_df is None:
                raise ValueError(
                    "threshold >= 1.0 needs corpus_df or corpus_fingerprints"
                )
            cfp = (
                shingle_frame(corpus_df, text_col, id_col, shingle_n)
                .select(shingle_fingerprint(F.col("sh")).alias("fp"))
                .distinct()
            )
        return w.join(cfp, "fp", "left_anti").drop("fp")

    # localCheckpoint, NOT persist: this operator's stated use is a
    # long-lived incremental-ingest loop (one call per batch), and a
    # persist is never safely unpersistable here (the returned frame
    # references it) — cached plans would accumulate in the
    # CacheManager forever.  localCheckpoint blocks are GC-managed by
    # the ContextCleaner when the frame goes out of scope (the
    # dedup_against_bloom precedent).
    sh_new = shingle_frame(new_df, text_col, id_col, shingle_n).localCheckpoint(
        eager=True
    )
    batch_bands = minhash_bands(
        new_df, text_col, id_col, num_hashes, bands, shingle_n,
        shingle_df=sh_new,
    )
    if corpus_bands is None:
        if corpus_df is None:
            raise ValueError("threshold < 1.0 needs corpus_df or corpus_bands")
        corpus_bands = minhash_bands(
            corpus_df, text_col, id_col, num_hashes, bands, shingle_n
        )
    b = F.broadcast(batch_bands) if broadcast_batch else batch_bands
    cands = (
        b.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    if verify:
        if corpus_df is None:
            raise ValueError("verify=True needs corpus_df (candidate texts)")
        sh_corpus = shingle_frame(corpus_df, text_col, id_col, shingle_n)
        confirmed = jaccard_verify(
            cands, None, text_col, id_col, shingle_n, threshold,
            shingle_df=sh_new.unionByName(sh_corpus),
        )
        dup_ids = confirmed.select(F.col("id_a").alias(id_col)).distinct()
    else:
        dup_ids = cands.select(F.col("id_a").alias(id_col)).distinct()
    out = new_df.join(dup_ids, id_col, "left_anti")
    if within_batch:
        # reuse sh_new instead of re-shingling the survivors
        # (jaccard_duplicates(out) would recompute the full
        # shingle+minhash chain) — but the LSH pass itself must run
        # over the SURVIVOR subset of the shingle frame, not the whole
        # batch: _bucket_pairs' >128 star-edge fallback anchors on the
        # bucket's min id, and a full-batch bucket whose representative
        # was removed by the cross-corpus pass (or whose survivor
        # subset shrinks back under the cap) would lose junior-junior
        # edges that jaccard_duplicates(out) emits (review r6 pass 2 —
        # the same non-transitivity class as the semantic_dedup fix).
        # Filtering the shingle frame keeps the expensive work shared
        # and the semantics identical to the survivors-only run.
        sh_out = sh_new.join(out.select(id_col), id_col, "left_semi")
        intra_cands = minhash_lsh_candidates(
            out, text_col, id_col, num_hashes, bands, shingle_n,
            shingle_df=sh_out,
        )
        intra = jaccard_verify(
            intra_cands, None, text_col, id_col, shingle_n, threshold,
            shingle_df=sh_out,
        )
        juniors = intra.select(F.col("id_b").alias(id_col)).distinct()
        out = out.join(juniors, id_col, "left_anti")
    return out


def build_text_bloom(
    corpus_df: DataFrame,
    text_col: str = "text",
    n_bits: int = 1 << 23,
    k: int = 5,
):
    """Deterministic Bloom filter over ``md5-equivalent`` text
    identity, built DISTRIBUTED: each partition scatters its k bit
    positions into a local numpy bitmap (one mapInPandas pass over
    JVM-computed ``xxhash64`` pairs — no Python hashing of text), and
    the driver ORs the per-partition bitmaps.  Returns ``(bitmap
    bytes, n_bits, k)``.

    Positions use the standard double-hashing construction
    ``pos_i = (h1 + i·h2) mod m`` over two independent JVM hashes
    (``xxhash64(text)`` and ``xxhash64(text, 1)`` — the same
    seed-by-extra-column trick as the minhash family), so the filter
    is bit-deterministic across runs and engines.

    Scale notes: driver traffic is ``n_partitions × n_bits/8`` bytes
    (the OR is associative — at very large partition counts fold it
    with a two-level treeAggregate instead); size ``n_bits ≈ 10×``
    the corpus cardinality for ~1% false positives.  In production
    the bitmap is maintained INCREMENTALLY (OR in each ingested
    batch's bitmap — :func:`bloom_accumulate` is that increment; the
    streaming icelite dedup sink maintains its bitmap with it), never
    rebuilt."""
    import numpy as np

    m = bloom_layout.round_bits(n_bits)
    merged = np.zeros(m // 8, dtype=np.uint8)
    bloom_accumulate(merged, corpus_df, text_col=text_col, k=k)
    return merged.tobytes(), m, k


def bloom_accumulate(
    bitmap, df: DataFrame, text_col: str = "text", k: int = 5
) -> None:
    """OR ``df``'s text hashes into an EXISTING bitmap in place — the
    incremental-maintenance primitive behind :func:`build_text_bloom`
    (which seeds a zero bitmap and calls this once).  A long-lived
    ingest keeps one bitmap and accumulates each committed batch into
    it instead of rebuilding from the corpus, so per-batch cost is
    O(batch), never O(corpus).  ``m`` is the bitmap's own bit length
    (callers keep the bitmap byte-aligned and ``k`` fixed for its
    lifetime — same double-hashing construction as the builder)."""
    import numpy as np

    n_bytes = len(bitmap)
    hashes = _spread(df).select(*bloom_layout.hash_pair(F.col(text_col)))

    def part_bitmap(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            bloom_layout.add(bits, pdf["h1"], pdf["h2"], k)
        if any_rows:
            yield pd.DataFrame({"bm": [bits.tobytes()]})

    for row in hashes.mapInPandas(part_bitmap, "bm binary").toLocalIterator():
        bitmap |= np.frombuffer(row["bm"], dtype=np.uint8)


def dedup_against_bloom(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_batch: bool = True,
    n_bits: int = 1 << 23,
    k: int = 5,
    bloom: tuple | None = None,
) -> DataFrame:
    """:func:`dedup_against` with a broadcast Bloom prefilter — the
    100-TB daily-ingest shape.  The corpus is summarized ONCE into a
    bitmap (1 MB default; incrementally maintainable); batch rows
    whose k positions miss the filter are DEFINITELY new (Bloom has
    no false negatives) and skip the join entirely, so the exact
    md5 anti-join runs only over the ~fpp·|new| + |true dups|
    candidate rows instead of the whole batch, and the corpus side of
    that join can be pre-pruned the same way.  The survivor set is
    PROVABLY identical to :func:`dedup_against` (the bloom only
    routes rows; exactness comes from the md5 join) — which is what
    lets the same closed-form oracle check both paths.

    ``bloom`` = a precomputed ``(bitmap_bytes, m, k)`` triple — a
    caller that maintains the bitmap incrementally across ingests
    (:func:`bloom_accumulate`; the streaming icelite dedup sink)
    passes it here and skips the O(corpus) build.  The bitmap may be
    a SUPERSET of the corpus (stale-but-inclusive after takedowns):
    extra bits only send more rows to the exact join, never change
    the result."""
    if bloom is None:
        bloom = build_text_bloom(corpus_df, text_col, n_bits, k)
    bm_bytes, _m, kk = bloom
    spark = new_df.sparkSession
    bm_bc = spark.sparkContext.broadcast(bm_bytes)

    @F.pandas_udf("boolean")
    def might_contain(h1: pd.Series, h2: pd.Series) -> pd.Series:
        return pd.Series(bloom_layout.might_contain(bm_bc.value, h1, h2, kk))

    w = new_df
    if within_batch:
        w = w.withColumn("content_hash", F.md5(F.col(text_col)))
        keep = w.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
        w = w.join(keep, [id_col, "content_hash"], "left_semi").drop(
            "content_hash"
        )
    w = w.withColumn(
        "_might", might_contain(*bloom_layout.hash_pair(F.col(text_col)))
    )
    # the definite-new / candidate routes form a self-union, and
    # Catalyst recomputes an unshared subtree once PER BRANCH (hash +
    # bloom UDF + keep-min semi-join, explain-verified).
    # localCheckpoint (NOT persist): a persist here would live in the
    # CacheManager with no reachable unpersist handle — one leaked
    # cached batch per daily-ingest call.  An eager localCheckpoint
    # materializes the routed batch once, and its blocks are freed by
    # the ContextCleaner as soon as the caller drops the returned
    # frame.  The batch side of a daily ingest is small relative to
    # the corpus, which is exactly why the bloom shape works.
    w = w.localCheckpoint(eager=True)
    definite_new = w.filter(~F.col("_might"))
    candidates = w.filter(F.col("_might"))
    corpus_hashes = corpus_df.select(
        F.md5(F.col(text_col)).alias("content_hash")
    ).distinct()
    survivors = (
        candidates.withColumn("content_hash", F.md5(F.col(text_col)))
        .join(corpus_hashes, "content_hash", "left_anti")
        .drop("content_hash")
    )
    return definite_new.unionByName(survivors).drop("_might")


def keep_best_in_cluster(
    df: DataFrame,
    cluster_col: str,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster retention policy: keep exactly ONE row per cluster —
    the max ``score_col``, ties broken by min ``id_col``.

    The complement to the detector operators: ``exact_dedup`` /
    ``dedup_paragraphs`` hard-code "keep the senior (min-id) copy",
    but production pipelines keep the BEST copy — the longest raw
    variant, the highest quality_score, the preferred source — of each
    duplicate cluster (the retention step in public CCNet/RefinedWeb
    style pipelines).  ``cluster_col`` is any precomputed grouping: a
    content hash, a :func:`dedup_clusters` component id, a minhash
    bucket representative.

    100-TB shape: ONE shuffle, and it is a partial-agg ``groupBy`` —
    ``min(struct(-score, id, <row>))`` combines map-side, so a
    boilerplate cluster with 10⁸ members arrives at its reducer as one
    candidate row per upstream partition, never 10⁸ rows on one key.
    Deliberately NOT a row_number() window: a window sorts the whole
    hot cluster on one task (same reasoning as dedup_paragraphs).

    Requires a numeric ``score_col`` (negated for the min-struct
    trick); NaN and NULL scores never win unless the whole cluster is
    unscored (NaN orders greater than every double; a NULL negation
    would order FIRST in the min-struct, so it is coalesced to +inf —
    an unscored copy must lose to any scored one, review r6 pass 2).
    ``(cluster, id)`` must be unique, which makes the struct
    comparison total before the trailing payload fields are ever
    consulted.
    """
    payload = [c for c in df.columns if c not in (cluster_col, score_col, id_col)]
    w = F.struct(
        F.coalesce(-F.col(score_col), F.lit(float("inf"))).alias("_ns"),
        F.col(id_col).alias(id_col),
        F.col(score_col).alias(score_col),
        *[F.col(c).alias(c) for c in payload],
    )
    best = df.groupBy(cluster_col).agg(F.min(w).alias("_w"))
    return best.select(
        F.col(cluster_col),
        F.col(f"_w.{id_col}").alias(id_col),
        F.col(f"_w.{score_col}").alias(score_col),
        *[F.col(f"_w.{c}").alias(c) for c in payload],
    )


def keep_longest_normalized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalized-exact dedup with a keep-LONGEST retention policy.

    Clusters documents whose ``normalize_text`` canonical form
    (lowercase, control-strip, whitespace-collapse, trim — the
    engine-portable C4/CCNet normalization) is identical, and keeps
    the variant with the longest RAW text — the copy that preserved
    the most casing/formatting signal — ties to min id.  Catches the
    re-crawl / re-render duplicates exact_dedup misses (same page,
    different whitespace or casing).

    Returns the surviving rows with the original columns of ``df``
    (cluster key and score are internal).  Plan: zero-shuffle codegen
    normalization projection + the single keep_best_in_cluster
    partial-agg shuffle.
    """
    from . import text_analysis

    normed = text_analysis.normalize_text(df, text_col=text_col)
    scored = normed.withColumn(
        "_cluster", F.md5(F.col("text_norm"))
    ).withColumn("_rawlen", F.length(F.col(text_col)).cast("double"))
    out = keep_best_in_cluster(
        scored.drop("text_norm"), "_cluster", "_rawlen", id_col=id_col
    )
    return out.select(*df.columns)
