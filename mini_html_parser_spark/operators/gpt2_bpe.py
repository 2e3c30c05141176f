"""GPT-2-compatible byte-level BPE (reference parity swap-in point).

The reference's stats job measures token lengths with
``GPT2TokenizerFast`` (reference statistics/compute_aggregate_stats.py:
25,62-64).  ``transformers`` and the vocab download are unavailable in
this offline environment, so this module reimplements the PUBLIC
byte-level BPE construction from the GPT-2 release (Radford et al.
2019; the released ``encoder.py`` algorithm, re-derived from its
published description — no code copied):

1. **bytes→unicode table**: the released bijection mapping every byte
   to a printable unicode char (printable bytes map to themselves,
   the rest to U+0100+n), so BPE runs over visible symbols and
   round-trips arbitrary bytes;
2. **pretokenizer**: the released pattern
   ``'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+``
   — implemented as an explicit scanner (stdlib ``re`` lacks ``\\p``
   classes; ``unicodedata`` categories give the exact semantics);
3. **merge application**: lowest-rank-present-pair iteration (the
   classic/GPT-2 loop — ``bpe.classic_merge``, the function the
   character-level classic encoder runs, over byte-level symbols).

**Parity contract**: point ``load_gpt2_merges`` at the public GPT-2
``merges.txt`` (50 000 ranks) and :func:`gpt2_encode` /
:func:`gpt2_token_counts` reproduce GPT-2 tokenization exactly —
every component is the published construction, and each is pinned by
unit tests (bijection properties, pretokenizer vs a category-exact
reference regex, merge loop vs hand-computed cases).  Without the
file, the embedded ILLUSTRATIVE merge table exercises the identical
machinery deterministically (it makes no GPT-2-numerical-parity
claim — that requires the real ranks).

Spark side: token counting is an Arrow-batched pandas UDF with an
LRU-cached per-pretoken encoder (crawl text repeats words heavily) —
the same batch shape as the stats job's BPE stage.  Byte-level BPE is
NOT expressible as chained SQL ``replace`` calls (the min-rank loop
revisits earlier ranks), so there is deliberately no DuckDB oracle
for it; the engine's oracle-checked token counter remains
``operators/bpe.py``.
"""

from __future__ import annotations

import unicodedata
from functools import lru_cache

import pandas as pd  # module-level: pandas_udf stringified type hints

from pyspark.sql import DataFrame, functions as F

from .bpe import classic_merge


def bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 byte↔unicode bijection: 188 printable latin-1 bytes
    map to themselves; the remaining 68 bytes map to U+0100+n in
    order.  Every byte gets a distinct printable char, so merges.txt
    can spell byte sequences as visible strings."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


BYTE_ENCODER = bytes_to_unicode()
BYTE_DECODER = {v: k for k, v in BYTE_ENCODER.items()}

_CONTRACTIONS = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")


def _is_letter(c: str) -> bool:
    return unicodedata.category(c).startswith("L")


def _is_number(c: str) -> bool:
    return unicodedata.category(c).startswith("N")


def _is_space(c: str) -> bool:
    # \s of the release pattern: the release tokenizes with the
    # ``regex`` module, whose \s is full unicode whitespace — the
    # same set as str.isspace()
    return c.isspace()


def gpt2_pretokenize(text: str) -> list[str]:
    """The GPT-2 pretoken split, scanner form.  Alternation order is
    the released pattern's: contractions, ``' ?'``+letters,
    ``' ?'``+numbers, ``' ?'``+symbol-run, whitespace-not-before-
    nonspace (backtracks one char so the last space of a run attaches
    to the following word), whitespace."""
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            hit = next(
                (s for s in _CONTRACTIONS if text.startswith(s, i)), None
            )
            # longest-first isn't needed: the release order has no
            # prefix shadowing ('s before 're etc. never conflict)
            if hit is not None:
                out.append(hit)
                i += len(hit)
                continue
        j = i
        lead_space = c == " " and i + 1 < n
        k = i + 1 if lead_space else i
        if k < n and _is_letter(text[k]):
            j = k
            while j < n and _is_letter(text[j]):
                j += 1
            out.append(text[i:j])
            i = j
            continue
        if k < n and _is_number(text[k]):
            j = k
            while j < n and _is_number(text[j]):
                j += 1
            out.append(text[i:j])
            i = j
            continue
        if k < n and not _is_space(text[k]) and not _is_letter(text[k]) and not _is_number(text[k]):
            j = k
            while (
                j < n
                and not _is_space(text[j])
                and not _is_letter(text[j])
                and not _is_number(text[j])
            ):
                j += 1
            out.append(text[i:j])
            i = j
            continue
        if _is_space(c):
            j = i
            while j < n and _is_space(text[j]):
                j += 1
            if j < n and j - i > 1:
                j -= 1  # \s+(?!\S): leave one space for the next token
            elif j < n and j - i == 1:
                pass  # single ws before non-ws: plain \s+ takes it
            out.append(text[i:j])
            i = j
            continue
        out.append(c)  # lone trailing "'" or unmatched char
        i += 1
    return out


def load_gpt2_merges(path: str) -> list[tuple[str, str]]:
    """Parse the standard ``merges.txt`` format (one ``x y`` pair per
    line, rank = line order, ``#``-prefixed header skipped) — the file
    shipped with every public byte-level-BPE release."""
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for i, line in enumerate(f):
            line = line.rstrip("\n")
            # header: FIRST line only, "#version..." (the released
            # convention).  Skipping every '#'-prefixed line silently
            # dropped legitimate byte-level merges like ('#', '#') —
            # '#' maps to itself in bytes_to_unicode, so corpus-learned
            # tables over markdown-ish text genuinely contain them
            # (review r5 #4: a vanished merge shifts every later rank)
            if not line or (i == 0 and line.startswith("#version")):
                continue
            x, _, y = line.partition(" ")
            if y:
                merges.append((x, y))
    return merges


# illustrative byte-level merges in the merges.txt symbol space
# ("Ġ" = the mapped space byte).  Same FORMAT and application as the
# real table; carries no GPT-2 numerical-parity claim (see module
# docstring) — swap in the public 50k-rank file for that.
ILLUSTRATIVE_MERGES: list[tuple[str, str]] = [
    ("h", "e"), ("i", "n"), ("r", "e"), ("o", "n"), ("e", "r"),
    ("Ġ", "t"), ("Ġ", "a"), ("Ġ", "s"), ("Ġ", "w"), ("Ġ", "o"),
    ("n", "d"), ("a", "t"), ("o", "r"), ("e", "n"), ("e", "s"),
    ("Ġt", "he"), ("in", "g"), ("Ġa", "nd"), ("Ġt", "o"), ("o", "u"),
    ("i", "s"), ("e", "d"), ("a", "l"), ("Ġw", "as"), ("a", "s"),
    ("Ġo", "f"), ("ll", "o"), ("l", "l"), ("he", "llo"),
]


class Gpt2Encoder:
    """Per-merge-table encoder: the ranks dict is built ONCE and the
    pretoken cache keys on the symbol tuple alone.  (A module-level
    ``lru_cache(symbols, merges_tuple)`` would re-hash the full 50k-
    pair tuple of a real merges.txt on EVERY lookup — tuples do not
    cache their hash — making per-pretoken cost O(vocab).)"""

    def __init__(self, merges) -> None:
        self.merges = tuple(merges)
        self._ranks = {p: i for i, p in enumerate(self.merges)}
        self._merge = lru_cache(maxsize=262144)(self._merge_uncached)

    def _merge_uncached(self, symbols: tuple[str, ...]) -> tuple[str, ...]:
        """The GPT-2 merge loop: :func:`.bpe.classic_merge` under this
        table's ranks."""
        return classic_merge(symbols, self._ranks)

    def encode_pretoken(self, pretoken: str) -> tuple[str, ...]:
        mapped = tuple(BYTE_ENCODER[b] for b in pretoken.encode("utf-8"))
        return self._merge(mapped)


# encoder registry keyed on the merges tuple VALUE: re-deserialized
# UDF closures in reused python workers produce equal-but-not-
# identical tuples, and value equality lets them SHARE one encoder
# (an id()-keyed registry rebuilt the ranks dict and started a cold
# pretoken cache per task, and strong-ref'd dead encoders).  The one
# O(vocab) tuple hash happens per _encoder_for call — once per Arrow
# batch in the UDF, not per pretoken.  Value-deduped entries mean the
# dict holds one encoder per distinct table actually in use.
_ENCODERS: dict[tuple, Gpt2Encoder] = {}

# engine-wide default-merges config (jobs/vocab_tool.py `import
# --install` sets the env var): path -> loaded table, read once
_DEFAULT_MERGES_CACHE: dict[str, list] = {}
MERGES_ENV = "SPARK_GRAFT_GPT2_MERGES"


def default_merges() -> list[tuple[str, str]]:
    """The engine's default merge table: the merges.txt at
    ``$SPARK_GRAFT_GPT2_MERGES`` when set (the swap-in seam for the
    public 50k GPT-2 table — install it with ``jobs/vocab_tool.py
    import <file> --install``), else the embedded illustrative table.
    The file is read ONCE on the DRIVER and its pairs are captured
    into UDF closures, so executors never need the file shipped."""
    import os

    path = os.environ.get(MERGES_ENV)
    if not path:
        return ILLUSTRATIVE_MERGES
    cached = _DEFAULT_MERGES_CACHE.get(path)
    if cached is None:
        cached = load_gpt2_merges(path)
        _DEFAULT_MERGES_CACHE[path] = cached
    return cached


def _encoder_for(merges) -> Gpt2Encoder:
    if merges is None:
        merges = default_merges()
    # deep-tuple: JSON-deserialized tables carry pairs as LISTS, which
    # are unhashable — normalize instead of raising
    key = tuple(tuple(p) for p in merges)
    enc = _ENCODERS.get(key)
    if enc is None:
        if len(_ENCODERS) >= 8:
            _ENCODERS.clear()  # bound memory if many tables churn
        enc = Gpt2Encoder(key)
        _ENCODERS[key] = enc
    return enc




def gpt2_encode(text: str, merges=None) -> list[str]:
    """Byte-level BPE token strings (in the mapped unicode space) —
    with the public GPT-2 merges.txt ranks this is exactly GPT-2's
    tokenization of ``text``."""
    enc = _encoder_for(merges)
    out: list[str] = []
    for pre in gpt2_pretokenize(text or ""):
        out.extend(enc.encode_pretoken(pre))
    return out


def gpt2_decode(tokens: list[str]) -> str:
    """Inverse of :func:`gpt2_encode` (lossless byte round trip)."""
    data = bytes(BYTE_DECODER[c] for tok in tokens for c in tok)
    return data.decode("utf-8", errors="replace")


def gpt2_count_tokens(text: str, merges=None) -> int:
    enc = _encoder_for(merges)
    return sum(
        len(enc.encode_pretoken(pre)) for pre in gpt2_pretokenize(text or "")
    )


def gpt2_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Adds ``gpt2_tokens`` — Arrow-batched, LRU-cached per pretoken
    (the stats-job BPE batch shape; no per-row Python at the DataFrame
    level).  Pass ``merges=load_gpt2_merges(path)`` with the public
    file for exact GPT-2 counts."""
    from pyspark.sql.functions import pandas_udf

    from .dedup import _spread

    m_t = tuple(merges) if merges is not None else tuple(default_merges())

    @pandas_udf("long")
    def count(texts: pd.Series) -> pd.Series:
        # resolve the encoder ONCE per batch (prebuilt ranks dict +
        # per-pretoken cache keyed on symbols alone)
        enc = _encoder_for(m_t)
        return texts.map(
            lambda t: sum(
                len(enc.encode_pretoken(p)) for p in gpt2_pretokenize(t or "")
            )
        )

    # CPU-heavy per-row Python runs in the scan's stage: a small
    # parquet input scans as 1-2 partitions and would serialize the
    # merge loop on 2 cores (CLAUDE.md invariant; dedup._spread)
    return _spread(df).withColumn("gpt2_tokens", count(F.col(text_col)))


def save_gpt2_merges(merges, path: str) -> None:
    """Inverse of :func:`load_gpt2_merges`: write a merge table in the
    standard ``merges.txt`` format (header line + one ``x y`` pair per
    rank).  Closes the train→export→exact-tokenizer loop: a table
    learned from the corpus (``bpe.learn_bpe``) — or the embedded
    illustrative one — round-trips through the SAME file format every
    public byte-level-BPE release ships, so downstream tooling that
    consumes merges.txt needs no special case.  Symbols containing a
    space or newline cannot be represented in the format and are
    refused (byte-level tables never contain them — that is the whole
    point of the bytes→unicode mapping)."""
    lines = ["#version: 0.2 (mini-html-parser-spark export)"]
    for x, y in merges:
        if " " in x or " " in y or "\n" in x or "\n" in y:
            raise ValueError(
                f"merge pair {(x, y)!r} contains a space/newline and "
                "cannot be written in merges.txt format; map symbols "
                "through bytes_to_unicode() first (byte-level tables "
                "are always representable)"
            )
        lines.append(f"{x} {y}")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
