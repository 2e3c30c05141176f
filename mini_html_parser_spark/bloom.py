"""The one Bloom filter bit layout of the engine.

Batch ingest dedup (``operators/dedup.py``), the streaming dedup sink
(``streaming/extract_stream.py``) and icelite's per-file key index
(``plans/icelite.py``) all build and probe their bitmaps here:

- ``m`` is the requested bit count rounded up to whole bytes
  (:func:`round_bits`), and a bitmap is ``m // 8`` uint8 bytes;
- a key's two hashes are the JVM pair ``xxhash64(key)``,
  ``xxhash64(key, 1)`` (:func:`hash_pair`), so build and probe hash
  alike on every executor and across runs;
- its ``k`` positions are ``(h1 + i·h2) mod m`` for ``i < k`` in uint64
  arithmetic (negative longs wrap), each bit LSB-first in its byte.

icelite writes this layout to disk, so it must never change: a probe
under a different layout than the build drops files that hold the key.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F


def round_bits(n_bits: int) -> int:
    """``n_bits`` rounded up to a byte multiple: positions range over
    ``[0, m)`` and must land inside the ``m // 8``-byte bitmap."""
    return (int(n_bits) + 7) & ~7


def hash_pair(key: Column) -> tuple[Column, Column]:
    """The two JVM hash columns of ``key``, named ``h1`` and ``h2``."""
    return (
        F.xxhash64(key).alias("h1"),
        F.xxhash64(key, F.lit(1)).alias("h2"),
    )


def _bit_masks(m: int, h1, h2, k: int):
    """Per hash function, the (byte index, bit mask) of every key."""
    a = np.asarray(h1).astype(np.uint64)
    b = np.asarray(h2).astype(np.uint64)
    for i in range(k):
        pos = (a + np.uint64(i) * b) % np.uint64(m)
        yield (
            (pos >> np.uint64(3)).astype(np.int64),
            np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)),
        )


def add(bits: np.ndarray, h1, h2, k: int) -> None:
    """Set the ``k`` bits of every ``(h1, h2)`` key in the uint8
    bitmap ``bits`` in place."""
    for byte, mask in _bit_masks(len(bits) * 8, h1, h2, k):
        np.bitwise_or.at(bits, byte, mask)


def might_contain(bits, h1, h2, k: int) -> np.ndarray:
    """Per ``(h1, h2)`` key, whether all its ``k`` bits are set in the
    bitmap ``bits`` (any bytes-like or uint8 array): False means the
    key was never added."""
    bits = np.frombuffer(bits, dtype=np.uint8)
    hit = np.ones(len(h1), dtype=bool)
    for byte, mask in _bit_masks(len(bits) * 8, h1, h2, k):
        hit &= (bits[byte] & mask) != 0
    return hit
