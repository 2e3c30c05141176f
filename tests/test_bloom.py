"""The Bloom filter bit layout shared by batch dedup, the streaming
dedup sink and icelite's per-file key index.

The layout is ``m`` rounded up to whole bytes, positions
``(h1 + i·h2) mod m`` over the JVM pair ``xxhash64(key)``,
``xxhash64(key, 1)`` in uint64 arithmetic, and LSB-first bits within
each byte.  icelite writes it to disk in the key-index sidecar, so the
md5 pins below guard sidecars already written: a bitmap that changes
byte-for-byte would make the probe drop files that hold the key.
"""

import hashlib
import json
import re

import numpy as np
from pyspark.sql import functions as F

from mini_html_parser_spark.operators import dedup
from mini_html_parser_spark.plans.icelite import IceliteTable

# md5 of each bucket's sidecar bitmap: 200 ids, doc_id % 8 buckets,
# n_bits=1001 (stored and probed as 1008), k=3
SIDECAR_MD5 = {
    0: "7ed3fa67f6f41b0d9d1b3cd906b5b1d7",
    1: "19da474f6dcb22d73b13137795b536d5",
    2: "af0f5a5787810b3fc5173ec7b1ed45a7",
    3: "091b2b5619fb3092f005b4f1dfeff8e0",
    4: "a8a4b3ae5a4e1b3485527257b27f0be5",
    5: "e0d1b29542d523c76bc7983249ac6fbf",
    6: "dedf7db798d384fcfac6c8fff6f84357",
    7: "0c28a0f583a693041e4268fdfe626b61",
}
# md5 of build_text_bloom over _text_corpus, n_bits=4096, k=4
TEXT_BLOOM_MD5 = "57fe5ecf8d50caba575167cdd4528eeb"


def _md5(b) -> str:
    return hashlib.md5(bytes(b)).hexdigest()


def _text_corpus(spark):
    return spark.createDataFrame(
        [(i, f"doc {i} " * (i % 5 + 1)) for i in range(300)],
        "doc_id bigint, text string",
    )


def test_key_index_sidecar_bitmaps_are_pinned(spark, tmp_path):
    t = IceliteTable(str(tmp_path / "t"))
    t.commit_append(
        spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text-"), F.col("id")).alias("text"),
            F.pmod(F.col("id"), F.lit(8)).cast("int").alias("bucket"),
        )
    )
    t.index_keys(spark, col="doc_id", n_bits=1001, k=3)
    meta_path, idx_dir = t._key_index_paths("doc_id")
    with open(meta_path) as f:
        meta = json.load(f)
    assert (meta["n_bits"], meta["k"]) == (1008, 3)
    rows = spark.read.schema("f string, bm binary").parquet(idx_dir).collect()
    got = {
        int(re.search(r"bucket=(\d+)", r["f"]).group(1)): (
            len(r["bm"]), _md5(r["bm"])
        )
        for r in rows
    }
    assert len(rows) == 8
    assert got == {b: (126, h) for b, h in SIDECAR_MD5.items()}


def test_build_text_bloom_bytes_are_pinned(spark):
    bm, m, k = dedup.build_text_bloom(_text_corpus(spark), n_bits=4096, k=4)
    assert (len(bm), m, k) == (512, 4096, 4)
    assert _md5(bm) == TEXT_BLOOM_MD5


def test_add_then_might_contain_wraps_negative_hashes(spark):
    """xxhash64 is a signed long: negative hashes wrap to uint64, the
    bits land where the pure-integer layout puts them, and every
    added key probes positive."""
    from mini_html_parser_spark import bloom

    rows = spark.range(64).select(
        *bloom.hash_pair(F.col("id").cast("string"))
    ).collect()
    h1 = np.array([r["h1"] for r in rows], dtype=np.int64)
    h2 = np.array([r["h2"] for r in rows], dtype=np.int64)
    assert (h1 < 0).any() and (h2 < 0).any()
    k, m = 3, bloom.round_bits(1001)
    assert m == 1008
    bits = np.zeros(m // 8, dtype=np.uint8)
    bloom.add(bits, h1, h2, k)
    assert bloom.might_contain(bits, h1, h2, k).all()
    assert bloom.might_contain(bits.tobytes(), h1, h2, k).all()

    expected = bytearray(m // 8)
    mask64 = (1 << 64) - 1
    for a, b in zip(h1.tolist(), h2.tolist()):
        for i in range(k):
            pos = ((a + i * b) & mask64) % m
            expected[pos >> 3] |= 1 << (pos & 7)
    assert bits.tobytes() == bytes(expected)
    # a key never added misses as soon as one of its bits is clear
    empty = np.zeros(m // 8, dtype=np.uint8)
    assert not bloom.might_contain(empty, h1, h2, k).any()
