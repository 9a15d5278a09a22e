"""Broadcast Bloom filter over the URL-seen set.

Replaces the shelve membership probe (crawler/frontier.py:59
``urlhash not in self.save``) as the FAST PATH of frontier dedup.
Semantics contract (SURVEY.md F8): the bloom is a prefilter only —
"definitely new" candidates skip the exact anti-join entirely;
"possibly seen" candidates fall through to the exact left-anti join,
so the final URL-seen set is EXACTLY the reference's (no false
negatives by construction, false positives only cost a join probe).

Build is fully distributed: each partition folds its url_hashes into
a local bitmap (numpy, vectorized), partial bitmaps OR-reduce on the
driver (``treeAggregate``-shaped), and the result broadcasts as one
object.  At 1% fpp the bitmap costs ~1.2 bytes per seen URL.

Hashing: k indexes per key by double hashing (Kirsch-Mitzenmacher)
over the two 64-bit halves of the already-sha256'd url_hash — the
key IS a cryptographic hash, no further mixing needed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


def hex_spans_u64(
    s: pd.Series, spans: list[tuple[int, int]]
) -> list[np.ndarray]:
    """Vectorized hex→uint64 for fixed-width slices of equal-length
    hex keys: ONE join over the series, chars → nibbles →
    positional fold, all numpy — no per-row Python int() (the
    former ``.apply(int, base=16)`` was the hottest line of every
    probe batch).  Accepts upper/lower hex; span width ≤ 16."""
    arr = np.frombuffer("".join(s).encode("ascii"), np.uint8).reshape(
        len(s), -1
    )
    outs = []
    for start, stop in spans:
        sub = arr[:, start:stop]
        # branch-free ASCII-hex → nibble: (c & 15) + 9·(c is a letter)
        nib = ((sub & 15) + ((sub >> 6) & 1) * 9).astype(np.uint64)
        out = np.zeros(arr.shape[0], np.uint64)
        for j in range(stop - start):
            out = out * np.uint64(16) + nib[:, j]
        outs.append(out)
    return outs


class BloomFilter:
    def __init__(self, n_bits: int, k: int):
        self.n_bits = n_bits
        self.k = k
        self.bits = np.zeros(n_bits // 8 + 1, dtype=np.uint8)

    @staticmethod
    def sized_for(n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_items = max(n_items, 1024)
        m = int(-n_items * math.log(fpp) / (math.log(2) ** 2))
        k = max(1, round(m / n_items * math.log(2)))
        return BloomFilter(m, k)

    def _indexes(self, hex_hashes: pd.Series) -> np.ndarray:
        """(len, k) bit indexes from sha256-hex keys, vectorized."""
        h1, h2 = hex_spans_u64(hex_hashes, [(0, 15), (15, 30)])
        ks = np.arange(self.k, dtype=np.uint64)
        return (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(self.n_bits)

    def add_series(self, hex_hashes: pd.Series) -> None:
        idx = self._indexes(hex_hashes).ravel()
        np.bitwise_or.at(self.bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))

    def contains_series(self, hex_hashes: pd.Series) -> np.ndarray:
        if len(hex_hashes) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indexes(hex_hashes)
        got = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return got.all(axis=1)


def build_bloom(
    seen: DataFrame, hash_col: str = "url_hash", fpp: float = 0.01
) -> BloomFilter:
    """Distributed build: per-partition bitmaps, OR-reduced, sized
    for ``seen``'s row count at ``fpp``."""
    proto = BloomFilter.sized_for(seen.count(), fpp)
    n_bits, k = proto.n_bits, proto.k

    def partial(it):
        bf = BloomFilter(n_bits, k)
        for pdf in it:
            bf.add_series(pdf[hash_col].astype(str))
        yield pd.DataFrame({"bits": [bf.bits.tobytes()]})

    parts = (
        seen.select(hash_col)
        .mapInPandas(partial, "bits binary")
        .collect()
    )
    out = BloomFilter(n_bits, k)
    for row in parts:
        out.bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out


def with_might_contain(
    df: DataFrame, bloom: BloomFilter, spark, hash_col: str = "url_hash",
    out_col: str = "might_be_seen",
) -> DataFrame:
    """Add the membership-probe column via a broadcast bloom +
    Arrow-batched pandas UDF.

    The UDF is marked nondeterministic so Catalyst leaves it where it
    is written.  A deterministic probe lets filters on ``out_col`` be
    pushed below an aggregate on ``hash_col``, and constraint
    inference copies them onto the build side of a later anti-join on
    ``hash_col``, where they probe every row of the seen log."""
    b = spark.sparkContext.broadcast(bloom)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BooleanType())
    def probe(hashes: pd.Series) -> pd.Series:
        return pd.Series(b.value.contains_series(hashes.astype(str)))

    return df.withColumn(out_col, probe.asNondeterministic()(F.col(hash_col)))
