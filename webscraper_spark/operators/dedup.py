"""Seen-set deduplication — the engine's J1/U1 kernel at crawl scale.

Reference behavior: a single in-memory Python ``set`` of normalized keys,
probed row-by-row (``CrunchBase Follow/crunchbase_matching.py:55-75``).
That caps out at one machine's RAM. Here the set is the ``seen`` table
and membership is relational:

- **The crawl round** admits new URLs with one exact ``left_anti`` join
  on ``url_hash`` (:func:`anti_join_seen`). At cluster scale the seen
  table is bucketed by ``url_hash``, so the join is a co-partitioned
  shuffle join with no build-side shuffle (``tests/test_bucketing.py``).
  Forced-recrawl deletions are relational too: the round filters the
  seen delta against ``seen_deletes`` before the join.
- **The Bloom probe** (:class:`BloomSeenSet`, :func:`bloom_filtered_new`)
  is a broadcast pre-filter kept for the ``bloom_seen_dedup`` query and
  for measuring the probe. It does not run in the round: half or more
  of a round's candidates are maybe-seen (``dedup.maybe_seen_frac`` is
  0.51 on crawlbench ``round_bulk`` and 0.90 on ``round_frontier``), so
  the exact join still reads the whole seen side, and the probe only
  adds a build job, a driver collect, a broadcast and a Python UDF.

Spark's own runtime Bloom join filter (``session.py``) prunes inner and
semi joins; it does not rewrite a ``left_anti`` join.

Python-side hashing is vectorized numpy (splitmix64 double-hashing) —
no per-row Python in the probe path.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)
_MIX1 = _U64(0xBF58476D1CE4E5B9)
_MIX2 = _U64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constants)."""
    with np.errstate(over="ignore"):
        z = (x + _GOLDEN).astype(_U64)
        z = (z ^ (z >> _U64(30))) * _MIX1
        z = (z ^ (z >> _U64(27))) * _MIX2
        return z ^ (z >> _U64(31))


def _hash_pair(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two independent 64-bit hash streams from int64 keys."""
    u = keys.astype(np.int64).view(_U64)
    h1 = _splitmix64(u)
    h2 = _splitmix64(u ^ _U64(0xD6E8FEB86659FD93)) | _U64(1)  # odd → full cycle
    return h1, h2


# --------------------------------------------------------------------------
# Bloom filter
# --------------------------------------------------------------------------

@dataclass
class BloomShard:
    bits: np.ndarray  # uint8 bitmap
    n_bits: int
    n_hashes: int

    @classmethod
    def build(cls, keys: np.ndarray, fpp: float = 0.01) -> "BloomShard":
        n = max(1, len(keys))
        n_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        n_bits = (n_bits + 7) // 8 * 8
        n_hashes = max(1, round(n_bits / n * math.log(2)))
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        if len(keys):
            h1, h2 = _hash_pair(np.asarray(keys))
            for i in range(n_hashes):
                pos = (h1 + _U64(i) * h2) % _U64(n_bits)
                np.bitwise_or.at(bits, (pos // _U64(8)).astype(np.int64),
                                 np.left_shift(np.uint8(1), (pos % _U64(8)).astype(np.uint8)))
        return cls(bits=bits, n_bits=n_bits, n_hashes=n_hashes)

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _hash_pair(np.asarray(keys))
        out = np.ones(len(keys), dtype=bool)
        for i in range(self.n_hashes):
            pos = (h1 + _U64(i) * h2) % _U64(self.n_bits)
            byte = self.bits[(pos // _U64(8)).astype(np.int64)]
            bit = (byte >> (pos % _U64(8)).astype(np.uint8)) & 1
            out &= bit.astype(bool)
        return out

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes, n_bits: int, n_hashes: int) -> "BloomShard":
        return cls(np.frombuffer(b, dtype=np.uint8).copy(), n_bits, n_hashes)


_BLOOM_ROW = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("n_bits", T.LongType(), False),
        T.StructField("n_hashes", T.IntegerType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)


def build_bloom_shards(
    seen: DataFrame, key_col: str = "url_hash", n_shards: int = 32, fpp: float = 0.01
) -> DataFrame:
    """Build per-shard Bloom bitmaps distributed (one grouped-map task per
    shard). Shard = ``pmod(key, n_shards)`` — the same sharding used for
    the seen table's bucketing, so each executor builds from local rows."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[key_col].to_numpy(dtype=np.int64)
        shard = int(pdf["__shard"].iloc[0])
        bf = BloomShard.build(keys, fpp=fpp)
        return pd.DataFrame(
            [
                {
                    "shard": shard,
                    "bits": bf.to_bytes(),
                    "n_bits": bf.n_bits,
                    "n_hashes": bf.n_hashes,
                    "n_items": len(keys),
                }
            ]
        )

    return (
        seen.select(key_col)
        .withColumn("__shard", F.pmod(F.col(key_col), F.lit(n_shards)).cast("int"))
        .groupBy("__shard")
        .applyInPandas(_build, schema=_BLOOM_ROW)
    )


class BloomSeenSet:
    """Driver-held handle over collected shard bitmaps, probed vectorized
    inside executors via a broadcast dict (shard → BloomShard)."""

    def __init__(self, shards: dict[int, BloomShard], n_shards: int):
        self.shards = shards
        self.n_shards = n_shards

    @classmethod
    def from_df(cls, bloom_df: DataFrame, n_shards: int) -> "BloomSeenSet":
        shards = {
            r["shard"]: BloomShard.from_bytes(r["bits"], r["n_bits"], r["n_hashes"])
            for r in bloom_df.collect()
        }
        return cls(shards, n_shards)

    @classmethod
    def build(cls, seen: DataFrame, key_col: str = "url_hash",
              n_shards: int = 32, fpp: float = 0.01) -> "BloomSeenSet":
        return cls.from_df(build_bloom_shards(seen, key_col, n_shards, fpp), n_shards)

    def might_contain_udf(self, spark):
        bc = spark.sparkContext.broadcast(
            {s: (bf.to_bytes(), bf.n_bits, bf.n_hashes) for s, bf in self.shards.items()}
        )
        n_shards = self.n_shards

        @F.pandas_udf(T.BooleanType())
        def _probe(keys: pd.Series) -> pd.Series:
            arr = keys.to_numpy(dtype=np.int64)
            shard = np.mod(arr, n_shards)  # pmod: numpy % matches Spark pmod for +n
            out = np.zeros(len(arr), dtype=bool)
            local = {}
            for s in np.unique(shard):
                packed = bc.value.get(int(s))
                if packed is None:
                    continue
                if int(s) not in local:
                    local[int(s)] = BloomShard.from_bytes(*packed)
                mask = shard == s
                out[mask] = local[int(s)].might_contain(arr[mask])
            return pd.Series(out)

        return _probe


# --------------------------------------------------------------------------
# Exact joins + the layered probe
# --------------------------------------------------------------------------

def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   key_col: str = "url_hash") -> DataFrame:
    """Exact ground-truth dedup: candidates NOT IN seen (J1 anti-join)."""
    return candidates.join(seen.select(key_col), on=key_col, how="left_anti")


def bloom_filtered_new(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: "BloomSeenSet | None",
    key_col: str = "url_hash",
) -> DataFrame:
    """Layered membership: the broadcast Bloom probe routes definitely-new
    rows around the exact join; maybe-seen rows get the exact anti-join.
    Output-equivalent to :func:`anti_join_seen` (no false negatives)."""
    if bloom is None or not bloom.shards:
        return anti_join_seen(candidates, seen, key_col)
    spark = candidates.sparkSession
    probe = bloom.might_contain_udf(spark)
    tagged = candidates.withColumn("__maybe_seen", probe(F.col(key_col)))
    definitely_new = tagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = tagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    confirmed_new = anti_join_seen(maybe, seen, key_col)
    return definitely_new.unionByName(confirmed_new)


def dedup_latest(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Newest-wins dedup (A6/C10: ``max(files, key=mtime)`` →
    ``row_number`` over desc order). Used to pick the latest ``warc_ts``
    capture of each url before extraction."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
