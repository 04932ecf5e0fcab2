"""URL-seen set: partitioned bloom pre-filter + exact anti-join (J1/ST2).

The reference avoids re-visits only through loop structure (each ad visited
once per harvested list, cars_controller.rb:147) — re-runs duplicate whole
files (12x AH-SCHACHTSCHNEIDER CSVs in /root/reference/lib/data/). At
10^10-URL scale the seen-set is the single biggest join in the system, so:

1. candidates and seen are both bucketed by pmod(xxhash64(url), n_buckets) —
   at scale this is the Iceberg bucket(url_hash, N) storage partitioning so
   the anti-join is co-located (no shuffle of the seen side);
2. a per-bucket bloom filter (numpy bitset, k derived probes, built
   distributed via applyInPandas) pre-filters candidates — definitely-new
   rows skip the exact join entirely;
3. the exact left_anti kills bloom false positives (bloom has no false
   negatives; verified by property test).

Catalyst's runtime bloom join (spark.sql.optimizer.runtime.bloomFilter) is
also enabled in session.py — the explicit path exists for the case where the
seen side is a persisted table read incrementally across waves.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import url_hash

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(h: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64-style avalanche over int64 hashes -> uint64."""
    x = h.astype(np.uint64) + np.uint64((salt * 0x9E3779B97F4A7C15) % (1 << 64))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & _MASK64
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & _MASK64
    return x ^ (x >> np.uint64(31))


class NumpyBloom:
    """Vectorized bloom filter over 64-bit key hashes."""

    def __init__(self, n_bits: int, k: int = 5, words: np.ndarray | None = None):
        self.n_bits = int(n_bits)
        self.k = int(k)
        self.words = words if words is not None else np.zeros((self.n_bits + 63) // 64, dtype=np.uint64)

    def _positions(self, hashes: np.ndarray, i: int) -> np.ndarray:
        return _mix(hashes, i + 1) % np.uint64(self.n_bits)

    def add_many(self, hashes: np.ndarray) -> None:
        for i in range(self.k):
            pos = self._positions(hashes, i)
            np.bitwise_or.at(self.words, (pos >> np.uint64(6)).astype(np.int64), np.uint64(1) << (pos & np.uint64(63)))

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        out = np.ones(len(hashes), dtype=bool)
        for i in range(self.k):
            pos = self._positions(hashes, i)
            out &= (self.words[(pos >> np.uint64(6)).astype(np.int64)] >> (pos & np.uint64(63))) & np.uint64(1) > 0
        return out

    def to_bytes(self) -> bytes:
        return self.words.tobytes()

    @classmethod
    def from_bytes(cls, n_bits: int, k: int, raw: bytes) -> "NumpyBloom":
        return cls(n_bits, k, np.frombuffer(raw, dtype=np.uint64).copy())


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    return df.withColumn("url_h", url_hash(F.col(url_col))).withColumn(
        "bucket", F.pmod(F.col("url_h"), F.lit(n_buckets)).cast("int")
    )


def build_bloom_table(seen: DataFrame, n_buckets: int, bits_per_key: int = 12, k: int = 5) -> DataFrame:
    """Distributed per-bucket bloom build: groupBy(bucket).applyInPandas."""
    seen_b = with_bucket(seen, n_buckets)
    # size each bucket's filter by its actual key count (skew-proof)
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        n_bits = max(1024, n * bits_per_key)
        bf = NumpyBloom(n_bits, k)
        bf.add_many(pdf["url_h"].to_numpy(dtype=np.int64))
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "n_bits": [n_bits], "k": [k], "bits": [bf.to_bytes()]})

    return seen_b.select("bucket", "url_h").groupBy("bucket").applyInPandas(
        build, schema="bucket int, n_bits long, k int, bits binary"
    )


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_table: DataFrame | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """candidates MINUS seen (by canonical url).

    With a bloom_table, rows the bloom rejects bypass the exact join
    (bloom has no false negatives); 'maybe' rows go through the exact
    left_anti to kill false positives.
    """
    if bloom_table is None:
        return candidates.join(seen.select("url"), "url", "left_anti")

    cand_b = with_bucket(candidates, n_buckets)

    def probe(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["bits"].isna().all():
            pdf = pdf.copy()
            pdf["maybe_seen"] = False
            return pdf
        bf = NumpyBloom.from_bytes(int(pdf["n_bits"].iloc[0]), int(pdf["k"].iloc[0]), pdf["bits"].iloc[0])
        pdf = pdf.copy()
        pdf["maybe_seen"] = bf.contains_many(pdf["url_h"].to_numpy(dtype=np.int64))
        return pdf

    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cand_b.schema.fields)
    probed = (
        cand_b.join(F.broadcast(bloom_table), "bucket", "left")
        .groupBy("bucket")
        .applyInPandas(probe, schema=out_schema + ", n_bits long, k int, bits binary, maybe_seen boolean")
    )
    definitely_new = probed.filter(~F.col("maybe_seen"))
    maybe = probed.filter(F.col("maybe_seen")).join(seen.select("url"), "url", "left_anti")
    keep = [c for c in candidates.columns]
    return definitely_new.select(*keep).unionByName(maybe.select(*keep))
