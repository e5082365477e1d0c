"""URL/key seen-set: exact anti-join with a Bloom-filter fast path.

The reference's only dedup is file-existence at the storage node
(``/root/reference/src/storage/main.go:146-151``) — an RPC + stat() per
key. Spark-first, membership is a relational anti-join; the north rule
adds a Bloom prefilter for 10^10-frontier scale.

Design for scale (SURVEY.md §7 hard part b):

- **exact left-anti** is always authoritative. Catalyst broadcasts the
  smaller side or sort-merges; at 10^10 x 10^10 use
  ``antijoin_copartitioned`` which pins both sides to the same
  xxhash64-bucket partitioning so the join is a co-located sort-merge
  with no broadcast and no replan surprises.
- **broadcast Bloom prefilter** (``BloomSeenSet``): k index bits derived
  by double hashing from two JVM-computed ``xxhash64(key, seed)`` columns
  — build and probe share the exact same hash bits, and the expensive
  hashing stays in whole-stage codegen; Python only does vectorized
  numpy bit tests on Arrow batches. Rows with any unset bit are
  DEFINITELY new. The anti-joins do not consult the filter: in a Spark
  anti-join every candidate meets the seen side's key match anyway, so
  a probe pass only adds a Python stage (``antijoin_bloom``).
- **sharding**: the filter is a list of shards keyed by ``h1 % shards``.
  A single 10-bits/key filter at 10^10 keys is ~12 GB — too big to
  broadcast; shards bound per-executor memory and are the stepping stone
  to partitioned cuckoo filters (bucket-local build+probe with no
  broadcast at all, which at top scale degenerates to
  ``antijoin_copartitioned`` — already provided).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

_H1_SEED = 0x9E3779B9
_H2_SEED = 0x85EBCA6B


def _hash_cols(df: DataFrame, key: str) -> DataFrame:
    return df.withColumn("_bh1", F.xxhash64(F.col(key), F.lit(_H1_SEED))).withColumn(
        "_bh2", F.xxhash64(F.col(key), F.lit(_H2_SEED))
    )


class BloomSeenSet:
    """Sharded Bloom filter built distributed, probed via broadcast.

    Designed as a PERSISTENT cross-round filter: build once with headroom
    (``expected_items`` beyond the current seen count), then OR in each
    round's newly-stored keys with ``insert_df`` — bitmaps merge by OR,
    so the incremental insert is a distributed O(new keys) pass with one
    tiny blob per task back to the driver, never an O(seen) rebuild.
    ``n_inserted`` tracks load; when it passes ``capacity`` the caller
    rebuilds with more headroom (amortized O(1) per key, the classic
    doubling argument)."""

    def __init__(
        self,
        bits_per_shard: int,
        n_hashes: int,
        shards: np.ndarray,
        capacity: int = 0,
        n_inserted: int = 0,
    ):
        self.bits_per_shard = bits_per_shard
        self.n_hashes = n_hashes
        self.shards = shards  # (n_shards, bits/8) uint8
        self.capacity = capacity  # expected_items the bit count was sized for
        self.n_inserted = n_inserted  # keys hashed in (dup-counting upper bound)
        self._bc = None  # cached probe broadcast (invalidated on mutation)

    @property
    def n_shards(self) -> int:
        return self.shards.shape[0]

    @staticmethod
    def _or_pass(
        df: DataFrame, key: str, bits: int, k: int, n_shards: int
    ) -> tuple[np.ndarray, int]:
        """One distributed pass over keys: per-partition partial bitmaps
        (+ row counts), OR-reduced on the driver. Each partial is bits/8
        bytes per shard — tiny vs the data."""
        n_bytes = bits // 8
        hashed = _hash_cols(df.select(key), key).select("_bh1", "_bh2")

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            buf = np.zeros((n_shards, n_bytes), dtype=np.uint8)
            n = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                n += len(pdf)
                h1 = pdf["_bh1"].to_numpy(np.uint64)
                h2 = pdf["_bh2"].to_numpy(np.uint64)
                shard = (h1 % np.uint64(n_shards)).astype(np.int64)
                for i in range(k):
                    idx = (h1 + np.uint64(i) * h2) & np.uint64(bits - 1)
                    byte_i = (idx >> np.uint64(3)).astype(np.int64)
                    mask = np.left_shift(
                        np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)
                    )
                    np.bitwise_or.at(buf, (shard, byte_i), mask)
            if n:
                yield pd.DataFrame({"shard_blob": [buf.tobytes()], "n": [n]})

        parts = hashed.mapInPandas(partial, "shard_blob binary, n long").collect()
        acc = np.zeros((n_shards, n_bytes), dtype=np.uint8)
        total = 0
        for row in parts:
            acc |= np.frombuffer(row["shard_blob"], dtype=np.uint8).reshape(
                n_shards, n_bytes
            )
            total += row["n"]
        return acc, total

    @staticmethod
    def build(
        df: DataFrame,
        key: str,
        expected_items: int,
        fpp: float = 0.01,
        n_shards: int = 1,
        max_bits_per_shard: int = 1 << 27,
    ) -> "BloomSeenSet":
        m_total = max(64, int(-expected_items * math.log(max(fpp, 1e-9)) / (math.log(2) ** 2)))
        k = max(1, round(m_total / max(expected_items, 1) * math.log(2)))
        bits = min(max_bits_per_shard, -(-m_total // n_shards))
        bits = 1 << (bits - 1).bit_length()  # pow2 so % is a mask
        acc, n = BloomSeenSet._or_pass(df, key, bits, k, n_shards)
        return BloomSeenSet(bits, k, acc, capacity=expected_items, n_inserted=n)

    def insert_df(self, df: DataFrame, key: str) -> None:
        """OR in new keys (the cross-round maintenance path): a partial
        bitmap built over ONLY the new keys with this filter's exact
        (bits, k, shards) parameters, merged by bitwise OR. Distributed,
        O(new keys), no per-key driver traffic."""
        delta, n = BloomSeenSet._or_pass(
            df, key, self.bits_per_shard, self.n_hashes, self.n_shards
        )
        self.shards |= delta
        self.n_inserted += n
        self._invalidate_broadcast()

    @property
    def over_capacity(self) -> bool:
        """Inserts exceeded the bit-count sizing — fpp is degrading and
        the owner should rebuild with more headroom. Correctness is never
        at stake (higher fpp only means more maybe-seen answers)."""
        return self.n_inserted > self.capacity

    def _invalidate_broadcast(self) -> None:
        if self._bc is not None:
            try:
                self._bc.destroy()
            except Exception:
                pass
            self._bc = None

    def _broadcast(self, spark):
        """One broadcast per filter VERSION: reused across rounds until a
        mutation invalidates it (a fresh broadcast per probe call leaks
        driver/executor memory over long crawls)."""
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(
                (self.bits_per_shard, self.n_hashes, self.shards)
            )
        return self._bc

    # -- persistence (restart without the O(seen) rebuild) -----------------

    def save(self, dirpath: str, watermark: int) -> None:
        """Persist shard bitmaps + metadata under the warehouse — the
        same crash discipline as the cuckoo checkpoint (blob file first,
        then the ``current.json`` pointer via write-temp + atomic
        rename). ``watermark`` records the images-table commit the
        filter covers; ``load`` + an O(delta) ``insert_df`` of
        ``read_since(watermark)`` resumes a restart without the O(seen)
        rebuild the in-process-only filter used to pay."""
        import json
        import os
        import secrets

        os.makedirs(dirpath, exist_ok=True)
        token = secrets.token_hex(4)
        blob = f"state-{token}.npz"
        np.savez(os.path.join(dirpath, blob), shards=self.shards)
        meta = {
            "file": blob,
            "watermark": watermark,
            "bits_per_shard": self.bits_per_shard,
            "n_hashes": self.n_hashes,
            "capacity": self.capacity,
            "n_inserted": self.n_inserted,
        }
        tmp = os.path.join(dirpath, f".tmp-{token}")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.rename(tmp, os.path.join(dirpath, "current.json"))  # POSIX-atomic
        for fn in os.listdir(dirpath):  # retire superseded blobs
            if fn.startswith("state-") and fn != blob:
                try:
                    os.remove(os.path.join(dirpath, fn))
                except OSError:
                    pass

    @staticmethod
    def load(dirpath: str) -> tuple["BloomSeenSet", int] | None:
        """Reload a saved filter; returns (filter, watermark) or None if
        nothing (readable) is persisted."""
        import json
        import os

        try:
            with open(os.path.join(dirpath, "current.json")) as f:
                meta = json.load(f)
            with np.load(os.path.join(dirpath, meta["file"])) as z:
                shards = z["shards"].copy()
            filt = BloomSeenSet(
                meta["bits_per_shard"],
                meta["n_hashes"],
                shards,
                capacity=meta["capacity"],
                n_inserted=meta["n_inserted"],
            )
        except (OSError, KeyError, ValueError):
            return None
        return filt, int(meta["watermark"])

    def might_contain_udf(self, spark):
        """Vectorized membership probe as a pandas UDF over (_bh1, _bh2)."""
        bc = self._broadcast(spark)

        @F.pandas_udf(BooleanType())
        def probe(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
            bits, k, shards = bc.value
            n_shards = shards.shape[0]
            h1 = h1s.to_numpy(np.uint64)
            h2 = h2s.to_numpy(np.uint64)
            shard = (h1 % np.uint64(n_shards)).astype(np.int64)
            hit = np.ones(len(h1), dtype=bool)
            for i in range(k):
                idx = (h1 + np.uint64(i) * h2) & np.uint64(bits - 1)
                byte_i = (idx >> np.uint64(3)).astype(np.int64)
                bit = (idx & np.uint64(7)).astype(np.uint8)
                got = shards[shard, byte_i]
                hit &= (got >> bit) & 1 == 1
            return pd.Series(hit)

        return probe


def antijoin_exact(candidates: DataFrame, seen: DataFrame, key: str) -> DataFrame:
    """Authoritative dedup: keep candidates whose key is not in seen."""
    return candidates.join(seen.select(key).distinct(), key, "left_anti")


def antijoin_copartitioned(
    candidates: DataFrame, seen: DataFrame, key: str, buckets: int
) -> DataFrame:
    """Top-scale path: both sides repartitioned on the same key hash so
    the anti-join is a co-located sort-merge (no broadcast, no skew from
    a single giant build side). With Iceberg this partitioning comes free
    from ``bucket(N, key)`` table layout."""
    c = candidates.repartition(buckets, F.xxhash64(F.col(key)))
    s = seen.select(key).distinct().repartition(buckets, F.xxhash64(F.col(key)))
    return c.join(s, key, "left_anti")


def antijoin_bloom(
    candidates: DataFrame,
    seen: DataFrame,
    key: str,
    expected_items: int = 0,
    fpp: float = 0.01,
    n_shards: int = 4,
    filt: BloomSeenSet | None = None,
) -> DataFrame:
    """The seen anti-join of ``seen_filter='bloom'``: ``antijoin_exact``.

    The filter is not probed. A probe cannot shrink the join — the seen
    side is scanned in full and every candidate reaches the key match
    either way — and routing definitely-new rows around the join costs a
    Python pass per call. The filter arguments are accepted so callers
    holding a filter keep one signature; ``filt`` and the sizing
    arguments are unused."""
    return antijoin_exact(candidates, seen, key)
