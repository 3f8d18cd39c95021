"""Partitioned Bloom URL-seen set (build: mapInArrow; probe: pandas UDF).

The scale analog of the reference's ``set()`` / ``done`` dedup
(mirror.py:33-39,106-108; ht.py:242-247,261-268). At 10^10 URLs an exact
anti-join shuffles the full frontier against the full seen table every
round; the Bloom sidecar makes the common case (definitely-new URL) a
map-side vectorized bit test, and only the "maybe seen" sliver — bloom
positives, |sliver| ≈ |true dups| + fpr·|frontier| — pays the exact
anti-join, which guards against Bloom false positives silently dropping
URLs (SURVEY.md §4.3).

Design notes for cluster scale:
- hashes (xxhash64) are computed JVM-side; Python only ever sees int64
  numpy arrays — no per-row string crossings.
- one layout for the build and both probes: a key's bucket is its
  first hash floor-mod ``buckets`` (``F.pmod`` in the JVM, for the
  build's shuffle and the cogroup key; ``np.mod`` on int64 in numpy)
  and its k bit positions are ``(h1 + i*h2) mod bits_per_bucket`` in
  uint64 — both from ``_bloom_layout``, which every build and probe
  calls through :class:`BloomFilter`. For a power-of-two bucket count
  floor-mod equals the unsigned ``h1 % buckets`` rule. Two probe paths:
  * **broadcast** (small filters): partials OR-combine on the driver and
    the whole filter broadcasts — every executor holds all buckets.
    Right up to ~tens of MB of total bitmap (the crawl switches above
    ``BLOOM_BROADCAST_MAX_BYTES``); beyond that it is NOT the
    scale path (10^10 URLs needs ~12.5 GB of bitmap, and broadcasting
    that to every executor — or OR-merging it on the driver — is
    exactly the bottleneck bucketing is supposed to avoid).
  * **bucketed** (the 10^10 path): the filter lives as a DataFrame of
    (bucket, bitmap) rows, maintained by a distributed OR-reduce
    (``or_reduce_bitmaps``) with no driver copy, and the probe cogroups
    the frontier with the bitmap table on bucket id
    (``probe_bloom_bucketed``) so each task receives exactly its
    bucket's bitmap — per-task filter bytes = one bucket (e.g. 12 MB of
    a 12.5 GB filter at 1024 buckets), at the cost of one shuffle of
    the (narrow) frontier by bucket.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SEED2 = 0x9E3779B9  # second hash = xxhash64(col, seed2) for double hashing
# total bitmap bytes up to which the crawl keeps a driver-side filter
# and broadcasts it; above this the filter lives as a (bucket, bitmap)
# table and the probe cogroups (``bloom_bucketed``)
BLOOM_BROADCAST_MAX_BYTES = 64 << 20


def bloom_bucketed(bits_per_bucket: int, buckets: int) -> bool:
    """Whether a filter of this shape takes the bucketed path: its
    total bitmap exceeds ``BLOOM_BROADCAST_MAX_BYTES``."""
    return (bits_per_bucket // 8) * buckets > BLOOM_BROADCAST_MAX_BYTES


def _bucket_col(h1: Column, buckets: int) -> Column:
    """The JVM side of the bucket rule: ``h1`` floor-mod ``buckets``,
    the same as ``np.mod`` on int64 in :func:`_bloom_layout`."""
    return F.pmod(h1, F.lit(buckets))


def _bloom_layout(h1: np.ndarray, h2: np.ndarray, m: int, k: int,
                 buckets: int) -> tuple[np.ndarray, np.ndarray]:
    """The one bucket/bit layout of the filter: bucket ids ``h1``
    floor-mod ``buckets`` and an (n, k) array of bit positions
    ``(h1 + i*h2) mod m``, i < k, in uint64 arithmetic (double hashing
    over the JVM's int64 xxhash64 pair)."""
    h1 = np.asarray(h1, dtype=np.int64)
    u1 = h1.view(np.uint64)[:, None]
    u2 = np.asarray(h2, dtype=np.int64).view(np.uint64)[:, None]
    pos = (u1 + np.arange(k, dtype=np.uint64) * u2) % np.uint64(m)
    return np.mod(h1, buckets), pos


@dataclass
class BloomFilter:
    """Bucketed Bloom filter over xxhash64 keys (double hashing)."""

    bits_per_bucket: int
    num_hashes: int
    buckets: int
    bitmaps: dict[int, np.ndarray]  # bucket -> uint8 bitmap

    def _by_bucket(self, h1: np.ndarray, h2: np.ndarray):
        """(bucket, row mask, bit positions) per bucket of the keys."""
        bucket_ids, pos = _bloom_layout(h1, h2, self.bits_per_bucket,
                                        self.num_hashes, self.buckets)
        for b in np.unique(bucket_ids):
            sel = bucket_ids == b
            yield int(b), sel, pos[sel]

    def add_np(self, h1: np.ndarray, h2: np.ndarray) -> None:
        """Set the k bits of every key in its bucket's bitmap."""
        for b, _, pos in self._by_bucket(h1, h2):
            bm = self.bitmaps.setdefault(
                b, np.zeros(self.bits_per_bucket // 8, dtype=np.uint8))
            np.bitwise_or.at(bm, (pos >> np.uint64(3)).astype(np.intp),
                             np.left_shift(1, pos & np.uint64(7)).astype(np.uint8))

    def might_contain_np(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """True where all k bits of the key are set (False: definitely
        not in the filter)."""
        out = np.zeros(len(h1), dtype=bool)
        for b, sel, pos in self._by_bucket(h1, h2):
            bm = self.bitmaps.get(b)
            if bm is not None:
                out[sel] = ((bm[pos >> np.uint64(3)] >> (pos & np.uint64(7)))
                            & 1).all(axis=1)
        return out


def merge_blooms(a: BloomFilter | None, b: BloomFilter) -> BloomFilter:
    """OR-combine two filters built with identical parameters.

    Lets the crawl loop maintain one running filter incrementally —
    each round builds a small filter over its seen-delta only and ORs it
    in, instead of rescanning the whole seen history (at 10^10 URLs the
    history scan would dominate every round)."""
    if a is None:
        return b
    assert (a.bits_per_bucket, a.num_hashes, a.buckets) == (
        b.bits_per_bucket, b.num_hashes, b.buckets)
    merged = dict(a.bitmaps)
    for k, bm in b.bitmaps.items():
        merged[k] = (merged[k] | bm) if k in merged else bm
    return BloomFilter(a.bits_per_bucket, a.num_hashes, a.buckets, merged)


def _hash_cols(df: DataFrame, col: str) -> DataFrame:
    return df.withColumn("__h1", F.xxhash64(F.col(col))).withColumn(
        "__h2", F.xxhash64(F.col(col), F.lit(_SEED2))
    )


def build_bloom_partials(
    df: DataFrame,
    col: str,
    *,
    bits_per_bucket: int = 1 << 20,
    num_hashes: int = 5,
    buckets: int = 16,
) -> DataFrame:
    """Distributed Bloom build: (bucket, bitmap) rows, one per bucket.

    Rows shuffle to their bucket first so each bucket's partial bitmap
    is emitted by exactly one task: total volume = B * m/8 bytes,
    independent of input partitioning (without this, partials =
    partitions x buckets bitmaps). The shuffle targets
    min(B, defaultParallelism) partitions — one Python task per core at
    most, each building the bitmaps of the buckets it holds.
    The result is a DataFrame — callers either ``collect()`` it into a
    driver-side :class:`BloomFilter` (small filters, broadcast probe) or
    keep it distributed and OR-merge with :func:`or_reduce_bitmaps`
    (the 10^10 path — the driver never holds a bitmap).
    """
    hashed = _hash_cols(df.select(col), col).select("__h1", "__h2")
    tasks = min(buckets, df.sparkSession.sparkContext.defaultParallelism)
    hashed = hashed.repartition(tasks, _bucket_col(F.col("__h1"), buckets))

    def build(batches):
        bf = BloomFilter(bits_per_bucket, num_hashes, buckets, {})
        for batch in batches:
            bf.add_np(batch.column("__h1").to_numpy(zero_copy_only=False),
                      batch.column("__h2").to_numpy(zero_copy_only=False))
        if bf.bitmaps:
            yield pa.RecordBatch.from_pydict({
                "bucket": pa.array(list(bf.bitmaps), pa.int32()),
                "bitmap": pa.array([bm.tobytes() for bm in bf.bitmaps.values()],
                                   pa.binary()),
            })

    return hashed.mapInArrow(build, "bucket int, bitmap binary")


def or_reduce_bitmaps(partials: DataFrame) -> DataFrame:
    """OR-combine (bucket, bitmap) partials per bucket, distributedly.

    The reduce shuffles only bitmap bytes (B rows), never URL rows, and
    no single process ever holds more than one bucket's partials — this
    is how the running filter is maintained at sizes where a driver-side
    merge (``merge_blooms``) would hold the full multi-GB filter.
    """
    def orit(pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bitmap"]]
        return pd.DataFrame({"bucket": [pdf["bucket"].iloc[0]],
                             "bitmap": [np.bitwise_or.reduce(arrs).tobytes()]})

    return partials.groupBy("bucket").applyInPandas(
        orit, "bucket int, bitmap binary")


def probe_bloom_bucketed(
    df: DataFrame,
    bitmaps: DataFrame,
    key: str = "url_canon",
    *,
    bits_per_bucket: int = 1 << 20,
    num_hashes: int = 5,
    buckets: int = 16,
    out_col: str = "__maybe",
) -> DataFrame:
    """Bucket-pruned Bloom probe: cogroup frontier rows with their
    bucket's bitmap so each task deserializes exactly ONE bucket's
    filter bytes (vs the broadcast probe, where every executor holds
    every bucket). Costs one shuffle of the (narrow) frontier by bucket
    — the trade that wins once the total filter exceeds broadcast size.

    Adds boolean ``out_col``; rows in buckets with no bitmap are
    definitely-new (False).
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    dfh = _hash_cols(df, key).withColumn(
        "__bucket", _bucket_col(F.col("__h1"), buckets).cast("int"))
    out_schema = StructType(
        dfh.schema.fields + [StructField(out_col, BooleanType())])
    in_cols = [f.name for f in dfh.schema.fields]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=[*in_cols, out_col])
        # cogroup semantics guarantee at most one bitmap row per bucket
        # (or_reduce_bitmaps emits one row per bucket) — this assert IS
        # the per-task-bytes-=-one-bucket claim, enforced at runtime
        assert len(right) <= 1, f"got {len(right)} bitmaps for one bucket"
        bf = BloomFilter(bits_per_bucket, num_hashes, buckets, {
            int(b): np.frombuffer(bm, dtype=np.uint8)
            for b, bm in zip(right["bucket"], right["bitmap"])})
        left[out_col] = bf.might_contain_np(
            left["__h1"].to_numpy(dtype=np.int64),
            left["__h2"].to_numpy(dtype=np.int64))
        return left

    probed = (dfh.groupBy("__bucket")
              .cogroup(bitmaps.groupBy("bucket"))
              .applyInPandas(probe, out_schema))
    return probed.drop("__h1", "__h2", "__bucket")


def probe_bloom_broadcast(
    df: DataFrame,
    bloom: BloomFilter,
    key: str = "url_canon",
    *,
    broadcasts: list | None = None,
) -> DataFrame:
    """Broadcast Bloom probe: adds boolean ``__maybe`` (False = key
    definitely not in the filter). The whole filter broadcasts once and
    each batch is one vectorized bit test over JVM-computed hashes.
    The broadcast is appended to ``broadcasts`` for the caller to
    unpersist once the probed frame is written; without a list it lives
    as long as the session."""
    bc = df.sparkSession.sparkContext.broadcast(bloom)
    if broadcasts is not None:
        broadcasts.append(bc)

    @F.pandas_udf("boolean")
    def maybe_udf(h1: pd.Series, h2: pd.Series) -> pd.Series:
        return pd.Series(bc.value.might_contain_np(
            h1.to_numpy(dtype=np.int64), h2.to_numpy(dtype=np.int64)))

    return df.withColumn("__maybe", maybe_udf(
        F.xxhash64(F.col(key)), F.xxhash64(F.col(key), F.lit(_SEED2))))


def build_bloom(
    df: DataFrame,
    col: str,
    *,
    bits_per_bucket: int = 1 << 20,
    num_hashes: int = 5,
    buckets: int = 16,
) -> BloomFilter:
    """Driver-side :class:`BloomFilter` for the broadcast probe path
    (small filters). Collected volume = B * m/8 bytes."""
    partials = build_bloom_partials(
        df, col, bits_per_bucket=bits_per_bucket,
        num_hashes=num_hashes, buckets=buckets).collect()
    bitmaps: dict[int, np.ndarray] = {}
    for row in partials:
        bm = np.frombuffer(row.bitmap, dtype=np.uint8)
        if row.bucket in bitmaps:
            bitmaps[row.bucket] = bitmaps[row.bucket] | bm
        else:
            bitmaps[row.bucket] = bm.copy()
    return BloomFilter(bits_per_bucket, num_hashes, buckets, bitmaps)


def filter_unseen(
    frontier: DataFrame,
    seen: DataFrame | None,
    *,
    key: str = "url_canon",
    bloom: bool = True,
    bits_per_bucket: int = 1 << 20,
    num_hashes: int = 5,
    buckets: int = 16,
) -> DataFrame:
    """Rows of ``frontier`` whose ``key`` is not in ``seen``.

    Bloom path: definitely-new rows (bloom negative) skip the join;
    maybe-seen rows are exact-confirmed by a left-anti join so false
    positives never drop URLs. The filter stays a distributed (bucket,
    bitmap) table probed by cogroup, so the returned lazy frame holds no
    broadcast. ``seen=None`` -> identity.
    """
    if seen is None:
        return frontier
    if not bloom:
        return frontier.join(seen.select(key), key, "left_anti")

    shape = dict(bits_per_bucket=bits_per_bucket, num_hashes=num_hashes,
                 buckets=buckets)
    table = or_reduce_bitmaps(build_bloom_partials(seen, key, **shape))
    probed = probe_bloom_bucketed(frontier, table, key, **shape)
    definite_new = probed.filter(~F.col("__maybe")).drop("__maybe")
    candidates = probed.filter(F.col("__maybe")).drop("__maybe")
    confirmed_new = candidates.join(seen.select(key), key, "left_anti")
    return definite_new.unionByName(confirmed_new)


__all__ = ["BloomFilter", "BLOOM_BROADCAST_MAX_BYTES", "bloom_bucketed",
           "build_bloom", "build_bloom_partials", "or_reduce_bitmaps",
           "probe_bloom_broadcast", "probe_bloom_bucketed", "filter_unseen"]
