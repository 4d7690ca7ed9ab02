"""Bucketed (co-located) joins — the shuffle-elimination strategy for
repeated large-fact joins (SURVEY.md scale stance).

At 100 TB the dominant cost of orders ⋈ lineitem is shuffling both
fact tables on the join key for EVERY query. Bucketing pays that
shuffle once at write time: both tables hash-partitioned into the
same number of buckets on the key, so every later join (and groupBy
on the key) runs Exchange-free — each task zips bucket i with
bucket i.

Plain helper over ``DataFrameWriter.bucketBy``; tests assert the
resulting join plan contains NO Exchange on either side. Delta/
Iceberg replace this with clustering/sort-order metadata, same idea.

The warehouse's own id buckets use Spark's ``xxhash64`` too, but
evaluated on the driver: ``xxhash64`` / ``xxhash64_ids`` are XXH64 of
the UTF-8 bytes with Spark's seed 42, as a signed long, so
``pmod(hash, n)`` is the bucket Spark's ``pmod(xxhash64(id), n)``
gives, with no JVM call.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    Sorting within buckets additionally removes the Sort from
    sort-merge joins — the join becomes a pure zip of pre-sorted
    bucket files.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key.

    With matching bucket counts Catalyst plans a SortMergeJoin with
    ZERO Exchange operators — verified by tests/test_bucketing.py.
    """
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


# XXH64 (https://github.com/Cyan4973/xxHash, the algorithm Spark's
# ``XXH64.hashUnsafeBytes`` implements), little-endian reads.
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1
SPARK_HASH_SEED = 42  # the seed of Spark's ``xxhash64`` expression


def xxhash64(value: str | None, seed: int = SPARK_HASH_SEED) -> int:
    """Spark's ``xxhash64(value)`` for one string, as a signed long.
    A NULL hashes to the seed, as Spark skips NULL inputs."""
    if value is None:
        return seed
    return int(xxhash64_ids([value], seed)[0])


def xxhash64_ids(values, seed: int = SPARK_HASH_SEED) -> np.ndarray:
    """``xxhash64`` of each string of ``values`` (NULL: the seed), as
    an int64 array. Vectorized over the values of each UTF-8 byte
    length: numpy's uint64 arithmetic wraps modulo 2**64, as XXH64's
    does."""
    out = np.full(len(values), seed, dtype=np.int64)
    groups: dict[int, list[int]] = {}
    encoded = [None if v is None else v.encode("utf-8") for v in values]
    for i, b in enumerate(encoded):
        if b is not None:
            groups.setdefault(len(b), []).append(i)
    for n, rows in groups.items():
        data = np.frombuffer(b"".join(encoded[i] for i in rows), dtype=np.uint8).reshape(len(rows), n)
        out[rows] = _xxh64_block(data, n, seed).view(np.int64)
    return out


def _xxh64_block(data: np.ndarray, n: int, seed: int) -> np.ndarray:
    """XXH64 of each row of a (rows × n) uint8 matrix."""
    u = np.uint64

    def word(off: int, width: int) -> np.ndarray:
        return np.ascontiguousarray(data[:, off : off + width]).view(f"<u{width}").ravel().astype(u)

    def rotl(x, r):
        return (x << u(r)) | (x >> u(64 - r))

    def rnd(acc, lane):
        return rotl(acc + lane * u(_P2), 31) * u(_P1)

    rows = data.shape[0]
    with np.errstate(over="ignore"):
        off = 0
        if n >= 32:
            v = [np.full(rows, (seed + a) & _M64, dtype=u) for a in (_P1 + _P2, _P2, 0, -_P1)]
            while off + 32 <= n:
                v = [rnd(v[i], word(off + 8 * i, 8)) for i in range(4)]
                off += 32
            h = rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)
            for lane in v:
                h = (h ^ rnd(np.zeros(rows, dtype=u), lane)) * u(_P1) + u(_P4)
        else:
            h = np.full(rows, (seed + _P5) & _M64, dtype=u)
        h = h + u(n)
        while off + 8 <= n:
            h = rotl(h ^ rnd(np.zeros(rows, dtype=u), word(off, 8)), 27) * u(_P1) + u(_P4)
            off += 8
        if off + 4 <= n:
            h = rotl(h ^ (word(off, 4) * u(_P1)), 23) * u(_P2) + u(_P3)
            off += 4
        while off < n:
            h = rotl(h ^ (data[:, off].astype(u) * u(_P5)), 11) * u(_P1)
            off += 1
        h = (h ^ (h >> u(33))) * u(_P2)
        h = (h ^ (h >> u(29))) * u(_P3)
        return h ^ (h >> u(32))
