"""Order-insensitive integer digests of result tables.

A digest is ``(rows, bit_xor(xxhash64(c1, ..., cn)))`` over integer
columns. Spark computes it with its built-in ``xxhash64`` (seed 42); the
benchmark's reference paths compute the same value in numpy with
``np_digest``, a replica of Spark's ``XXH64.hashLong`` chaining. Doubles
are floored at a stated resolution before hashing, so both sides hash
integers and no float sum or summation order is ever compared.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_SEED = 42


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _hash_long(v, seed):
    """Spark ``XXH64.hashLong(v, seed)`` over uint64 arrays."""
    h = seed + _P5 + np.uint64(8)
    h ^= _rotl(v * _P2, 31) * _P1
    h = _rotl(h, 27) * _P1 + _P4
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def np_hash(*cols) -> np.ndarray:
    """Per-row ``xxhash64(c1, ..., cn)`` of int64 columns, as int64."""
    n = len(cols[0])
    h = np.full(n, SPARK_SEED, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            h = _hash_long(np.asarray(c, dtype=np.int64).view(np.uint64), h)
    return h.view(np.int64)


def xor_all(h: np.ndarray) -> int:
    return int(np.bitwise_xor.reduce(h)) if len(h) else 0


def np_digest(*cols) -> tuple[int, int]:
    return len(cols[0]), xor_all(np_hash(*cols))


def floor_to(x, scale: float) -> np.ndarray:
    """Double -> int64 at resolution 1/scale (numpy side of ``sql_floor``)."""
    return np.floor(np.asarray(x, dtype=np.float64) * scale).astype(np.int64)


def sql_floor(col: str, scale: float) -> Column:
    return F.floor(F.col(col) * F.lit(float(scale))).cast("long")


def digest_query(df: DataFrame, cols: list[Column]) -> DataFrame:
    """One-row aggregate (n, d): row count and digest of ``cols``."""
    names = [f"_d{i}" for i in range(len(cols))]
    return (df.select(*[c.cast("long").alias(n) for c, n in zip(cols, names)])
            .agg(F.count(F.lit(1)).alias("n"),
                 F.expr(f"bit_xor(xxhash64({', '.join(names)}))").alias("d")))


def fetch(query: DataFrame) -> tuple[int, int]:
    """Run a ``digest_query`` to completion and return (rows, digest)."""
    row = query.collect()[0]
    return int(row["n"]), int(row["d"] or 0)
