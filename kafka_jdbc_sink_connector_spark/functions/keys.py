"""Key/bucket/hash column expressions (all JVM-side, codegen'd), plus
``bucket_of``, the driver-side twin of ``bucket_expr`` that lets a key
lookup prune to its bucket without a Spark job.

These are the scale levers: the target table is bucketed by
``xxhash64(first pk field) % n_buckets`` so a conversation always lives
in exactly one bucket, MERGE rewrites only affected buckets, and the
dedup shuffle partitions evenly even under Zipf-skewed hot keys.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: name of the engine-managed bucket column persisted in the lake table
BUCKET_COL = "__bucket"


def bucket_expr(col: str | Column, n_buckets: int) -> Column:
    """Deterministic hash bucket in [0, n_buckets).

    Bucketing on the *first* pk field only (conv_id) keeps all turns of
    a conversation co-located, which makes per-conversation reads and
    compactions single-bucket operations.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")


# -- driver-side twin of bucket_expr (no Spark job) ----------------------

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int — bit-identical to
    Spark's ``XXH64`` (``F.xxhash64``'s seed is 42), which hashes a
    string's UTF-8 bytes, an int as 4 and a long as 8 little-endian
    bytes."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


_KEY_PACK = {T.IntegerType(): "<i", T.LongType(): "<q"}


def bucket_of(value, dtype: T.DataType, n_buckets: int) -> int | None:
    """The bucket ``bucket_expr`` assigns a column of type ``dtype``
    holding ``value``, computed in pure Python; ``None`` when that
    cannot be known without Spark — a key type other than
    string/int/long, a NULL, or a literal whose Python type differs
    from the column's (Spark would cast the COLUMN to compare, so rows
    of any bucket may match)."""
    if dtype == T.StringType() and isinstance(value, str):
        try:
            data = value.encode("utf-8")
        except UnicodeEncodeError:  # lone surrogate: not a Spark string
            return None
    elif (dtype in _KEY_PACK and isinstance(value, int)
          and not isinstance(value, bool)):
        try:
            data = struct.pack(_KEY_PACK[dtype], value)
        except struct.error:  # outside the column type's range
            return None
    else:
        return None
    return xxh64(data) % n_buckets  # Python % on a signed hash == pmod


def key_struct(pk_fields: tuple[str, ...] | list[str]) -> Column:
    """Composite key as an orderable/comparable struct column."""
    return F.struct(*[F.col(f) for f in pk_fields])


def det_unit(*cols: Column | str, seed: int = 42, salt: int = 0) -> Column:
    """Deterministic pseudo-uniform double in [0, 1).

    A pure function of the input columns + seed (no rand()), so
    generated datasets are identical across runs, partitionings and
    cluster sizes — required for replay/idempotence tests.
    """
    h = F.xxhash64(*cols, F.lit(seed), F.lit(salt))
    # map signed 64-bit hash onto [0, 1)
    return (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5)
