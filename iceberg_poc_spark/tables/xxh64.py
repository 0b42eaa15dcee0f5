"""Spark's ``xxhash64`` (seed 42) in pure Python, for bucket pruning.

A ``bucket(col, n)`` partition value is ``pmod(xxhash64(col), n)``
(:meth:`Transform.expr`). Planning a scan maps each ``==``/``in``
literal to its bucket with :func:`bucket_of`, which returns the value
Spark computes for ``pmod(xxhash64(lit(v).cast(dt)), n)`` — so
planning runs no Spark job.

Spark hashes each atomic type as fixed-width input (``XXH64.hashInt`` /
``hashLong``, which are XXH64 over the 4 or 8 little-endian bytes) or
as bytes (``hashUnsafeBytes``):

- byte, short, int, boolean (1/0) and date (days since epoch): int32;
- long, timestamp and timestamp_ntz (microseconds since epoch): int64;
- float: int32 bits, double: int64 bits; ±0.0 hash as the integer 0 and
  every NaN as Java's canonical NaN;
- decimal: the unscaled value as int64 up to precision 18, above it the
  big-endian two's-complement bytes of ``BigInteger.toByteArray``;
- string (UTF-8) and binary: their bytes.

A literal this module cannot convert exactly to the column's type (a
type without a rule here, a value out of the type's range, a naive
datetime against an instant-typed column) yields None: the caller then
keeps every file, which is always correct.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import re
import struct
from typing import Any

from pyspark.sql import types as T

SEED = 42
_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_EPOCH_DAY = _dt.date(1970, 1, 1)
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_MICRO = _dt.timedelta(microseconds=1)
_ISO_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = SEED) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer (Java ``long``)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2 = _round(v1, a), _round(v2, b)
            v3, v4 = _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k)
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def _hash_input(v: Any, dt: T.DataType) -> bytes | None:
    """The bytes Spark's xxhash64 consumes for ``lit(v).cast(dt)``."""
    if isinstance(dt, T.BooleanType):
        return struct.pack("<i", int(v)) if isinstance(v, bool) else None
    if type(dt) in _INT_BITS:
        bits = _INT_BITS[type(dt)]
        if not isinstance(v, int) or not -(1 << (bits - 1)) <= v < 1 << (bits - 1):
            return None
        return struct.pack("<q" if bits == 64 else "<i", v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        wide = isinstance(dt, T.DoubleType)
        if isinstance(v, int) and not isinstance(v, bool):
            if abs(v) > (1 << (53 if wide else 24)):
                return None  # int -> float rounding: leave to Spark
            v = float(v)
        if not isinstance(v, float):
            return None
        if math.isnan(v):  # Java's canonical NaN bits
            if wide:
                return struct.pack("<q", 0x7FF8000000000000)
            return struct.pack("<i", 0x7FC00000)
        try:
            data = struct.pack("<d" if wide else "<f", v)
        except OverflowError:
            return None
        if struct.unpack("<d" if wide else "<f", data)[0] == 0.0:
            return bytes(len(data))  # Spark hashes -0.0 as 0
        return data
    if isinstance(dt, T.DecimalType):
        return _decimal_input(v, dt)
    if isinstance(dt, T.DateType):
        if isinstance(v, str) and _ISO_DATE.fullmatch(v):
            try:
                v = _dt.date.fromisoformat(v)
            except ValueError:
                return None
        if type(v) is not _dt.date or v.year < 1583:
            return None  # pre-Gregorian dates are rebased by Spark
        return struct.pack("<i", (v - _EPOCH_DAY).days)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        if not isinstance(v, _dt.datetime) or v.year < 1583:
            return None
        if isinstance(dt, T.TimestampNTZType):
            if v.tzinfo is not None:
                return None
            v = v.replace(tzinfo=_dt.timezone.utc)  # wall clock
        elif v.tzinfo is None:
            return None  # instant of a naive datetime: process-tz bound
        return struct.pack("<q", (v - _EPOCH_UTC) // _MICRO)
    if isinstance(dt, T.StringType):
        if not isinstance(v, str) or getattr(dt, "collation", "UTF8_BINARY") != "UTF8_BINARY":
            return None
        try:
            return v.encode("utf-8")
        except UnicodeEncodeError:
            return None
    if isinstance(dt, T.BinaryType):
        return bytes(v) if isinstance(v, (bytes, bytearray)) else None
    return None


def _decimal_input(v: Any, dt: T.DecimalType) -> bytes | None:
    if isinstance(v, bool) or not isinstance(v, (int, _decimal.Decimal)):
        return None
    d = _decimal.Decimal(v)
    if not d.is_finite():
        return None
    ctx = _decimal.Context(prec=max(dt.precision, 1) + 64)
    q = d.quantize(
        _decimal.Decimal(1).scaleb(-dt.scale), _decimal.ROUND_HALF_UP, ctx
    )
    unscaled = int(q.scaleb(dt.scale, ctx))
    if len(str(abs(unscaled))) > dt.precision:
        return None  # overflows the column's precision
    if dt.precision <= 18:
        return struct.pack("<q", unscaled)
    neg = unscaled < 0
    nbits = (~unscaled if neg else unscaled).bit_length()
    return unscaled.to_bytes(nbits // 8 + 1, "big", signed=True)


def xxhash64(v: Any, dt: T.DataType) -> int | None:
    """Spark's ``xxhash64(lit(v).cast(dt))``, or None when ``v`` has no
    exact conversion here (see the module docstring). NULL hashes to the
    seed."""
    if v is None:
        return SEED
    data = _hash_input(v, dt)
    return None if data is None else xxh64(data)


def bucket_of(v: Any, dt: T.DataType, n: int) -> int | None:
    """``pmod(xxhash64(lit(v).cast(dt)), n)``, or None (keep every file)."""
    h = xxhash64(v, dt)
    return None if h is None else h % n
