"""The pure-Python bucket hash equals Spark's: ``bucket_of(v, dt, n)`` is
``pmod(xxhash64(lit(v).cast(dt)), n)`` for every atomic type a bucket
column can have, so scan planning can hash literals without a job."""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_poc_spark.tables.xxh64 import bucket_of, xxhash64

N_BUCKETS = 7
UTC = dt.timezone.utc


def _ints(bits: int):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    return st.one_of(st.sampled_from([lo, hi, 0, -1, 1]), st.integers(lo, hi))


def _decimals(p: int, s: int):
    top = 10**p - 1
    ctx = decimal.Context(prec=50)
    return st.integers(-top, top).map(lambda u: decimal.Decimal(u).scaleb(-s, ctx))


_DATES = st.dates(dt.date(1583, 1, 1), dt.date(9999, 12, 31))
_NAIVE = st.datetimes(dt.datetime(1583, 1, 1), dt.datetime(9999, 12, 30))

TYPES = {
    "byte": (T.ByteType(), _ints(8)),
    "short": (T.ShortType(), _ints(16)),
    "int": (T.IntegerType(), _ints(32)),
    "long": (T.LongType(), _ints(64)),
    "boolean": (T.BooleanType(), st.booleans()),
    "date": (T.DateType(), _DATES),
    "timestamp": (T.TimestampType(), _NAIVE.map(lambda d: d.replace(tzinfo=UTC))),
    "timestamp_ntz": (T.TimestampNTZType(), _NAIVE),
    "string": (
        T.StringType(),
        st.text(st.characters(blacklist_categories=("Cs",)), max_size=80),
    ),
    "binary": (T.BinaryType(), st.binary(max_size=80)),
    "float": (T.FloatType(), st.floats(width=32)),
    "double": (T.DoubleType(), st.floats()),
    "decimal(18,4)": (T.DecimalType(18, 4), _decimals(18, 4)),
    "decimal(19,0)": (T.DecimalType(19, 0), _decimals(19, 0)),
    "decimal(38,10)": (T.DecimalType(38, 10), _decimals(38, 10)),
}

EDGES = {
    "byte": [-128, 127, 0],
    "short": [-32768, 32767],
    "int": [-(2**31), 2**31 - 1, 0, -1],
    "long": [-(2**63), 2**63 - 1, 0, -1],
    "boolean": [True, False],
    "date": [
        dt.date(1970, 1, 1),
        dt.date(1969, 12, 31),
        dt.date(1583, 1, 1),
        dt.date(1900, 2, 28),
        dt.date(9999, 12, 31),
        "2024-02-29",
    ],
    "timestamp": [
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=UTC),
        dt.datetime(2024, 1, 2, 3, 4, 5, 678901, tzinfo=dt.timezone(dt.timedelta(hours=-5))),
    ],
    "timestamp_ntz": [dt.datetime(1969, 12, 31, 23, 59, 59, 999999)],
    "string": ["", "a", "héllo", "日本語のテキスト", "x" * 31, "y" * 32, "z" * 33],
    "binary": [b"", b"\x00\xff", bytes(range(70))],
    "float": [0.0, -0.0, float("nan"), float("inf"), -float("inf"), -1e-50, 3.4e38],
    "double": [0.0, -0.0, float("nan"), float("inf"), 5e-324, -1.7976931348623157e308],
    "decimal(18,4)": [
        decimal.Decimal("99999999999999.9999"),
        decimal.Decimal("-99999999999999.9999"),
        decimal.Decimal("1.23456"),  # rounds half-up into scale 4
        7,
    ],
    "decimal(19,0)": [
        decimal.Decimal("9999999999999999999"),
        decimal.Decimal("-9999999999999999999"),
        decimal.Decimal("-128"),
        decimal.Decimal("128"),
        0,
    ],
    "decimal(38,10)": [decimal.Decimal("-1"), decimal.Decimal("0")],
}


def _lit(v, dtype):
    if isinstance(dtype, T.TimestampNTZType):
        # wall-clock literal: F.lit(naive datetime) goes through the
        # process time zone (see manager._tz_free_lit)
        return F.lit(v.isoformat(sep=" ")).cast(dtype)
    return F.lit(v).cast(dtype)


def _spark_hashes(spark, dtype, vals):
    row = (
        spark.range(1)
        .select(
            *[F.xxhash64(_lit(v, dtype)).alias(f"h{i}") for i, v in enumerate(vals)],
            *[
                F.pmod(F.xxhash64(_lit(v, dtype)), F.lit(N_BUCKETS)).alias(f"b{i}")
                for i, v in enumerate(vals)
            ],
        )
        .first()
    )
    n = len(vals)
    return list(row[:n]), list(row[n:])


def _check(spark, dtype, vals):
    hashes, buckets = _spark_hashes(spark, dtype, vals)
    assert [xxhash64(v, dtype) for v in vals] == hashes, vals
    assert [bucket_of(v, dtype, N_BUCKETS) for v in vals] == buckets, vals


@pytest.mark.parametrize("kind", sorted(TYPES))
def test_edge_values_hash_like_spark(spark, kind):
    _check(spark, TYPES[kind][0], EDGES[kind])


@pytest.mark.parametrize("kind", sorted(TYPES))
def test_random_values_hash_like_spark(spark, kind):
    dtype, values = TYPES[kind]

    @settings(max_examples=6, deadline=None)
    @given(st.lists(values, min_size=1, max_size=12))
    def prop(vals):
        _check(spark, dtype, vals)

    prop()


def test_unconvertible_literals_keep_every_bucket():
    """A literal with no exact conversion to the column type yields
    None — the planner then keeps every file."""
    assert bucket_of(2**31, T.IntegerType(), 4) is None
    assert bucket_of(1.5, T.LongType(), 4) is None
    assert bucket_of("7", T.LongType(), 4) is None
    assert bucket_of(dt.datetime(2024, 1, 1), T.TimestampType(), 4) is None
    assert bucket_of(dt.date(1500, 1, 1), T.DateType(), 4) is None
    assert bucket_of(decimal.Decimal("1e20"), T.DecimalType(18, 0), 4) is None
    assert bucket_of([1], T.ArrayType(T.LongType()), 4) is None
