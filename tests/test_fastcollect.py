"""ArrowCollectFrame parity: same rows, same types, same order as the
stock pickle ``collect()`` — and fallback whenever a column's Arrow
round-trip would NOT be value/type-identical (binary -> bytes vs
bytearray, structs -> dict vs Row, tz timestamps -> aware vs localized
naive)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as CDF

from open_data_linter_spark import fastcollect
from open_data_linter_spark.fastcollect import (
    ArrowCollectFrame,
    _arrow_roundtrip_safe,
    _utc_everywhere,
    arrow_collected,
)


def _assert_identical(base, fast):
    assert len(base) == len(fast)
    for b, f in zip(base, fast):
        assert tuple(b.__fields__) == tuple(f.__fields__)
        for bv, fv in zip(b, f):
            assert type(bv) is type(fv), (bv, fv)
            assert repr(bv) == repr(fv), (bv, fv)


def test_safe_types_identical(spark):
    df = spark.createDataFrame(
        [
            (1, 0.5, "a", True, Decimal("5.00"),
             datetime.date(2024, 1, 2), [1, 2], ["x", None], None),
            (None, float("inf"), None, None, None, None, None, [], 2.0),
        ],
        "i long, d double, s string, b boolean, dec decimal(10,2), "
        "dt date, arr array<long>, sarr array<string>, f double",
    ).withColumn("ts", F.to_timestamp_ntz(F.lit("2024-03-04 05:06:07.000008")))
    wrapped = arrow_collected(df)
    assert isinstance(wrapped, ArrowCollectFrame)
    _assert_identical(CDF.collect(df), wrapped.collect())


def test_ntz_timestamp_with_nulls_identical(spark):
    df = spark.sql(
        "SELECT * FROM VALUES"
        " (timestamp_ntz'2024-03-04 05:06:07.123456'),"
        " (timestamp_ntz'1969-12-31 23:59:59.000001'),"
        " (timestamp_ntz'1970-01-01 00:00:00'),"
        " (CAST(NULL AS timestamp_ntz)) AS t(ts)"
    )
    _assert_identical(CDF.collect(df), arrow_collected(df).collect())


def test_tz_timestamp_identical_under_utc(spark):
    # with a UTC session and system tz the tz-timestamp gate engages and
    # pc.local_timestamp must reproduce the pickle path's naive
    # datetimes exactly (incl. NULLs and microseconds); outside UTC this
    # test would compare the pickle path with itself, so it fails instead
    assert _utc_everywhere(spark.conf.get("spark.sql.session.timeZone"))
    df = spark.sql(
        "SELECT * FROM VALUES"
        " (timestamp'2024-03-04 05:06:07.123456'),"
        " (timestamp'1969-12-31 23:59:59.000001'),"
        " (CAST(NULL AS timestamp)) AS t(ts)"
    )
    _assert_identical(CDF.collect(df), arrow_collected(df).collect())


def test_unsafe_types_fall_back(spark, monkeypatch):
    df = spark.createDataFrame(
        [(bytearray(b"xy"), (1, "a"))], "bin binary, st struct<x:long,y:string>"
    )
    assert not all(_arrow_roundtrip_safe(f.dataType) for f in df.schema.fields)
    wrapped = arrow_collected(df)
    called = []
    monkeypatch.setattr(
        ArrowCollectFrame, "toArrow", lambda self: called.append(1), raising=False
    )
    base, fast = CDF.collect(df), wrapped.collect()
    assert not called  # pickle path, arrow never engaged
    _assert_identical(base, fast)


def test_row_objects_behave_like_rows(spark):
    import pickle

    from pyspark.sql import Row as PublicRow

    df = spark.range(3).selectExpr("id", "concat('v', id) AS s")
    base = CDF.collect(df)
    fast = arrow_collected(df).collect()
    for b, f in zip(base, fast):
        assert isinstance(f, PublicRow)
        assert repr(b) == repr(f)
        assert b == f and tuple(b) == tuple(f)
        assert f.s == b.s and f["s"] == b["s"] and f.asDict() == b.asDict()
        # __reduce__ rebuilds a plain importable Row
        rt = pickle.loads(pickle.dumps(f))
        assert rt == b and tuple(rt.__fields__) == tuple(b.__fields__)


def test_empty_result(spark):
    df = spark.range(0).select(F.col("id"), F.lit("x").alias("s"))
    assert arrow_collected(df.where(F.lit(False))).collect() == []


def test_transformations_return_plain_frames(spark):
    wrapped = arrow_collected(spark.range(3))
    out = wrapped.where(F.col("id") > 0)
    # derived frames are stock DataFrames; only the query's own frame
    # carries the fast collect
    assert not isinstance(out, ArrowCollectFrame)
    assert [r.id for r in out.collect()] == [1, 2]


def test_row_order_preserved(spark):
    df = spark.range(1000).repartition(8).selectExpr("id", "id * 2 AS y")
    base = CDF.collect(df)
    fast = arrow_collected(df).collect()
    assert base == fast


def test_column_pass_failure_falls_back(spark, monkeypatch):
    import pickle

    called = []

    def boom(col):
        called.append(1)
        raise RuntimeError("column pass")

    monkeypatch.setattr(fastcollect, "_column_values", boom)
    df = spark.range(3).selectExpr("id", "concat('v', id) AS s")
    fast = arrow_collected(df).collect()
    assert called  # the Arrow path engaged, then degraded
    assert pickle.dumps(fast) == pickle.dumps(CDF.collect(df))


def test_udf_batches_keep_session_size(spark):
    @F.pandas_udf("long")
    def batch_len(s: pd.Series) -> pd.Series:
        return pd.Series([len(s)] * len(s))

    df = spark.range(5000, numPartitions=1).select(batch_len("id").alias("n"))
    rows = arrow_collected(df).collect()
    assert len(rows) == 5000
    # the UDF sees the session's 512-row batches, not a collect-time size
    assert max(r.n for r in rows) <= 512
