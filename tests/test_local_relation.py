"""session.local_relation: every per-query literal side in the package is
built through it, so it must be a faithful stand-in for the
``spark.createDataFrame(<python list>, schema)`` it replaced — same values
to the bit, same schema and nullability — while planning as a JVM
LocalRelation (``LocalTableScan``) that runs no job and no Python
worker."""

from __future__ import annotations

import datetime
import math
import random
import struct

import pytest
from pyspark.sql import types as T

from vectordb_testbricks_spark.session import local_relation

_DOUBLES = [-0.0, 0.0, 5e-324, 1.7976931348623157e308, 0.1 + 0.2,
            float("inf"), float("-inf"), float("nan"), -1.5, 1e-310]
_STRINGS = ["it's", "back\\slash", "new\nline", "ünïcødé ✓ 漢字", "",
            "'; DROP TABLE t; --", "tab\there"]


def _bits(v: float) -> bytes:
    return struct.pack(">d", v)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs(spark) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _assert_local(spark, df):
    p = _plan(df)
    assert "LocalTableScan" in p, p
    assert "ExistingRDD" not in p, p


def test_doubles_round_trip_bit_exact(spark):
    schema = T.StructType([
        T.StructField("i", T.IntegerType(), False),
        T.StructField("v", T.DoubleType(), True),
        T.StructField("arr", T.ArrayType(T.DoubleType(), False), False),
    ])
    rows = [(i, v, [v, -v]) for i, v in enumerate(_DOUBLES)]
    before = _jobs(spark)
    df = local_relation(spark, rows, schema)
    _assert_local(spark, df)
    got = sorted(df.collect(), key=lambda r: r["i"])
    assert _jobs(spark) == before          # LocalTableScan collects driver-side
    assert df.schema == spark.createDataFrame(rows, schema).schema == schema
    for (i, v, arr), r in zip(rows, got):
        assert r["i"] == i
        assert _bits(r["v"]) == _bits(v), (v, r["v"])
        assert [_bits(x) for x in r["arr"]] == [_bits(x) for x in arr]
    assert math.copysign(1.0, got[0]["v"]) == -1.0     # -0.0 kept its sign


def test_strings_maps_and_ddl_schema_match_create_dataframe(spark):
    ddl = "query_id int, term string, qmap map<string,double>, n bigint"
    rows = [(i, s, {s: float(i)}, None if i % 2 else 2 ** 40 + i)
            for i, s in enumerate(_STRINGS)]
    df = local_relation(spark, rows, ddl)
    _assert_local(spark, df)
    ref = spark.createDataFrame(rows, ddl)
    assert df.schema == ref.schema
    assert ([tuple(r) for r in df.collect()]
            == [tuple(r) for r in ref.collect()]
            == [(i, s, m, n) for i, s, m, n in rows])


def test_zero_rows_keep_schema(spark):
    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("avgdl", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ])
    df = local_relation(spark, [], schema)
    _assert_local(spark, df)
    assert df.schema == spark.createDataFrame([], schema).schema == schema
    assert df.collect() == []
    ddl = local_relation(spark, [], "query_id int, bucket bigint")
    assert ddl.schema == spark.createDataFrame(
        [], "query_id int, bucket bigint").schema


def test_timestamps_read_like_create_dataframe(spark):
    """Naive datetimes are local time (as ``collect()`` returns them and as
    ``createDataFrame`` reads them); aware ones keep their instant."""
    naive = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    aware = datetime.datetime(2024, 3, 1, 12, 30,
                              tzinfo=datetime.timezone.utc)
    rows = [(1, naive), (2, aware), (3, None)]
    ddl = "id int, ts timestamp"
    got = local_relation(spark, rows, ddl).collect()
    assert got == spark.createDataFrame(rows, ddl).collect()


def test_nq256_by_128d_queries_side(spark):
    from vectordb_testbricks_spark.operators.search import queries_df
    rng = random.Random(4)
    vecs = [[rng.uniform(-1, 1) for _ in range(128)] for _ in range(256)]
    vecs[3][7] = -0.0
    before = _jobs(spark)
    q = queries_df(spark, vecs)
    _assert_local(spark, q)
    got = q.collect()
    assert _jobs(spark) == before
    assert q.schema == T.StructType([
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("qvec", T.ArrayType(T.DoubleType(), False), False),
    ])
    assert [r["query_id"] for r in got] == list(range(256))
    assert all([_bits(x) for x in r["qvec"]] == [_bits(x) for x in v]
               for r, v in zip(got, vecs))


def test_null_in_non_nullable_column_raises(spark):
    schema = T.StructType([T.StructField("a", T.IntegerType(), False)])
    with pytest.raises(ValueError, match="non-nullable column 'a'"):
        local_relation(spark, [(1,), (None,)], schema)
