"""Unit tests for the shared materialization helpers (materialize.py) and
the streaming event-time normalizer (streaming/_time.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel


def test_shared_persist_registers_once(spark):
    from vectordb_testbricks_spark.materialize import shared_persist
    df = spark.range(10).select((F.col("id") * 3).alias("x"))
    p1 = shared_persist(df)
    assert p1.storageLevel != StorageLevel.NONE
    # a fresh DataFrame over the identical plan reuses the cache entry
    # instead of re-registering (no "already cached" churn)
    df2 = spark.range(10).select((F.col("id") * 3).alias("x"))
    p2 = shared_persist(df2)
    assert p2.storageLevel != StorageLevel.NONE
    assert p2.count() == 10
    p1.unpersist()


def test_barrier_if_large_gates_on_row_hint(spark):
    """VERDICT r10 #4: the eager count barrier is a SCALE tool — below
    BARRIER_MIN_ROWS it must degrade to a plain persist (registered, NOT
    built: no count job), at/above it — or with no hint — it must leave
    the cache fully BUILT."""
    from vectordb_testbricks_spark.materialize import (
        BARRIER_MIN_ROWS, barrier_if_large)

    def built_caches():
        sc = spark.sparkContext._jsc.sc()
        return sum(1 for r in sc.getRDDStorageInfo()
                   if r.numCachedPartitions() > 0)

    base = built_caches()
    small = barrier_if_large(
        spark.range(7).select((F.col("id") * 2).alias("x")), 7)
    assert small.storageLevel != StorageLevel.NONE
    assert built_caches() == base          # no eager build below threshold

    big = barrier_if_large(
        spark.range(9).select((F.col("id") * 5).alias("y")),
        BARRIER_MIN_ROWS)
    assert big.storageLevel != StorageLevel.NONE
    assert built_caches() == base + 1      # built eagerly at the threshold

    nohint = barrier_if_large(
        spark.range(3).select((F.col("id") + 9).alias("z")))
    assert built_caches() == base + 2      # None hint -> conservative barrier
    for df in (small, big, nohint):
        df.unpersist()


def test_parallelize_small_widens_narrow_input(spark):
    """r13: the width is DERIVED FROM the plan's estimated size (guide
    §2.2/§2.5 — fewer, larger tasks for tiny inputs), clamped to
    [WIDEN_MIN_TASKS, defaultParallelism]. A 100-row range lands at the
    floor; a ≥ cap×32KB estimate still widens to every core."""
    from vectordb_testbricks_spark.materialize import (
        WIDEN_MIN_TASKS, WIDEN_TARGET_BYTES_PER_TASK, parallelize_small)
    narrow = spark.range(0, 100, 1, numPartitions=1)
    wide = parallelize_small(narrow)
    assert wide.rdd.getNumPartitions() == WIDEN_MIN_TASKS
    assert wide.count() == 100
    cap = spark.sparkContext.defaultParallelism
    # 8 bytes/row for a range: enough rows to exceed cap × target bytes
    rows = (cap * WIDEN_TARGET_BYTES_PER_TASK) // 8 + 1
    big = spark.range(0, rows, 1, numPartitions=1)
    assert parallelize_small(big).rdd.getNumPartitions() == cap


class _StatsStub:
    """Stands in for a DataFrame's ``_jdf`` py4j chain down to the
    optimized plan's ``stats().sizeInBytes()``: returns ``size``, or
    raises it when it is an exception."""

    def __init__(self, size):
        self._size = size
        self._jdf = self

    def queryExecution(self):
        return self

    def optimizedPlan(self):
        return self

    def stats(self):
        return self

    def sizeInBytes(self):
        if isinstance(self._size, Exception):
            raise self._size
        return self._size


@pytest.mark.parametrize("size", [2 ** 63 - 1, 0, -1,
                                  RuntimeError("stats probe failed")],
                         ids=["long_max", "zero", "negative", "raises"])
def test_widen_width_degenerate_stats_return_target(size):
    from vectordb_testbricks_spark.materialize import _widen_width
    assert _widen_width(_StatsStub(size), 12) == 12


def test_widen_width_real_plans(spark):
    """A tiny plan floors at WIDEN_MIN_TASKS; an RDD-backed plan, whose
    Catalyst estimate is the Long.MaxValue default, clamps to target."""
    from vectordb_testbricks_spark.materialize import (
        WIDEN_MIN_TASKS, _widen_width)
    assert _widen_width(spark.range(10), 12) == WIDEN_MIN_TASKS
    rdd_df = spark.sparkContext.parallelize([(1,), (2,)]).toDF(["x"])
    size = int(rdd_df._jdf.queryExecution().optimizedPlan()
               .stats().sizeInBytes())
    assert size == 2 ** 63 - 1
    assert _widen_width(rdd_df, 12) == 12


def test_parallelize_small_is_noop_at_scale_width(spark):
    from vectordb_testbricks_spark.materialize import parallelize_small
    target = spark.sparkContext.defaultParallelism
    already = spark.range(0, 100, 1, numPartitions=target + 4)
    out = parallelize_small(already)
    # no repartition injected: partitioning (and the plan) untouched
    assert out.rdd.getNumPartitions() == target + 4
    assert "Repartition" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_parallelize_small_ignores_wide_looking_identifiers(spark):
    """The node probe is anchored to plan-tree node positions: a narrow
    scan whose COLUMN names contain wide-node words (JoinDate, SortKey,
    WindowStart) must still be widened — the old substring match silently
    skipped these."""
    from vectordb_testbricks_spark.materialize import parallelize_small
    narrow = spark.range(0, 50, 1, numPartitions=1).select(
        F.col("id").alias("JoinDate"), (F.col("id") * 2).alias("SortKey"),
        (F.col("id") + 1).alias("WindowStart"))
    assert "JoinDate" in narrow._jdf.queryExecution().optimizedPlan().toString()
    wide = parallelize_small(narrow)
    # widened (beyond the 1-partition input); exact width is size-derived
    assert wide.rdd.getNumPartitions() > 1


def test_parallelize_small_skips_shuffled_plans(spark):
    """A plan containing a real shuffle node (Aggregate / Join) is returned
    untouched — its width is already governed by shuffle.partitions and
    probing .rdd would execute AQE stages."""
    from vectordb_testbricks_spark.materialize import parallelize_small
    agg = spark.range(0, 50, 1, numPartitions=1).groupBy(
        (F.col("id") % 5).alias("k")).count()
    assert parallelize_small(agg) is agg
    joined = spark.range(10).join(spark.range(5), "id")
    assert parallelize_small(joined) is joined


def test_ensure_event_time_ltz_casts_only_ntz(spark):
    from vectordb_testbricks_spark.streaming._time import ensure_event_time_ltz
    ntz = spark.createDataFrame(
        [("2024-01-01 10:00:00",)], "raw string").select(
        F.col("raw").cast(T.TimestampNTZType()).alias("ts"))
    assert isinstance(ntz.schema["ts"].dataType, T.TimestampNTZType)
    fixed = ensure_event_time_ltz(ntz, "ts")
    assert isinstance(fixed.schema["ts"].dataType, T.TimestampType)
    # UTC session: the wall-clock value is preserved exactly
    assert str(fixed.first()["ts"]) == "2024-01-01 10:00:00"

    ltz = spark.createDataFrame([("2024-01-01 10:00:00",)], "raw string") \
        .select(F.to_timestamp("raw").alias("ts"))
    # already-LTZ input passes through as the same object (plan untouched)
    assert ensure_event_time_ltz(ltz, "ts") is ltz


@pytest.mark.stream
@pytest.mark.slow
def test_ntz_source_is_watermarkable_end_to_end(spark, tmp_path):
    """The round-3 failure mode: a parquet source whose event time infers as
    TIMESTAMP_NTZ must stream through a watermarked aggregation."""
    from vectordb_testbricks_spark.streaming.events import windowed_counts
    src = str(tmp_path / "ntz_src")
    # three single-row files in time order: with maxFilesPerTrigger=1 each
    # becomes its own micro-batch, so the watermark advances across batches
    # and append mode can emit the closed first window before termination
    for i, (eid, raw) in enumerate([(1, "2024-01-01 10:05:00"),
                                    (2, "2024-01-01 13:00:00"),
                                    (3, "2024-01-01 16:00:00")]):
        spark.createDataFrame(
            [(eid, "a", raw, 1.0)],
            "event_id long, event_type string, raw string, value double") \
            .select("event_id", "event_type",
                    F.col("raw").cast(T.TimestampNTZType()).alias("ts"),
                    "value").coalesce(1) \
            .write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    assert isinstance(schema["ts"].dataType, T.TimestampNTZType)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = windowed_counts(stream, "1 hour", watermark="1 minute")
    q = (agg.writeStream.format("memory").queryName("ntz_wm_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    # append mode emits watermark-closed windows; the stream ran without
    # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — that is the regression guard
    assert spark.table("ntz_wm_out").count() >= 1


def test_session_caches_evict_dead_app_entries(spark, tables):
    """ADVICE r12: session caches must not keep a stopped SparkContext's
    entries. Every cache goes through one application-scoped memo: the
    first call under a new applicationId drops the previous
    application's entries — entry-file caches, catalog handles and dedup
    posting tables alike — while the new application's entries stay."""
    from types import SimpleNamespace

    import __spark_entry__ as E
    from conftest import SF_DIR
    from vectordb_testbricks_spark import session
    from vectordb_testbricks_spark.catalog import load_table
    from vectordb_testbricks_spark.materialize import shared_persist
    from vectordb_testbricks_spark.operators import dedup

    region = load_table(spark, SF_DIR, "region")
    assert load_table(spark, SF_DIR, "region") is region
    n_docs = E._docs_count(spark, SF_DIR)
    docs = tables["documents"].df.select("doc_id", "text").limit(20)
    codes = shared_persist(dedup._token_codes(docs, "doc_id", "text", 3))
    try:
        posting = dedup._code_order_postings(codes, "doc_id", 0.7, 50,
                                             n_docs=20)
        held = list(session._memo.values())
        assert any(v is region for v in held)
        assert any(v is posting for v in held)
        assert n_docs in held

        nxt = SimpleNamespace(
            sparkContext=SimpleNamespace(applicationId="app-next"))
        live = session.session_memo(nxt, ("live",), object)
        assert session._memo == {("live",): live}
        assert session.session_memo(nxt, ("live",), object) is live
    finally:
        codes.unpersist()
    # back on the real application: its handles are rebuilt, not reused
    assert load_table(spark, SF_DIR, "region") is not region
    assert ("live",) not in session._memo


def test_session_memo_builds_outside_its_lock():
    """build() runs without the memo lock held, so a build may itself
    use the memo (the BM25 svec table builds from the memoized tf
    table) and concurrent builds never serialize on each other."""
    from types import SimpleNamespace

    from vectordb_testbricks_spark.session import session_memo
    app = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-nested"))
    inner = session_memo(app, ("outer",), lambda: (
        session_memo(app, ("inner",), lambda: 7) + 1))
    assert inner == 8
    assert session_memo(app, ("inner",), lambda: 0) == 7
