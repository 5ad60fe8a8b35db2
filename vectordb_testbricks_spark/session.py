"""SparkSession factory tuned for this engine, the application-scoped
memo that holds every piece of prepared per-session state, and the one
builder of literal (driver-side) relations.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we would ship to a multi-executor cluster (AQE on, sane shuffle
parallelism, Arrow enabled for the few pandas interchange points).
"""

from __future__ import annotations

import datetime
import os
import threading
from typing import Callable, Hashable, Sequence, TypeVar

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_T = TypeVar("_T")


def get_spark(app_name: str = "vectordb_testbricks_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # keep InferWindowGroupLimit (map-side top-k prune before the
        # shuffle) active at the reference's top_k=15000 operating point —
        # the rewrite is skipped above this threshold (default 1000) and
        # rank<=k would otherwise shuffle every scored row into nq
        # partitions
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "1000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata parquet carries TIMESTAMP(NANOS); read as long, the
        # catalog loader converts back to TimestampType (micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UI off for tests (port + thread overhead ×100s of sessions);
        # bench.py sets SPARK_GRAFT_UI=1 so its scale-entry loop can read
        # per-attempt stage metrics (executor run time, GC, shuffle,
        # spill) from the status REST API — the r07→r08 bimodality
        # instrumentation
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1"
                else "false")
        # single-JVM local mode on a 128 GiB box: everything (driver,
        # executor threads, cached tables) shares this one heap, and the
        # 1M-row bench entries measured 3-4× GC-debt swings at 8g after a
        # long headline phase — 16g keeps old-gen churn off the timings
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # long sessions compile hundreds of whole-stage-codegen classes;
        # at the JVM's default ~240m reserved code cache the JIT stops
        # compiling once it fills, and later CPU-hot generated loops run
        # interpreted (measured: the minhash signature stage at 1M rows
        # degraded 15s → 47-72s only AFTER ~120 prior query executions).
        # 1g + explicit flushing keeps late plans JIT-compiled.
        # SPARK_GRAFT_EXTRA_JVM_OPTS appends experiment flags (empty by
        # default, so default sessions are byte-identical): used to A/B
        # JIT hypotheses for the sticky ~10× slow mode — r08 measured
        # executorCpuTime itself inflating 10× (not contention: run≈cpu
        # in both modes) in 7 of 10 full-bench JVMs, the signature of
        # hot methods deopt-flagged not-compilable after the varied
        # headline-phase profiles (-XX:PerMethodRecompilationCutoff).
        .config("spark.driver.extraJavaOptions",
                ("-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
                 + os.environ.get("SPARK_GRAFT_EXTRA_JVM_OPTS", "")).strip())
    )
    # SPARK_GRAFT_EXTRA_CONF: semicolon-separated key=value Spark confs
    # appended last (so they win), e.g.
    # "spark.io.compression.codec=zstd;spark.shuffle.spill.compress=true".
    # Empty by default so default sessions stay byte-identical — the same
    # contract as SPARK_GRAFT_EXTRA_JVM_OPTS. Used by the gated 100M
    # stretch decades to trade shuffle CPU for scratch-disk footprint on
    # the single box (zstd ~halves the int-heavy posting shuffle vs the
    # lz4 default — measured r11).
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if kv.strip():
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ------------------------------------------------- application-scoped memo
#
# Prepared per-session state (catalog handles, BM25 sidecars, IVF indexes,
# pooled plans, posting tables) lives in ONE dict scoped to the current
# SparkContext's applicationId. The first call under a new applicationId
# clears it, so a stopped session's DataFrames and broadcasts can never be
# served to (or pinned by) its successor. The lock guards only the dict and
# the app switch, never ``build()``: builds run Spark jobs, and concurrent
# callers (workload.py's threaded closed loops) must not serialize on them.

_memo_lock = threading.Lock()
_memo_app: list = [None]
_memo: dict = {}


def session_memo(spark: SparkSession, key: Hashable,
                 build: Callable[[], _T]) -> _T:
    """``build()``'s value, computed once per (application, ``key``).

    Two concurrent misses may both build; the first stored value wins and
    is returned to both. A value built while the application changed
    underneath is returned but not stored."""
    app = spark.sparkContext.applicationId
    with _memo_lock:
        if _memo_app[0] != app:
            _memo.clear()
            _memo_app[0] = app
        if key in _memo:
            return _memo[key]
    value = build()
    with _memo_lock:
        if _memo_app[0] != app:
            return value
        return _memo.setdefault(key, value)


def session_forget(value: object) -> None:
    """Drop every memo entry whose value is ``value`` (identity) — for
    callers that explicitly unpersist a memoized handle, so a later call
    rebuilds a persisted one instead of receiving the cold handle."""
    with _memo_lock:
        for k in [k for k, v in _memo.items() if v is value]:
            del _memo[k]


# ------------------------------------------------------- literal relations

def local_relation(spark: SparkSession, rows: Sequence[Sequence],
                   schema: str | T.StructType) -> DataFrame:
    """A literal relation (``rows`` under ``schema``, a DDL string or a
    StructType; zero rows allowed) planned as a JVM ``LocalRelation``.

    This is how every per-query literal side in the package is built.
    ``spark.createDataFrame(<python list>)`` parallelizes the list into a
    PythonRDD (``Scan ExistingRDD``): each action over it runs one Python
    worker task per default-parallelism slice. Here the rows travel as one
    Arrow stream that the driver decodes straight into a LocalRelation
    (``LocalTableScan``): no RDD, no Python worker, no job, not even for a
    ``collect()`` of the relation itself. (Only a stream larger than
    ``spark.sql.execution.arrow.localRelationThreshold`` would be
    parallelized instead, still JVM-side.) Arrow carries the values as
    bytes, so doubles (-0.0, subnormals, NaN, ±inf) and strings round-trip
    bit-exact, and the schema, nullability included, is ``schema``
    verbatim. Naive datetimes in a TimestampType column are local time, as
    ``createDataFrame`` reads them."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for col, field, af in zip(cols, schema.fields, arrow):
        if isinstance(field.dataType, T.TimestampType):
            col = [v.astimezone(datetime.timezone.utc)
                   if isinstance(v, datetime.datetime) and v.tzinfo is None
                   else v for v in col]
        arr = pa.array(col, type=af.type)
        if not field.nullable and arr.null_count:
            raise ValueError(f"local_relation: NULL in non-nullable "
                             f"column {field.name!r}")
        arrays.append(arr)
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow),
                                 schema)
