"""Scalar retrieval operators (SURVEY.md §2.3, Q1-Q8).

Reference semantics:
  * ``query(collection, filter, output_fields, limit)`` — filtered projection
    (query_permanently_simplified.py:97-132)
  * ``output_fields=["*"]`` = all columns (:304-307)
  * ``count(*)`` — query with output ``count(*)`` (validators.py:61-65,
    query_horizon_count.go:513-531)
  * PK point / IN-list / range reads (validators.py:93-165)
  * ``query_iterator`` — paginated full scan with checkpoint resume
    (query_iterator.py:104-162)

Determinism note: Milvus ``query(limit=n)`` returns an unspecified subset;
for oracle-checkable results we always order by PK before limiting (the
iterator bricks do the same by scanning in PK order).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_testbricks_spark.exprlang import compile_expr
from vectordb_testbricks_spark.session import local_relation


def _pred(df: DataFrame, flt: str | Column | None) -> Column:
    if flt is None:
        return F.lit(True)
    if isinstance(flt, Column):
        return flt
    return compile_expr(flt, df)


def query(df: DataFrame, flt: str | Column | None = None,
          output_fields: list[str] | None = None,
          limit: int | None = None,
          order_by: list[str] | None = None,
          offset: int = 0) -> DataFrame:
    """Q1/Q2: filter + project + (ordered) limit/offset.

    ``offset``/``order_by`` are the reference's documented-roadmap extension
    surface (feature_inventory.yaml:54-66) — cheap built-ins here.
    """
    out = df.filter(_pred(df, flt))
    if output_fields and output_fields != ["*"]:
        out = out.select(*output_fields)
    if order_by:
        out = out.orderBy(*order_by)
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def count_star(df: DataFrame, flt: str | Column | None = None) -> DataFrame:
    """Q3: ``count(*)`` with optional filter — returned as a 1-row DataFrame
    with column ``cnt`` (the driver compares DataFrames, not ints)."""
    return df.filter(_pred(df, flt)).agg(F.count(F.lit(1)).alias("cnt"))


def query_by_pk(df: DataFrame, pk_col: str, values: list) -> DataFrame:
    """Q4: PK point/IN-list read (validators.py:93-113)."""
    return df.filter(F.col(pk_col).isin(values))


def query_pk_range(df: DataFrame, pk_col: str, lo, hi) -> DataFrame:
    """Q5: PK range scan — compiled from the same combined-range expression
    the bricks emit (``id >= lo && id <= hi``, validators.py:57-58)."""
    return df.filter(compile_expr(f"{pk_col} >= {lo} && {pk_col} <= {hi}", df))


def query_iterator(df: DataFrame, pk_col: str, batch_size: int,
                   flt: str | Column | None = None,
                   output_fields: list[str] | None = None,
                   checkpoint_file: str | None = None) -> Iterator[DataFrame]:
    """Q6: paginated PK-ordered scan with checkpoint resume
    (query_iterator.py:104-162; checkpoint file :62).

    Each yielded batch is ``WHERE pk > last_seen ORDER BY pk LIMIT batch`` —
    a seek-paginated scan (no OFFSET re-scan), which at cluster scale turns
    into a pruned range read per page. The checkpoint stores the last PK.
    """
    base = df.filter(_pred(df, flt))
    if output_fields and output_fields != ["*"]:
        cols = list(dict.fromkeys([pk_col, *output_fields]))
        base = base.select(*cols)
    last = None
    if checkpoint_file and os.path.exists(checkpoint_file):
        with open(checkpoint_file) as fh:
            last = json.load(fh).get("last_pk")
    while True:
        page = base
        if last is not None:
            page = page.filter(F.col(pk_col) > F.lit(last))
        rows = page.orderBy(pk_col).limit(batch_size)
        collected = rows.collect()
        if not collected:
            break
        last = collected[-1][pk_col]
        if checkpoint_file:
            with open(checkpoint_file, "w") as fh:
                json.dump({"last_pk": last}, fh)
        yield local_relation(rows.sparkSession, collected, rows.schema)


def query_iterator_pages(df: DataFrame, pk_col: str, batch_size: int,
                         flt: str | Column | None = None) -> DataFrame:
    """Declarative twin of the iterator: annotate every row with its page
    number under PK-ordered batch pagination (no driver loop).

    A bare ``Window.orderBy(pk)`` collapses everything into ONE partition
    (the WindowExec warning in the round-1 bench tail) — fatal at scale.
    Instead: range-partition on the PK so partition i holds a contiguous
    PK range, rank locally per partition, then shift each partition's local
    ranks by the total row count of the partitions before it (a ≤N-row
    bounded collect + broadcast join). Identical output, fully parallel.
    """
    spark = df.sparkSession
    try:  # the conf can be non-numeric ("auto" on some platforms)
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:
        n = spark.sparkContext.defaultParallelism
    from pyspark.sql import Window
    ranged = (df.filter(_pred(df, flt))
              .repartitionByRange(n, F.col(pk_col))
              .withColumn("_pid", F.spark_partition_id()))
    # barrier: the count action and the final job must see the SAME range
    # boundaries (repartitionByRange samples). localCheckpoint (not
    # persist) — checkpointed RDD blocks are released by the context
    # cleaner when the returned plan is garbage-collected, while a
    # CacheManager persist would pin a copy for the session lifetime on
    # every call. Tradeoff: checkpoint blocks are NOT recomputable, so on
    # a cluster losing an executor the returned frame must be re-derived
    # by calling this function again — callers should consume pages
    # promptly rather than hold the frame across long gaps
    ranged = ranged.localCheckpoint(eager=True)
    w = Window.partitionBy("_pid").orderBy(pk_col)
    local = ranged.withColumn("_lrank", F.row_number().over(w))
    sizes = sorted((r["_pid"], r["c"]) for r in
                   ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c"))
                   .collect())
    offsets, acc = [], 0
    for pid, c in sizes:
        offsets.append((pid, acc))
        acc += c
    off = F.broadcast(local_relation(
        spark, offsets or [(0, 0)], "_pid int, _offset long"))
    return (local.join(off, "_pid")
            .withColumn("page",
                        ((F.col("_offset") + F.col("_lrank") - 1)
                         / batch_size).cast("bigint"))
            .drop("_pid", "_lrank", "_offset"))


def count_distribution(df: DataFrame, cnt_col: str = "cnt") -> DataFrame:
    """C6: bucket counts into the reference's ranges
    (query_horizon_count.go:29-36)."""
    buckets = [(0, 2000), (2000, 5000), (5000, 10000),
               (10000, 13000), (13000, 15000)]
    c = F.col(cnt_col)
    expr = F.when(c >= 15000, F.lit("15000+"))
    for lo, hi in reversed(buckets):
        expr = F.when((c >= lo) & (c < hi), F.lit(f"{lo}-{hi - 1}")).otherwise(expr)
    return df.withColumn("bucket", expr)
