"""The benchmark's side of the engine boundary: collection set-up and one
function per op, each calling only public ``vectordb_testbricks_spark``
functions and returning plain Python values for the reference checkers.

Every engine call goes through ``tracer.call(layer, fn, ...)`` and every
action through ``tracer.action(df)``; in the timed runs both call straight
through.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from vectordb_testbricks_spark import compile_expr
from vectordb_testbricks_spark.manager import CollectionManager
from vectordb_testbricks_spark.operators import dedup as D
from vectordb_testbricks_spark.operators import fusion as FU
from vectordb_testbricks_spark.operators import query as Q
from vectordb_testbricks_spark.operators import search as S
from vectordb_testbricks_spark.schema import FieldSpec, FunctionSpec, SchemaSpec

from perfbench import gen, procs, refs

TOPK = 10


def docs_spec(name: str) -> SchemaSpec:
    """The searched and written collections' schema: the text field feeds
    a BM25 function whose sidecars every write maintains."""
    return SchemaSpec(name, [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("vec", "FLOAT_VECTOR", dim=gen.DIM),
        FieldSpec("text", "VARCHAR", max_length=1024, enable_analyzer=True),
        FieldSpec("price", "DOUBLE"),
        FieldSpec("cat", "VARCHAR", max_length=16),
        FieldSpec("meta", "JSON"),
        FieldSpec("tags", "ARRAY", element_type="VARCHAR", max_capacity=8),
        FieldSpec("loc", "GEOMETRY"),
        FieldSpec("sparse_bm25", "SPARSE_FLOAT_VECTOR"),
    ], functions=[FunctionSpec("fts", "BM25", "text", "sparse_bm25")])


def corpus_spec(name: str) -> SchemaSpec:
    return SchemaSpec(name, [
        FieldSpec("id", "INT64", primary=True),
        FieldSpec("text", "VARCHAR", max_length=1024),
        FieldSpec("emb", "FLOAT_VECTOR", dim=gen.DIM),
        FieldSpec("block", "INT64"),
    ])


def dir_stats(path: str) -> dict[str, int]:
    """{file path: size} under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


class Engine:
    """One Spark session, one warehouse, and the benchmark's inputs dir."""

    def __init__(self, spark, workdir: str, tracer):
        self.spark = spark
        self.tr = tracer
        self.inputs = os.path.join(workdir, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self.warehouse = os.path.join(workdir, "warehouse")
        self.mgr = CollectionManager(spark, self.warehouse)

    @staticmethod
    def cpu_seconds() -> float:
        """CPU time used so far by this process and all its descendants:
        the driver JVM and the Python workers it forks for pandas and
        Arrow UDFs, which are reused across jobs."""
        return sum(procs.tree_cpu_seconds(os.getpid()).values())

    # ------------------------------------------------------------- set-up
    def stage(self, name: str, table: pa.Table) -> str:
        """Write generated rows to a parquet file the engine reads."""
        path = os.path.join(self.inputs, f"{name}.parquet")
        pq.write_table(table, path)
        return path

    def _read_rows(self, path: str, bm25: bool):
        """Staged rows as a DataFrame; a BM25 collection also takes the
        (empty) output field its function fills in."""
        df = self.spark.read.parquet(path)
        if bm25:
            df = df.withColumn("sparse_bm25",
                               F.lit(None).cast("map<int,float>"))
        return df

    def create(self, spec: SchemaSpec, table: pa.Table,
               columns: tuple[str, ...]) -> int:
        """Create a collection, ingest ``table`` through the manager and
        read back its row count."""
        self.mgr.create_collection(spec)
        path = self.stage(spec.name, table.select(list(columns)))
        self.mgr.insert(spec.name,
                        self._read_rows(path, bool(spec.functions)))
        return Q.count_star(self.mgr.read(spec.name)).collect()[0][0]

    def drop(self, name: str) -> None:
        self.mgr.drop_collection(name)


    # ------------------------------------------------------- serve ops
    def _filtered(self, name: str, flt: dict | None):
        base = self.tr.call("manager.read", self.mgr.read, name)
        if flt is None:
            return base, None
        return base, self.tr.call("exprlang.compile", compile_expr,
                                  flt["expr"], base)

    def _dense_df(self, name: str, qvec, metric: str, flt: dict | None):
        base, pred = self._filtered(name, flt)
        q = self.tr.call("operators.search.build", S.queries_df,
                         self.spark, [qvec])
        return self.tr.call("operators.search.build", S.knn_search, base, q,
                            "vec", "id", metric=metric, k=TOPK, flt=pred)

    def _text_df(self, name: str, text: str, flt: dict | None):
        return self.tr.call("operators.bm25.build", self.mgr.bm25_search,
                            name, text, k=TOPK,
                            flt=flt["expr"] if flt else None)

    @staticmethod
    def _hits(rows) -> list[tuple[int, float]]:
        return [(r["id"], r["score"])
                for r in sorted(rows, key=lambda r: r["rank"])]

    def scalar(self, name: str, op: dict, limit: int = 20):
        base, pred = self._filtered(name, op.get("flt"))
        if op["kind"] == "count":
            df = self.tr.call("operators.query.build", Q.count_star, base,
                              pred)
            return self.tr.action(df)[0][0]
        df = self.tr.call("operators.query.build", Q.query, base, pred,
                          output_fields=["id", "price"], order_by=["id"],
                          limit=limit)
        return [(r["id"], r["price"]) for r in self.tr.action(df)]

    def dense(self, name: str, op: dict):
        df = self._dense_df(name, op["qvec"], op.get("metric", "COSINE"),
                            op.get("flt"))
        return self._hits(self.tr.action(df))

    def text(self, name: str, op: dict):
        return self._hits(self.tr.action(
            self._text_df(name, op["text"], op.get("flt"))))

    def hybrid(self, name: str, op: dict):
        dense = self._dense_df(name, op["qvec"], "COSINE", None)
        text = self._text_df(name, op["text"], None)
        if op["fuse"] == "rrf":
            df = self.tr.call("operators.fusion.build", FU.rrf_fuse,
                              [dense, text], "id", k=TOPK)
        else:
            df = self.tr.call("operators.fusion.build", FU.weighted_fuse,
                              [dense, text], list(refs.FUSE_WEIGHTS), "id",
                              k=TOPK, normalize="arctan")
        return self._hits(self.tr.action(df))

    def serve(self, name: str, op: dict):
        return getattr(self, op["cls"])(name, op)

    # ------------------------------------------------------- write ops
    def prepare_write(self, j: int, op: dict, seed: int) -> str:
        """Stage the write's input rows (untimed)."""
        if op["kind"] in ("insert", "upsert"):
            t = gen.rows_for_ids(seed, op["ids"], j).select(
                list(gen.ENGINE_DOC_COLUMNS))
        elif op["kind"] == "partial_update":
            t = pa.table({"id": pa.array(op["ids"], pa.int64()),
                          "price": pa.array(op["prices"], pa.float64())})
        else:
            return ""
        return self.stage(f"write-{j}", t)

    def write(self, name: str, op: dict, path: str) -> None:
        kind = op["kind"]
        if kind == "delete":
            ids = ", ".join(str(i) for i in op["ids"])
            self.tr.call("manager.write", self.mgr.delete, name,
                         f"id in [{ids}]")
        else:
            fn = {"insert": self.mgr.insert, "upsert": self.mgr.upsert,
                  "partial_update": self.mgr.partial_update}[kind]
            self.tr.call("manager.write", lambda: fn(
                name, self._read_rows(path, kind != "partial_update")))
        if path:
            os.remove(path)

    def files(self, name: str) -> dict[str, int]:
        return dir_stats(os.path.join(self.warehouse, name))

    def account_write(self, name: str, before: dict[str, int]) -> None:
        """Count what the last write left on disk (traced runs only)."""
        after = self.files(name)
        new = {p: s for p, s in after.items()
               if before.get(p) != s and p.endswith(".parquet")}
        self.tr.count("manager", "bytes_written", sum(new.values()))
        self.tr.count("manager", "files_written", len(new))
        live = self.live_data_dir(name) + os.sep
        self.tr.count("manager", "live_files", sum(
            1 for p in after if p.startswith(live) and p.endswith(".parquet")))

    def live_data_dir(self, name: str) -> str:
        """The collection's current data version, as its CURRENT manifest
        names it on disk (``data`` before the first rewrite)."""
        d = os.path.join(self.warehouse, name)
        cur = os.path.join(d, "CURRENT")
        if os.path.exists(cur):
            with open(cur) as fh:
                return os.path.join(d, fh.read().strip())
        return os.path.join(d, "data")

    def read_op(self, name: str, op: dict):
        if op["kind"] == "count":
            return self.scalar(name, {"kind": "count", "flt": None})
        if op["kind"] == "query":
            return self.scalar(name, op, limit=50)
        return self.dense(name, {**op, "metric": "COSINE"})

    def final_rows(self, name: str):
        df = self.mgr.read(name).select("id", "price", "cat", "text")
        return [tuple(r) for r in df.collect()]

    # ------------------------------------------------------- dedup ops
    def dedup(self, name: str, op: dict, n_docs: int) -> set:
        base = self.tr.call("manager.read", self.mgr.read, name)
        blocks = ", ".join(str(b) for b in op["blocks"])
        docs = self.tr.call("operators.query.build", Q.query, base,
                            f"block in [{blocks}]")
        kind = op["kind"]
        call = self.tr.call
        if kind == "exact":
            df = call("operators.dedup.build", D.exact_duplicates, docs,
                      "id", "text")
            return {tuple(r["dup_ids"]) for r in self.tr.action(df)}
        if kind == "minhash":
            df = call("operators.dedup.build", D.minhash_lsh_dedup, docs,
                      "id", "text", threshold=refs.DedupReference.MINHASH_T,
                      n_docs=n_docs)
        elif kind == "simhash":
            df = call("operators.dedup.build", D.simhash_near_dups, docs,
                      "id", "text", max_hamming=3, bits=64, n_docs=n_docs)
        elif kind == "ngram":
            df = call("operators.dedup.build", D.ngram_jaccard_pairs, docs,
                      "id", "text", n=3,
                      threshold=refs.DedupReference.NGRAM_T, n_docs=n_docs)
        else:
            df = call("operators.dedup.build", D.embedding_near_dups, docs,
                      "id", "emb", block_col="block",
                      threshold=refs.DedupReference.EMB_T)
        return {(r["id_a"], r["id_b"]) for r in self.tr.action(df)}

