"""Independent references for every benchmark op, and the checkers that
compare the engine's results with them.

Nothing here imports Spark or the engine. Rankings come from numpy (dense)
and a pure-Python BM25; filters and counts come from DuckDB over the
generated Arrow tables; the written collection is replayed from the write
schedule; dedup passes are judged against the planted families. Checks run
after the timed window, so they cost the measured throughput nothing.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa

from perfbench import gen

K1 = 1.2
B = 0.75
RRF_K = 60
FUSE_WEIGHTS = (0.6, 0.4)      # dense, text
TOL = 1e-6


def tokenize(text: str) -> list[str]:
    """The standard analyzer as documented: lowercase, split on runs of
    non-alphanumerics."""
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


# -------------------------------------------------------------- top-k check

def check_topk(got: list[tuple[int, float]], ref: dict[int, float], k: int,
               higher_better: bool = True) -> str | None:
    """``got`` is the engine's ranked (id, score) list; ``ref`` maps every
    eligible id to its reference score. Accepts any valid top-k: scores
    agree within a relative tolerance, the order is monotone, and no
    eligible id scores strictly better than the last returned one without
    being returned. Returns None when valid, else the reason."""
    want = min(k, len(ref))
    if len(got) != want:
        return f"{len(got)} hits, expected {want}"
    sign = 1.0 if higher_better else -1.0
    prev = math.inf
    for i, s in got:
        if i not in ref:
            return f"id {i} is not eligible"
        if abs(s - ref[i]) > TOL * max(1.0, abs(ref[i])):
            return f"id {i} scored {s}, reference {ref[i]}"
        if sign * s > prev + TOL * max(1.0, abs(s)):
            return "hits are not in rank order"
        prev = sign * s
    if not got:
        return None
    last = sign * got[-1][1]
    returned = {i for i, _ in got}
    for i, s in ref.items():
        if sign * s > last + TOL * max(1.0, abs(s)) and i not in returned:
            return f"id {i} (score {s}) beats the last hit but is missing"
    return None


# -------------------------------------------------------------------- dense

def dense_scores(vecs: np.ndarray, ids: np.ndarray, q: list[float],
                 metric: str) -> dict[int, float]:
    v = vecs.astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    if metric == "COSINE":
        s = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
    elif metric == "L2":
        s = ((v - qv) ** 2).sum(axis=1)
    else:
        raise ValueError(metric)
    return dict(zip(ids.tolist(), s.tolist()))


def ranked(scores: dict[int, float], k: int, higher_better: bool = True
           ) -> list[tuple[int, float]]:
    """Exact top-k with id tie-break."""
    sign = -1.0 if higher_better else 1.0
    return sorted(scores.items(), key=lambda kv: (sign * kv[1], kv[0]))[:k]


# --------------------------------------------------------------------- BM25

class BM25:
    """Pure-Python BM25 over a fixed corpus: idf = ln(1 + (N - df + 0.5) /
    (df + 0.5)), k1 = 1.2, b = 0.75; every query-term occurrence adds its
    term's contribution."""

    def __init__(self, ids: list[int], texts: list[str]):
        self.postings: dict[str, list[tuple[int, int]]] = {}
        self.dl: dict[int, int] = {}
        for i, t in zip(ids, texts):
            toks = tokenize(t)
            self.dl[i] = len(toks)
            for term, tf in Counter(toks).items():
                self.postings.setdefault(term, []).append((i, tf))
        self.n = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n

    def scores(self, query: str, eligible: set[int] | None = None
               ) -> dict[int, float]:
        out: dict[int, float] = {}
        for term in tokenize(query):
            post = self.postings.get(term, [])
            idf = math.log(1 + (self.n - len(post) + 0.5) / (len(post) + 0.5))
            for i, tf in post:
                if eligible is not None and i not in eligible:
                    continue
                norm = K1 * (1 - B + B * self.dl[i] / self.avgdl)
                out[i] = out.get(i, 0.0) + idf * tf * (K1 + 1) / (tf + norm)
        return out


# ------------------------------------------------------------------- fusion

def rrf(branches: list[list[tuple[int, float]]]) -> dict[int, float]:
    out: dict[int, float] = {}
    for br in branches:
        for rank, (i, _) in enumerate(br, start=1):
            out[i] = out.get(i, 0.0) + 1.0 / (RRF_K + rank)
    return out


def weighted_arctan(branches: list[list[tuple[int, float]]],
                    weights=FUSE_WEIGHTS) -> dict[int, float]:
    out: dict[int, float] = {}
    for br, w in zip(branches, weights):
        for i, s in br:
            out[i] = out.get(i, 0.0) + w * (0.5 + math.atan(s) / math.pi)
    return out


# ------------------------------------------------------------ serve_small

class ServeReference:
    """References for the ``serve_small`` ops over one generated table."""

    def __init__(self, table: pa.Table):
        self.ids = table.column("id").to_numpy()
        self.vecs = np.asarray(table.column("vec").combine_chunks()
                               .flatten().to_numpy()).reshape(-1, gen.DIM)
        self.bm25 = BM25(self.ids.tolist(), table.column("text").to_pylist())
        self.con = duckdb.connect()
        self.con.register("docs", table)
        self._masks: dict[str, set[int]] = {}

    def close(self) -> None:
        self.con.close()

    def ids_where(self, sql: str) -> set[int]:
        if sql not in self._masks:
            self._masks[sql] = {r[0] for r in self.con.execute(
                f"SELECT id FROM docs WHERE {sql}").fetchall()}
        return self._masks[sql]

    def dense(self, qvec, metric: str, sql: str | None) -> dict[int, float]:
        scores = dense_scores(self.vecs, self.ids, qvec, metric)
        if sql is None:
            return scores
        keep = self.ids_where(sql)
        return {i: s for i, s in scores.items() if i in keep}

    def check(self, op: dict, got) -> str | None:
        cls = op["cls"]
        flt = op.get("flt")
        sql = flt["sql"] if flt else None
        if cls == "scalar":
            if op["kind"] == "count":
                want = self.con.execute(
                    f"SELECT count(*) FROM docs WHERE {sql}").fetchone()[0]
                return None if got == want else f"count {got} != {want}"
            want = [tuple(r) for r in self.con.execute(
                f"SELECT id, price FROM docs WHERE {sql} "
                f"ORDER BY id LIMIT 20").fetchall()]
            return None if got == want else "query rows differ"
        if cls == "dense":
            return check_topk(got, self.dense(op["qvec"], op["metric"], sql),
                              10, higher_better=op["metric"] != "L2")
        if cls == "text":
            elig = self.ids_where(sql) if sql else None
            return check_topk(got, self.bm25.scores(op["text"], elig), 10)
        dense = ranked(self.dense(op["qvec"], "COSINE", None), 10)
        text = ranked(self.bm25.scores(op["text"]), 10)
        fused = (rrf([dense, text]) if op["fuse"] == "rrf"
                 else weighted_arctan([dense, text]))
        return check_topk(got, fused, 10)


# ------------------------------------------------------- batch_rw: writes

def _row_checksum(rows) -> str:
    """Order-insensitive checksum over (id, price, cat, text) rows."""
    acc = 0
    for r in rows:
        h = hashlib.sha256(repr((int(r[0]), round(float(r[1]), 6),
                                 r[2], r[3])).encode()).digest()
        acc ^= int.from_bytes(h[:16], "little")
    return f"{acc:032x}"


class LiveModel:
    """Python model of the written collection: replays the write schedule
    and yields the table after each write (version 0 = initial rows)."""

    def __init__(self, seed: int, initial: pa.Table):
        self.seed = seed
        self.rows = {r["id"]: r for r in initial.to_pylist()}
        self.versions: list[pa.Table] = [initial]

    def apply(self, j: int, op: dict) -> None:
        if op["kind"] in ("insert", "upsert"):
            for r in gen.rows_for_ids(self.seed, op["ids"], j).to_pylist():
                self.rows[r["id"]] = r
        elif op["kind"] == "partial_update":
            for i, p in zip(op["ids"], op["prices"]):
                self.rows[i] = {**self.rows[i], "price": p}
        else:
            for i in op["ids"]:
                del self.rows[i]
        ordered = [self.rows[i] for i in sorted(self.rows)]
        self.versions.append(pa.Table.from_pylist(
            ordered, schema=self.versions[0].schema))


def check_read(op: dict, got, versions: list[pa.Table]) -> str | None:
    """A read that overlapped writes must match one of the versions that
    were possibly visible while it ran."""
    reasons = []
    for t in versions:
        if op["kind"] == "count":
            why = None if got == t.num_rows else f"count {got}"
        else:
            con = duckdb.connect()
            con.register("docs", t)
            sql = op["flt"]["sql"]
            if op["kind"] == "query":
                want = [tuple(r) for r in con.execute(
                    f"SELECT id, price FROM docs WHERE {sql} "
                    f"ORDER BY id LIMIT 50").fetchall()]
                why = None if got == want else "query rows differ"
            else:
                keep = {r[0] for r in con.execute(
                    f"SELECT id FROM docs WHERE {sql}").fetchall()}
                ids = t.column("id").to_numpy()
                vecs = np.asarray(t.column("vec").combine_chunks().flatten()
                                  .to_numpy()).reshape(-1, gen.DIM)
                scores = dense_scores(vecs, ids, op["qvec"], "COSINE")
                why = check_topk(got, {i: s for i, s in scores.items()
                                       if i in keep}, 10)
            con.close()
        if why is None:
            return None
        reasons.append(why)
    return "matches no visible version: " + "; ".join(reasons)


def check_final(got_rows, model_table: pa.Table, sample_ids) -> str | None:
    """Final state after the writer stopped: count, a PK sample and the
    order-insensitive checksum must equal the model's."""
    if len(got_rows) != model_table.num_rows:
        return f"final count {len(got_rows)} != {model_table.num_rows}"
    want = zip(*(model_table.column(c).to_pylist()
                 for c in ("id", "price", "cat", "text")))
    if _row_checksum(got_rows) != _row_checksum(want):
        return "final checksum differs"
    by_id = {r[0]: r for r in got_rows}
    model = {r["id"]: r for r in model_table.to_pylist()}
    for i in sample_ids:
        if i not in model:
            continue
        g, m = by_id.get(i), model[i]
        if g is None or (round(g[1], 6), g[2], g[3]) != (
                round(m["price"], 6), m["cat"], m["text"]):
            return f"pk {i} differs"
    return None


# ---------------------------------------------------- batch_rw: dedup

def shingles(text: str, n: int = 3) -> set[str]:
    toks = tokenize(text)
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


class DedupReference:
    """Judges dedup passes against the planted families. Unrelated
    documents share no 3-shingle in practice, so every pair a shingle or
    embedding pass may return lies inside a family; within families the
    exact similarity is computed here. SimHash is judged on recall of the
    exact families only (see ``check``)."""

    MINHASH_T = 0.7
    NGRAM_T = 0.5
    EMB_T = 0.95

    def __init__(self, table: pa.Table, truth: dict):
        self.truth = truth
        self.text = dict(zip(table.column("id").to_pylist(),
                             table.column("text").to_pylist()))
        ids = table.column("id").to_numpy()
        self.pos = {int(i): j for j, i in enumerate(ids)}
        self.emb = np.asarray(table.column("emb").combine_chunks().flatten()
                              .to_numpy()).reshape(-1, gen.DIM)
        self.block = table.column("block").to_numpy()
        fam = [tuple(g) for g in truth["exact"]] + [tuple(p)
                                                     for p in truth["near"]]
        self.related = {(a, b) for g in fam for a in g for b in g if a < b}
        self.exact_pairs = {(a, b) for g in truth["exact"]
                            for a in g for b in g if a < b}
        self.shingles = {}

    def _sh(self, i: int) -> set[str]:
        if i not in self.shingles:
            self.shingles[i] = shingles(self.text[i])
        return self.shingles[i]

    def _jac(self, a: int, b: int) -> float:
        return jaccard(self._sh(a), self._sh(b))

    def _cos(self, a: int, b: int) -> float:
        u, v = (self.emb[self.pos[a]].astype(np.float64),
                self.emb[self.pos[b]].astype(np.float64))
        return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))

    def _in(self, p: tuple, blocks: set[int]) -> bool:
        return int(self.block[self.pos[p[0]]]) in blocks

    def expected(self, kind: str, blocks: set[int]) -> set | None:
        """The exact answer where the pass is exact (None for LSH)."""
        if kind == "exact":
            return {tuple(g) for g in self.truth["exact"]
                    if self._in(g, blocks)}
        if kind == "ngram":
            return {p for p in self.related if self._in(p, blocks)
                    and self._jac(*p) >= self.NGRAM_T}
        if kind == "embedding":
            return {p for p in self.related if self._in(p, blocks)
                    and self._cos(*p) >= self.EMB_T}
        return None

    def check(self, op: dict, got: set) -> tuple[str | None, int]:
        """Returns (reason or None, verified count). ``got`` is a set of
        sorted id tuples (groups for ``exact``, pairs otherwise)."""
        kind, blocks = op["kind"], set(op["blocks"])
        if kind == "exact":
            want = self.expected(kind, blocks)
            return (None if got == want else "exact groups differ",
                    len(got & want))
        outside = {p for p in got
                   if not all(i in self.pos
                              and int(self.block[self.pos[i]]) in blocks
                              for i in p)}
        if outside:
            return f"{len(outside)} pairs outside the pass's blocks", 0
        if kind == "simhash":
            # SimHash reports every pair within the Hamming bound of its
            # signatures, which unrelated documents can meet by chance:
            # such pairs are unverified candidates (they lower
            # ``operators.dedup.precision``), not wrong answers. Every
            # planted exact pair must be found.
            missing = {p for p in self.exact_pairs
                       if self._in(p, blocks)} - got
            return (f"{len(missing)} exact pairs missing" if missing
                    else None, len(got & self.related))
        stray = {p for p in got if p not in self.related}
        if stray:
            return f"{len(stray)} pairs outside every planted family", 0
        if kind == "minhash":
            bad = [p for p in got if self._jac(*p) < self.MINHASH_T - TOL]
            return (f"{len(bad)} pairs below the threshold" if bad else None,
                    len(got) - len(bad))
        want = self.expected(kind, blocks)
        return (None if got == want else f"{kind} pairs differ",
                len(got & want))
