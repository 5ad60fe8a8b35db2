"""Seeded inputs and op schedules for the benchmark workloads.

Everything here is pure numpy/pyarrow/Python: the same seed gives the same
tables and the same op sequences, byte for byte, and the engine only ever
sees what these functions return. Every filter is produced twice, as a
Milvus filter expression for the engine and as a DuckDB predicate for the
reference, so the reference never parses the engine's language.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow as pa

DIM = 64
VOCAB = 2000
CATEGORIES = ("alpha", "alpine", "bravo", "brass", "charlie", "delta",
              "echo", "foxtrot")
LIKE_PREFIXES = ("al", "br", "ch", "de")
TAGS = ("red", "green", "blue", "cyan", "gold", "gray")
SOURCES = ("web", "book", "news", "code")
FILTER_KINDS = ("range", "in", "like", "json", "array", "geo")

SERVE_ROWS = 5000
# one cycle per serve_small caller. A run is a whole number of rounds, each
# one cycle per caller, and every round of a seed repeats the same classes,
# filter kinds, metrics and fusions (the seed's template) with fresh vectors,
# texts and filter values, so the op mix of a run does not depend on how many
# rounds fit in the window. Half the ops are dense searches, so the median op
# falls well inside the dense block, away from the class boundaries.
SERVE_CYCLES = (("scalar", "dense", "text", "dense"),
                ("scalar", "dense", "hybrid", "dense"))
SERVE_CALLERS = len(SERVE_CYCLES)

LIVE_ROWS = 2000           # batch_rw: initial rows of the written collection
CORPUS_DOCS = 6000         # batch_rw: dedup corpus size
CORPUS_BUCKETS = 64        # embedding near-dup blocks
DEDUP_PASSES = ("exact", "minhash", "simhash", "ngram", "embedding")
# the dedup callers and the passes each one runs per cycle
DEDUP_CALLERS = (("exact", "minhash", "simhash"), ("ngram", "embedding"))
# the writer's cycle is one write, of a kind drawn from the seed; ten seeds
# cover all four
WRITES = ("insert", "upsert", "partial_update", "delete")
WRITE_CYCLE = 1
# one cycle per reader, repeated like the serve cycles: two thirds dense
# searches, so the median read falls inside that class
READ_CYCLES = (("dense", "count", "dense"), ("dense", "query", "dense"))
READ_CYCLE = 3
READERS = len(READ_CYCLES)
READ_FILTER_KINDS = ("range", "in", "json", "array")
INSERT_ROWS = 200
UPSERT_ROWS = 100          # half existing pks, half new
PARTIAL_ROWS = 100
DELETE_ROWS = 40

# the round the untimed warm-up ops are drawn from: no run reaches it
WARM_ROUND = 10**6
# ops planned per caller: ten rounds or more of every caller's cycle. The
# writer's 40 deletes of 40 rows leave 400 of the initial 2,000 live.
OPS_PER_CALLER = 40


def _words() -> np.ndarray:
    return np.array([f"w{i:04d}" for i in range(VOCAB)])


def _zipf_p() -> np.ndarray:
    p = 1.0 / (np.arange(VOCAB) + 10.0)
    return p / p.sum()


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    words = _words()
    lens = rng.integers(14, 29, n)
    draws = rng.choice(VOCAB, size=(n, 28), p=_zipf_p())
    return [" ".join(words[draws[i, :lens[i]]]) for i in range(n)]


def _list_array(values: np.ndarray, typ: pa.DataType) -> pa.ListArray:
    n, d = values.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(values.ravel(), typ))


def docs_table(seed: int, n: int, stream: str = "docs") -> pa.Table:
    """``n`` collection rows with ids ``0..n-1``: a 64-d float vector,
    ~20-word Zipf text, and the scalar, JSON, array and WKT point fields the
    filters touch. ``x``/``y`` repeat the point's coordinates for the
    reference; they are not sent to the engine."""
    rng = np.random.default_rng([seed, _stream_id(stream)])
    vec = rng.standard_normal((n, DIM)).astype(np.float32)
    xy = np.round(rng.uniform(0.0, 100.0, (n, 2)), 4)
    ntags = rng.integers(1, 4, n)
    tag_draw = rng.permuted(np.tile(np.arange(len(TAGS)), (n, 1)), axis=1)
    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "vec": _list_array(vec, pa.float32()),
        "text": pa.array(_texts(rng, n)),
        "price": pa.array(np.round(rng.uniform(0.0, 100.0, n), 2)),
        "cat": pa.array(np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES),
                                                         n)]),
        "meta": pa.array([json.dumps({"score": int(s), "src": SOURCES[t]})
                          for s, t in zip(rng.integers(0, 10, n),
                                          rng.integers(0, len(SOURCES), n))]),
        "tags": pa.array([[TAGS[j] for j in tag_draw[i, :ntags[i]]]
                          for i in range(n)], pa.list_(pa.string())),
        "loc": pa.array([f"POINT ({x:.4f} {y:.4f})" for x, y in xy]),
        "x": pa.array(xy[:, 0]),
        "y": pa.array(xy[:, 1]),
    })


ENGINE_DOC_COLUMNS = ("id", "vec", "text", "price", "cat", "meta", "tags",
                      "loc")


def _stream_id(stream: str) -> int:
    return int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4],
                          "little")


# ------------------------------------------------------------------ filters

def _polygon(rng: np.random.Generator) -> list[tuple[float, float]]:
    """A star-shaped hexagon; vertex coordinates carry an odd fifth decimal
    so no generated point (four decimals) lies on an edge's endpoint."""
    cx, cy = rng.uniform(25.0, 75.0, 2)
    r = rng.uniform(12.0, 25.0, 6)
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, 6))
    return [(round(cx + ri * np.cos(a), 3) + 0.00005,
             round(cy + ri * np.sin(a), 3) + 0.00005)
            for ri, a in zip(r, ang)]


def _ray_cast_sql(verts: list[tuple[float, float]]) -> str:
    terms = []
    n = len(verts)
    for i in range(n):
        (xi, yi), (xj, yj) = verts[i], verts[(i + 1) % n]
        if yi == yj:
            continue
        terms.append(
            f"(CASE WHEN (({yi!r} > y) <> ({yj!r} > y)) AND "
            f"(x < ({xj - xi!r}) * (y - {yi!r}) / ({yj - yi!r}) + {xi!r}) "
            f"THEN 1 ELSE 0 END)")
    return f"(({' + '.join(terms)}) % 2 = 1)"


def make_filter(rng: np.random.Generator, kind: str) -> dict:
    """One filter as ``{"kind", "expr", "sql"}``."""
    if kind == "range":
        lo = round(float(rng.uniform(0, 70)), 2)
        hi = round(lo + 30.0, 2)
        return {"kind": kind, "expr": f"price >= {lo} and price < {hi}",
                "sql": f"price >= {lo} AND price < {hi}"}
    if kind == "in":
        cats = sorted(rng.choice(CATEGORIES, 3, replace=False).tolist())
        quoted = ", ".join(f'"{c}"' for c in cats)
        return {"kind": kind, "expr": f"cat in [{quoted}]",
                "sql": "cat IN (" + ", ".join(f"'{c}'" for c in cats) + ")"}
    if kind == "like":
        p = str(rng.choice(LIKE_PREFIXES))
        return {"kind": kind, "expr": f'cat like "{p}%"',
                "sql": f"cat LIKE '{p}%'"}
    if kind == "json":
        if rng.random() < 0.5:
            v = int(rng.integers(2, 8))
            return {"kind": kind, "expr": f'meta["score"] >= {v}',
                    "sql": f"CAST(json_extract(meta, '$.score') AS BIGINT)"
                           f" >= {v}"}
        s = str(rng.choice(SOURCES))
        return {"kind": kind, "expr": f'meta["src"] == "{s}"',
                "sql": f"json_extract_string(meta, '$.src') = '{s}'"}
    if kind == "array":
        t = str(rng.choice(TAGS))
        return {"kind": kind, "expr": f'array_contains(tags, "{t}")',
                "sql": f"list_contains(tags, '{t}')"}
    if kind == "geo":
        verts = _polygon(rng)
        ring = verts + [verts[0]]
        wkt = "POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"
        return {"kind": kind, "expr": f"st_contains(loc, '{wkt}')",
                "sql": _ray_cast_sql(verts)}
    raise ValueError(f"unknown filter kind {kind!r}")


def _query_text(rng: np.random.Generator) -> str:
    words = _words()
    # three mid-frequency terms: each in tens to hundreds of documents
    return " ".join(words[rng.integers(20, 600, 3)])


def _unit_vec(rng: np.random.Generator) -> list[float]:
    return [round(float(v), 6) for v in rng.standard_normal(DIM)]


# ------------------------------------------------------------ op schedules

def _filter_slots(rng: np.random.Generator, n: int,
                  kinds: tuple[str, ...]) -> list[str]:
    """Filter kinds for ``n`` filtered slots of a round: every kind once
    (in seeded order) before any repeats."""
    out: list[str] = []
    while len(out) < n:
        out += [str(k) for k in rng.permutation(kinds)]
    return out[:n]


def serve_template(seed: int) -> list[list[dict]]:
    """The seed's ``serve_small`` round: per caller, the kind of each op of
    its cycle. The scalar and dense ops of a round take all six filter
    kinds; which op gets which, the dense metric that is L2, whether the
    text search is filtered, the scalar op that counts and the fusion are
    drawn from the seed."""
    rng = np.random.default_rng([seed, _stream_id("serve-template")])
    slots = [(c, s) for c, cyc in enumerate(SERVE_CYCLES)
             for s, cls in enumerate(cyc) if cls in ("scalar", "dense")]
    kinds = dict(zip(slots, _filter_slots(rng, len(slots), FILTER_KINDS)))
    dense = [p for p in slots if SERVE_CYCLES[p[0]][p[1]] == "dense"]
    l2 = dense[int(rng.integers(len(dense)))]
    counting = int(rng.integers(SERVE_CALLERS))
    text_flt = (str(rng.choice(FILTER_KINDS)) if rng.random() < 0.5
                else None)
    fuse = "weighted" if rng.random() < 0.5 else "rrf"
    out = []
    for c, cyc in enumerate(SERVE_CYCLES):
        ops = []
        for s, cls in enumerate(cyc):
            op = {"cls": cls}
            if cls == "scalar":
                op["kind"] = "count" if c == counting else "query"
                op["flt"] = kinds[(c, s)]
            elif cls == "dense":
                op["metric"] = "L2" if (c, s) == l2 else "COSINE"
                op["flt"] = kinds[(c, s)]
            elif cls == "text":
                op["flt"] = text_flt
            else:
                op["fuse"] = fuse
            ops.append(op)
        out.append(ops)
    return out


def serve_schedule(seed: int, caller: int, n: int = OPS_PER_CALLER,
                   first_round: int = 0) -> list[dict]:
    """Caller ``caller``'s closed-loop op sequence for ``serve_small``:
    the seed's template cycle, round after round from ``first_round``,
    with each round's vectors, texts and filter values drawn afresh."""
    cycle = serve_template(seed)[caller]
    ops = []
    for i in range(n):
        r, s = divmod(i, len(cycle))
        r += first_round
        if s == 0:
            rng = np.random.default_rng([seed, _stream_id("serve"), caller,
                                         r])
        op = dict(cycle[s])
        if op.get("flt"):
            op["flt"] = make_filter(rng, op["flt"])
        if op["cls"] in ("dense", "hybrid"):
            op["qvec"] = _unit_vec(rng)
        if op["cls"] in ("text", "hybrid"):
            op["text"] = _query_text(rng)
        ops.append(op)
    return ops


def write_schedule(seed: int, n: int = OPS_PER_CALLER,
                   rows: int = LIVE_ROWS) -> list[dict]:
    """The ``batch_rw`` writer's op sequence over a collection that starts
    with ids ``0..rows-1``: every write is of the kind the seed draws. Ids
    are planned up front: inserts take fresh ids past the initial rows;
    upserts replace existing rows and add fresh ones; partial updates and
    deletes pick from the ids that are live under the plan at that point."""
    rng = np.random.default_rng([seed, _stream_id("write")])
    live = list(range(rows))
    next_id = rows
    first = int(rng.integers(len(WRITES)))
    ops = []
    for i in range(n):
        kind = WRITES[first]
        op = {"cls": "write", "kind": kind}
        if kind == "insert":
            op["ids"] = list(range(next_id, next_id + INSERT_ROWS))
            next_id += INSERT_ROWS
            live.extend(op["ids"])
        elif kind == "upsert":
            old = rng.choice(len(live), UPSERT_ROWS // 2, replace=False)
            fresh = list(range(next_id, next_id + UPSERT_ROWS // 2))
            next_id += len(fresh)
            op["ids"] = sorted(live[j] for j in old) + fresh
            live.extend(fresh)
        elif kind == "partial_update":
            pick = rng.choice(len(live), PARTIAL_ROWS, replace=False)
            op["ids"] = sorted(live[j] for j in pick)
            op["prices"] = np.round(rng.uniform(0, 100, PARTIAL_ROWS),
                                    2).tolist()
        else:
            pick = set(rng.choice(len(live), DELETE_ROWS,
                                  replace=False).tolist())
            op["ids"] = sorted(live[j] for j in pick)
            live = [v for j, v in enumerate(live) if j not in pick]
        ops.append(op)
    return ops


def read_schedule(seed: int, reader: int, n: int = OPS_PER_CALLER,
                  first_round: int = 0) -> list[dict]:
    """A ``batch_rw`` reader's op sequence over the written collection:
    its cycle round after round, each filtered read's filter kind fixed by
    the seed (a round takes every kind of ``READ_FILTER_KINDS``) and its
    values drawn afresh each round."""
    trng = np.random.default_rng([seed, _stream_id("read-template")])
    slots = [(c, s) for c, cyc in enumerate(READ_CYCLES)
             for s, kind in enumerate(cyc) if kind != "count"]
    kinds = dict(zip(slots, _filter_slots(trng, len(slots),
                                          READ_FILTER_KINDS)))
    cycle = READ_CYCLES[reader]
    ops = []
    for i in range(n):
        r, s = divmod(i, len(cycle))
        r += first_round
        if s == 0:
            rng = np.random.default_rng([seed, _stream_id("read"), reader,
                                         r])
        kind = cycle[s]
        op = {"cls": "read", "kind": kind}
        if kind != "count":
            op["flt"] = make_filter(rng, kinds[(reader, s)])
        if kind == "dense":
            op["qvec"] = _unit_vec(rng)
        ops.append(op)
    return ops


def dedup_schedule(seed: int, caller: int, n: int = OPS_PER_CALLER
                   ) -> list[dict]:
    """A ``batch_rw`` dedup caller's passes. Each pass runs over a seeded
    half of the embedding blocks, so no two passes see the same input and
    none is served from a plan-keyed cache of an earlier one."""
    rng = np.random.default_rng([seed, _stream_id("dedup"), caller])
    kinds = DEDUP_CALLERS[caller]
    return [{"cls": "dedup", "kind": kinds[i % len(kinds)],
             "blocks": sorted(rng.choice(CORPUS_BUCKETS, CORPUS_BUCKETS // 2,
                                         replace=False).tolist())}
            for i in range(n)]


def rows_for_ids(seed: int, ids: list[int], salt: int) -> pa.Table:
    """Full rows for a write batch: content depends on (seed, salt), ids are
    given. Vectors, text and scalars are drawn like ``docs_table``."""
    t = docs_table(seed, len(ids), stream=f"batch-{salt}")
    return t.set_column(0, "id", pa.array(ids, pa.int64()))


# ------------------------------------------------------------ dedup corpus

def dedup_corpus(seed: int, n: int = CORPUS_DOCS) -> tuple[pa.Table, dict]:
    """A corpus with planted duplicate families.

    5% of base documents get an exact copy (same tokens, different case and
    punctuation); another 5% get a near copy whose last word is replaced
    (one 3-shingle differs) and 2% a near copy with one middle word
    replaced (three 3-shingles differ). Copies carry the source's embedding
    (exact) or the source's embedding plus small noise (near), and every
    family shares one embedding block. Ids are shuffled so the canonical
    (lowest) id is not always the source.

    Returns the table (id, text, emb, block) and the planted truth:
    ``{"exact": [[ids...], ...], "near": [[a, b], ...]}`` where ``near``
    lists source/copy pairs of the near edits."""
    rng = np.random.default_rng([seed, _stream_id("corpus")])
    words = _words()
    n_exact, n_tail, n_mid = int(n * 0.05), int(n * 0.05), int(n * 0.02)
    n_base = n - n_exact - n_tail - n_mid
    texts = _texts(rng, n_base)
    emb = rng.standard_normal((n_base, DIM)).astype(np.float32)
    block = rng.integers(0, CORPUS_BUCKETS, n_base)
    src = rng.permutation(n_base)[:n_exact + n_tail + n_mid]
    new_texts, new_emb, new_block, origin = [], [], [], []
    for j, s in enumerate(src):
        toks = texts[s].split()
        if j < n_exact:
            variant = toks[0].upper() + ", " + " ".join(toks[1:]) + "."
            e = emb[s]
        else:
            pos = len(toks) - 1 if j < n_exact + n_tail else len(toks) // 2
            repl = words[int(rng.integers(VOCAB))]
            while repl == toks[pos]:
                repl = words[int(rng.integers(VOCAB))]
            toks[pos] = repl
            variant = " ".join(toks)
            e = (emb[s] + 0.05 * rng.standard_normal(DIM)).astype(np.float32)
        new_texts.append(variant)
        new_emb.append(e)
        new_block.append(block[s])
        origin.append(int(s))
    all_texts = texts + new_texts
    all_emb = np.vstack([emb, np.array(new_emb, dtype=np.float32)])
    all_block = np.concatenate([block, np.array(new_block)])
    ids = rng.permutation(n).astype(np.int64)   # position -> id
    exact = {}
    near = []
    for j, s in enumerate(origin):
        a, b = int(ids[s]), int(ids[n_base + j])
        if j < n_exact:
            exact.setdefault(a, [a]).append(b)
        else:
            near.append(sorted([a, b]))
    table = pa.table({
        "id": pa.array(ids),
        "text": pa.array(all_texts),
        "emb": _list_array(all_emb, pa.float32()),
        "block": pa.array(all_block.astype(np.int64)),
    }).sort_by("id")
    return table, {"exact": sorted(sorted(g) for g in exact.values()),
                   "near": sorted(near)}


# ------------------------------------------------------------------ digest

def digest(*parts) -> str:
    """sha256 over Arrow tables (IPC bytes) and JSON-able values."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, p.schema) as w:
                w.write_table(p)
            h.update(sink.getvalue().to_pybytes())
        else:
            h.update(json.dumps(p, sort_keys=True).encode())
    return h.hexdigest()
