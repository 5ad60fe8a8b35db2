"""The benchmark's own tests: seeded inputs are reproducible, and every
reference checker rejects a corrupted result, the closed loop runs whole
rounds, and the CPU figure counts Spark's Python workers (the one test that
starts a Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen, refs  # noqa: E402


def _inputs(seed: int) -> str:
    corpus, truth = gen.dedup_corpus(seed, n=400)
    return gen.digest(gen.docs_table(seed, 300),
                      [gen.serve_schedule(seed, c, n=40) for c in range(2)],
                      gen.write_schedule(seed, n=12),
                      gen.read_schedule(seed, 0, n=12),
                      [gen.dedup_schedule(seed, d, n=6) for d in range(2)],
                      corpus, truth)


def test_same_seed_same_inputs_and_ops():
    assert _inputs(7) == _inputs(7)
    assert gen.serve_schedule(7, 0, n=40) == gen.serve_schedule(7, 0, n=40)


def test_other_seed_other_inputs_and_ops():
    assert _inputs(7) != _inputs(8)
    assert gen.serve_schedule(7, 0, n=40) != gen.serve_schedule(8, 0, n=40)
    assert gen.write_schedule(7, n=8) != gen.write_schedule(8, n=8)


def _kinds(op: dict) -> dict:
    """An op without its drawn values: what a round template fixes."""
    out = {k: v for k, v in op.items() if k not in ("qvec", "text", "ids",
                                                    "prices")}
    if op.get("flt"):
        out["flt"] = op["flt"]["kind"]
    return out


def test_every_round_has_the_same_op_kinds():
    for seed in range(6):
        for c, cycle in enumerate(gen.SERVE_CYCLES):
            ops = gen.serve_schedule(seed, c, n=3 * len(cycle))
            rounds = [ops[r * len(cycle):(r + 1) * len(cycle)]
                      for r in range(3)]
            assert [[_kinds(o) for o in r] for r in rounds[1:]] == [
                [_kinds(o) for o in rounds[0]]] * 2
            assert rounds[0] != rounds[1]       # fresh values each round
        for r in range(gen.READERS):
            ops = gen.read_schedule(seed, r, n=2 * gen.READ_CYCLE)
            assert ([_kinds(o) for o in ops[:gen.READ_CYCLE]]
                    == [_kinds(o) for o in ops[gen.READ_CYCLE:]])
        assert len({o["kind"] for o in gen.write_schedule(seed, n=4)}) == 1


def test_schedules_cover_every_class_and_filter():
    for seed in range(6):
        rnd = [o for c, cyc in enumerate(gen.SERVE_CYCLES)
               for o in gen.serve_schedule(seed, c, n=len(cyc))]
        assert {o["cls"] for o in rnd} == {"scalar", "dense", "text",
                                           "hybrid"}
        # one round takes every filter kind on its scalar and dense ops
        assert {o["flt"]["kind"] for o in rnd
                if o["cls"] in ("scalar", "dense")} == set(gen.FILTER_KINDS)
        assert {o["metric"] for o in rnd if o["cls"] == "dense"} == {
            "COSINE", "L2"}
        assert {o["kind"] for o in rnd if o["cls"] == "scalar"} == {
            "count", "query"}
        reads = [o for r in range(gen.READERS)
                 for o in gen.read_schedule(seed, r, n=gen.READ_CYCLE)]
        assert {o["flt"]["kind"] for o in reads if o.get("flt")} == set(
            gen.READ_FILTER_KINDS)
    # across seeds: every filter kind on each class, both fusions, filtered
    # and unfiltered text search, and every write kind
    ops = [o for seed in range(16) for c in range(gen.SERVE_CALLERS)
           for o in gen.serve_schedule(seed, c, n=4)]
    for cls in ("scalar", "dense"):
        kinds = {o["flt"]["kind"] for o in ops if o["cls"] == cls}
        assert kinds == set(gen.FILTER_KINDS), cls
    assert {o["fuse"] for o in ops if o["cls"] == "hybrid"} == {"rrf",
                                                                 "weighted"}
    assert {bool(o["flt"]) for o in ops if o["cls"] == "text"} == {True,
                                                                    False}
    first = {gen.write_schedule(s, n=1)[0]["kind"] for s in range(16)}
    assert first == set(gen.WRITES)
    for s in range(16):         # a full schedule of one kind stays valid
        assert len(gen.write_schedule(s)) == gen.OPS_PER_CALLER


# ------------------------------------------------------------- corruption

@pytest.fixture(scope="module")
def serve():
    table = gen.docs_table(11, 400)
    ref = refs.ServeReference(table)
    yield ref
    ref.close()


def _answer(ref: refs.ServeReference, op: dict):
    """What a correct engine returns, built from the reference."""
    sql = op["flt"]["sql"] if op.get("flt") else None
    if op["cls"] == "scalar":
        if op["kind"] == "count":
            return len(ref.ids_where(sql))
        return [tuple(r) for r in ref.con.execute(
            f"SELECT id, price FROM docs WHERE {sql} ORDER BY id LIMIT 20"
        ).fetchall()]
    if op["cls"] == "dense":
        return refs.ranked(ref.dense(op["qvec"], op["metric"], sql), 10,
                           higher_better=op["metric"] != "L2")
    if op["cls"] == "text":
        elig = ref.ids_where(sql) if sql else None
        return refs.ranked(ref.bm25.scores(op["text"], elig), 10)
    dense = refs.ranked(ref.dense(op["qvec"], "COSINE", None), 10)
    text = refs.ranked(ref.bm25.scores(op["text"]), 10)
    fused = (refs.rrf([dense, text]) if op["fuse"] == "rrf"
             else refs.weighted_arctan([dense, text]))
    return refs.ranked(fused, 10)


def _corrupt(got):
    if isinstance(got, int):
        return got + 1
    if got and isinstance(got[0][1], float) and len(got[0]) == 2 \
            and isinstance(got[0][0], int):
        # ranked hits: drop the best one and pad with the worst eligible
        return got[1:] + [(got[0][0], got[-1][1] - 1.0)]
    return got[:-1]


@pytest.mark.parametrize("cls", ["scalar", "dense", "text", "hybrid"])
def test_serve_checkers_flag_corruption(serve, cls):
    ops = [o for seed in range(4) for c in range(gen.SERVE_CALLERS)
           for o in gen.serve_schedule(seed, c, n=16) if o["cls"] == cls]
    checked = 0
    for op in ops:
        got = _answer(serve, op)
        assert serve.check(op, got) is None, op
        if got:
            assert serve.check(op, _corrupt(got)) is not None, op
            checked += 1
    assert checked


def test_topk_checker_cases():
    ref = {1: 0.9, 2: 0.8, 3: 0.8, 4: 0.1}
    assert refs.check_topk([(1, 0.9), (2, 0.8)], ref, 2) is None
    assert refs.check_topk([(1, 0.9), (3, 0.8)], ref, 2) is None  # tie
    assert refs.check_topk([(1, 0.9), (4, 0.1)], ref, 2) is not None
    assert refs.check_topk([(2, 0.8), (1, 0.9)], ref, 2) is not None
    assert refs.check_topk([(1, 0.95), (2, 0.8)], ref, 2) is not None
    assert refs.check_topk([(1, 0.9)], ref, 2) is not None
    assert refs.check_topk([(4, 0.1), (1, 0.9)], ref, 2,
                           higher_better=False) is not None


def test_bm25_formula():
    bm = refs.BM25([1, 2, 3], ["a b", "a a c", "c d e f"])
    s = bm.scores("a")
    import math
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    avgdl = 3.0
    want1 = idf * 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / avgdl))
    assert abs(s[1] - want1) < 1e-12 and 3 not in s


def test_read_and_final_checkers_flag_corruption():
    live = gen.docs_table(13, 60, stream="live")
    model = refs.LiveModel(13, live)
    for j, op in enumerate([
            {"kind": "insert", "ids": list(range(1000, 1005))},
            {"kind": "upsert", "ids": [0, 1, 2000]},
            {"kind": "partial_update", "ids": [3, 4], "prices": [1.5, 2.5]},
            {"kind": "delete", "ids": [5, 6]}]):
        model.apply(j, op)
    final = model.versions[-1]
    assert final.num_rows == 60 + 5 + 1 - 2
    count_op = {"kind": "count"}
    assert refs.check_read(count_op, final.num_rows, model.versions) is None
    assert refs.check_read(count_op, 999, model.versions) is not None
    q = {"kind": "query", "flt": gen.make_filter(
        __import__("numpy").random.default_rng(1), "range")}
    con = __import__("duckdb").connect()
    con.register("docs", final)
    rows = [tuple(r) for r in con.execute(
        f"SELECT id, price FROM docs WHERE {q['flt']['sql']} "
        f"ORDER BY id LIMIT 50").fetchall()]
    assert refs.check_read(q, rows, [final]) is None
    assert refs.check_read(q, rows[1:] + [(99999, 0.0)], [final]) is not None
    got = list(zip(*(final.column(c).to_pylist()
                     for c in ("id", "price", "cat", "text"))))
    assert refs.check_final(got, final, [0, 3, 7]) is None
    bad = [(i, p + 1.0 if i == 3 else p, c, t) for i, p, c, t in got]
    assert refs.check_final(bad, final, [0, 3, 7]) is not None
    assert refs.check_final(got[1:], final, [0]) is not None


def test_dedup_checkers_flag_corruption():
    corpus, truth = gen.dedup_corpus(17, n=600)
    ref = refs.DedupReference(corpus, truth)
    blocks = list(range(gen.CORPUS_BUCKETS))
    for kind in gen.DEDUP_PASSES:
        op = {"kind": kind, "blocks": blocks}
        want = ref.expected(kind, set(blocks))
        if want is None:        # LSH passes: the planted pairs above threshold
            want = {p for p in ref.related
                    if kind == "simhash" and p in ref.exact_pairs
                    or kind == "minhash" and ref._jac(*p) >= ref.MINHASH_T}
        assert want, kind
        assert ref.check(op, set(want))[0] is None, kind
        stray = next(iter(want))
        if kind == "exact":
            bad = (want - {stray}) | {stray[:-1]}
        elif kind == "simhash":
            bad = want - {stray}
        else:
            bad = want | {(stray[0], stray[0] + 100000)}
        assert ref.check(op, bad)[0] is not None, kind
    # a SimHash pair of unrelated documents inside the pass's blocks is an
    # unverified candidate; one reaching outside them is wrong
    op = {"kind": "simhash", "blocks": [0, 1]}
    want = {p for p in ref.exact_pairs if ref._in(p, {0, 1})}
    ids = [i for i, j in ref.pos.items() if ref.block[j] in (0, 1)]
    other = [i for i, j in ref.pos.items() if ref.block[j] not in (0, 1)]
    unrelated = next((a, b) for a in ids for b in ids
                     if a < b and (a, b) not in ref.related)
    assert ref.check(op, want | {unrelated}) == (None, len(want))
    far = tuple(sorted((ids[0], other[0])))
    assert ref.check(op, want | {far})[0] is not None
    # an ngram answer that misses a planted pair is wrong
    op = {"kind": "ngram", "blocks": blocks}
    want = ref.expected("ngram", set(blocks))
    assert ref.check(op, want - {next(iter(want))})[0] is not None


def test_benchmark_json_matches_the_metrics_printed():
    import json
    from perfbench import run, trace
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == list(trace.PER_LAYER)
    from perfbench import workloads
    assert [w["name"] for w in spec["workloads"]] == list(
        workloads.WORKLOADS)


def test_self_time_subtracts_the_union_of_children():
    from perfbench.trace import _covered
    assert _covered(0, 10, [(1, 3), (2, 5), (7, 12)]) == 7
    assert _covered(0, 10, []) == 0
    assert _covered(5, 6, [(0, 10)]) == 1


def test_closed_loop_runs_whole_rounds_whatever_the_speed():
    import time
    from perfbench.workloads import closed_loop

    def sleeper(s):
        return lambda i, op: time.sleep(s)
    records, _, rounds = closed_loop({
        "fast": (list(range(10)), 2, sleeper(0.001), None),
        "slow": (list(range(10)), 1, sleeper(0.05), None)}, 0.12)
    assert rounds >= 2
    got = {c: sum(1 for r in records if r.caller == c)
           for c in ("fast", "slow")}
    assert got == {"fast": 2 * rounds, "slow": rounds}
    # no round starts that a schedule cannot fill
    records, _, rounds = closed_loop({
        "a": (list(range(5)), 2, sleeper(0), None)}, 60.0)
    assert rounds == 2 and [r.op for r in records] == [0, 1, 2, 3]
    # a deadline already passed still runs one whole round
    records, _, rounds = closed_loop({
        "a": (list(range(10)), 3, sleeper(0), None)}, 0.0)
    assert rounds == 1 and len(records) == 3


def test_stop_descendants_ends_the_whole_tree():
    import subprocess
    from perfbench import procs
    # a shell whose child ignores SIGTERM, and whose grandchild is orphaned
    # when the child is killed
    sh = subprocess.Popen(["bash", "-c", "bash -c 'trap \"\" TERM; "
                           "sleep 60 & sleep 60' & wait"])
    time.sleep(0.5)
    tree = procs._tree(sh.pid, procs._table())
    assert len(tree) >= 4
    procs.stop_descendants(sh.pid, grace_s=1.0)
    sh.wait(timeout=10)
    table = procs._table()
    assert not [p for p in tree[1:] if p in table and table[p][1] != "Z"]


def test_cpu_seconds_counts_python_worker_processes(tmp_path, monkeypatch):
    """A pandas UDF runs in a forked Python worker; its CPU must reach
    ``Engine.cpu_seconds``. Starts a small Spark session."""
    pytest.importorskip("pyspark")
    import vectordb_testbricks_spark as vts
    from perfbench import run
    from perfbench.engine import Engine
    from perfbench.procs import tree_cpu_seconds

    run.configure(str(tmp_path), trace=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    spark = vts.get_spark("perfbench-cpu-test")
    try:
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        busy_s = 1.5

        def spin(batches):
            import time as t
            for b in batches:
                c0 = t.process_time()
                while t.process_time() - c0 < busy_s:
                    pass
                yield b
        df = spark.range(1, numPartitions=1)
        df.mapInPandas(spin, "id long").count()      # start the worker
        tree0, total0 = tree_cpu_seconds(os.getpid()), Engine.cpu_seconds()
        df.mapInPandas(spin, "id long").count()
        tree1, total1 = tree_cpu_seconds(os.getpid()), Engine.cpu_seconds()
    finally:
        run.stop_session(spark)
    own = {os.getpid(), jvm}
    workers = sum(v - tree0.get(p, 0.0) for p, v in tree1.items()
                  if p not in own)
    assert workers >= 0.8 * busy_s
    assert total1 - total0 >= workers
