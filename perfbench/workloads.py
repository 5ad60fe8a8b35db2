"""The two workloads: set-up, the closed loop, and the checks.

Each workload function returns a ``Run``: every op the callers started
inside the window with its timing and result, the set-up times, and the
verdict of the reference checks (made after the window closed).
"""

from __future__ import annotations

import dataclasses
import statistics
import threading
import time

from perfbench import gen, refs
from perfbench.engine import Engine, corpus_spec, docs_spec

# timed set-ups per run; they follow an untimed priming set-up of
# PRIME_ROWS rows and the warm-up ops, which run on the priming collection,
# so the repetitions and the window meet a warm engine
SETUP_REPS = 2
PRIME_ROWS = 500
BATCH_CLASSES = ("write", "dedup")


@dataclasses.dataclass
class OpRecord:
    caller: str
    index: int
    op: dict
    start: float
    end: float
    result: object = None
    error: str | None = None
    wrong: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


@dataclasses.dataclass
class Run:
    records: list[OpRecord]
    window_start: float
    rounds: int
    setup: list[tuple[float, float]]   # (wall s, CPU s) per repetition
    digest: str
    cpu_s: float                       # CPU of the process tree in the window
    phases: dict = dataclasses.field(default_factory=dict)   # wall s
    extra: dict = dataclasses.field(default_factory=dict)
    final_error: str | None = None


def closed_loop(callers: dict, seconds: float
                ) -> tuple[list[OpRecord], float, int]:
    """Run the callers side by side in rounds until ``seconds`` have
    passed. In a round each caller runs one cycle of its ops back to back;
    when all have finished, another round starts only if the deadline has
    not passed and every schedule holds another cycle. So every caller
    runs the same number of cycles, at least one, and since each cycle of
    a seed has the same op kinds, the op mix of a run does not depend on
    how fast the engine is. ``callers`` maps a name to ``(schedule, cycle,
    execute, prepare)``: ``execute(index, op)`` performs one op and returns
    its result, and ``prepare(index, op)``, when given, stages its inputs
    untimed. Returns the records, the window start and the number of
    rounds."""
    records: list[OpRecord] = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds
    state = {"rounds": 0, "more": True}
    crashed: list[BaseException] = []

    def end_round():            # runs once per round, in one caller
        state["rounds"] += 1
        n = state["rounds"] + 1
        state["more"] = (time.perf_counter() < deadline
                         and all(n * c[1] <= len(c[0])
                                 for c in callers.values()))

    barrier = threading.Barrier(len(callers), action=end_round)

    def loop(name, schedule, cycle, execute, prepare):
        i = 0
        try:
            while state["more"]:
                for _ in range(cycle):
                    op = schedule[i % len(schedule)]
                    if prepare is not None:
                        op = {**op, "staged": prepare(i, op)}
                    t0 = time.perf_counter()
                    rec = OpRecord(name, i, op, t0, t0)
                    try:
                        rec.result = execute(i, op)
                    except Exception as e:  # noqa: BLE001 - counted as failed
                        rec.error = f"{type(e).__name__}: {e}"[:500]
                    rec.end = time.perf_counter()
                    with lock:
                        records.append(rec)
                    i += 1
                barrier.wait()
        except BaseException as e:      # noqa: BLE001 - re-raised below
            crashed.append(e)
            barrier.abort()

    threads = [threading.Thread(target=loop, args=(n, *c), name=n,
                                daemon=True)
               for n, c in callers.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    real = [e for e in crashed
            if not isinstance(e, threading.BrokenBarrierError)]
    if real:
        raise real[0]
    rounds = state["rounds"]
    for n, c in callers.items():
        ran = sum(1 for r in records if r.caller == n)
        if ran != rounds * c[1]:
            raise RuntimeError(f"caller {n} ran {ran} ops in {rounds} "
                               f"rounds of {c[1]}")
    return sorted(records, key=lambda r: r.start), start, rounds


def _warm(callers: dict) -> None:
    """One untimed pass over each caller's ``ops``, side by side, so the
    window does not pay for compiling its code paths."""
    records, _, _ = closed_loop({n: (ops, len(ops), x, None)
                                 for n, (ops, x) in callers.items()}, 0.0)
    for r in records:
        if r.error:
            raise RuntimeError(f"warm-up op failed: {r.error}")


def _repeat_setup(eng: Engine, setup, rows: int
                  ) -> tuple[str, list[tuple[float, float]]]:
    """``SETUP_REPS`` timed set-ups of ``rows``; ``setup(tag, rows)``
    creates a collection and returns its name. Drops all but the last;
    returns its name and the (wall, CPU) seconds of each repetition."""
    names, times = [], []
    for rep in range(SETUP_REPS):
        times.append(_timed(eng, lambda: names.append(setup(rep, rows))))
    for name in names[:-1]:
        eng.drop(name)
    return names[-1], times


def _parallel(*fns) -> list[float]:
    """Run the untimed callables side by side; the wall seconds of each."""
    records, _, _ = closed_loop({f"f{j}": ([{}], 1, lambda i, op, fn=fn: fn(),
                                           None)
                                 for j, fn in enumerate(fns)}, 0.0)
    for r in records:
        if r.error:
            raise RuntimeError(f"warm-up failed: {r.error}")
    return [r.ms / 1000 for r in sorted(records, key=lambda r: r.caller)]


def _timed(eng: Engine, fn) -> tuple[float, float]:
    """(wall, CPU) seconds of ``fn()``."""
    t0, c0 = time.perf_counter(), eng.cpu_seconds()
    fn()
    return time.perf_counter() - t0, eng.cpu_seconds() - c0


def _traced(eng: Engine, name: str, execute):
    """Wrap ``execute`` with the tracer's per-op span and job group."""
    def run(i, op):
        eng.tr.begin(f"{name}-{i}", op["cls"], op.get("kind", op.get("fuse",
                                                                     "")))
        ok = False
        try:
            out = execute(i, op)
            ok = True
            return out
        finally:
            eng.tr.end(ok)
    return run


# ---------------------------------------------------------------- serve_small

def serve_small(eng: Engine, seed: int, seconds: float,
                tracer) -> Run:
    t0 = time.perf_counter()

    def setup(tag, rows):
        t = gen.docs_table(seed, rows)
        name = f"docs_{tag}"
        n = eng.create(docs_spec(name), t, gen.ENGINE_DOC_COLUMNS)
        if n != rows:
            raise RuntimeError(f"{name}: ingested {n} rows of {rows}")
        return name
    prime = setup("prime", PRIME_ROWS)
    # warm-up on the priming collection: one round of the seed's template,
    # from a round no run reaches, so neither the repetitions nor the
    # window compile a code path; one warm-up caller per op, so the cold
    # ops spread over the cores
    _warm({f"w{c}.{j}": ([op], lambda i, op: eng.serve(prime, op))
           for c, cyc in enumerate(gen.SERVE_CYCLES)
           for j, op in enumerate(gen.serve_schedule(
               seed, c, n=len(cyc), first_round=gen.WARM_ROUND))})
    eng.drop(prime)
    t1 = time.perf_counter()
    coll, setup_times = _repeat_setup(eng, setup, gen.SERVE_ROWS)
    table = gen.docs_table(seed, gen.SERVE_ROWS)
    schedules = {f"c{c}": gen.serve_schedule(seed, c)
                 for c in range(gen.SERVE_CALLERS)}

    def serve(i, op):
        return eng.serve(coll, op)
    eng.tr = tracer
    callers = {name: (s, len(gen.SERVE_CYCLES[c]),
                      _traced(eng, name, serve), None)
               for c, (name, s) in enumerate(schedules.items())}
    t2 = time.perf_counter()
    cpu0 = eng.cpu_seconds()
    records, start, rounds = closed_loop(callers, seconds)
    cpu_s = eng.cpu_seconds() - cpu0
    t3 = time.perf_counter()
    ref = refs.ServeReference(table)
    try:
        for r in records:
            if r.error is None:
                r.wrong = ref.check(r.op, r.result)
    finally:
        ref.close()
    return Run(records, start, rounds, setup_times,
               gen.digest(table, schedules), cpu_s,
               phases={"warm_s": t1 - t0, "setup_s": t2 - t1,
                       "window_s": t3 - t2,
                       "check_s": time.perf_counter() - t3})


# ------------------------------------------------------------------ batch_rw

def batch_rw(eng: Engine, seed: int, seconds: float, tracer) -> Run:
    t0 = time.perf_counter()

    def setup(tag, rows):
        t = gen.docs_table(seed, rows, stream="live")
        name = f"live_{tag}"
        n = eng.create(docs_spec(name), t, gen.ENGINE_DOC_COLUMNS)
        if n != rows:
            raise RuntimeError(f"{name}: ingested {n} rows of {rows}")
        return name
    corpus, prime = "corpus", "live_prime"
    corpus_t, truth = gen.dedup_corpus(seed)
    n_docs = corpus_t.num_rows

    def setup_corpus():
        # once per run, untimed: its ingest path is the one the timed
        # repetitions measure, less the BM25 function
        n = eng.create(corpus_spec(corpus), corpus_t,
                       ("id", "text", "emb", "block"))
        if n != n_docs:
            raise RuntimeError(f"corpus: ingested {n} of {n_docs} rows")

    def do_dedup(i, op):
        return eng.dedup(corpus, op, n_docs)

    def warm_write(i, op):
        eng.write(prime, op, eng.prepare_write(-1, op, seed))

    def warm_live():
        # a write of the seed's kind beside one round of reads from a round
        # no run reaches, on the priming collection
        setup("prime", PRIME_ROWS)
        _warm({**{f"r{r}": (gen.read_schedule(seed, r, n=gen.READ_CYCLE,
                                              first_round=gen.WARM_ROUND),
                            lambda i, op: eng.read_op(prime, op))
                  for r in range(gen.READERS)},
               "w": (gen.write_schedule(seed, n=1, rows=PRIME_ROWS),
                     warm_write)})

    def warm_dedup():
        # each dedup caller's cycle over other halves of the corpus
        setup_corpus()
        _warm({f"d{d}": (gen.dedup_schedule(seed + 1, d, n=len(kinds)),
                         do_dedup)
               for d, kinds in enumerate(gen.DEDUP_CALLERS)})

    # untimed: the priming collection and the corpus, and the warm-up on
    # them, so neither the repetitions nor the window compile a code path
    chains = _parallel(warm_live, warm_dedup)
    eng.drop(prime)
    t1 = time.perf_counter()
    live, setup_times = _repeat_setup(eng, setup, gen.LIVE_ROWS)
    live_t = gen.docs_table(seed, gen.LIVE_ROWS, stream="live")
    writes = gen.write_schedule(seed)
    reads = [gen.read_schedule(seed, r) for r in range(gen.READERS)]
    passes = [gen.dedup_schedule(seed, d)
              for d in range(len(gen.DEDUP_CALLERS))]

    def do_write(i, op):
        eng.write(live, op, op["staged"])

    def do_read(i, op):
        return eng.read_op(live, op)

    eng.tr = tracer
    write_op = _traced(eng, "writer", do_write)

    def traced_write(i, op):
        # file accounting sits outside the op's span: it is tracing cost
        before = eng.files(live) if tracer.enabled else None
        try:
            return write_op(i, op)
        finally:
            if before is not None:
                eng.account_write(live, before)

    t2 = time.perf_counter()
    cpu0 = eng.cpu_seconds()
    records, start, rounds = closed_loop({
        "writer": (writes, gen.WRITE_CYCLE, traced_write,
                   lambda i, op: eng.prepare_write(i, op, seed)),
        **{f"reader{r}": (reads[r], gen.READ_CYCLE,
                          _traced(eng, f"reader{r}", do_read), None)
           for r in range(gen.READERS)},
        **{f"dedup{d}": (passes[d], len(gen.DEDUP_CALLERS[d]),
                         _traced(eng, f"dedup{d}", do_dedup), None)
           for d in range(len(gen.DEDUP_CALLERS))},
    }, seconds)
    cpu_s = eng.cpu_seconds() - cpu0
    t3 = time.perf_counter()
    run = Run(records, start, rounds, setup_times,
              gen.digest(live_t, corpus_t, writes, reads, passes), cpu_s)
    _check_batch(eng, run, live, seed, live_t, corpus_t, truth)
    run.phases = {"warm_s": t1 - t0, "warm_live_s": chains[0],
                  "warm_dedup_s": chains[1], "setup_s": t2 - t1,
                  "window_s": t3 - t2, "check_s": time.perf_counter() - t3}
    return run


def _check_batch(eng, run: Run, live: str, seed: int, live_t, corpus_t,
                 truth) -> None:
    wrecs = [r for r in run.records if r.caller == "writer"]
    model = refs.LiveModel(seed, live_t)
    for r in wrecs:
        if r.error is not None:
            run.final_error = "a write failed; the model cannot follow"
            break
        model.apply(r.index, r.op)
    # version v+1 becomes visible during write v; version v stays visible
    # until write v finishes (and v+1's successor may still be running)
    windows = []
    for v in range(len(model.versions)):
        lo = wrecs[v - 1].start if v > 0 else float("-inf")
        hi = wrecs[v].end if v < len(wrecs) else float("inf")
        windows.append((lo, hi))
    for r in run.records:
        if r.error is not None or not r.caller.startswith("reader"):
            continue
        cand = [model.versions[v] for v, (lo, hi) in enumerate(windows)
                if lo <= r.end and hi >= r.start]
        r.wrong = refs.check_read(r.op, r.result, cand)
    dref = refs.DedupReference(corpus_t, truth)
    verified = {}       # keyed like the tracer's op spans
    for r in run.records:
        if r.error is None and r.caller.startswith("dedup"):
            r.wrong, verified[f"{r.caller}-{r.index}"] = dref.check(
                r.op, r.result)
    run.extra["dedup_verified"] = verified
    if run.final_error is None:
        final = model.versions[-1]
        run.final_error = refs.check_final(
            eng.final_rows(live), final,
            final.column("id").to_pylist()[::97])
        user_bytes = final.select(list(gen.ENGINE_DOC_COLUMNS)).nbytes
        run.extra["disk_bytes_per_user_byte"] = (
            sum(eng.files(live).values()) / user_bytes)


WORKLOADS = {"serve_small": serve_small, "batch_rw": batch_rw}


# -------------------------------------------------------------------- stats

def summarize(run: Run) -> dict:
    recs = run.records
    ok = [r for r in recs if r.error is None and r.wrong is None]
    # reads only: writes and dedup passes take several times as long, so a
    # median over all ops would sit on a class boundary
    lat = [r.ms for r in recs if r.op["cls"] not in BATCH_CLASSES]
    by_cls: dict[str, list[float]] = {}
    for r in recs:
        by_cls.setdefault(r.op["cls"], []).append(r.ms)
    # each caller's rate over its own span, from the window start to the
    # end of its last op: callers finish their last cycle at different times
    rate = 0.0
    for c in {r.caller for r in recs}:
        mine = [r for r in recs if r.caller == c]
        good = sum(1 for r in mine if r.error is None and r.wrong is None)
        rate += good / (max(r.end for r in mine) - run.window_start)
    return {
        "attempted": len(recs),
        "failed": len(recs) - len(ok),
        "cpu_ms_per_op": run.cpu_s * 1000 / max(1, len(ok)),
        "ops_per_s": rate,
        "read_p50_ms": statistics.median(lat),
        "error_rate": (len(recs) - len(ok)) / len(recs),
        "class_p50_ms": {c: {"value": statistics.median(v), "n": len(v)}
                         for c, v in sorted(by_cls.items())},
    }
