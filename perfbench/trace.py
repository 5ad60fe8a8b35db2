"""Per-op tracing from outside the engine.

``Tracer`` is what the timed runs use: it calls straight through. The traced
run uses ``SpanTracer``, which gives every op a span id and Spark job group,
records a child span around each of the benchmark's calls into the engine's
public functions (with the py4j round trips made inside it), reads
Catalyst's phase times after each action, and after the run joins every op
with Spark's own accounting for its job group from the status REST API.
Spans stay in memory until ``write``.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import threading
import time
import urllib.request


class Tracer:
    """Pass-through: no spans, no job groups, no extra py4j calls."""

    enabled = False

    def begin(self, op_id: str, cls: str, kind: str) -> None:
        pass

    def call(self, layer: str, fn, *args, **kw):
        return fn(*args, **kw)

    def action(self, df) -> list:
        return df.collect()

    def count(self, layer: str, name: str, value: float) -> None:
        pass

    def end(self, ok: bool) -> None:
        pass


class _Span:
    __slots__ = ("id", "parent", "name", "start", "end", "py4j", "extra")

    def __init__(self, sid, parent, name):
        self.id, self.parent, self.name = sid, parent, name
        self.start = time.time()
        self.end = None
        self.py4j = 0
        self.extra = {}


class SpanTracer(Tracer):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[_Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        client = self.sc._gateway._gateway_client
        orig = client.send_command

        def counted(*a, **kw):
            stack = getattr(self._local, "stack", None)
            if stack:
                stack[-1].py4j += 1
            return orig(*a, **kw)
        client.send_command = counted

    # -------------------------------------------------------------- spans
    def _open(self, name: str) -> _Span:
        stack = self._local.stack
        with self._lock:
            sid = f"{stack[0].id}.{self._next}" if stack else name
            self._next += 1
        sp = _Span(sid, stack[-1].id if stack else None, name)
        stack.append(sp)
        return sp

    def _close(self, sp: _Span) -> None:
        sp.end = time.time()
        self._local.stack.pop()
        with self._lock:
            self.spans.append(sp)

    def begin(self, op_id, cls, kind):
        self._local.stack = []
        self.sc.setJobGroup(op_id, f"{cls}:{kind}")
        sp = self._open(op_id)
        sp.extra.update(cls=cls, kind=kind)
        self._local.op = sp

    def call(self, layer, fn, *args, **kw):
        sp = self._open(layer)
        try:
            return fn(*args, **kw)
        finally:
            self._close(sp)

    def action(self, df):
        sp = self._open("action")
        try:
            rows = df.collect()
        finally:
            self._close(sp)
        sp.extra["rows"] = len(rows)
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                sp.extra[f"catalyst.{name}_ms"] = (
                    sp.extra.get(f"catalyst.{name}_ms", 0)
                    + opt.get().durationMs())
        return rows

    def count(self, layer, name, value):
        op = self._local.op
        op.extra[f"{layer}.{name}"] = op.extra.get(f"{layer}.{name}",
                                                   0) + value

    def end(self, ok):
        op = self._local.op
        op.extra["ok"] = ok
        self._close(op)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    # ----------------------------------------------------- Spark accounting
    def spark_accounting(self, timeout_s: float = 20.0) -> dict:
        """Jobs, stages, SQL executions and executors from the status REST
        API, once every job has been recorded as finished."""
        url = re.sub(r"//[^:/]+", "//127.0.0.1", self.sc.uiWebUrl)
        app = self.sc.applicationId
        base = f"{url}/api/v1/applications/{app}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=30) as r:
                return json.load(r)
        deadline = time.time() + timeout_s
        while True:
            jobs = get("/jobs")
            if (all(j["status"] != "RUNNING" for j in jobs)
                    or time.time() > deadline):
                break
            time.sleep(0.5)
        return {"jobs": jobs,
                "stages": get("/stages"),
                "sql": get("/sql?details=true&planDescription=false"
                           "&length=100000"),
                "executors": get("/executors")}

    # ------------------------------------------------------------ summary
    def op_records(self, acct: dict) -> list[dict]:
        """One dict per op: layer spans, py4j calls and Spark accounting."""
        children: dict[str, list[_Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        jobs_by_group: dict[str, list[dict]] = {}
        for j in acct["jobs"]:
            jobs_by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        stages = {(s["stageId"], s["attemptId"]): s for s in acct["stages"]}
        sql_by_job = {}
        for ex in acct["sql"]:
            for jid in (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                        + ex.get("runningJobIds", [])):
                sql_by_job[jid] = ex
        out = []
        self.stage_spans = []
        for op in (s for s in self.spans if s.parent is None):
            kids = children.get(op.id, [])
            wall = (op.end - op.start) * 1000
            rec = {"id": op.id, "cls": op.extra["cls"],
                   "kind": op.extra["kind"], "ok": op.extra.get("ok"),
                   "start": op.start, "wall_ms": wall}
            rec.update({k: v for k, v in op.extra.items()
                        if k not in ("cls", "kind", "ok")})
            covered = 0.0
            action = None
            for sp in kids:
                ms = (sp.end - sp.start) * 1000
                covered += ms
                key = "action" if sp.name == "action" else sp.name
                rec[f"{key}.ms"] = rec.get(f"{key}.ms", 0) + ms
                rec[f"{key}.py4j_calls"] = (rec.get(f"{key}.py4j_calls", 0)
                                            + sp.py4j)
                if sp.name == "action":
                    action = sp
                    for k, v in sp.extra.items():
                        rec[k] = rec.get(k, 0) + v
            # execution: the action, and a write call, which runs its
            # own jobs; every other child span builds a plan
            rec["exec.ms"] = (rec.get("action.ms", 0)
                              + rec.get("manager.write.ms", 0))
            rec["build.ms"] = covered - rec["exec.ms"]
            rec["unattributed_ms"] = wall - covered
            rec["py4j_calls"] = op.py4j + sum(sp.py4j for sp in kids)
            jobs = jobs_by_group.get(op.id, [])
            self._spark_fields(rec, jobs, stages, sql_by_job, action)
            self._stage_spans(op, action, jobs, stages)
            out.append(rec)
        return out

    def _stage_spans(self, op, action, jobs, stages) -> None:
        """The op's Spark stages as child spans: of the action when they
        started inside it, else of the op (jobs launched while building)."""
        for j in jobs:
            for (sid, att), st in stages.items():
                if sid not in j.get("stageIds", []) or not (
                        st.get("submissionTime") and st.get("completionTime")):
                    continue
                start = _ms(st["submissionTime"]) / 1000
                inside = action is not None and start >= action.start
                self.stage_spans.append({
                    "id": f"{op.id}.stage{sid}.{att}",
                    "parent": action.id if inside else op.id,
                    "name": f"stage {sid}", "start": start,
                    "end": _ms(st["completionTime"]) / 1000,
                    "tasks": st.get("numCompleteTasks", 0)})

    @staticmethod
    def _spark_fields(rec, jobs, stages, sql_by_job, action) -> None:
        act_start = action.start * 1000 if action else float("inf")
        rec["build.jobs"] = sum(1 for j in jobs
                                if _ms(j["submissionTime"]) < act_start)
        rec["spark.jobs"] = len(jobs)
        agg = dict.fromkeys(("spark.stages", "spark.tasks", "spark.queue_ms",
                             "spark.task_run_ms", "spark.task_cpu_ms",
                             "spark.gc_ms", "spark.shuffle_read_bytes",
                             "spark.shuffle_write_bytes", "spark.spill_bytes"),
                            0)
        for j in jobs:
            for sid in j.get("stageIds", []):
                for (s_id, _att), st in stages.items():
                    if s_id != sid or st.get("status") == "SKIPPED":
                        continue
                    agg["spark.stages"] += 1
                    agg["spark.tasks"] += st.get("numCompleteTasks", 0)
                    if st.get("firstTaskLaunchedTime") and st.get(
                            "submissionTime"):
                        agg["spark.queue_ms"] += max(0, _ms(
                            st["firstTaskLaunchedTime"])
                            - _ms(st["submissionTime"]))
                    agg["spark.task_run_ms"] += st.get("executorRunTime", 0)
                    agg["spark.task_cpu_ms"] += st.get(
                        "executorCpuTime", 0) / 1e6
                    agg["spark.gc_ms"] += st.get("jvmGcTime", 0)
                    agg["spark.shuffle_read_bytes"] += st.get(
                        "shuffleReadBytes", 0)
                    agg["spark.shuffle_write_bytes"] += st.get(
                        "shuffleWriteBytes", 0)
                    agg["spark.spill_bytes"] += st.get("diskBytesSpilled", 0)
        rec.update(agg)
        # job wall inside the action: what the action spent beyond it is
        # result delivery (plus the driver-side planning before the job)
        act_jobs = [j for j in jobs if _ms(j["submissionTime"]) >= act_start
                    and j.get("completionTime")]
        if action is not None:
            job_ms = (max(_ms(j["completionTime"]) for j in act_jobs)
                      - min(_ms(j["submissionTime"]) for j in act_jobs)
                      if act_jobs else 0.0)
            rec["delivery.ms"] = max(0.0, rec["action.ms"] - job_ms)
        plan = {"plan.shuffle_exchanges": 0, "plan.broadcast_exchanges": 0,
                "plan.python_nodes": 0, "scan.rows": 0,
                "manager.read_files": 0}
        seen = set()
        for j in jobs:
            ex = sql_by_job.get(j["jobId"])
            if ex is None or ex["id"] in seen:
                continue
            seen.add(ex["id"])
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "")
                if name == "Exchange" or name.startswith("ShuffleExchange"):
                    plan["plan.shuffle_exchanges"] += 1
                elif "BroadcastExchange" in name:
                    plan["plan.broadcast_exchanges"] += 1
                elif re.search(r"Python|Pandas|InArrow|ArrowEval", name):
                    plan["plan.python_nodes"] += 1
                if name.startswith("Scan"):
                    for m in node.get("metrics", []):
                        if m["name"] == "number of output rows":
                            plan["scan.rows"] += _num(m["value"])
                        elif m["name"] == "number of files read":
                            plan["manager.read_files"] += _num(m["value"])
        rec.update(plan)

    def write(self, path: str, records: list[dict]) -> None:
        """All spans, Spark stages included, with self time: a span's
        duration minus the part of it its children cover."""
        spans = [{"id": sp.id, "parent": sp.parent, "name": sp.name,
                  "start": sp.start, "end": sp.end, "py4j_calls": sp.py4j,
                  **sp.extra} for sp in self.spans] + self.stage_spans
        kids: dict[str, list[tuple[float, float]]] = {}
        for sp in spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(
                    (sp["start"], sp["end"]))
        for sp in spans:
            sp["self_ms"] = (sp["end"] - sp["start"] - _covered(
                sp["start"], sp["end"], kids.get(sp["id"], []))) * 1000
        with open(path, "w") as fh:
            json.dump({"spans": spans, "ops": records}, fh, indent=1,
                      default=str)


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def _ms(stamp: str) -> float:
    """Spark REST timestamp ('2026-10-17T03:40:08.123GMT') → unix ms."""
    t = _dt.datetime.strptime(stamp.replace("GMT", ""),
                              "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000


def _num(value: str) -> float:
    """First number in a SQL metric value ('1,234' or 'total (min, ...)')."""
    m = re.search(r"[\d,]+(?:\.\d+)?", value)
    return float(m.group(0).replace(",", "")) if m else 0.0


# ------------------------------------------------------ per-layer metrics

_HIGHER = {"operators.dedup.verified", "operators.dedup.precision",
           "op.min_coverage"}

#: (metric, unit, better): what the traced run reports, per op unless noted
PER_LAYER = tuple((n, u, "higher" if n in _HIGHER else "lower") for n, u in (
    ("exprlang.compile_ms", "ms"), ("exprlang.py4j_calls", "count"),
    ("operators.query.build_ms", "ms"), ("operators.query.py4j_calls", "count"),
    ("operators.search.build_ms", "ms"),
    ("operators.search.py4j_calls", "count"),
    ("operators.bm25.build_ms", "ms"), ("operators.bm25.py4j_calls", "count"),
    ("operators.fusion.build_ms", "ms"),
    ("operators.fusion.py4j_calls", "count"),
    ("operators.dedup.build_ms", "ms"), ("operators.dedup.py4j_calls", "count"),
    ("operators.dedup.candidates", "count"),
    ("operators.dedup.verified", "count"),
    ("operators.dedup.precision", "ratio"),
    ("build.jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.queue_ms", "ms"),
    ("spark.task_run_ms", "ms"), ("spark.task_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("plan.shuffle_exchanges", "count"), ("plan.broadcast_exchanges", "count"),
    ("plan.python_nodes", "count"),
    ("scan.rows_per_result", "ratio"),
    ("delivery.ms", "ms"), ("delivery.rows", "count"),
    ("manager.read_ms", "ms"), ("manager.read_files", "count"),
    ("manager.write_ms", "ms"), ("manager.bytes_written", "bytes"),
    ("manager.files_written", "count"), ("manager.live_files", "count"),
    ("session.storage_mb", "MB"), ("jvm.gc_ms", "ms"),
    ("op.build_ms", "ms"), ("op.exec_ms", "ms"),
    ("op.unattributed_ms", "ms"), ("op.build_share", "ratio"),
    ("op.min_coverage", "ratio"), ("trace.read_p50_ms", "ms"),
))

#: metric prefix -> the span the benchmark wraps around that layer's calls
_SPANS = {"exprlang": "exprlang.compile",
          "operators.query": "operators.query.build",
          "operators.search": "operators.search.build",
          "operators.bm25": "operators.bm25.build",
          "operators.fusion": "operators.fusion.build",
          "operators.dedup": "operators.dedup.build",
          "manager.read": "manager.read", "manager.write": "manager.write"}

_ACTION_FIELDS = {"build.jobs": "build.jobs",
                  "catalyst.analysis_ms": "catalyst.analysis_ms",
                  "catalyst.optimization_ms": "catalyst.optimization_ms",
                  "catalyst.planning_ms": "catalyst.planning_ms",
                  "plan.shuffle_exchanges": "plan.shuffle_exchanges",
                  "plan.broadcast_exchanges": "plan.broadcast_exchanges",
                  "plan.python_nodes": "plan.python_nodes",
                  "delivery.ms": "delivery.ms", "delivery.rows": "rows"}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(recs: list[dict], extra: dict) -> dict[str, float]:
    """Per-layer metrics from the op records: a layer's figures are means
    over the ops that reached that layer; Spark's accounting is a mean over
    all ops; ratios are ratios of sums."""
    m: dict[str, float] = {}
    for prefix, span in _SPANS.items():
        have = [r for r in recs if f"{span}.ms" in r]
        if prefix in ("manager.read", "manager.write"):
            m[f"{prefix}_ms"] = _mean(r[f"{span}.ms"] for r in have)
            continue
        ms_name = ("exprlang.compile_ms" if prefix == "exprlang"
                   else f"{prefix}.build_ms")
        m[ms_name] = _mean(r[f"{span}.ms"] for r in have)
        m[f"{prefix}.py4j_calls"] = _mean(r[f"{span}.py4j_calls"]
                                          for r in have)
    acted = [r for r in recs if "action.ms" in r]
    for name, key in _ACTION_FIELDS.items():
        m[name] = _mean(r.get(key, 0) for r in acted)
    for name in ("spark.jobs", "spark.stages", "spark.tasks",
                 "spark.queue_ms", "spark.task_run_ms", "spark.task_cpu_ms",
                 "spark.gc_ms", "spark.shuffle_read_bytes",
                 "spark.shuffle_write_bytes", "spark.spill_bytes"):
        m[name] = _mean(r[name] for r in recs)
    m["scan.rows_per_result"] = (sum(r["scan.rows"] for r in acted)
                                 / max(1, sum(r.get("rows", 0)
                                              for r in acted)))
    reads = [r for r in recs if "manager.read.ms" in r]
    m["manager.read_files"] = _mean(r["manager.read_files"] for r in reads)
    writes = [r for r in recs if "manager.bytes_written" in r]
    for name in ("bytes_written", "files_written", "live_files"):
        m[f"manager.{name}"] = _mean(r[f"manager.{name}"] for r in writes)
    dd = [r for r in recs if r["cls"] == "dedup" and "rows" in r]
    cand = sum(r["rows"] for r in dd)
    ver = sum(r.get("dedup.verified", 0) for r in dd)
    m["operators.dedup.candidates"] = cand / len(dd) if dd else 0.0
    m["operators.dedup.verified"] = ver / len(dd) if dd else 0.0
    m["operators.dedup.precision"] = ver / cand if cand else 0.0
    m["session.storage_mb"] = extra["storage_mb"]
    m["jvm.gc_ms"] = extra["jvm_gc_ms"] / max(1, len(recs))
    wall = sum(r["wall_ms"] for r in recs)
    m["op.build_ms"] = _mean(r["build.ms"] for r in recs)
    m["op.exec_ms"] = _mean(r["exec.ms"] for r in recs)
    m["op.unattributed_ms"] = _mean(r["unattributed_ms"] for r in recs)
    m["op.build_share"] = sum(r["build.ms"] for r in recs) / wall
    m["op.min_coverage"] = min(
        1 - r["unattributed_ms"] / r["wall_ms"] for r in recs)
    m["trace.read_p50_ms"] = extra["read_p50_ms"]
    return m
