"""Tracing from outside the engine: spans around calls into its layers, and
Spark status-store reads that split each call kind into jobs, stages, tasks,
executor time, shuffle and spill.

Nothing here edits the package. The ``Tracer.wrap*`` methods swap module
attributes for timing wrappers and :meth:`Tracer.uninstall` restores them.
Spans live in memory and are written out once, with the run record.

Spark work is attributed to a span without touching the engine: a traced
call tags the jobs its own thread submits (``SparkContext.addJobTag``).
Jobs submitted from a thread pool inside the call (``serve_batch`` writes
its segments from one) carry no tag; they go to the ingest-side call whose
wall interval holds their submission time, since the ingest thread runs one
call at a time.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# call kinds whose Spark work is attributed and reported per kind
QUERY_KINDS = ("keyword", "hashtag", "user")
INGEST_KINDS = ("preprocess", "serve_batch")
CALL_KINDS = INGEST_KINDS + QUERY_KINDS
_PLANNING_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    sid: int
    name: str
    start: float  # time.time() seconds
    end: float
    parent: int | None
    rid: str | None
    kind: str | None = None
    catalyst_ms: float = 0.0

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "rid": self.rid,
            "kind": self.kind,
        }


class Tracer:
    """Span recorder. Spans nest per thread; a request id set on a thread
    (:meth:`set_rid`) is stamped on every span that thread opens."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self.sc = None
        self.span_cost_s = 0.0

    def calibrate(self, n: int = 200) -> None:
        """Measure the cost of one span with its job tagging, so the
        tracing overhead of a run can be stated."""
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("trace.calibrate", kind="calibrate"):
                pass
        self.span_cost_s = (time.perf_counter() - t0) / n
        self.spans = [sp for sp in self.spans if sp.name != "trace.calibrate"]

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_rid(self, rid: str | None) -> None:
        self._local.rid = rid

    @contextmanager
    def span(self, name: str, kind: str | None = None):
        stack = self._stack()
        sp = Span(
            sid=next(self._ids), name=name, start=time.time(), end=0.0,
            parent=stack[-1].sid if stack else None,
            rid=getattr(self._local, "rid", None), kind=kind,
        )
        stack.append(sp)
        tag = f"pbspan{sp.sid}" if kind and self.sc is not None else None
        if tag:
            self.sc.addJobTag(tag)
        try:
            yield sp
        finally:
            if tag:
                self.sc.removeJobTag(tag)
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def current_kind_span(self) -> Span | None:
        for sp in reversed(self._stack()):
            if sp.kind:
                return sp
        return None

    # -- wrapping ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, kind: str | None = None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name, kind):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_collect(self, owner, attr: str) -> None:
        """Wrap the function that collects an answer DataFrame, to read the
        Catalyst phase times of exactly the plan that ran."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(df, *a, **kw):
            with tracer.span(f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"):
                out = fn(df, *a, **kw)
            sp = tracer.current_kind_span()
            if sp is not None:
                sp.catalyst_ms += planning_ms(df)
            return out

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_handler(self, handler_cls) -> None:
        """Stamp the request id (the ``rid`` query parameter, which the
        routes ignore) on the server thread's spans."""
        fn = handler_cls.do_GET
        tracer = self

        def traced(handler):
            from urllib.parse import parse_qs, urlparse

            rid = parse_qs(urlparse(handler.path).query).get("rid", [None])[0]
            tracer.set_rid(rid)
            try:
                with tracer.span("http.handler"):
                    return fn(handler)
            finally:
                tracer.set_rid(None)

        self._restore.append((handler_cls, "do_GET", fn))
        handler_cls.do_GET = traced

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    # -- derived -------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of it covered by its children."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = union_length(
                [(c.start, c.end) for c in children.get(sp.sid, [])], sp.start, sp.end
            )
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def planning_ms(df) -> float:
    """Analysis + optimization + planning milliseconds from the plan's
    QueryPlanningTracker (0 when a phase has not run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for p in _PLANNING_PHASES:
        o = phases.get(p)
        if o.isDefined():
            total += o.get().durationMs()
    return float(total)


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stage attempts the status store retains."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    seq = store.jobsList(jvm.java.util.ArrayList())
    for i in range(seq.size()):
        j = seq.apply(i)
        tags = j.jobTags().mkString(",").split(",")
        jobs.append({
            "id": j.jobId(),
            "tag": next((t for t in tags if t.startswith("pbspan")), None),
            "stages": [int(s) for s in j.stageIds().mkString(",").split(",") if s],
            "submitted": _opt_s(j.submissionTime()),
            "completed": _opt_s(j.completionTime()),
        })
    stages: dict[int, dict] = {}
    seq = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.status().toString() in ("SKIPPED", "PENDING"):
            continue
        d = stages.setdefault(s.stageId(), {
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0,
        })
        d["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        d["run_ms"] += s.executorRunTime()
        d["cpu_ns"] += s.executorCpuTime()
        d["shuffle_read"] += s.shuffleReadBytes()
        d["shuffle_write"] += s.shuffleWriteBytes()
        d["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return jobs, stages


def spark_by_kind(tracer: Tracer, jobs: list[dict], stages: dict[int, dict],
                  cores: int) -> tuple[dict[str, float], dict[int, dict]]:
    """Per call kind, the median per call of each Spark figure; and the
    figures of each call, by span id."""
    kind_spans = {sp.sid: sp for sp in tracer.spans if sp.kind in CALL_KINDS}
    ingest = sorted(
        (sp for sp in kind_spans.values() if sp.kind in INGEST_KINDS),
        key=lambda sp: sp.start,
    )
    per_span: dict[int, list[dict]] = {sid: [] for sid in kind_spans}
    # a shuffle stage reused by a later job is listed by both jobs; it ran
    # once, so it counts for the first job only
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["id"]):
        j["stages"] = [s for s in j["stages"] if s not in seen]
        seen.update(j["stages"])
    for j in jobs:
        owner = None
        if j["tag"] is not None:
            owner = int(j["tag"][len("pbspan"):])
        elif j["submitted"] is not None:
            owner = next(
                (sp.sid for sp in ingest if sp.start <= j["submitted"] <= sp.end),
                None,
            )
        if owner in per_span:
            per_span[owner].append(j)
    out: dict[str, float] = {}
    by_span: dict[int, dict] = {}
    for kind in CALL_KINDS:
        rows = []
        for sid, sp in kind_spans.items():
            if sp.kind != kind:
                continue
            js = per_span[sid]
            sts = [stages[s] for j in js for s in j["stages"] if s in stages]
            wall = sp.end - sp.start
            run_s = sum(s["run_ms"] for s in sts) / 1000.0
            job_time = union_length(
                [(j["submitted"], j["completed"]) for j in js
                 if j["submitted"] is not None and j["completed"] is not None],
                sp.start, sp.end,
            )
            rows.append(by_span.setdefault(sid, {
                "jobs": len(js),
                "stages": len(sts),
                "tasks": sum(s["tasks"] for s in sts),
                "catalyst_s": sp.catalyst_ms / 1000.0,
                "driver_s": wall - job_time,
                "executor_run_s": run_s,
                "executor_cpu_s": sum(s["cpu_ns"] for s in sts) / 1e9,
                "busy_share": run_s / (wall * cores) if wall > 0 else 0.0,
                "shuffle_read_bytes": sum(s["shuffle_read"] for s in sts),
                "shuffle_write_bytes": sum(s["shuffle_write"] for s in sts),
                "spill_bytes": sum(s["spill"] for s in sts),
            }))
        for key in SPARK_FIGURES:
            vals = [r[key] for r in rows]
            out[f"spark.{kind}.{key}"] = statistics.median(vals) if vals else 0.0
    return out, by_span


# per-call Spark figures and their units
SPARK_FIGURES = {
    "jobs": "count", "stages": "count", "tasks": "count", "catalyst_s": "s",
    "driver_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
    "busy_share": "ratio", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B",
}


def dedup_operator_metrics(spark) -> list[dict]:
    """For each write whose plan aggregates over a JSON scan (the
    latest-wins step of preprocess), the rows into the aggregate and out of
    it, read from the SQL status store's plan graph. Node ids are in
    pre-order, so the final aggregate (any ``*Aggregate`` operator) comes
    first, the partial one, if any, last, and the first node below it
    with a row count is the flatten filter that feeds it."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        eid = e.executionId()
        vals = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        rows: list[tuple[int, str, int | None]] = []
        for k in range(nodes.size()):
            n = nodes.apply(k)
            metric = None
            ms = n.metrics()
            for m in range(ms.size()):
                pm = ms.apply(m)
                if pm.name() == "number of output rows":
                    v = vals.get(pm.accumulatorId())
                    if v.isDefined():
                        metric = int(v.get().replace(",", "").split()[0])
            rows.append((n.id(), n.name(), metric))
        rows.sort()
        names = [r[1] for r in rows]
        aggs = [r for r in rows if "Aggregate" in r[1]]
        if "Scan json" not in " ".join(names) or not aggs:
            continue
        scan = next(r for r in rows if r[1].startswith("Scan json"))
        final, partial = aggs[0], aggs[-1]
        feed = next(
            (r for r in rows if r[0] > partial[0] and r[2] is not None), None
        )
        if final[2] is None or feed is None:
            continue
        out.append({"scan_rows": scan[2], "rows_in": feed[2], "rows_out": final[2],
                    "submitted": e.submissionTime() / 1000.0})
    return sorted(out, key=lambda d: d["submitted"])
