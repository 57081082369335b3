"""Tracing for the per-layer run: spans, the Spark event log, a reducer.

Spans are recorded from outside the engine, by wrapping the public
functions at each layer boundary (:func:`install`). They stay in memory
until the run ends. Spark jobs and Catalyst phases join the span tree as
leaf intervals, placed under the deepest span that contains them. The
reducer attributes every instant of an operation to the deepest interval
active at that instant, so the self times of one operation add up to its
client-measured latency.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterable, List, Optional

OP_HEADER = "x-perfbench-op"

# span name -> per-layer metric charged with the span's self time
SELF_LAYER = {
    "server.handle": "server.handle_ms",
    "wire.parse": "wire.parse_ms",
    "wire.serialize": "wire.serialize_ms",
    "compiler.execute": "compiler.compile_ms",
    "catalog.write": "catalog.write_ms",
    "catalog.checkpoint": "catalog.checkpoint_ms",
    "search.index_build": "search.index_build_ms",
    "search.probe": "search.probe_ms",
    "entry.construct": "driver.other_ms",
    "entry.execute": "driver.other_ms",
    "trace.overhead": "trace.overhead_ms",
    "spark.job": "spark.job_ms",
    "catalyst.analysis": "catalyst.analysis_ms",
    "catalyst.optimization": "catalyst.optimization_ms",
    "catalyst.planning": "catalyst.planning_ms",
}
# where a job's start counts as an eager (construction-time) action
EAGER_SPANS = ("compiler.execute", "entry.construct")
BATCH_ENTRIES = ("dedup_minhash_pairs", "dedup_ngram_jaccard_pairs",
                 "text_doc_stats")
@dataclass
class Span:
    sid: int
    parent: Optional[int]
    op: Optional[str]
    name: str
    t0: float
    t1: float = 0.0


class Tracer:
    """In-memory spans and counters, keyed by operation id."""

    def __init__(self):
        self.spans: List[Span] = []
        self.roots: Dict[str, Span] = {}
        self.phases: List[tuple] = []  # (op, span name, t0, t1)
        self.counts: collections.Counter = collections.Counter()
        self.written: Dict[tuple, object] = {}  # (kind, label) -> catalog
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def current_op(self) -> Optional[str]:
        st = self._stack()
        return st[-1].op if st else None

    @contextlib.contextmanager
    def span(self, name: str, op: Optional[str] = None):
        """A span under the innermost open span of this thread; a thread's
        first span joins operation ``op`` under its root."""
        st = self._stack()
        if st:
            parent, op = st[-1].sid, st[-1].op
        else:
            root = self.roots.get(op)
            parent = root.sid if root is not None else None
        s = Span(next(self._ids), parent, op, name, time.time())
        if name == "op":
            self.roots[op] = s
        st.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            st.pop()
            with self._lock:
                self.spans.append(s)

    def count(self, name: str, n=1, op: Optional[str] = None) -> None:
        with self._lock:
            self.counts[(op or self.current_op(), name)] += n


def catalyst_phases(df) -> list:
    """(span name, t0, t1) of each Catalyst phase of ``df``'s query."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    out = []
    while it.hasNext():
        t = it.next()
        s = t._2()
        if t._1() in ("analysis", "optimization", "planning"):
            out.append(("catalyst." + t._1(), s.startTimeMs() / 1e3,
                        s.endTimeMs() / 1e3))
    return out


def install(tracer: Tracer, spark) -> Callable[[], None]:
    """Wrap each layer's public entry points; returns the undo function."""
    from helix_db_spark import server
    from helix_db_spark.catalog import GraphCatalog
    from helix_db_spark.operators import search, similarity
    from helix_db_spark.plans import wire
    from helix_db_spark.plans.batch import BatchExecutor

    sc = spark.sparkContext
    saved = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def spanned(name):
        def make(orig):
            def w(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)
            return w
        return make

    def handle(orig):
        def w(self, path, body, headers=None):
            op = next((v for k, v in (headers or {}).items()
                       if k.lower() == OP_HEADER), None)
            with tracer.span("server.handle", op=op):
                with tracer.span("trace.overhead"):
                    sc.setJobGroup(op, "perfbench")
                return orig(self, path, body, headers)
        return w

    def serialize(orig):
        def w(results):
            with tracer.span("wire.serialize"):
                out = orig(results)
            with tracer.span("trace.overhead"):
                op = tracer.current_op()
                for df in results.values():
                    tracer.phases.extend((op,) + p
                                         for p in catalyst_phases(df))
                tracer.count("wire.response_rows",
                             sum(len(v) for v in out.values()))
            return out
        return w

    def catalog_write(kind):
        def make(orig):
            def w(self, label, *a, **k):
                with tracer.span("catalog.write") as s:
                    out = orig(self, label, *a, **k)
                if s.op is not None:
                    tracer.written[(kind, label)] = self
                return out
            return w
        return make

    def invalidate(orig):
        def w(self, label):
            before = len(self._materialized)
            out = orig(self, label)
            tracer.count("catalog.invalidations",
                         before - len(self._materialized))
            return out
        return w

    def index_build(kind):
        def make(orig):
            def w(compiler, label, prop, target="nodes"):
                if (kind, target, label, prop) in compiler.cat._materialized:
                    tracer.count("search.index_hits")
                    return orig(compiler, label, prop, target)
                tracer.count("search.index_builds")
                with tracer.span("search.index_build"):
                    return orig(compiler, label, prop, target)
            return w
        return make

    def ivf_index(orig):
        def w(*a, **k):
            before = len(similarity._IVF_CACHE)
            with tracer.span("search.index_build") as s:
                out = orig(*a, **k)
            if len(similarity._IVF_CACHE) > before:
                tracer.count("search.index_builds")
            else:  # a cache hit is part of the probe
                s.name = "search.probe"
                tracer.count("search.index_hits")
            return out
        return w

    def probe(orig):
        def w(compiler, step):
            tracer.count("search.searches")
            with tracer.span("search.probe"):
                return orig(compiler, step)
        return w

    patch(server.HelixSparkServer, "handle", handle)
    patch(wire, "parse_request", spanned("wire.parse"))
    patch(wire, "serialize_results", serialize)
    patch(BatchExecutor, "execute", spanned("compiler.execute"))
    for attr in ("add_nodes", "replace_nodes"):
        patch(GraphCatalog, attr, catalog_write("node"))
    for attr in ("add_edges", "replace_edges"):
        patch(GraphCatalog, attr, catalog_write("edge"))
    patch(GraphCatalog, "checkpoint_durable", spanned("catalog.checkpoint"))
    patch(GraphCatalog, "invalidate_label", invalidate)
    patch(search, "build_text_index", index_build("bm25"))
    patch(search, "build_vector_index", index_build("vecnorm"))
    patch(similarity, "ivf_index", ivf_index)
    patch(search, "text_search", probe)
    patch(search, "vector_search", probe)

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return undo


def plan_nodes(tracer: Tracer) -> int:
    """Logical-plan size of every label written during an operation."""
    n = 0
    for (kind, label), cat in tracer.written.items():
        table = cat.nodes(label) if kind == "node" else cat.edges(label)
        if label in table:
            plan = table[label]._jdf.queryExecution().logical()
            n += plan.treeString().count("\n")
    return n


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_TASK_FIELDS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read",
                "shuffle_write", "spill", "input")


@dataclass
class Job:
    jid: int
    group: Optional[str]
    t0: float
    t1: float
    stats: collections.Counter = field(default_factory=collections.Counter)


@dataclass
class EventLog:
    jobs: List[Job]
    sql: List[tuple]  # (execution start time, [plan trees])
    accum: collections.Counter  # accumulator id -> total


def read_event_log(log_dir: str) -> EventLog:
    (name,) = os.listdir(log_dir)
    jobs: Dict[int, Job] = {}
    stage_job: Dict[int, int] = {}
    stages_run: Dict[int, set] = collections.defaultdict(set)
    sql: Dict[int, tuple] = {}
    accum: collections.Counter = collections.Counter()
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = Job(e["Job ID"], group,
                                        e["Submission Time"] / 1e3, 0.0)
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]].t1 = e["Completion Time"] / 1e3
            elif ev == "SparkListenerTaskEnd":
                job = jobs[stage_job[e["Stage ID"]]]
                stages_run[job.jid].add(e["Stage ID"])
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st = job.stats
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
                st["input"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                    try:  # SQL metric updates are logged as strings
                        accum[a["ID"]] += float(a["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif ev.endswith("SQLExecutionStart"):
                sql[e["executionId"]] = (e["time"] / 1e3,
                                         [e["sparkPlanInfo"]])
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                sql[e["executionId"]][1].append(e["sparkPlanInfo"])
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for aid, v in e["accumUpdates"]:
                    accum[aid] += v
    for jid, stages in stages_run.items():
        jobs[jid].stats["stages"] = len(stages)
    return EventLog(list(jobs.values()), list(sql.values()), accum)


def _walk(node) -> Iterable[dict]:
    yield node
    for ch in node["children"]:
        yield from _walk(ch)


def _metric(node, name) -> Optional[int]:
    for m in node["metrics"]:
        if m["name"] == name:
            return m["accumulatorId"]
    return None


def _rows_below(node) -> Optional[int]:
    """Accumulator of the output rows of the nearest descendant that
    counts them: the rows a node consumes."""
    queue = list(node["children"])
    while queue:
        n = queue.pop(0)
        aid = _metric(n, "number of output rows")
        if aid is not None:
            return aid
        queue.extend(n["children"])
    return None


def _python_nodes(plans) -> Iterable[dict]:
    for plan in plans:
        for n in _walk(plan):
            if _metric(n, "data sent to Python workers") is not None:
                yield n


def _verify_node(node) -> bool:
    """The node minhash_lsh_pairs verifies candidate pairs in: the Arrow
    signature-agreement kernel, whose input is the candidate pairs."""
    return (_metric(node, "data sent to Python workers") is not None
            and "_matches" in node["simpleString"])


# ---------------------------------------------------------------------------
# reducer
# ---------------------------------------------------------------------------


@dataclass
class Interval:
    name: str
    depth: int
    prio: int
    t0: float
    t1: float


def attribute(intervals: List[Interval]) -> Dict[str, float]:
    """Seconds per interval name: every instant goes to the deepest active
    interval (then the higher prio, then the later start). The result
    sums to the union of the intervals, i.e. the root's duration."""
    pts = sorted({t for iv in intervals for t in (iv.t0, iv.t1)})
    out: Dict[str, float] = collections.defaultdict(float)
    for a, b in zip(pts, pts[1:]):
        mid = (a + b) / 2
        live = [iv for iv in intervals if iv.t0 <= mid < iv.t1]
        if live:
            best = max(live, key=lambda iv: (iv.depth, iv.prio, iv.t0))
            out[best.name] += b - a
    return out


def _union(spans: Iterable[tuple]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def entry_of(op: str) -> Optional[str]:
    """The batch entry an operation id ``entry:<name>:<pass>`` runs."""
    return op.split(":")[1] if op.startswith("entry:") else None


def reduce(tracer: Tracer, log: EventLog, ops: List[str], root_layer: str,
           extra: Optional[dict] = None) -> Dict[str, float]:
    """Per-layer metrics over the operations ``ops``: means per op, and
    for ``entry.*`` means per run of that entry."""
    tot: collections.Counter = collections.Counter()
    runs: collections.Counter = collections.Counter(
        entry_of(op) for op in ops)
    by_op = collections.defaultdict(list)
    for s in tracer.spans:
        by_op[s.op].append(s)
    op_set = set(ops)
    jobs_by_op = collections.defaultdict(list)
    for j in log.jobs:
        if j.group in op_set:
            jobs_by_op[j.group].append(j)
    phases_by_op = collections.defaultdict(list)
    for op, name, t0, t1 in tracer.phases:
        phases_by_op[op].append((name, t0, t1))

    for op in ops:
        root = tracer.roots[op]
        spans = {s.sid: s for s in by_op[op]}
        depth = {}

        def d(s):
            if s.sid not in depth:
                p = spans.get(s.parent)
                depth[s.sid] = 0 if p is None else d(p) + 1
            return depth[s.sid]

        def clip(t0, t1, s):
            return max(t0, s.t0), min(t1, s.t1)

        def host(t0, t1):
            """Deepest span containing the interval's midpoint."""
            mid = (t0 + t1) / 2
            inside = [s for s in spans.values() if s.t0 <= mid <= s.t1]
            return max(inside, key=d) if inside else root

        ivs = [Interval(s.name, d(s), 0, *clip(s.t0, s.t1, root))
               for s in spans.values()]
        job_spans = []
        for j in jobs_by_op[op]:
            h = host(j.t0, j.t1)
            a, b = clip(j.t0, j.t1, h)
            if b > a:
                ivs.append(Interval("spark.job", d(h) + 1, 2, a, b))
                job_spans.append((a, b))
            chain, s = set(), h
            while s is not None:
                chain.add(s.name)
                s = spans.get(s.parent)
            if chain & set(EAGER_SPANS):
                tot["compiler.eager_jobs"] += 1
            for k in _TASK_FIELDS + ("stages",):
                tot["spark." + k] += j.stats[k]
            tot["spark.jobs"] += 1
            if entry_of(op):
                tot[f"entry.{entry_of(op)}.jobs"] += 1
        for name, t0, t1 in phases_by_op[op]:
            h = host(t0, t1)
            a, b = clip(t0, t1, h)
            if b > a:
                ivs.append(Interval(name, d(h) + 1, 1, a, b))
        selfs = attribute(ivs)
        if abs(sum(selfs.values()) - (root.t1 - root.t0)) > 1e-6:
            raise RuntimeError(f"self times of {op} do not add up")
        for name, sec in selfs.items():
            layer = root_layer if name == "op" else SELF_LAYER[name]
            tot[layer] += sec * 1e3
        tot["spark.driver_idle_ms"] += (
            (root.t1 - root.t0) - _union(job_spans)) * 1e3
        for s in spans.values():
            if s.name in ("entry.construct", "entry.execute"):
                phase = s.name.split(".")[1]
                tot[f"entry.{entry_of(op)}.{phase}_ms"] += (
                    (s.t1 - s.t0) * 1e3)
        for k in ("wire.response_rows", "catalog.invalidations",
                  "search.index_builds", "search.index_hits",
                  "search.searches"):
            tot[k] += tracer.counts[(op, k)]

    n = max(len(ops), 1)
    renames = {"spark.run_ms": "spark.task_run_ms",
               "spark.cpu_ms": "spark.task_cpu_ms",
               "spark.shuffle_read": "spark.shuffle_read_bytes",
               "spark.shuffle_write": "spark.shuffle_write_bytes",
               "spark.spill": "spark.spill_bytes",
               "spark.input": "spark.input_bytes"}
    out = {renames.get(k, k): v / n for k, v in tot.items()
           if not k.startswith("entry.") and k not in (
               "search.index_builds", "search.index_hits",
               "search.searches")}
    out.update({k: v / runs[k.split(".")[1]] for k, v in tot.items()
                if k.startswith("entry.")})
    out["search.index_builds"] = tot["search.index_builds"]
    searches = tot["search.searches"]
    out["search.index_hit_ratio"] = (tot["search.index_hits"] / searches
                                     if searches else 0.0)
    out.update(_sql_metrics(tracer, log, ops))
    out.update(extra or {})
    return {k: float(v) for k, v in out.items()}


def _sql_metrics(tracer: Tracer, log: EventLog, ops: List[str]) -> dict:
    """Arrow transfer counts and dedup verification yields, from the SQL
    metrics of executions started inside the operations."""
    windows = [(tracer.roots[op].t0, tracer.roots[op].t1, op) for op in ops]
    seen = set()
    rows = byts = cands = 0
    for t, plans in log.sql:
        op = next((o for a, b, o in windows if a <= t <= b), None)
        if op is None:
            continue
        for node in _python_nodes(plans):
            aid = _metric(node, "data sent to Python workers")
            if aid in seen:
                continue
            seen.add(aid)
            byts += log.accum[aid]
            below = _rows_below(node)
            rows += log.accum[below] if below is not None else 0
            if entry_of(op) == "dedup_minhash_pairs" and _verify_node(node):
                cands += log.accum[below] if below is not None else 0
    n = max(len(ops), 1)
    pairs = sum(tracer.counts[(o, "dedup.pairs")] for o in ops
                if entry_of(o) == "dedup_minhash_pairs")
    return {"arrow.rows_to_python": rows / n,
            "arrow.bytes_to_python": byts / n,
            "dedup.verify_yield": pairs / cands if cands else 0.0}
