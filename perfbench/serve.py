"""serve_rw: a read/write mix over HTTP against HelixSparkServer.

One client, closed loop, one connection at a time over loopback: the next
request goes out when the previous response has been read. The request
stream is cut into cycles of three blocks; a block is four reads and one
write. A cycle holds each read template twice and each write kind once,
so every run sees the same mix and only the drawn parameters follow the
seed. Every write carries ``x-helix-await-durable: true``. Set-up ends
with one untimed cycle; the timed window is whole cycles after it.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import time
from dataclasses import dataclass
from typing import List, Optional

import numpy as np

from . import oracle, session, stats, trace
from .stats import Result

READS = ("point", "two_hop", "in_hop", "group_count", "vector", "bm25")
WRITES = ("add_doc", "add_edge", "set_balance")
ROUTE = "customer_by_key"
ZIPF_S = 1.1  # skew of the customer keys that point, hop and write ops hit
WARM_CYCLES = 1  # untimed cycles in set-up
NEW_DOC_BASE = 10_000_000  # doc_id of the first written document
GROUP_PROPS = ("o_orderstatus", "o_orderpriority")


@dataclass
class Op:
    kind: str
    params: dict
    path: str
    body: dict

    @property
    def write(self) -> bool:
        return self.kind in WRITES


def _label(name: str) -> dict:
    return {"NWhere": {"Eq": ["$label", {"String": name}]}}


def _customer(key) -> list:
    return [_label("customer"), {"Where": {"Eq": ["c_custkey", {"I64": key}]}}]


_POINT_VALUES = {"Values": ["c_custkey", "c_name", "c_acctbal"]}


def _request(steps: list, mode: str = "read") -> dict:
    return {"request_type": mode, "query_name": "perfbench",
            "query": {"queries": [{"Query": {"name": "r", "steps": steps,
                                             "condition": None}}],
                      "returns": ["r"]},
            "parameters": {}}


def route_bundle():
    """The stored route the point lookup uses half of the time."""
    from helix_db_spark.server import QueryBundle

    steps = [_label("customer"),
             {"Where": {"EqExpr": ["c_custkey", {"Param": "key"}]}},
             _POINT_VALUES]
    return QueryBundle.from_json({
        "version": 5,
        "read_routes": {ROUTE: _request(steps)["query"]},
        "write_routes": {},
        "read_parameters": {ROUTE: [{"name": "key", "ty": "I64"}]},
    })


class Schedule:
    """Seeded request stream; cycle ``c`` is the same for a given seed
    however many cycles a run completes."""

    def __init__(self, seed: int, keys: list, vocab: list, emb: dict):
        from helix_db_spark.catalog import ID_SHIFT
        from helix_db_spark.sources.tpch import TABLES

        self.seed = seed
        rng = np.random.default_rng(seed)
        self.keys = rng.permutation(np.asarray(keys))  # Zipf rank -> key
        w = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_S
        self.key_p = w / w.sum()
        self.vocab = vocab
        self.emb = emb
        self.emb_ids = sorted(emb)
        # node ids are (label ordinal << ID_SHIFT) + natural key, ordinals
        # in TABLES order (catalog.global_id)
        self.emb_base = (TABLES.index("embeddings") + 1) << ID_SHIFT
        self._last_set_key = None

    def _key(self, rng) -> int:
        return int(self.keys[rng.choice(len(self.keys), p=self.key_p)])

    def _read(self, kind: str, rng, key=None) -> Op:
        if kind in ("point", "point_route", "two_hop", "in_hop"):
            key = self._key(rng) if key is None else key
        if kind == "point":
            return Op(kind, {"key": key}, "/v1/query",
                      _request(_customer(key) + [_POINT_VALUES]))
        if kind == "point_route":
            return Op(kind, {"key": key}, f"/v1/query/{ROUTE}",
                      {"parameters": {"key": key}})
        if kind == "two_hop":
            return Op(kind, {"key": key}, "/v1/query", _request(
                _customer(key) + [{"Out": "in_nation"}, {"Out": "in_region"},
                                  {"Values": ["r_name"]}]))
        if kind == "in_hop":
            return Op(kind, {"key": key}, "/v1/query", _request(
                _customer(key) + [{"In": "placed_by"},
                                  {"OrderBy": ["o_totalprice", "Asc"]},
                                  {"Limit": 10},
                                  {"Values": ["o_orderkey", "o_totalprice"]}]))
        if kind == "group_count":
            prop = GROUP_PROPS[rng.integers(len(GROUP_PROPS))]
            return Op(kind, {"property": prop}, "/v1/query", _request(
                [_label("orders"), {"GroupCount": prop}]))
        if kind == "vector":
            vec_id = self.emb_ids[rng.integers(len(self.emb_ids))]
            vec = [float(x) for x in self.emb[vec_id]]
            return Op(kind, {"vector": vec}, "/v1/query", _request([
                {"VectorSearchNodes": {
                    "label": "embeddings", "property": "embedding",
                    "query_vector": {"Value": {"F32Array": vec}}, "k": 10}},
                {"Project": [{"alias": "vec_id", "source": "vec_id"},
                             {"alias": "distance", "source": "$distance"}]}]))
        if kind == "bm25":
            n = int(rng.integers(1, 4))
            terms = [self.vocab[i] for i in
                     rng.choice(len(self.vocab), size=n, replace=False)]
            return Op(kind, {"terms": terms}, "/v1/query", _request([
                {"TextSearchNodes": {
                    "label": "documents", "property": "text",
                    "query_text": {"Value": {"String": " ".join(terms)}},
                    "k": 10}},
                {"Project": [{"alias": "doc_id", "source": "doc_id"},
                             {"alias": "distance", "source": "$distance"}]}]))
        raise ValueError(kind)

    def _write(self, kind: str, rng, c: int) -> Op:
        doc_id = NEW_DOC_BASE + c
        if kind == "add_doc":
            words = rng.choice(len(self.vocab), size=int(rng.integers(8, 21)))
            text = " ".join(self.vocab[i] for i in words)
            return Op(kind, {"doc_id": doc_id, "text": text}, "/v1/query",
                      _request([{"AddN": {"label": "documents", "properties": [
                          ["doc_id", {"Value": {"I64": doc_id}}],
                          ["text", {"Value": {"String": text}}]]}}], "write"))
        if kind == "add_edge":
            vec_id = self.emb_ids[rng.integers(len(self.emb_ids))]
            return Op(kind, {"doc_id": doc_id, "vec_id": vec_id}, "/v1/query",
                      _request([_label("documents"),
                                {"Where": {"Eq": ["doc_id", {"I64": doc_id}]}},
                                {"AddE": {"label": "has_embedding",
                                          "to": {"Ids": [self.emb_base
                                                         + vec_id]},
                                          "properties": []}}], "write"))
        key = self._key(rng)
        value = round(float(rng.uniform(-999.0, 9999.0)), 2)
        self._last_set_key = key
        return Op(kind, {"key": key, "value": value}, "/v1/query",
                  _request(_customer(key) + [{"SetProperty": [
                      "c_acctbal", {"Value": {"F64": value}}]}], "write"))

    def cycle(self, c: int) -> List[Op]:
        """Cycles must be drawn in order: a cycle's first read is a point
        lookup of the key the previous cycle's balance write changed."""
        rng = np.random.default_rng([self.seed, c])
        others = [k for k in READS if k != "bm25"] * 2
        kinds = [others[i] for i in rng.permutation(len(others))]
        # one BM25 read after the document write (it rebuilds the index)
        # and one before it, so every cycle has exactly one rebuild
        kinds.insert(int(rng.integers(4, len(kinds) + 1)), "bm25")
        kinds.insert(int(rng.integers(0, 4)), "bm25")
        points = [i for i, k in enumerate(kinds) if k == "point"]
        kinds[points[int(rng.integers(2))]] = "point_route"
        first_key = None
        if self._last_set_key is not None:  # read-your-write
            p = next(i for i, k in enumerate(kinds) if k.startswith("point"))
            kinds.insert(0, kinds.pop(p))
            first_key = self._last_set_key
        reads = [self._read(k, rng, first_key if i == 0 else None)
                 for i, k in enumerate(kinds)]
        ops: List[Op] = []
        for b, kind in enumerate(WRITES):
            ops += reads[4 * b:4 * b + 4]
            ops.append(self._write(kind, rng, c))
        return ops


def engine_setup(spark, sf_dir: str):
    """Mount the graph, build the served indexes and start the server;
    returns the server and its port."""
    from helix_db_spark.engine import HelixSparkEngine
    from helix_db_spark.operators.search import (build_text_index,
                                                 build_vector_index)
    from helix_db_spark.plans.compiler import ExecContext, StepCompiler
    from helix_db_spark.server import HelixSparkServer
    from helix_db_spark.sources.tpch import load_graph

    cat = load_graph(spark, sf_dir)
    comp = StepCompiler(ExecContext(cat))
    build_text_index(comp, "documents", "text")[0].count()
    build_vector_index(comp, "embeddings", "embedding").count()
    srv = HelixSparkServer(HelixSparkEngine(cat), route_bundle())
    port = srv.start()
    if not srv.ready():
        raise RuntimeError("server failed its readiness probe")
    return srv, port


def send(port: int, op: Op, op_id: Optional[str]) -> tuple:
    """(status, response, seconds) of one request on a fresh connection
    (the server speaks HTTP/1.0 and closes it after the response). A
    transport error is status 0."""
    headers = {"Content-Type": "application/json"}
    if op.write:
        headers["x-helix-await-durable"] = "true"
    if op_id is not None:
        headers[trace.OP_HEADER] = op_id
    data = json.dumps(op.body)
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", op.path, body=data, headers=headers)
        resp = conn.getresponse()
        status, body = resp.status, json.loads(resp.read())
    except (OSError, http.client.HTTPException, ValueError) as ex:
        status, body = 0, {"error": repr(ex)}
    finally:
        conn.close()
    return status, body, time.perf_counter() - t0


def run(sf_dir: str, work: str, seed: int, seconds: float,
        traced: bool) -> Result:
    # benchmark-side preparation (schedule inputs, oracle tables) happens
    # before the engine starts and is not part of setup_s
    orc = oracle.ServedOracle(sf_dir, work)
    sched = Schedule(seed, orc.customer_keys(), orc.vocabulary(),
                     orc.embeddings())
    spark, session_s = session.start(work, event_log=traced)
    try:
        t0 = time.perf_counter()
        srv, port = engine_setup(spark, sf_dir)
        engine_s = time.perf_counter() - t0
        issued = []  # (op, status, body)
        # whole untimed cycles first, so that the timed cycles find every
        # path (each template, the writes, the index rebuild) compiled
        for c in range(WARM_CYCLES):
            for op in sched.cycle(c):
                status, body, _ = send(port, op, None)
                issued.append((op, status, body))
        session.collect_garbage(spark)  # the warm-up's garbage
        setup_s = session_s + time.perf_counter() - t0

        tracer = trace.Tracer() if traced else None
        undo = trace.install(tracer, spark) if traced else None
        lat = {"read": [], "write": []}
        op_ids = []
        t_start = time.perf_counter()
        c = WARM_CYCLES
        while time.perf_counter() - t_start < seconds:
            for op in sched.cycle(c):
                op_id = f"c{c}.{len(op_ids)}" if traced else None
                with (tracer.span("op", op=op_id) if traced
                      else contextlib.nullcontext()):
                    status, body, sec = send(port, op, op_id)
                issued.append((op, status, body))
                lat["write" if op.write else "read"].append(sec * 1e3)
                if traced:
                    op_ids.append(op_id)
            c += 1
        window_s = time.perf_counter() - t_start
        rss = session.peak_rss_mb(spark)
        heap = session.retained_heap_mb(spark)
        if traced:
            undo()
            layer_extra = {"spark.storage_mb": session.storage_mb(spark),
                           "catalog.plan_nodes": trace.plan_nodes(tracer)}
        srv.stop()
    finally:
        session.stop(spark)

    failed = 0
    for op, status, body in issued:
        reason = (f"HTTP {status}: {body}" if status != 200
                  else orc.check(op, body.get("r", [])))
        if reason is not None:
            failed += 1
            print(f"# wrong answer for {op.kind} {op.params}: {reason}")
        elif op.write:
            orc.apply(op)
    both = lat["read"] + lat["write"]
    metrics = {"setup_s": setup_s,
               "ops_per_s": len(both) / window_s,
               "gmean_ms": stats.gmean(both),
               "p50_ms": stats.median(both),
               "max_ms": max(both)}
    table = [("setup_s", setup_s, "s",
              f"session {session_s:.2f} s + engine set-up {engine_s:.2f} s"
              f" + {WARM_CYCLES} warm-up cycle(s)"),
             ("ops_per_s", metrics["ops_per_s"], "1/s",
              f"{len(both)} requests in {window_s:.1f} s"),
             ("gmean_ms", metrics["gmean_ms"], "ms",
              "geometric mean, all requests"),
             ("p50_ms", metrics["p50_ms"], "ms", "all requests"),
             ("max_ms", metrics["max_ms"], "ms", "slowest request")]
    for cls in ("read", "write"):
        v = lat[cls]
        t, lab = stats.tail(v)
        table += [(f"{cls}_p50_ms", stats.median(v), "ms", f"n={len(v)}"),
                  (f"{cls}_tail_ms", t, "ms", f"{lab} of {len(v)}")]
    table += [("error_rate", failed / len(issued), "ratio",
               f"{failed} of {len(issued)} answers (warm-up included) "
               "wrong or failed"),
              ("retained_heap_mb", heap, "MB", "JVM heap after a full GC"),
              ("peak_rss_mb", rss, "MB", "driver JVM + Python VmHWM")]
    per_layer = None
    if traced:
        layer_extra.update({"trace.ops_per_s": metrics["ops_per_s"],
                            "trace.gmean_ms": metrics["gmean_ms"]})
        per_layer = trace.reduce(tracer, trace.read_event_log(
            f"{work}/eventlog"), op_ids, "server.transport_ms", layer_extra)
    return Result(len(issued), failed, metrics, table, per_layer)
