"""Served BM25 probes and driver literals.

- a served BM25 request starts at most two Spark jobs and a handful of
  tasks, on a fresh index and with a pending AddN delta; a point read
  starts one;
- BM25 answers equal a reference BM25 computed in Python over the same
  documents (ties at rank k, a tenant index, appended documents, new and
  unknown terms, a NULL text, the stored disk layout);
- the empty write frames and ``lit_vector`` give exactly the values
  ``createDataFrame`` and ``F.lit`` give.
"""

from __future__ import annotations

import itertools
import math
import random
import struct
from collections import Counter

import pytest

from pyspark.sql import functions as F

from helix_db_spark import g, write_batch
from helix_db_spark.catalog import _ID, IndexEntry
from helix_db_spark.engine import HelixSparkEngine
from helix_db_spark.functions.text import token_list
from helix_db_spark.functions.vector import lit_vector
from helix_db_spark.operators import search
from helix_db_spark.plans import ast
from helix_db_spark.plans.compiler import ExecContext, StepCompiler
from helix_db_spark.server import HelixSparkServer
from helix_db_spark.sources.store import (load_catalog, save_catalog,
                                          store_index)
from helix_db_spark.sources.tpch import load_graph

from .conftest import SF_DIR

_groups = itertools.count()


def _jobs_and_tasks(sc, fn):
    """(jobs, tasks) that ``fn`` starts."""
    group = f"bm25-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = sum(st.getStageInfo(s).numTasks for j in jobs
                for s in st.getJobInfo(j).stageIds)
    return len(jobs), tasks


def _request(mode, *steps):
    return {"request_type": mode, "query": {"queries": [{"Query": {
        "name": "r", "steps": list(steps), "condition": None}}],
        "returns": ["r"]}}


def _bm25_request(query):
    return _request("read", {"TextSearchNodes": {
        "label": "documents", "property": "text",
        "query_text": {"Value": {"String": query}}, "k": 10}},
        {"Project": [{"alias": "doc_id", "source": "doc_id"},
                     {"alias": "distance", "source": "$distance"}]})


def _point_request(key):
    return _request("read",
                    {"NWhere": {"Eq": ["$label", {"String": "customer"}]}},
                    {"Where": {"Eq": ["c_custkey", {"I64": key}]}},
                    {"Values": ["c_custkey", "c_name", "c_acctbal"]})


def test_served_probe_job_budget(spark):
    sc = spark.sparkContext
    cat = load_graph(spark, SF_DIR)
    search.build_text_index(StepCompiler(ExecContext(cat)),
                            "documents", "text")
    cat.nodes("customer")  # the label's first read infers its schema
    srv = HelixSparkServer(HelixSparkEngine(cat))
    budget = 2 * sc.defaultParallelism

    def served(req):
        status, out = srv.handle("/v1/query", req)
        assert status == 200, out

    for query in ("spark join window", "scan", "merge quokka"):
        jobs, tasks = _jobs_and_tasks(sc, lambda: served(_bm25_request(query)))
        assert jobs <= 2 and tasks <= budget, (query, jobs, tasks)
    for key in (1, 7):
        jobs, _ = _jobs_and_tasks(sc, lambda: served(_point_request(key)))
        assert jobs == 1, (key, jobs)

    add = _request("write", {"AddN": {"label": "documents", "properties": [
        ["doc_id", {"Value": {"I64": 930001}}],
        ["text", {"Value": {"String": "quokka spark spark window"}}]]}})
    status, out = srv.handle("/v1/query", add,
                             headers={"x-helix-await-durable": "true"})
    assert status == 200, out
    key = ("bm25", "nodes", "documents", "text")
    assert cat._materialized[key][1]["delta"], "expected a pending delta"
    for query in ("spark join window", "quokka", "quokka scan"):
        jobs, tasks = _jobs_and_tasks(sc, lambda: served(_bm25_request(query)))
        assert jobs <= 2 and tasks <= budget, (query, jobs, tasks)


# ---------------------------------------------------------------------------
# answers: the engine against a reference BM25 over the same documents
# ---------------------------------------------------------------------------


def _reference(docs, query, k, restrict=None):
    """Top-k (_id, _distance) of the BM25 formula over ``docs`` ({_id:
    text}), every document indexed; ``restrict`` (a set of ids) limits the
    candidates before ranking, as a tenant index does."""
    toks = {i: token_list(t) for i, t in docs.items() if t is not None}
    toks = {i: ts for i, ts in toks.items() if ts}
    n = len(toks)
    avgdl = sum(map(len, toks.values())) / n
    df = Counter(t for ts in toks.values() for t in set(ts))
    k1, b = search.BM25_K1, search.BM25_B
    q = set(token_list(query))
    out = []
    for i, ts in toks.items():
        tf = Counter(ts)
        hit = sorted(q & set(tf))
        if not hit or (restrict is not None and i not in restrict):
            continue
        s = 0.0
        for t in hit:
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * ((tf[t] * (k1 + 1))
                        / (tf[t] + k1 * (1 - b + b * len(ts) / avgdl)))
        out.append((-s, i))
    return [(i, d) for d, i in sorted(out)[:k]]


def _engine_topk(cat, query, k, tenant=None):
    step = ast.TextSearch("nodes", "documents", "text", query, k, tenant)
    hits = search.text_search(StepCompiler(ExecContext(cat)), step)
    return [(r[_ID], r["_distance"]) for r in
            hits.frames["documents"].select(_ID, "_distance").collect()]


def _documents(cat, col="text"):
    return {r[_ID]: r[col] for r in cat.nodes("documents")["documents"]
            .select(_ID, col).collect()}


def _assert_same(got, want):
    assert [i for i, _ in got] == [i for i, _ in want]
    assert [d for _, d in got] == pytest.approx([d for _, d in want],
                                                rel=1e-12)


def _tie_at_rank(docs, query):
    """The smallest k whose k-th and (k+1)-th reference hits tie."""
    ranked = _reference(docs, query, len(docs))
    return next(j + 1 for j in range(len(ranked) - 1)
                if ranked[j][1] == ranked[j + 1][1])


@pytest.fixture(scope="module")
def appended(spark):
    """sf0.001 with a built index, then AddN documents held as the
    index's delta: two identical texts (a tie), a term new to the base
    vocabulary, and a NULL text."""
    cat = load_graph(spark, SF_DIR)
    cat.create_index(IndexEntry("node_text", "documents", "text"))
    search.build_text_index(StepCompiler(ExecContext(cat)),
                            "documents", "text")
    before = _documents(cat)
    eng = HelixSparkEngine(cat)
    for i, text in enumerate(("zyzzyva quokka quokka", "zyzzyva scan",
                              None, "zyzzyva quokka quokka")):
        props = {"doc_id": 940000 + i}
        if text is not None:
            props["text"] = text
        eng.execute_batch(write_batch().var_as(
            "d", g().add_n("documents", **props)).returning("d"))
    key = ("bm25", "nodes", "documents", "text")
    assert len(cat._materialized[key][1]["delta"]) == 6
    return cat, before


def test_answers_fresh_index_with_ties(spark):
    cat = load_graph(spark, SF_DIR)
    docs = _documents(cat)
    for query in ("scan", "dup"):
        k = _tie_at_rank(docs, query)
        _assert_same(_engine_topk(cat, query, k),
                     _reference(docs, query, k))
    for query in ("dup merge", "spark join window"):
        _assert_same(_engine_topk(cat, query, 10),
                     _reference(docs, query, 10))


def test_answers_tenant_index(spark):
    cat = load_graph(spark, SF_DIR)
    cat.create_index(IndexEntry("node_text", "documents", "text",
                                tenant_property="source"))
    docs, sources = _documents(cat), _documents(cat, "source")
    tenant = sources[min(sources)]
    own = {i for i, s in sources.items() if s == tenant}
    for query in ("scan dup", "spark join"):
        got = _engine_topk(cat, query, 5, tenant=tenant)
        assert got and {i for i, _ in got} <= own
        _assert_same(got, _reference(docs, query, 5, restrict=own))
    assert _engine_topk(cat, "scan", 5, tenant="no-such-source") == []


def test_answers_with_pending_delta(appended):
    cat, before = appended
    docs = _documents(cat)
    assert len(docs) == len(before) + 4
    for query in ("zyzzyva", "quokka", "quokka scan spark", "zyzzyva dup"):
        _assert_same(_engine_topk(cat, query, 10),
                     _reference(docs, query, 10))
    # the two identical appended texts tie at rank 1
    got = _engine_topk(cat, "quokka", 1)
    assert got == [(min(i for i, t in docs.items()
                        if t == "zyzzyva quokka quokka"), got[0][1])]
    # "zyzzyva" is new to the base vocabulary: only appended documents
    assert {i for i, _ in _engine_topk(cat, "zyzzyva", 10)} == \
        {i for i in docs if i not in before and docs[i] is not None}


def test_only_unknown_terms_are_empty(appended):
    cat, _ = appended
    for query in ("qqqq xxxxxx", "", "!!!"):
        assert _engine_topk(cat, query, 5) == []


def test_answers_store_load_probe(spark, appended, tmp_path):
    # last user of the fixture: store_index folds its delta into a rebuild
    cat, _ = appended
    root = str(tmp_path / "store")
    save_catalog(cat, root, partitions=2)
    store_index(StepCompiler(ExecContext(cat)), root)
    disk = load_catalog(spark, root)
    stats = disk._materialized[("bm25", "nodes", "documents", "text")][1]
    assert "buckets" in stats and stats["df"]["zyzzyva"] == 3
    docs = _documents(disk)
    for query in ("zyzzyva", "quokka scan spark", "dup merge window",
                  "qqqq"):
        _assert_same(_engine_topk(disk, query, 10),
                     _reference(docs, query, 10))


# ---------------------------------------------------------------------------
# driver literals
# ---------------------------------------------------------------------------

def test_empty_write_frames_round_trip(spark, catalog):
    comp = StepCompiler(ExecContext(catalog))
    for got, ddl in ((comp._empty_nodes(), "_id long, _label string"),
                     (comp._empty_edges(),
                      "_id long, _src long, _dst long, _label string")):
        want = spark.createDataFrame([], ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect() == []


def test_lit_vector_bit_equal(spark):
    rng = random.Random(7)
    vec = [1e-300, 5e-324, 2.2250738585072014e-308 / 3, -0.0] + [
        rng.uniform(-1, 1) * 10.0 ** rng.randint(-300, 300)
        for _ in range(64)]
    row = spark.range(1).select(lit_vector(vec).alias("v"),
                                F.array(*map(F.lit, vec)).alias("w")).head()

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]
    assert bits(row["v"]) == bits(vec) == bits(row["w"])
