"""HTTP surface tests: dynamic queries and stored-route bundles over real
sockets, mirroring the reference client protocol (client.py:170-215)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from helix_db_spark.catalog import GraphCatalog
from helix_db_spark.engine import HelixSparkEngine
from helix_db_spark.server import HelixSparkServer, QueryBundle


@pytest.fixture(scope="module")
def server(spark):
    cat = GraphCatalog(spark)
    cat.add_nodes("User", spark.createDataFrame(
        [(1, "alice", 31), (2, "bob", 27)], "k long, name string, age long"),
        key_col="k")
    bundle = QueryBundle.from_json({
        "version": 5,
        "read_routes": {
            "adults": {"queries": [{"Query": {
                "name": "adults",
                "steps": [
                    {"NWhere": {"Eq": ["$label", {"String": "User"}]}},
                    {"Where": {"GteExpr": ["age", {"Param": "min_age"}]}},
                    {"Values": ["name"]}],
                "condition": None}}],
                "returns": ["adults"]},
        },
        "write_routes": {},
        "read_parameters": {"adults": [{"name": "min_age", "ty": "I64"}]},
    })
    srv = HelixSparkServer(HelixSparkEngine(cat), bundle)
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()


def _post(url: str, body: dict) -> tuple:
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json",
                 "Authorization": "Bearer test-key"})
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as ex:
        return ex.code, json.loads(ex.read())


def test_dynamic_query_roundtrip(server):
    status, out = _post(server + "/v1/query", {
        "request_type": "read",
        "query": {"queries": [{"Query": {
            "name": "n", "steps": [
                {"NWhere": {"Eq": ["$label", {"String": "User"}]}},
                "Count"], "condition": None}}],
            "returns": ["n"]},
    })
    assert (status, out) == (200, {"n": [{"count": 2}]})


def test_stored_route_with_params(server):
    status, out = _post(server + "/v1/query/adults",
                        {"parameters": {"min_age": 30}})
    assert (status, out) == (200, {"adults": [{"name": "alice"}]})


def test_unknown_route_404(server):
    status, out = _post(server + "/v1/query/nope", {})
    assert status == 404 and "unknown stored query" in out["error"]


def test_bad_request_400(server):
    status, out = _post(server + "/v1/query", {
        "request_type": "neither", "query": {"queries": [], "returns": []}})
    assert status == 400 and "request_type" in out["error"]


def test_write_step_in_read_batch_400(server):
    status, out = _post(server + "/v1/query", {
        "request_type": "read",
        "query": {"queries": [{"Query": {
            "name": "bad",
            "steps": [{"AddN": {"label": "X", "properties": []}}],
            "condition": None}}], "returns": []},
    })
    assert status == 400 and "write step" in out["error"]


def test_bundle_version_check():
    with pytest.raises(Exception, match="unsupported query bundle version"):
        QueryBundle.from_json({"version": 3, "read_routes": {},
                               "write_routes": {}})


def test_readiness_probe(spark):
    srv = HelixSparkServer(HelixSparkEngine(GraphCatalog(spark)))
    assert srv.ready()  # empty label scan answers 0, engine is up


def _vector_search_request():
    return {
        "request_type": "read",
        "query": {"queries": [{"Query": {
            "name": "hits",
            "steps": [{"VectorSearchNodes": {
                "label": "Doc", "property": "emb",
                "query_vector": {"Value": {"F32Array": [1.0, 0.0]}},
                "k": 2}}],
            "condition": None}}],
            "returns": ["hits"]},
    }


def test_warm_only_cold_then_warm(spark):
    """x-helix-warm=true: cold index => 425 Too Early; after the index is
    materialized the same request succeeds (rust SDK lib.rs:279-284)."""
    from helix_db_spark.operators.search import build_vector_index
    from helix_db_spark.plans.compiler import ExecContext, StepCompiler

    cat = GraphCatalog(spark)
    cat.add_nodes("Doc", spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "k long, emb array<float>"),
        key_col="k")
    srv = HelixSparkServer(HelixSparkEngine(cat))
    req = _vector_search_request()
    warm_hdr = {"x-helix-warm": "true"}

    status, out = srv.handle("/v1/query", req, headers=warm_hdr)
    assert status == 425 and "not materialized" in out["error"]
    # un-warmed requests still execute
    status, _ = srv.handle("/v1/query", req)
    assert status == 200
    # warm it via the index build, then warm-only succeeds
    comp = StepCompiler(ExecContext(cat))
    build_vector_index(comp, "Doc", "emb").count()
    status, out = srv.handle("/v1/query", req, headers=warm_hdr)
    assert status == 200 and len(out["hits"]) == 2


def test_await_durable_checkpoints_writes(spark):
    """x-helix-await-durable=true on a write batch checkpoints every mutated
    table before the response (lib.rs:290-296 analogue)."""
    cat = GraphCatalog(spark)
    cat.add_nodes("User", spark.createDataFrame(
        [(1, "alice")], "k long, name string"), key_col="k")
    srv = HelixSparkServer(HelixSparkEngine(cat))
    req = {
        "request_type": "write",
        "query": {"queries": [{"Query": {
            "name": "w",
            "steps": [{"AddN": {"label": "User",
                                "properties": [["name",
                                                {"Value": {"String": "bob"}}]]}}],
            "condition": None}}],
            "returns": ["w"]},
    }
    status, _ = srv.handle("/v1/query", req,
                           headers={"x-helix-await-durable": "true"})
    assert status == 200
    assert cat._dirty == set()  # everything mutated was checkpointed
    # and the checkpointed state is the post-write state
    assert cat.nodes("User")["User"].count() == 2

    # without the header, dirty state accumulates until the next await
    status, _ = srv.handle("/v1/query", req)
    assert status == 200
    assert ("node", "User") in cat._dirty


def test_warm_detects_search_inside_subtraversal_and_foreach(spark):
    """ADVICE r3: _cold_reason must recurse into Choose/Union/Optional/
    Repeat sub-traversals and ForEach bodies — a cold search step nested
    there must still 425 a warm-only request."""
    from helix_db_spark.operators.search import build_vector_index
    from helix_db_spark.plans.compiler import ExecContext, StepCompiler

    cat = GraphCatalog(spark)
    cat.add_nodes("Doc", spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "k long, emb array<float>"),
        key_col="k")
    srv = HelixSparkServer(HelixSparkEngine(cat))
    search_step = {"VectorSearchNodes": {
        "label": "Doc", "property": "emb",
        "query_vector": {"Value": {"F32Array": [1.0, 0.0]}}, "k": 2}}
    nested = {
        "request_type": "read", "query_name": "nested",
        "query": {"queries": [{"Query": {
            "name": "hits",
            "steps": [
                {"NWhere": {"Eq": ["$label", {"String": "Doc"}]}},
                {"Union": [{"steps": [search_step]}]}],
            "condition": None}}],
            "returns": ["hits"]},
    }
    warm_hdr = {"x-helix-warm": "true"}
    status, out = srv.handle("/v1/query", nested, headers=warm_hdr)
    assert status == 425 and "not materialized" in out["error"]
    comp = StepCompiler(ExecContext(cat))
    build_vector_index(comp, "Doc", "emb").count()
    status, _ = srv.handle("/v1/query", nested, headers=warm_hdr)
    assert status == 200


def test_warm_bm25_after_add_n(spark):
    """An AddN of a text document extends the in-memory BM25 index in
    place, so a warm-only BM25 request right after the durable write still
    finds the index warm (and sees the new document)."""
    from helix_db_spark.operators.search import build_text_index
    from helix_db_spark.plans.compiler import ExecContext, StepCompiler

    cat = GraphCatalog(spark)
    cat.add_nodes("Doc", spark.createDataFrame(
        [(1, "spark join"), (2, "window merge")], "k long, text string"),
        key_col="k")
    build_text_index(StepCompiler(ExecContext(cat)), "Doc", "text")
    srv = HelixSparkServer(HelixSparkEngine(cat))

    def request(mode, *steps):
        return {"request_type": mode, "query": {"queries": [{"Query": {
            "name": "r", "steps": list(steps), "condition": None}}],
            "returns": ["r"]}}

    add = request("write", {"AddN": {"label": "Doc", "properties": [
        ["k", {"Value": {"I64": 3}}],
        ["text", {"Value": {"String": "quokka spark"}}]]}})
    status, _ = srv.handle("/v1/query", add,
                           headers={"x-helix-await-durable": "true"})
    assert status == 200
    bm25 = request("read", {"TextSearchNodes": {
        "label": "Doc", "property": "text",
        "query_text": {"Value": {"String": "quokka"}}, "k": 5}},
        {"Project": [{"alias": "k", "source": "k"}]})
    status, out = srv.handle("/v1/query", bm25,
                             headers={"x-helix-warm": "true"})
    assert status == 200, out
    assert [r["k"] for r in out["r"]] == [3]


def test_warm_probe_ivf_method(spark):
    """method='ivf' warm probe: cold until the plan-keyed cache holds the
    build this request's probe reads (another catalog's 'emb' build does
    not count), then warm-only requests pass."""
    from helix_db_spark.catalog import _ID
    from helix_db_spark.operators.similarity import ivf_index

    cat = GraphCatalog(spark)
    cat.add_nodes("Doc", spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "k long, emb array<float>"), key_col="k")
    srv = HelixSparkServer(HelixSparkEngine(cat))
    req = _vector_search_request()
    req["query"]["queries"][0]["Query"]["steps"][0]["VectorSearchNodes"][
        "method"] = "ivf"
    warm_hdr = {"x-helix-warm": "true"}

    status, out = srv.handle("/v1/query", req, headers=warm_hdr)
    assert status == 425 and "ivf" in out["error"]
    status, _ = srv.handle("/v1/query", req)   # un-warmed still executes
    assert status == 200
    base = cat.nodes("Doc")["Doc"].filter("emb IS NOT NULL")
    ivf_index(base, _ID, "emb")                # build -> cached by plan
    status, out = srv.handle("/v1/query", req, headers=warm_hdr)
    assert status == 200 and len(out["hits"]) == 2


def test_warm_ivf_after_add_n_is_cold(spark):
    """An AddN changes the IVF source plan: a warm-only IVF request after
    it answers 425 and starts no build (the pre-write build is stale)."""
    from helix_db_spark.operators.similarity import _IVF_CACHE

    cat = GraphCatalog(spark)
    cat.add_nodes("Doc", spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "k long, emb array<float>"), key_col="k")
    srv = HelixSparkServer(HelixSparkEngine(cat))
    req = _vector_search_request()
    req["query"]["queries"][0]["Query"]["steps"][0]["VectorSearchNodes"][
        "method"] = "ivf"
    warm_hdr = {"x-helix-warm": "true"}
    assert srv.handle("/v1/query", req)[0] == 200          # builds
    assert srv.handle("/v1/query", req, headers=warm_hdr)[0] == 200

    add = {"request_type": "write", "query": {"queries": [{"Query": {
        "name": "w", "steps": [{"AddN": {"label": "Doc", "properties": [
            ["k", {"Value": {"I64": 4}}],
            ["emb", {"Value": {"F32Array": [0.0, 1.0]}}]]}}],
        "condition": None}}], "returns": ["w"]}}
    status, _ = srv.handle("/v1/query", add,
                           headers={"x-helix-await-durable": "true"})
    assert status == 200
    before = set(_IVF_CACHE)
    status, out = srv.handle("/v1/query", req, headers=warm_hdr)
    assert status == 425 and "ivf" in out["error"]
    assert set(_IVF_CACHE) == before                        # no build


def test_warm_on_stored_catalog(spark, tmp_path):
    """A reloaded catalog's disk layouts build nothing when probed, so
    warm-only BM25 and LSH requests on them answer 200."""
    from helix_db_spark.catalog import IndexEntry
    from helix_db_spark.plans.compiler import ExecContext, StepCompiler
    from helix_db_spark.sources.store import (load_catalog, save_catalog,
                                              store_index)
    from helix_db_spark.sources.tpch import load_graph

    sf_dir = "/root/testdata/sf0.001"
    cat = load_graph(spark, sf_dir)
    cat.create_index(IndexEntry("node_text", "documents", "text"))
    cat.create_index(IndexEntry("node_vector", "embeddings", "embedding"))
    root = str(tmp_path / "store")
    save_catalog(cat, root, partitions=2)
    store_index(StepCompiler(ExecContext(cat)), root)
    srv = HelixSparkServer(HelixSparkEngine(load_catalog(spark, root)))

    vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").head()[
        "embedding"]
    steps = [{"TextSearchNodes": {
        "label": "documents", "property": "text",
        "query_text": {"Value": {"String": "spark query"}}, "k": 3}},
        {"VectorSearchNodes": {
            "label": "embeddings", "property": "embedding",
            "query_vector": {"Value": {"F32Array": [float(x) for x in vec]}},
            "k": 3, "method": "lsh"}}]
    for step in steps:
        req = {"request_type": "read", "query": {"queries": [{"Query": {
            "name": "r", "steps": [step], "condition": None}}],
            "returns": ["r"]}}
        status, out = srv.handle("/v1/query", req,
                                 headers={"x-helix-warm": "true"})
        assert status == 200, out
        assert len(out["r"]) == 3


def test_concurrent_mixed_requests(server):
    """20 interleaved dynamic + stored-route requests from 8 threads all
    come back correct — the served engine shares one SparkSession across
    handler threads (Spark jobs are thread-safe; catalog reads are
    immutable frames)."""
    from concurrent.futures import ThreadPoolExecutor

    dyn = {"request_type": "read",
           "query": {"queries": [{"Query": {
               "name": "r",
               "steps": [{"NWhere": {"Eq": ["$label", {"String": "User"}]}},
                         "Count"],
               "condition": None}}], "returns": ["r"]}}

    def one(i):
        if i % 2:
            return _post(f"{server}/v1/query", dyn)
        return _post(f"{server}/v1/query/adults",
                     {"min_age": 30})

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(one, range(20)))
    for i, (status, body) in enumerate(results):
        assert status == 200, (i, body)
        if i % 2:
            assert body["r"] == [{"count": 2}]
        else:
            assert body["adults"] == [{"name": "alice"}]
