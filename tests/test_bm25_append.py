"""O(delta) served writes: AddN/AddE rows are JVM-only literal relations,
and an in-memory BM25 index absorbs appended documents instead of being
rebuilt — with answers bit-equal to a rebuild."""

from __future__ import annotations

import datetime
import decimal
import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from helix_db_spark import P, g, write_batch
from helix_db_spark.catalog import ID_SHIFT, _ID, literal_rows
from helix_db_spark.engine import HelixSparkEngine
from helix_db_spark.functions.text import token_list, tokens
from helix_db_spark.operators import search
from helix_db_spark.plans import ast
from helix_db_spark.plans.compiler import ExecContext, StepCompiler
from helix_db_spark.sources.tpch import load_graph

from .conftest import SF_DIR

KEY = ("bm25", "nodes", "documents", "text")
QUERIES = ("spark", "zyzzyva", "spark join", "quokka spark spark",
           "zyzzyva join window", "merge quokka", "t7 t300 spark",
           "spark join window merge batch", "quokka spark zyzzyva join")


def _fresh(spark):
    cat = load_graph(spark, SF_DIR)
    comp = StepCompiler(ExecContext(cat))
    search.build_text_index(comp, "documents", "text")
    return cat, HelixSparkEngine(cat)


def _add_doc(eng, doc_id, text=None):
    props = {"doc_id": doc_id}
    if text is not None:
        props["text"] = text
    out = eng.execute_batch(write_batch().var_as(
        "d", g().add_n("documents", **props)).returning("d"))
    return out["d"]


def _topk(cat, query, k=10):
    step = ast.TextSearch("nodes", "documents", "text", query, k, None)
    hits = search.text_search(StepCompiler(ExecContext(cat)), step)
    return [(r[_ID], r["_distance"]) for r in
            hits.frames["documents"].select(_ID, "_distance").collect()]


def _rebuilt(cat):
    """Answers and stats of the same catalog after a from-scratch build."""
    cat._materialized.drop(KEY)
    stats = search.build_text_index(StepCompiler(ExecContext(cat)),
                                    "documents", "text")[1]
    return {q: _topk(cat, q) for q in QUERIES}, stats


def _assert_equals_rebuild(cat):
    stats = cat._materialized[KEY][1]
    assert stats["delta"], "expected appends held as a delta"
    got = {q: _topk(cat, q) for q in QUERIES}
    n, avgdl, df = stats["N"], stats["avgdl"], dict(stats["df"])
    want, fresh = _rebuilt(cat)
    assert (n, avgdl) == (fresh["N"], fresh["avgdl"])  # bit-equal stats
    assert df == fresh["df"]
    assert got == want


def test_token_list_matches_spark_tokens(spark):
    # every document of the sf0.01 corpus, a sibling of the test data
    path = os.path.join(os.path.dirname(SF_DIR), "sf0.01", "documents.parquet")
    docs = (spark.read.parquet(path)
            .select("text", tokens(F.col("text")).alias("tk")).collect())
    assert len(docs) > 100
    for r in docs:
        assert token_list(r["text"]) == r["tk"]


@pytest.mark.parametrize("rows", [
    [{"i": 1, "f": 1.5, "b": True, "s": "x", "l": [1, 2]}],
    [{"i": 1, "s": "x", "l": [1.5, None]}, {"i": None, "s": None, "l": []}],
    [{"i": 2 ** 40, "f": None, "b": False, "ls": ["a", None]},
     {"i": 3, "f": 2.0, "b": None, "ls": None}],
    # every type the AddN/AddE path infers, at its edges
    [{"b": True, "lo": -2 ** 63, "hi": 2 ** 63 - 1},
     {"b": False, "lo": 0, "hi": None}],
    [{"f": x} for x in (-0.0, float("nan"), float("inf"), float("-inf"),
                        5e-324, 1e-300, 0.1, 1.7976931348623157e308)],
    [{"s": "it's \\ a\\\\b \"q\" \n\ttab é 中文 😀 \\u0041 \\' %_"},
     {"s": ""}, {"s": None}],
    [{"t": datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)},
     {"t": datetime.datetime(1960, 12, 31, 23, 59, 59)},
     {"t": datetime.datetime(2024, 1, 2, 3, 4, 5,
                             tzinfo=datetime.timezone.utc)}],
    [{"d": datetime.date(2024, 2, 29), "x": b"\x00\xff 'x'"},
     {"d": None, "x": bytearray(b"")}],
    [{"a": [1, 2, None], "fa": [1.5, -0.0], "sa": ["a'", None]},
     {"a": [], "fa": None, "sa": []}],
    [{"m": {"k'1": 1, "k2": None}, "r": Row(x=1, y="z")},
     {"m": {}, "r": Row(x=None, y=None)}],
    [{"n": [[1, 2], [3]], "nm": [{"a": 1.5}],
      "dec": decimal.Decimal("-1.25")}],
    [(1, "a"), (2, None)],
])
def test_literal_rows_schema_matches_create_dataframe(spark, rows):
    want = spark.createDataFrame(rows)
    for got in (literal_rows(spark, rows),
                literal_rows(spark, rows, want.schema)):
        assert got.schema == want.schema  # names, types and nullability
        assert list(map(repr, got.collect())) == \
            list(map(repr, want.collect()))


def test_append_equals_rebuild(spark):
    cat, eng = _fresh(spark)
    entry = cat._materialized[KEY]
    # new terms, a repeated term, a zero-token text and a NULL text
    _add_doc(eng, 900001, "zyzzyva quokka spark spark")
    _add_doc(eng, 900002, "!!!")
    _add_doc(eng, 900003)
    _add_doc(eng, 900004, "Quokka MERGE join join join zyzzyva")
    assert cat._materialized[KEY] is entry  # extended in place
    assert entry[0].storageLevel.useMemory  # base frames still cached
    _assert_equals_rebuild(cat)

    # non-ASCII text takes the invalidate path
    _add_doc(eng, 900005, "quokka spark")
    _add_doc(eng, 900006, "café spark")
    assert KEY not in cat._materialized
    search.build_text_index(StepCompiler(ExecContext(cat)),
                            "documents", "text")

    # up to the cap the delta grows; past it the entry is dropped
    big = " ".join(f"t{i}" for i in range(search.BM25_DELTA_MAX - 2))
    _add_doc(eng, 900007, "zyzzyva window")
    _add_doc(eng, 900008, big)
    assert len(cat._materialized[KEY][1]["delta"]) == search.BM25_DELTA_MAX
    _assert_equals_rebuild(cat)
    _add_doc(eng, 900009, big)
    _add_doc(eng, 900010, "spark zyzzyva window")
    assert KEY not in cat._materialized

    # SetProperty on the text invalidates
    search.build_text_index(StepCompiler(ExecContext(cat)),
                            "documents", "text")
    _add_doc(eng, 900011, "quokka quokka")
    assert cat._materialized[KEY][1]["delta"]
    eng.execute_batch(write_batch().var_as("u", g().n("documents")
                      .where(P.eq("doc_id", 900011))
                      .set_property("text", "spark")).returning("u"))
    assert KEY not in cat._materialized


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_probe_after_append_starts_no_more_jobs(spark):
    cat, eng = _fresh(spark)
    sc = spark.sparkContext
    probe = lambda: _topk(cat, "spark zyzzyva join")  # noqa: E731
    probe()  # compiled once
    before = _jobs(sc, "bm25-probe-before", probe)
    _add_doc(eng, 910001, "zyzzyva spark")
    after = _jobs(sc, "bm25-probe-after", probe)
    assert after <= before, (before, after)


def test_write_frames_are_jvm_only(spark):
    cat, eng = _fresh(spark)
    added = _add_doc(eng, 920001, "quokka")
    out = eng.execute_batch(write_batch().var_as(
        "e", g().n("documents").where(P.eq("doc_id", 920001))
        .add_e("has_embedding",
               to=[(cat.ordinal("embeddings") << ID_SHIFT) + 3]))
        .returning("e"))
    frames = (added, out["e"], cat.nodes("documents")["documents"],
              cat.edges("has_embedding")["has_embedding"],
              StepCompiler(ExecContext(cat))._empty_nodes())
    for df in frames:
        plan = (df._jdf.queryExecution().optimizedPlan().toString()
                + df._jdf.queryExecution().executedPlan().toString())
        for bad in ("ExistingRDD", "LogicalRDD", "Python"):
            assert bad not in plan, plan
    assert added.count() == 1 and out["e"].count() == 1
