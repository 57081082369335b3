"""Salted-join equivalence + wire-parser fuzzing (malformed JSON must fail
with WireError, never crash or recurse away)."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from helix_db_spark.functions.skew import salted_join
from helix_db_spark.plans.wire import WireError, parse_request


def test_salted_join_matches_plain_join(spark):
    # skewed: 10k rows on key 1, a few on others
    big = spark.range(0, 10000).select(
        F.when(F.col("id") < 9000, 1).otherwise(F.col("id") % 50)
        .alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame(
        [(i, f"s{i}") for i in range(50)], "k long, name string")
    plain = big.join(small, on="k")
    salted = salted_join(big, small, "k", salt=8)
    assert salted.count() == plain.count()
    a = sorted(tuple(r) for r in salted.collect())
    b = sorted(tuple(r) for r in plain.collect())
    assert a == b


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (99, "b")], "k long, v string")
    small = spark.createDataFrame([(1, "x")], "k long, s string")
    out = salted_join(big, small, "k", salt=4, how="left").collect()
    assert {(r["k"], r["s"]) for r in out} == {(1, "x"), (99, None)}


# -- wire-parser fuzz --------------------------------------------------------

_json_scalars = st.one_of(st.none(), st.booleans(),
                          st.integers(-2**40, 2**40),
                          st.text(max_size=8))
_json_values = st.recursive(
    _json_scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(st.sampled_from(
            ["N", "Where", "Eq", "Count", "queries", "Query", "steps",
             "name", "condition", "request_type", "query", "returns",
             "Repeat", "traversal", "x"]), inner, max_size=4)),
    max_leaves=20)


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(body=_json_values)
def test_parse_request_never_crashes(body):
    """Arbitrary JSON-shaped input either parses or raises a clean
    WireError/TypeError-family error — no unhandled recursion, no hangs."""
    try:
        parse_request(body if isinstance(body, dict) else {"request_type": body})
    except (WireError, TypeError, KeyError, AttributeError, ValueError):
        pass


def test_deep_nesting_handled():
    steps = {"Not": None}
    cur = steps
    for _ in range(200):
        cur["Not"] = {"Not": None}
        cur = cur["Not"]
    cur["Not"] = {"Eq": ["x", {"I64": 1}]}
    raw = {"request_type": "read",
           "query": {"queries": [{"Query": {
               "name": "r", "steps": [{"N": "All"}, {"Where": steps}],
               "condition": None}}], "returns": ["r"]}}
    parse_request(raw)  # 200-deep predicate tree parses fine


_ADDN = {"AddN": {"label": "X", "properties": []}}
_WRITE_SUB = {"steps": [{"N": "All"}, _ADDN]}
_NESTED_WRITES = {
    "Optional": [{"Optional": _WRITE_SUB}],
    "Union": [{"Union": [{"steps": [{"N": "All"}]}, _WRITE_SUB]}],
    "Choose-then": [{"Choose": {"condition": {"IsNull": "x"},
                                "then_traversal": _WRITE_SUB,
                                "else_traversal": None}}],
    "Choose-else": [{"Choose": {"condition": {"IsNull": "x"},
                                "then_traversal": {"steps": []},
                                "else_traversal": _WRITE_SUB}}],
    "Coalesce": [{"Coalesce": [_WRITE_SUB]}],
    "Repeat": [{"Repeat": {"traversal": _WRITE_SUB, "times": 2}}],
    "Optional-in-Union": [{"Union": [{"steps": [{"Optional": _WRITE_SUB}]}]}],
}


def _read_request(entry):
    return {"request_type": "read",
            "query": {"queries": [entry], "returns": []}}


@pytest.mark.parametrize("case", sorted(_NESTED_WRITES))
def test_read_request_rejects_nested_writes(case):
    """A write step nested in any sub-traversal of a read request is
    rejected by the wire parser itself, at top level and inside a
    ForEach body — not left for the compiler's guard to catch later."""
    query = {"Query": {"name": "r", "steps": [{"N": "All"}] +
                       _NESTED_WRITES[case], "condition": None}}
    with pytest.raises(WireError, match="write step AddN"):
        parse_request(_read_request(query))
    foreach = {"ForEach": {"param": "p", "body": [query]}}
    with pytest.raises(WireError, match="write step AddN"):
        parse_request(_read_request(foreach))
    write = dict(_read_request(query), request_type="write")
    parse_request(write)            # the same batch is fine as a write


def test_duplicate_spans_viral_span_stays_linear(spark):
    """A span shared by EVERY document (viral boilerplate) must not blow
    up the hash join-back: candidate volume is per-occurrence (linear),
    never per-pair (quadratic) — the count table aggregates first."""
    from pyspark.sql import functions as F

    from helix_db_spark.operators.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(i, f"{shared} unique{i} filler{i} more{i}") for i in range(400)],
        "doc_id long, text string")
    out = duplicate_spans(docs, "doc_id", "text", n=6)
    rows = out.collect()
    # output stays one row per doc — the join-back fans out per
    # occurrence (400 rows for the viral span), not per pair (160k)
    assert len(rows) == 400
    assert all(r["dup_spans"] >= 1 for r in rows)
    # the viral span is every doc's ONLY duplicated span
    assert all(r["dup_spans"] == 1 for r in rows)
