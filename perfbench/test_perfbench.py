"""Tests of the benchmark's own code: the tail rule and geometric mean,
self-time attribution and the answer checkers.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import oracle, stats, trace
from perfbench.run import SF_DIR

SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


# -- tail percentile rule ---------------------------------------------------


@pytest.mark.parametrize("n", [21, 30, 45, 100, 1000])
def test_tail_percentile_is_highest_with_ten_beyond(n):
    values = list(range(n))
    p = stats.tail_percentile(n)

    def beyond(q):
        v = stats.percentile(values, q)
        return sum(1 for x in values if x > v)

    assert beyond(p) >= stats.TAIL_BEYOND
    assert p == 99 or beyond(p + 1) < stats.TAIL_BEYOND


def test_tail_falls_back_to_max_when_it_would_not_pass_the_median():
    assert stats.tail_percentile(20) is None
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, "max")
    assert stats.tail(list(range(30))) == (19, "p66")


def test_gmean_weighs_every_sample_and_rejects_zero():
    assert stats.gmean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.gmean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.gmean([1.0, 0.0])


# -- self time on a synthetic span tree -------------------------------------


def _tree():
    """op [0, 10]: handle [1, 9] > execute [2, 6] > probe [3, 5];
    serialize [6, 8]; a Spark job [6.5, 7.5] inside serialize and a
    Catalyst planning phase [6.2, 6.6] overlapping the job's start."""
    tr = trace.Tracer()

    def add(sid, parent, name, t0, t1):
        s = trace.Span(sid, parent, "op1", name, t0, t1)
        tr.spans.append(s)
        if name == "op":
            tr.roots["op1"] = s

    add(1, None, "op", 0.0, 10.0)
    add(2, 1, "server.handle", 1.0, 9.0)
    add(3, 2, "compiler.execute", 2.0, 6.0)
    add(4, 3, "search.probe", 3.0, 5.0)
    add(5, 2, "wire.serialize", 6.0, 8.0)
    tr.phases.append(("op1", "catalyst.planning", 6.2, 6.6))
    job = trace.Job(0, "op1", 6.5, 7.5)
    job.stats.update(tasks=4, stages=1, run_ms=800)
    return tr, trace.EventLog([job], [], {})


def test_self_times_add_up_to_the_operation():
    tr, log = _tree()
    m = trace.reduce(tr, log, ["op1"], "server.transport_ms")
    assert m["server.transport_ms"] == pytest.approx(2000)  # [0,1] + [9,10]
    assert m["server.handle_ms"] == pytest.approx(2000)  # [1,2] + [8,9]
    assert m["compiler.compile_ms"] == pytest.approx(2000)  # [2,3] + [5,6]
    assert m["search.probe_ms"] == pytest.approx(2000)
    # the job wins the overlap with the planning phase
    assert m["catalyst.planning_ms"] == pytest.approx(300)
    assert m["spark.job_ms"] == pytest.approx(1000)
    assert m["wire.serialize_ms"] == pytest.approx(700)
    assert m["spark.driver_idle_ms"] == pytest.approx(9000)
    assert m["spark.tasks"] == 4 and m["spark.jobs"] == 1
    assert m.get("compiler.eager_jobs", 0) == 0
    layers = set(trace.SELF_LAYER.values()) | {"server.transport_ms"}
    assert sum(m.get(k, 0) for k in layers) == pytest.approx(10000)


def test_attribute_prefers_the_deepest_interval():
    iv = trace.Interval
    out = trace.attribute([iv("a", 0, 0, 0.0, 4.0), iv("b", 1, 0, 1.0, 3.0),
                           iv("c", 1, 0, 2.0, 5.0)])
    assert out == pytest.approx({"a": 1.0, "b": 1.0, "c": 3.0})


def test_rows_below_skips_nodes_without_row_counts():
    leaf = {"nodeName": "Scan", "children": [],
            "metrics": [{"name": "number of output rows",
                         "accumulatorId": 7}]}
    wrap = {"nodeName": "WholeStageCodegen", "children": [leaf],
            "metrics": [{"name": "duration", "accumulatorId": 3}]}
    top = {"nodeName": "MapInPandas", "children": [wrap],
           "metrics": [{"name": "data sent to Python workers",
                        "accumulatorId": 5}]}
    assert trace._rows_below(top) == 7
    assert list(trace._python_nodes([top])) == [top]


# -- checkers reject perturbed answers --------------------------------------


def test_topk_accepts_ties_and_rejects_perturbations():
    cands = [(1, 0.10), (2, 0.20), (3, 0.20), (4, 0.30), (5, 0.90)]
    assert oracle.check_topk([(1, 0.10), (3, 0.20)], cands, 2) is None
    assert oracle.check_topk([(1, 0.10), (2, 0.20)], cands, 2) is None
    assert oracle.check_topk([(1, 0.10), (4, 0.30)], cands, 2) is not None
    assert oracle.check_topk([(1, 0.10), (2, 0.25)], cands, 2) is not None
    assert oracle.check_topk([(1, 0.10), (9, 0.20)], cands, 2) is not None
    assert oracle.check_topk([(1, 0.10)], cands, 2) is not None


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    if not os.path.isdir(SF_SMALL):
        pytest.skip("testdata not present")
    return oracle.ServedOracle(SF_SMALL,
                               str(tmp_path_factory.mktemp("duckdb")))


def _op(kind, **params):
    from perfbench.serve import Op
    return Op(kind, params, "/v1/query", {})


def test_served_checker_rejects_a_perturbed_point_read(served):
    key = served.customer_keys()[0]
    (row,) = served.con.execute(
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_custkey = ?", [key]).fetchall()
    good = [dict(zip(("c_custkey", "c_name", "c_acctbal"), row))]
    assert served.check(_op("point", key=key), good) is None
    bad = [dict(good[0], c_acctbal=row[2] + 0.01)]
    assert served.check(_op("point", key=key), bad) is not None


def test_served_checker_sees_earlier_writes(served):
    key = served.customer_keys()[1]
    served.apply(_op("set_balance", key=key, value=12.5))
    (row,) = served.con.execute(
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey = ?",
        [key]).fetchall()
    want = [{"c_custkey": row[0], "c_name": row[1], "c_acctbal": 12.5}]
    assert served.check(_op("point_route", key=key), want) is None


def test_served_checker_rejects_a_perturbed_bm25_answer(served):
    terms = served.vocabulary()[:2]
    top = sorted(served.bm25_scores(terms), key=lambda r: (-r[1], r[0]))
    good = [{"doc_id": i, "distance": -s} for i, s in top[:10]]
    op = _op("bm25", terms=terms)
    assert served.check(op, good) is None
    swapped = good[:9] + [{"doc_id": top[-1][0], "distance": -top[-1][1]}]
    assert served.check(op, swapped) is not None
