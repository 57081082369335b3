"""Replay the driver contract: every queries() entry vs its oracle_sql().

This mirrors the grading gate (CORRECTNESS_r{N}.json): row count, sorted
column names, and order-insensitive values must match DuckDB.
"""

import pytest

from .conftest import SF_DIR, assert_same


def _contract():
    import __spark_entry__ as e
    return e.queries(), e.oracle_sql()


QUERIES, ORACLES = _contract()


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0


def test_driver_top50_covers_survey_ops():
    """The grading driver checks only the first 50 queries() entries;
    every SURVEY §2 operator family must have a representative there."""
    from helix_db_spark.entry_queries import DRIVER_TOP50, REGISTRY

    names = list(REGISTRY)
    assert names[:50] == DRIVER_TOP50
    assert len(set(DRIVER_TOP50)) == 50
    critical = {
        # one per §2 family that has no second representative in the top
        # 50; why each slot holds what it does: COVERAGE.md "Graded slots"
        "count_and_exists", "nwhere_source_filter", "predicate_algebra",
        "string_predicates", "json_dotted_path",
        "case_expression", "arithmetic_projection", "limit_by_param",
        "out_hop_group_count", "semantic_dedup_survivors",
        "edge_endpoint_projection",
        "edge_to_nodes_dedup", "other_n_provenance",
        "within_without_filters",
        "inject_var_union", "hybrid_rrf_search",
        "choose_conditional", "coalesce_fallback",
        "repeat_bfs", "order_limit_topk",
        "group_aggregate_stats",
        "id_value_map",
        "project_bindings_rows", "semantic_dedup_bounded",
        "vector_search_ivf_disk",
        "dedup_quality_report_sampled",
        "tenant_vector_search", "bm25_text_search",
        "edge_search_modes",
        "write_batch_adds", "write_update_drop_lifecycle",
        "merge_upsert_documents",
        "batch_condition_gate", "foreach_accumulate",
        "dedup_pipeline_survivors",
        "kmv_distinct_users",
        "overlap_pair_mining",
        "text_stats_langid", "top_quality_docs_per_source",
        "multimodal_pipeline", "stream_watermarked_counts",
        "events_sessionize",
        "curate_corpus_pipeline", "asof_purchase_features",
        "dsir_importance_weights", "knn_graph_celled",
        "incremental_dedup_classify", "copurchase_pagerank",
        "text_lm_cross_entropy",
        "dedup_paragraph_firstwins",
    }
    assert critical <= set(DRIVER_TOP50)
    # every top-50 entry has a DuckDB oracle (full value-hash grading)
    rows_only = {n for n in DRIVER_TOP50 if REGISTRY[n][1] is None}
    assert rows_only == set()


def test_benchmarked_entries_stay_registered():
    """A registry trim must not delete an entry a benchmark runs, nor
    move the graded top 50 off the front of the registry."""
    import bench
    from helix_db_spark.entry_queries import DRIVER_TOP50, REGISTRY
    from perfbench.trace import BATCH_ENTRIES

    names = list(REGISTRY)
    assert names[:50] == DRIVER_TOP50
    missing = [n for n in (*bench.BENCH_QUERIES, *BATCH_ENTRIES)
               if n not in REGISTRY]
    assert missing == []


def test_artifact_dir_memoizes_per_session(spark):
    """Graded probe entries build their on-disk artifacts ONCE per
    (session, sf, kind) into a collision-safe dir inside the
    application's own scratch directory (ADVICE r6: the old fixed /tmp
    path raced across concurrent sessions); repeat invocations are
    probe-only."""
    import os

    from pyspark import SparkFiles

    from helix_db_spark.entry_queries import _artifact_dir

    calls = []
    r1 = _artifact_dir(spark, "/x", "t1", calls.append)
    r2 = _artifact_dir(spark, "/x", "t1", calls.append)
    assert r1 == r2 and len(calls) == 1, "second call must not rebuild"
    r3 = _artifact_dir(spark, "/x", "t2", calls.append)
    assert r3 != r1 and len(calls) == 2
    assert os.path.dirname(r1) == SparkFiles.getRootDirectory()


_ARTIFACT_RUN = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
import __spark_entry__ as e
from helix_db_spark import entry_queries
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
assert e.queries()["jsonl_ingest"](spark, sys.argv[2]).count() > 0
print("\\n".join(entry_queries._ARTIFACTS.values()))
"""


def test_artifact_dirs_do_not_outlive_the_process(tmp_path):
    """A fresh interpreter that builds a graded artifact and exits
    without stopping Spark leaves nothing behind: no ``helix_*`` path in
    its temp dir, and the artifact directory itself is gone."""
    import os
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _ARTIFACT_RUN, repo, SF_DIR],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    roots = out.stdout.split()
    assert roots and all(os.path.basename(r).startswith("helix_jsonl_")
                         for r in roots)
    assert [p for p in os.listdir(tmp_path) if p.startswith("helix_")] == []
    deadline = time.time() + 30      # the JVM's shutdown hook may lag
    while any(map(os.path.exists, roots)) and time.time() < deadline:
        time.sleep(0.5)
    assert not any(map(os.path.exists, roots)), roots


def test_watermarked_stream_entry_plan_and_equivalence(spark):
    """The graded streaming entry's plan carries an EventTimeWatermark
    node (the state-bounding operator a 100 TB run needs) and its
    append-mode file-sink output equals the batch aggregation exactly —
    the sentinel closes every real window."""
    from helix_db_spark.entry_queries import (events_window_agg,
                                              stream_watermarked_counts)
    from helix_db_spark.streaming.ingest import (stream_events,
                                                 windowed_counts)

    sf = "/root/testdata/sf0.001"
    agg = windowed_counts(stream_events(
        spark, f"{sf}/events.parquet"), window="1 hour",
        watermark="2 hours")
    assert "EventTimeWatermark" in agg._jdf.queryExecution().analyzed() \
        .toString()
    got = sorted(tuple(r) for r in
                 stream_watermarked_counts(spark, sf).collect())
    want = sorted(tuple(r) for r in events_window_agg(spark, sf).collect())
    assert got == want


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_contract(name, spark, oracle):
    df = QUERIES[name](spark, SF_DIR)
    if name in ORACLES:
        assert_same(df, oracle.sql(ORACLES[name]))
    else:
        # rows-only check (approximate / non-SQL-expressible operators)
        assert df.count() >= 0
