"""KMV sketch semantics: exact below k, bounded error above k, the
filtered scale path bit-identical to the direct path (including the
straggler fallback), set-op estimates, and the plan shapes."""

import math

import pytest
from pyspark.sql import functions as F

from helix_db_spark.operators.sketch import (M60, h60, kmv_distinct,
                                             kmv_set_ops)


def _vals(spark, n, groups=1, offset=0):
    return spark.range(n * groups).select(
        (F.col("id") % groups).alias("g"),
        (F.col("id") + offset).alias("v"))


def test_kmv_exact_below_k(spark):
    """A group with fewer than k distinct values is answered exactly."""
    df = _vals(spark, 40, groups=3)
    out = {r.g: r.kmv_est for r in
           kmv_distinct(df, ["g"], "v", k=64).collect()}
    assert out == {0: 40.0, 1: 40.0, 2: 40.0}
    # duplicates don't inflate: union the same rows twice
    out2 = {r.g: r.kmv_est for r in
            kmv_distinct(df.union(df), ["g"], "v", k=64).collect()}
    assert out2 == out


def test_kmv_estimate_error_bound(spark):
    """Relative error stays within ~4 standard errors (1/sqrt(k-2))."""
    for n, k in ((5000, 256), (20000, 128)):
        df = _vals(spark, n)
        est = kmv_distinct(df, ["g"], "v", k=k).collect()[0].kmv_est
        se = 1.0 / math.sqrt(k - 2)
        assert abs(est / n - 1.0) < 4 * se, (n, k, est)


def test_kmv_nulls_not_counted(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, None), (1, "b"), (1, None)], "g int, v string")
    out = kmv_distinct(df, ["g"], "v", k=8).collect()
    assert out[0].kmv_est == 2.0


def test_kmv_scale_strategies_identical_to_direct(spark):
    """The filtered scale path returns EXACTLY the direct result: by
    proof of coverage when >= k survivors and exact fallback
    otherwise. headroom=0.2 starves the threshold (expected
    survivors < k) so the straggler recompute genuinely executes."""
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    direct = {tuple(r) for r in kmv_distinct(
        df, ["event_type"], "user_id", k=32, strategy="direct").collect()}
    for hr in (8.0, 0.2):
        filt = {tuple(r) for r in kmv_distinct(
            df, ["event_type"], "user_id", k=32, strategy="filtered",
            headroom=hr).collect()}
        assert filt == direct, hr


def test_kmv_filtered_zero_survivor_group_recovers(spark):
    """Regression (review r8): a group whose hashes ALL exceed the
    threshold produces no row in the fast pass at all — the straggler
    set must come from the full group list, or the group silently
    vanishes. Construct such a group by picking values whose md5-60bit
    hashes are in the top half of the space, then starve the threshold."""
    import hashlib

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    high = [v for v in range(4000) if h(v) > 0.55 * M60][:12]
    low = list(range(4000, 4400))
    rows = [("hi", v) for v in high] + [("lo", v) for v in low]
    df = spark.createDataFrame(rows, "g string, v long")
    direct = {tuple(r) for r in kmv_distinct(
        df, ["g"], "v", k=4, strategy="direct").collect()}
    filt = {tuple(r) for r in kmv_distinct(
        df, ["g"], "v", k=4, strategy="filtered",
        headroom=0.5).collect()}
    assert filt == direct
    assert len(filt) == 2          # 'hi' present, not dropped


def test_kmv_filtered_keeps_null_group(spark):
    """Regression (review r8): NULL group keys are groups too — the
    candidate-pruning join must be null-safe or the NULL group exists
    only in the direct path."""
    rows = [(None, v) for v in range(50)] + [("a", v) for v in range(50)]
    df = spark.createDataFrame(rows, "g string, v long")
    direct = {tuple(r) for r in kmv_distinct(
        df, ["g"], "v", k=8, strategy="direct").collect()}
    filt = {tuple(r) for r in kmv_distinct(
        df, ["g"], "v", k=8, strategy="filtered").collect()}
    assert filt == direct
    assert {r[0] for r in filt} == {None, "a"}


def test_kmv_filtered_plan_has_no_antipatterns(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = kmv_distinct(df, ["event_type"], "user_id", k=32,
                       strategy="filtered")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_kmv_global_bottom_k_is_take_ordered(spark):
    """The group-less synopsis must compile to TakeOrderedAndProject
    (distributed top-k), never a single-partition global sort."""
    a = _vals(spark, 1000)
    b = _vals(spark, 1000, offset=500)
    out = kmv_set_ops(a, b, "v", k=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_kmv_set_ops_exact_when_union_fits(spark):
    """|A|=60, |B|=60, overlap 20 -> union 100 < k: everything exact."""
    a = _vals(spark, 60)
    b = _vals(spark, 60, offset=40)
    r = kmv_set_ops(a, b, "v", k=128).collect()[0]
    assert r.union_est == 100.0
    assert r.intersect_est == 20.0
    assert r.jaccard_est == pytest.approx(20.0 / 100.0)


def test_kmv_set_ops_estimates(spark):
    """Large overlapping sets: union/intersection/jaccard all land
    within loose (4-sigma-ish) bounds of the truth."""
    a = _vals(spark, 8000)
    b = _vals(spark, 8000, offset=4000)   # union 12000, inter 4000
    r = kmv_set_ops(a, b, "v", k=256).collect()[0]
    assert abs(r.union_est / 12000 - 1.0) < 0.25
    assert abs(r.intersect_est / 4000 - 1.0) < 0.35
    assert abs(r.jaccard_est - 4000 / 12000) < 0.12


def test_kmv_matches_duckdb_oracle(spark):
    """The whole point: the estimate is deterministic and recomputable
    in ANSI SQL — per-group estimates match DuckDB to the last bit."""
    import duckdb

    k = 32
    out = {r.event_type: r.kmv_est for r in kmv_distinct(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"),
        ["event_type"], "user_id", k=k).collect()}
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH d AS (SELECT DISTINCT event_type,
                     CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                          1, 15)) AS BIGINT) AS h
                   FROM '/root/testdata/sf0.001/events.parquet'
                   WHERE user_id IS NOT NULL),
             r AS (SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY h) AS rn FROM d),
             b AS (SELECT event_type, count(*) AS n, max(h) AS hk
                   FROM r WHERE rn <= {k} GROUP BY 1)
        SELECT event_type,
               CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                    ELSE ({k - 1}.0 * 1152921504606846976.0)
                         / CAST(hk AS DOUBLE) END AS kmv_est
        FROM b""").fetchall()
    assert {t: e for t, e in rows} == out


def test_h60_range_and_determinism(spark):
    rows = spark.range(200).select(h60(F.col("id")).alias("h")).collect()
    hs = [r.h for r in rows]
    assert all(0 <= h < M60 for h in hs)
    assert len(set(hs)) == 200           # no tiny-range collapse
    again = [r.h for r in
             spark.range(200).select(h60(F.col("id")).alias("h"))
             .collect()]
    assert hs == again


def test_kmv_bad_args(spark):
    df = _vals(spark, 10)
    with pytest.raises(ValueError, match="k >= 2"):
        kmv_distinct(df, ["g"], "v", k=1)
    with pytest.raises(ValueError, match="unknown strategy"):
        kmv_distinct(df, ["g"], "v", strategy="nope")
    with pytest.raises(ValueError, match="group columns"):
        kmv_distinct(df, [], "v", strategy="filtered")


@pytest.mark.slow
def test_kmv_strategies_fuzz(spark):
    """Hypothesis: on random frames (random group counts, value ranges,
    duplicates, NULLs in both columns), both strategies return
    bit-identical rows, and every group with < k distinct values is
    answered exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                  st.one_of(st.none(), st.integers(0, 200))),
        min_size=1, max_size=300),
        k=st.sampled_from([2, 8, 32]),
        headroom=st.sampled_from([0.1, 1.0, 8.0]))
    def run(rows, k, headroom):
        df = spark.createDataFrame(rows, "g int, v int")
        got = {}
        for strat in ("direct", "filtered"):
            kw = {"headroom": headroom} if strat == "filtered" else {}
            got[strat] = {tuple(r) for r in kmv_distinct(
                df, ["g"], "v", k=k, strategy=strat, **kw).collect()}
        assert got["direct"] == got["filtered"]
        import collections
        truth = collections.defaultdict(set)
        for g_, v in rows:
            if v is not None:
                truth[g_].add(v)
        for g_, est in got["direct"]:
            if len(truth[g_]) < k:
                assert est == float(len(truth[g_])), (g_, k)

    run()


def test_cms_matches_python_reference_and_bounds(spark):
    """The sketch is a pure function of the data: rebuild it in Python
    (hashlib) and compare estimates exactly; CMS never underestimates."""
    import collections
    import hashlib

    from helix_db_spark.operators.sketch import cms_counts, cms_estimate

    width, depth = 64, 4
    vals = [i % 17 for i in range(500)] + [3] * 40 + [None] * 5
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    sketch = cms_counts(df, "v", width=width, depth=depth)
    keys = spark.createDataFrame([(k,) for k in range(17)], "v int")
    got = {r.v: r.cms_est for r in cms_estimate(
        sketch, keys, "v", width=width, depth=depth).collect()}

    # independent python CMS
    table = collections.Counter()
    truth = collections.Counter()
    for v in vals:
        if v is None:
            continue
        truth[v] += 1
        for r in range(depth):
            h = int(hashlib.md5(f"cms{r}_{v}".encode()).hexdigest()[:15],
                    16) % width
            table[(r, h)] += 1
    for k in range(17):
        want = min(table[(r, int(hashlib.md5(
            f"cms{r}_{k}".encode()).hexdigest()[:15], 16) % width)]
            for r in range(depth))
        assert got[k] == want, k
        assert got[k] >= truth[k]          # never underestimates


def test_cms_mergeable_cellwise(spark):
    """CMS(union) == cell-wise sum of the per-part sketches — the
    property that lets per-partition sketches combine without rescan."""
    from helix_db_spark.operators.sketch import cms_counts

    a = spark.createDataFrame([(i % 7,) for i in range(100)], "v int")
    b = spark.createDataFrame([(i % 5,) for i in range(80)], "v int")
    u = cms_counts(a.union(b), "v", width=32, depth=2)
    pa = cms_counts(a, "v", width=32, depth=2)
    pb = cms_counts(b, "v", width=32, depth=2)
    summed = (pa.unionByName(pb).groupBy("_row", "_cell")
              .agg(F.sum("_cnt").alias("_cnt")))
    assert {tuple(r) for r in u.collect()} == \
        {tuple(r) for r in summed.collect()}


def test_cms_null_group_never_underestimates(spark):
    """Regression (review r8): grouped CMS with a NULL group key — the
    probe join must be null-safe or min() answers 0 (an underestimate,
    violating the count-min guarantee)."""
    from helix_db_spark.operators.sketch import cms_counts, cms_estimate

    rows = [(None, 1)] * 5 + [("a", 1)] * 3
    df = spark.createDataFrame(rows, "g string, v int")
    sketch = cms_counts(df, "v", width=16, depth=2, group_cols=["g"])
    keys = spark.createDataFrame([(None, 1), ("a", 1)], "g string, v int")
    got = {r.g: r.cms_est for r in cms_estimate(
        sketch, keys, "v", width=16, depth=2, group_cols=["g"]).collect()}
    assert got[None] == 5 and got["a"] == 3


# ---------------------------------------------------------------------------
# kmv_quantiles (the sketch family's quantile axis)
# ---------------------------------------------------------------------------


def test_kmv_quantiles_exact_below_k(spark):
    from helix_db_spark.operators.sketch import kmv_quantiles
    df = spark.createDataFrame(
        [("g", i, float(i)) for i in range(100)],
        "grp string, id long, v double")
    out = kmv_quantiles(df, ["grp"], "v", "id", k=256).collect()[0]
    # fewer rows than k: the sample IS the group -> exact percentiles
    assert out["n_sample"] == 100
    assert out["p50"] == 49.5
    assert out["p90"] == 89.1
    assert out["p99"] == 98.01


def test_kmv_quantiles_mergeable_and_bounded_error(spark):
    from helix_db_spark.operators.sketch import kmv_quantiles
    from pyspark.sql import functions as F
    n = 20000
    df = spark.range(n).select(
        F.lit("g").alias("grp"), F.col("id"),
        (F.col("id") % 1000).cast("double").alias("v"))
    full = kmv_quantiles(df, ["grp"], "v", "id", k=256).collect()[0]
    assert full["n_sample"] == 256
    # mergeability: bottom-k of (bottom-k(half1) U bottom-k(half2))
    # == bottom-k of the whole — shards sketch independently
    h1 = df.filter(F.col("id") < n // 2)
    h2 = df.filter(F.col("id") >= n // 2)
    from helix_db_spark.operators.sketch import h60
    syn = (h1.withColumn("_h", h60(F.col("id")))
             .orderBy("_h", "id").limit(256)
           .unionAll(h2.withColumn("_h", h60(F.col("id")))
                       .orderBy("_h", "id").limit(256))
           .drop("_h"))
    merged = kmv_quantiles(syn, ["grp"], "v", "id", k=256).collect()[0]
    assert merged == full
    # rank-space error: uniform values over [0,1000), k=256 =>
    # the p50 estimate lands within ~4/sqrt(k) of truth
    assert abs(full["p50"] - 499.5) < 1000 * 4 / (256 ** 0.5)


def test_kmv_quantiles_global_no_group(spark):
    from helix_db_spark.operators.sketch import kmv_quantiles
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, v double")
    out = kmv_quantiles(df, [], "v", "id", k=10, qs=(0.5,)).collect()[0]
    assert out["n_sample"] == 10
