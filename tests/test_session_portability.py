"""The driver constructs its own SparkSession (no builder confs) and passes
it in — round 1 died on exactly this (CORRECTNESS_r01: PARQUET_TYPE_ILLEGAL
for INT64 TIMESTAMP(NANOS)). These tests pin the two delivery guarantees:

1. read_table/load_graph enable nanosAsLong on the *incoming* session, so a
   vanilla session can read events.parquet.
2. load_graph is lazy per label: a query touching only customer/nation
   succeeds even if an unrelated table is unreadable.
"""

import os

import pytest
from pyspark.sql import functions as F

from helix_db_spark.sources import tpch
from helix_db_spark.sources.tpch import load_graph, read_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_nanos_conf_set_on_incoming_session(spark):
    # Simulate the driver: clear the conf, then read through our path. The
    # driver has shipped events.ts both as INT64 TIMESTAMP(NANOS) (needs the
    # legacy conf) and as timestamp[us] NTZ (needs the UTC cast); either way
    # read_table must hand back session-semantics TimestampType.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        df = read_table(spark, SF_DIR, "events")
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.limit(1).count() == 1
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_ntz_layout_normalized_to_utc_timestamp(spark, tmp_path):
    # Pin the NTZ branch explicitly (independent of what /root/testdata
    # currently holds): a timestamp[us] parquet must come back as TimestampType
    # with the naive wall clock interpreted as UTC.
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    wall = datetime.datetime(2024, 3, 1, 12, 30, 0)
    pq.write_table(pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([wall], pa.timestamp("us")),
    }), path)
    df = read_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    [row] = df.select(F.unix_timestamp("ts").alias("s")).collect()
    utc = wall.replace(tzinfo=datetime.timezone.utc)
    assert row["s"] == int(utc.timestamp())


def test_lazy_load_survives_unreadable_table(spark, tmp_path, monkeypatch):
    real_read = tpch.read_table

    def breaking_read(sp, sf_dir, name):
        if name == "events":
            raise RuntimeError("simulated unreadable table")
        return real_read(sp, sf_dir, name)

    monkeypatch.setattr(tpch, "read_table", breaking_read)
    cat = load_graph(spark, SF_DIR)
    # touching customer/nation works although events is broken
    n = cat.nodes("customer")["customer"].count()
    assert n > 0
    assert cat.nodes("nation")["nation"].count() > 0
    # the broken table fails only when actually touched
    with pytest.raises(RuntimeError, match="simulated unreadable"):
        cat.nodes("events")


def test_lazy_load_defers_reads(spark, monkeypatch):
    reads = []
    real_read = tpch.read_table

    def counting_read(sp, sf_dir, name):
        reads.append(name)
        return real_read(sp, sf_dir, name)

    monkeypatch.setattr(tpch, "read_table", counting_read)
    cat = load_graph(spark, SF_DIR)
    assert reads == []  # nothing read at registration
    cat.nodes("region")
    assert reads == ["region"]
    cat.edges("in_region")  # nation->region edge reads nation only
    assert set(reads) == {"region", "nation"}


def test_lazy_ordinals_match_tables_order(spark):
    # Global-id contract: ordinals pinned in TABLES order regardless of
    # which label a query touches first.
    cat = load_graph(spark, SF_DIR)
    cat.nodes("documents")  # force out of order
    for i, name in enumerate(tpch.TABLES):
        assert cat.ordinal(name) == i + 1


def test_write_invalidates_search_cache(spark):
    """ADVICE r1: vector/text search after a write must not return stale
    hits — catalog writes invalidate _materialized entries for the label."""
    from helix_db_spark.operators.search import build_vector_index

    cat = load_graph(spark, SF_DIR)

    class _C:  # minimal stand-in: build_vector_index only uses .cat
        pass
    cc = _C()
    cc.cat = cat
    aug = build_vector_index(cc, "embeddings", "embedding")
    key = ("vecnorm", "nodes", "embeddings", "embedding")
    assert key in cat._materialized
    # a write to another label keeps the index
    cat.replace_nodes("customer", cat.nodes("customer")["customer"])
    assert key in cat._materialized
    # a write to the indexed label drops it
    cat.replace_nodes("embeddings",
                      cat.nodes("embeddings")["embeddings"].limit(10))
    assert key not in cat._materialized
    # rebuild sees the new (smaller) table
    aug2 = build_vector_index(cc, "embeddings", "embedding")
    assert aug2.count() <= 10


def test_materialized_cache_bounded_and_supersede_unpersists(spark):
    """A served engine's search-index cache must stay finite: superseded
    same-key entries unpersist, and inserts beyond its bound evict
    + unpersist the oldest (ADVICE r3 / VERDICT r3 'what's wrong' #4)."""
    cat = load_graph(spark, SF_DIR)
    base = cat.nodes("region")["region"]

    old = base.limit(3).persist()
    old.count()
    cat._materialized.put(("vecnorm", "nodes", "x0", "p"), old)
    new = base.limit(2).persist()
    new.count()
    cat._materialized.put(("vecnorm", "nodes", "x0", "p"), new)
    assert not old.storageLevel.useMemory  # superseded => unpersisted
    assert new.storageLevel.useMemory

    frames = []
    for i in range(cat._materialized.bound + 2):
        f = base.limit(1).withColumn("_i", F.lit(i)).persist()
        f.count()
        frames.append(f)
        cat._materialized.put(("vecnorm", "nodes", f"lbl{i}", "p"), f)
    assert len(cat._materialized) <= cat._materialized.bound
    assert not frames[0].storageLevel.useMemory  # evicted LRU
    assert frames[-1].storageLevel.useMemory
    cat.invalidate_label(None)
