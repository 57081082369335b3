"""The engine's one frame-cache rule (helix_db_spark/cache.py), the
bounded pool of anonymous intermediates, and the no-env-switch guard."""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

from helix_db_spark import cache
from helix_db_spark.cache import FrameCache

SF_DIR = "/root/testdata/sf0.001"


def _persisted(spark, i):
    df = spark.range(3).withColumn("_i", F.lit(i)).persist()
    df.count()
    return df


def test_frame_cache_rule(spark):
    """LRU refreshed on a hit; superseded, evicted and dropped entries are
    unpersisted; after clearCache a hit re-pins an in-memory entry, never
    pins a disk-backed one, and warm() is false until that hit."""
    fc = FrameCache(2)
    a, b, c, a2 = (_persisted(spark, i) for i in range(4))
    fc.put("a", a)
    fc.put("b", b)
    assert fc["a"] is a            # hit: "a" becomes most recent
    fc.put("c", c)                 # evicts the least recent, "b"
    assert list(fc) == ["a", "c"]
    assert not b.storageLevel.useMemory
    assert a.storageLevel.useMemory and c.storageLevel.useMemory

    fc.put("a", a2)                # supersede
    assert not a.storageLevel.useMemory and a2.storageLevel.useMemory
    fc.drop("c")
    assert "c" not in fc and not c.storageLevel.useMemory

    disk = spark.range(5)          # a parquet-backed layout is never persisted
    fc.put("disk", (disk, {"buckets": 4}))
    assert fc.warm("a") and fc.warm("disk")
    spark.catalog.clearCache()
    assert not fc.warm("a")
    assert fc.warm("disk")
    assert fc.get("a") is a2       # the hit re-pins
    assert a2.storageLevel.useMemory and fc.warm("a")
    assert fc.get("disk")[0] is disk
    assert not disk.storageLevel.useMemory
    fc.drop("a")
    assert not a2.storageLevel.useMemory


def test_semantic_dedup_frames_released_past_pool_bound(spark, monkeypatch):
    """A served engine calling semantic_dedup repeatedly keeps at most the
    pool's bound of assignment frames: the first call's is unpersisted."""
    from helix_db_spark.operators import similarity as S

    held = []

    def record(df):
        held.append(df)
        return cache.hold(df)

    monkeypatch.setattr(S, "hold", record)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for i in range(cache._INTERMEDIATES.bound + 1):
        # distinct plans, so each call persists its own frame
        S.semantic_dedup(emb.filter(F.col("vec_id") >= i), "vec_id",
                         "embedding", max_cells=4).count()
    assert len(held) == cache._INTERMEDIATES.bound + 1
    assert not held[0].storageLevel.useMemory
    assert held[-1].storageLevel.useMemory


def test_engine_reads_no_env_switch():
    """Behaviour is set by arguments and config, not hidden environment
    switches: the engine reads SPARK_GRAFT_CPUS (local parallelism) only."""
    root = pathlib.Path(__file__).resolve().parent.parent / "helix_db_spark"
    reads = []
    for path in sorted(root.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\b(environ|getenv|putenv)\b", line):
                reads.append((path.name, n, line.strip()))
    assert reads and all('"SPARK_GRAFT_CPUS"' in line
                         for _, _, line in reads), reads
