"""Catalog durability: save/load a GraphCatalog as a parquet layout.

The reference's durability is S3-compatible object storage behind ``--disk``
(helix-cli/src/local_runtime.rs:402-426: MinIO sidecar + S3 env); memory-
first otherwise. Here the same split: the catalog lives as DataFrames, and
this module persists it as a directory of columnar tables any Spark (or
DuckDB) can read back:

    <root>/meta.json                       ordinals, edge endpoints, indexes
    <root>/nodes/<label>/*.parquet         one table per node label
    <root>/edges/<label>/*.parquet         primary copy, clustered by _src
    <root>/edges_by_dst/<label>/*.parquet  dst-clustered copy for in-hops
    <root>/index/bm25/<t>__<l>__<p>/       postings bucketed by term; N,
                                           avgdl, df in meta.json
    <root>/index/lsh/<t>__<l>__<p>/        exploded band-key rows bucketed
                                           by band key (store_index)

Scale notes: edge tables are written sorted by ``_src`` (``sortWithinPartitions``
after a range repartition) so out-hop scans cluster by source and parquet
min/max stats prune frontier probes; a second copy sorted by ``_dst`` serves
in-hops the same way (the compiler routes in-legs to it via
``GraphCatalog.edges_directed``). Node tables are written sorted by ``_id``
for the same reason. Label = directory gives free partition pruning on
label-scoped scans.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..catalog import _DST, _ID, _SRC, EdgeMeta, GraphCatalog, IndexEntry
from ..functions.io import atomic_write_json
from ..functions.text import bucket_col

INDEX_BUCKETS = 32


def save_catalog(cat: GraphCatalog, root: str,
                 partitions: Optional[int] = None) -> None:
    meta = {
        "ordinals": cat._ordinals,
        "edges": {label: {"src_label": m.src_label, "dst_label": m.dst_label}
                  for label, m in cat._edge_meta.items()},
        "indexes": [vars(e) for e in cat.indexes.values()],
        "next_local_id": cat._next_local_id,
    }
    os.makedirs(root, exist_ok=True)
    atomic_write_json(os.path.join(root, "meta.json"), meta)
    for label, df in cat.nodes().items():
        out = df.repartitionByRange(partitions or df.rdd.getNumPartitions(),
                                    F.col(_ID)) \
                .sortWithinPartitions(_ID)
        out.write.mode("overwrite").parquet(
            os.path.join(root, "nodes", label))
    for label, df in cat.edges().items():
        n = partitions or df.rdd.getNumPartitions()
        out = df.repartitionByRange(n, F.col(_SRC)) \
                .sortWithinPartitions(_SRC)
        out.write.mode("overwrite").parquet(
            os.path.join(root, "edges", label))
        # dst-clustered copy (SURVEY §7 slice 10): in-hops probe on _dst,
        # which the _src-sorted layout can't prune — the second copy costs
        # one extra write but every in-hop scan afterwards skips row groups
        # via _dst min/max. Storage-for-scan-time, the standard trade at
        # 100 TB (cf. secondary indexes / projection-ordered copies).
        by_dst = df.repartitionByRange(n, F.col(_DST)) \
                   .sortWithinPartitions(_DST)
        by_dst.write.mode("overwrite").parquet(
            os.path.join(root, "edges_by_dst", label))


def store_index(compiler, root: str,
                buckets: int = INDEX_BUCKETS) -> list:
    """Write on-disk bucketed layouts for every registered search index —
    the executable form of the 100 TB story the in-memory builders only
    cache.

    - text indexes (``*_text``): the BM25 postings table written
      partitioned by ``_bucket`` (md5 of term mod ``buckets``) and sorted
      by term within files; corpus stats and per-term document
      frequencies (``df``) in meta.json. A query-term probe filters to its
      terms' buckets, so partition pruning skips every other directory and
      the term sort keeps row-group min/max skipping inside the bucket (the
      on-disk analogue of search.build_text_index's range-partitioned
      cache).
    - vector indexes (``*_vector``): the LSH signature table exploded to
      one (id, band key, vnorm) row per band, partitioned by ``_bucket``
      (md5 of band key mod ``buckets``). A query probes its ~16 band keys'
      buckets only — candidate generation reads a bounded fraction of the
      index no matter the corpus size.

    Returns the list of written index directories. ``load_catalog`` wires
    probes to these automatically (operators/search.bm25_scores prunes by
    term bucket; operators/similarity.lsh_topk by band-key bucket).
    """
    from ..operators.search import fold_text_index
    from ..operators.similarity import build_lsh_index

    cat = compiler.cat
    written = []
    for entry in cat.indexes.values():
        target = "nodes" if entry.kind.startswith("node") else "edges"
        name = f"{target}__{entry.label}__{entry.property}"
        if entry.kind.endswith("_text"):
            # an index holding appends is rebuilt first (fold_text_index)
            postings, stats = fold_text_index(
                compiler, entry.label, entry.property, target)
            d = os.path.join(root, "index", "bm25", name)
            (postings.withColumn("_bucket", bucket_col(F.col("term"), buckets))
             .repartition(buckets, "_bucket")
             .sortWithinPartitions("term")
             .write.mode("overwrite").partitionBy("_bucket")
             .parquet(os.path.join(d, "postings")))
            atomic_write_json(os.path.join(d, "meta.json"),
                              {"N": stats["N"], "avgdl": stats["avgdl"],
                               "df": stats["df"], "buckets": buckets})
            written.append(d)
        elif entry.kind.endswith("_vector"):
            aug = build_lsh_index(compiler, target, entry.label,
                                  entry.property)
            sigs = aug.select(F.col(_ID), F.col("__vnorm"),
                              F.explode("__bands").alias("_bkey"))
            d = os.path.join(root, "index", "lsh", name)
            (sigs.withColumn("_bucket", bucket_col(F.col("_bkey"), buckets))
             .repartition(buckets, "_bucket")
             .sortWithinPartitions("_bkey")
             .write.mode("overwrite").partitionBy("_bucket")
             .parquet(os.path.join(d, "sigs")))
            atomic_write_json(os.path.join(d, "meta.json"),
                              {"buckets": buckets})
            written.append(d)
            # IVF twin of the same vector index: cells/ partitioned by
            # _cell so an nprobe probe prunes to its cells' directories
            # (similarity.store_ivf_index); method='ivf' requests on a
            # reloaded catalog scan this instead of rebuilding in memory
            from ..operators.similarity import store_ivf_index
            frames = (cat.nodes(entry.label) if target == "nodes"
                      else cat.edges(entry.label))
            base = frames[entry.label].filter(
                F.col(entry.property).isNotNull())
            div = os.path.join(root, "index", "ivf", name)
            store_ivf_index(base, _ID, entry.property, div)
            written.append(div)
    return written


def _load_disk_indexes(spark: SparkSession, cat: GraphCatalog,
                       root: str) -> None:
    """Register on-disk bucketed index layouts written by store_index as
    the catalog's materialized indexes — probes then scan the bucketed
    parquet directly (partition-pruned) instead of building in memory."""
    for kind_dir, key_kind, parts in (("bm25", "bm25", "postings"),
                                      ("lsh", "lsh_disk", "sigs")):
        base = os.path.join(root, "index", kind_dir)
        if not os.path.isdir(base):
            continue
        for name in sorted(os.listdir(base)):
            target, label, prop = name.split("__", 2)
            d = os.path.join(base, name)
            with open(os.path.join(d, "meta.json")) as fh:
                meta = json.load(fh)
            cat._materialized.put((key_kind, target, label, prop),
                                  (spark.read.parquet(os.path.join(d, parts)),
                                   meta))
    ivf_base = os.path.join(root, "index", "ivf")
    if os.path.isdir(ivf_base):
        for name in sorted(os.listdir(ivf_base)):
            target, label, prop = name.split("__", 2)
            # value is the index ROOT PATH: the probe (similarity.
            # ivf_topk_disk) plans against centroids/meta itself
            cat._materialized.put(("ivf_disk", target, label, prop),
                                  os.path.join(ivf_base, name))


def load_catalog(spark: SparkSession, root: str) -> GraphCatalog:
    with open(os.path.join(root, "meta.json")) as fh:
        meta = json.load(fh)
    cat = GraphCatalog(spark)
    cat._ordinals = dict(meta["ordinals"])
    cat._next_local_id = meta.get("next_local_id", 1)
    nodes_dir = os.path.join(root, "nodes")
    if os.path.isdir(nodes_dir):
        for label in sorted(os.listdir(nodes_dir)):
            cat._nodes[label] = spark.read.parquet(
                os.path.join(nodes_dir, label))
    edges_dir = os.path.join(root, "edges")
    if os.path.isdir(edges_dir):
        for label in sorted(os.listdir(edges_dir)):
            cat._edges[label] = spark.read.parquet(
                os.path.join(edges_dir, label))
            em = meta["edges"].get(label, {})
            cat._edge_meta[label] = EdgeMeta(
                label, em.get("src_label"), em.get("dst_label"))
            dst_copy = os.path.join(root, "edges_by_dst", label)
            if os.path.isdir(dst_copy):
                cat.register_dst_edges(label,
                                       spark.read.parquet(dst_copy))
    for entry in meta.get("indexes", ()):
        cat.create_index(IndexEntry(**entry), if_not_exists=True)
    _load_disk_indexes(spark, cat, root)
    return cat
