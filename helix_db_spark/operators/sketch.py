"""KMV (k-minimum-values) distinct sketches and theta-style set operations.

At 100 TB, ``count(DISTINCT x)`` per group is a full shuffle of every
distinct value; sketches answer the same question from O(k) state per
group and — unlike HyperLogLog registers — a KMV synopsis is just "the k
smallest hashes of the set", which is (a) mergeable by taking the k
smallest of a union and (b) **deterministic given a deterministic hash**.
Determinism is the point of this module: every estimate here is a pure
function of the data (md5-based hashing, no RNG, no engine-private HLL
register layout), so the SAME estimate is computable in ANSI SQL and the
driver's DuckDB oracle can value-hash-match it — an approximate operator
with an exact correctness gate.

Estimator (Bar-Yossef et al. 2002, "Counting distinct elements in a data
stream"): hash values uniformly into [0, M); if a set has n >= k distinct
values and h_k is the k-th smallest distinct hash, E[h_k/M] ~ k/(n+1), so
``n_hat = (k-1) * M / h_k`` (the unbiased form). Sets with fewer than k
distinct values are answered exactly (the sketch holds them all). Using
the md5-prefix trick shared with operators/sampling.py: the first 15 hex
digits of md5 are a uniform 60-bit integer, M = 2^60, identically
computable in Spark (``conv(substring(md5(x),1,15),16,10)``) and DuckDB
(``CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)``).

Scale paths: the naive bottom-k windows EVERY distinct (group, hash)
pair, sorting each group's whole distinct set in one task — the task
that bounds a cluster run when one group holds 1e9 distinct values.
``strategy="filtered"`` prunes candidates with an
``approx_count_distinct``-derived hash threshold ``t = M * headroom*k /
n_approx`` (~headroom*k expected survivors) before the window; bottom-k
is provably inside the survivor set whenever >= k survive, and
under-filled groups lazily recompute without the threshold, so both
strategies return IDENTICAL values, never merely close (kmv_distinct
docstring has the measured trade-off; single-box numbers favor direct
up to ~1e8 distinct).

The reference engine has no sketch surface (its counts are exact LMDB
scans, helix-db/helixdb-protocol traversal ``Count`` steps); this module
is part of the training-data-pipeline layer the Spark engine adds on top.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import hold
from ..functions.text import md5_long as h60  # the md5-prefix 60-bit hash

M60 = 1 << 60          # md5 15-hex-digit prefix space


def _bottom_k(d: DataFrame, group_cols: Sequence[str],
              k: int) -> DataFrame:
    """Per-group bottom-k over a distinct (group, _h) frame: returns one
    row per group with ``_n`` (how many of the k slots filled — the
    exact distinct count when < k) and ``_hk`` (k-th smallest hash).

    Grouped: a hash-partitioned window (row_number per group). Global
    (no groups): ``orderBy().limit(k)`` instead — Catalyst compiles it
    to TakeOrderedAndProject, a distributed per-partition top-k merged
    on the driver, where a partition-less window would sort the whole
    set in ONE task."""
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy("_h")
        kept = (d.withColumn("_r", F.row_number().over(w))
                 .filter(F.col("_r") <= k))
    else:
        kept = d.orderBy("_h").limit(k)
    return kept.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"), F.max("_h").alias("_hk"))


def _estimate(k: int) -> Column:
    """KMV estimate from (_n, _hk): exact when the sketch isn't full."""
    full = F.lit(float(k - 1) * float(M60)) / F.col("_hk").cast("double")
    return F.when(F.col("_n") < k, F.col("_n").cast("double")) \
            .otherwise(full)


def kmv_distinct(df: DataFrame, group_cols: Sequence[str], value_col: str,
                 k: int = 64, strategy: str = "direct",
                 headroom: float = 8.0,
                 out_col: str = "kmv_est") -> DataFrame:
    """Per-group approximate distinct count of ``value_col`` (exact for
    groups with < k distinct values). NULL values are not counted —
    SQL ``count(DISTINCT x)`` semantics. Standard error ~ 1/sqrt(k-2).

    Two strategies, bit-identical outputs (test-pinned):

    - ``"direct"``: one window over all distinct hashes per group. The
      hot group's ENTIRE distinct set sorts in a single task — fastest
      on one box (measured: 2.5s for a 20M-distinct group at
      local[32]; filtered does not beat it below ~1e8 locally), but
      the single-task sort is the cluster scale bound (memory + one
      straggler core for a 1e9-distinct group).
    - ``"filtered"``: candidate set pre-pruned by an
      approx_count_distinct-derived hash threshold (expected survivors
      ~ ``headroom * k`` per group) with an exact lazy fallback for
      under-filled groups; the distinct frame is lazily persisted
      because three arms consume it. Cheapest when the threshold can
      kill almost everything (huge cardinality, modest k) AND the
      distinct frame is worth caching for other consumers; shrinking
      ``headroom`` below 1 just routes more groups through the
      fallback, never changes values.
    """
    if k < 2:
        raise ValueError("kmv_distinct requires k >= 2")
    groups = list(group_cols)
    d = (df.filter(F.col(value_col).isNotNull())
           .select(*groups, h60(F.col(value_col)).alias("_h"))
           .distinct())

    if strategy == "direct":
        agg = _bottom_k(d, groups, k)
    elif strategy == "filtered":
        if not groups:
            raise ValueError("filtered strategy needs group columns; "
                             "use direct for a global count")
        # One source scan: every arm below (threshold estimate,
        # candidate pruning, exact fallback) consumes this same
        # persisted frame — without the persist, semi/anti-join
        # pushdown de-canonicalizes the subtrees so exchange reuse
        # never fires and the source is rescanned per arm (measured: 8
        # scans). The persist is LAZY (no action at construction); the
        # HLL runs over the distinct hashes, which has exactly the
        # cardinality the threshold needs.
        d = hold(d.persist())
        acd = (d.groupBy(*groups)
                .agg(F.approx_count_distinct("_h", 0.05).alias("_acd")))
        budget = float(headroom * k)
        thr = F.when(F.col("_acd") <= F.lit(budget), F.lit(float(M60))) \
               .otherwise(F.lit(budget) / F.col("_acd").cast("double")
                          * F.lit(float(M60)))
        # the threshold/straggler frames derive from d too (self-joins)
        # — prefix their key columns so attribute ids never collide
        thr_df = acd.select(*[F.col(c).alias(f"_t_{c}") for c in groups],
                            thr.alias("_thr"))
        on = _ns_eq(groups, "_t_")
        cand = (d.join(thr_df, on)
                 .filter(F.col("_h") < F.col("_thr"))
                 .select(*groups, "_h"))
        fast = _bottom_k(cand, groups, k)
        covered = fast.filter(F.col("_n") >= k)
        # >= k survivors is a proof of coverage (the k smallest hashes
        # are all below the threshold). Everything else — under-filled
        # groups AND groups whose hashes all landed above the threshold
        # (zero survivors, so `fast` has no row for them at all) —
        # recomputes exactly, so stragglers must be derived from the
        # full group list, never from `fast`.
        stragglers = thr_df.select(*[f"_t_{c}" for c in groups]).join(
            covered.select(*groups), on, "left_anti")
        redo = _bottom_k(d.join(stragglers, on, "left_semi"), groups, k)
        agg = covered.unionByName(redo)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    return agg.select(*groups, _estimate(k).alias(out_col))


def kmv_set_ops(df_a: DataFrame, df_b: DataFrame, value_col: str,
                k: int = 64) -> DataFrame:
    """Theta-sketch-style set algebra over two value sets: one row with
    ``union_est``, ``intersect_est`` and ``jaccard_est`` (all exact when
    the union fits in the sketch). The union synopsis is the bottom-k of
    the merged hash sets — KMV's mergeability — and the intersection is
    estimated from the fraction of synopsis members present in both
    sides (Dasgupta et al., the theta-sketch framework): with m matches
    among the min(k, |synopsis|) kept hashes,
    ``intersect_est = m / kept * union_est``.

    Both inputs are hashed+deduped independently (narrow scans), the
    synopsis is k rows, and the membership probes are broadcast-sized
    semi-joins — nothing here shuffles more than the distinct hash sets.
    """
    ha = (df_a.filter(F.col(value_col).isNotNull())
              .select(h60(F.col(value_col)).alias("_h")).distinct())
    hb = (df_b.filter(F.col(value_col).isNotNull())
              .select(h60(F.col(value_col)).alias("_h")).distinct())
    u = ha.unionByName(hb).distinct()
    # TakeOrderedAndProject (distributed top-k), not a global window
    bk = u.orderBy("_h").limit(k)
    # synopsis members present in BOTH sets
    both = bk.join(ha, "_h", "left_semi").join(hb, "_h", "left_semi")
    stats = bk.agg(F.count(F.lit(1)).alias("_n"),
                   F.max("_h").alias("_hk"))
    matches = both.agg(F.count(F.lit(1)).alias("_m"))
    out = stats.crossJoin(matches)   # two 1-row frames
    union_est = _estimate(k)
    kept = F.least(F.lit(k), F.col("_n")).cast("double")
    inter_est = F.col("_m").cast("double") / kept * union_est
    return out.select(
        union_est.alias("union_est"),
        inter_est.alias("intersect_est"),
        (F.col("_m").cast("double") / kept).alias("jaccard_est"))


def _cms_cells(value_col: str, width: int, depth: int) -> Column:
    """Array of (row, cell) structs for a value — the ONE definition of
    the count-min hash family (md5 salted per row via h60), shared by
    the build and the probe so they can never drift apart."""
    rows = []
    for r in range(depth):
        cell = F.pmod(
            h60(F.concat(F.lit(f"cms{r}_"),
                         F.col(value_col).cast("string"))),
            F.lit(width))
        rows.append(F.struct(F.lit(r).alias("_row"), cell.alias("_cell")))
    return F.array(*rows)


def _ns_eq(left_cols: Sequence[str], right_prefix: str) -> Column:
    """AND of null-safe equalities left.c <=> right.<prefix>c — NULL
    group keys are groups (the groupBy side keeps them; a plain
    equi-join would silently drop them)."""
    from functools import reduce
    return reduce(lambda a, b: a & b,
                  [F.col(c).eqNullSafe(F.col(right_prefix + c))
                   for c in left_cols])


def cms_counts(df: DataFrame, value_col: str, width: int = 256,
               depth: int = 4,
               group_cols: Sequence[str] = ()) -> DataFrame:
    """Count-min sketch table: per (group, row, cell) counts with
    ``depth`` md5-salted hash rows of ``width`` cells — O(width*depth)
    state per group however many distinct values stream through, and
    mergeable by cell-wise addition (the partial aggregation Spark
    already does). Deterministic like everything in this module, so a
    SQL oracle can rebuild the identical table. NULL group keys are
    groups (kept by the groupBy, and the probe join honors them).
    Returns (group..., _row, _cell, _cnt)."""
    groups = list(group_cols)
    return (df.filter(F.col(value_col).isNotNull())
            .select(*groups,
                    F.explode(_cms_cells(value_col, width, depth))
                     .alias("_s"))
            .select(*groups, "_s._row", "_s._cell")
            .groupBy(*groups, "_row", "_cell")
            .agg(F.count(F.lit(1)).alias("_cnt")))


def cms_estimate(sketch: DataFrame, keys: DataFrame, value_col: str,
                 width: int = 256, depth: int = 4,
                 group_cols: Sequence[str] = (),
                 out_col: str = "cms_est") -> DataFrame:
    """Point-query the sketch for each key row: hash the key through
    the same ``depth`` rows and take the MIN cell count (the count-min
    guarantee: an overestimate by at most the collision mass, never an
    underestimate — which forces the group join below to be NULL-SAFE,
    or a NULL group key would never match its sketch rows and min()
    would answer 0, an underestimate). The join is keys x depth rows
    against the width*depth-cell sketch — broadcast-sized both sides."""
    groups = list(group_cols)
    probes = (keys.select(*groups, F.col(value_col),
                          F.explode(_cms_cells(value_col, width, depth))
                           .alias("_s"))
              .select(*groups, value_col, "_s._row", "_s._cell"))
    sk = sketch.select(*[F.col(c).alias(f"_sk_{c}") for c in groups],
                       F.col("_row").alias("_sk__row"),
                       F.col("_cell").alias("_sk__cell"), "_cnt")
    cond = (F.col("_row") == F.col("_sk__row")) \
        & (F.col("_cell") == F.col("_sk__cell"))
    if groups:
        cond = cond & _ns_eq(groups, "_sk_")
    hit = probes.join(sk, cond, "left") \
                .withColumn("_cnt", F.coalesce("_cnt", F.lit(0)))
    return (hit.groupBy(*groups, value_col)
            .agg(F.min("_cnt").alias(out_col)))


def kmv_quantiles(df: DataFrame, group_cols: Sequence[str],
                  value_col: str, id_col: str, k: int = 256,
                  qs: Sequence[float] = (0.5, 0.9, 0.99)) -> DataFrame:
    """Per-group approximate quantiles from a DETERMINISTIC bottom-k
    row sample: keep the k rows whose md5-60-bit ROW-ID hash is
    smallest per group (ties broken by id) — a uniform
    without-replacement sample that is a pure function of the data, so
    the APPROXIMATE estimate value-hash replays in SQL exactly (the
    same property as kmv_distinct). Exact when a group has <= k rows.

    The synopsis completes the sketch family's third axis (distinct =
    kmv_distinct, frequency = cms_counts, quantiles = this) and is
    mergeable like any KMV: the bottom-k of a union is the bottom-k of
    the parts' synopses, so shards sketch independently and a
    coordinator folds k-row synopses — O(k) state per group however
    many rows the group has, vs the exact percentile's full sort.
    Sampling error ~ O(1/sqrt(k)) in rank space. Estimates use the same
    linear-interpolation percentile as the exact path (Spark
    ``percentile`` == DuckDB ``quantile_cont``)."""
    gcols = list(group_cols)
    d = df.select(*gcols, F.col(value_col).alias("_v"),
                  F.col(id_col).alias("_i")) \
          .withColumn("_h", h60(F.col("_i")))
    if gcols:
        w = Window.partitionBy(*gcols).orderBy("_h", "_i")
        kept = (d.withColumn("_r", F.row_number().over(w))
                 .filter(F.col("_r") <= k))
    else:
        # global: TakeOrderedAndProject, never a partition-less window
        # sort (the _bottom_k rule)
        kept = d.orderBy("_h", "_i").limit(k)
    pc = F.percentile(F.col("_v"),
                      F.array(*[F.lit(float(q)) for q in qs]))
    agg = kept.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_sample"), pc.alias("_p"))
    return agg.select(
        *gcols, "n_sample",
        *[F.round(F.col("_p")[i], 6).alias(f"p{int(q * 100)}")
          for i, q in enumerate(qs)])
