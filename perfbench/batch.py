"""batch_curation: the curation registry entries, in process, no HTTP.

A pass constructs each entry's DataFrame and then executes it. Set-up
runs one untimed pass over the sf0.01 sibling of the data directory, so
that the timed passes find Python workers started and the generated code
compiled, as in ``bench.py``; the timed window is whole passes over the
data directory. Execution is ``collect()``: every projected column is
computed and the small results (at most a few thousand rows) come back
for checking.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
import traceback

from . import oracle, session, stats, trace
from .stats import Result

ENTRIES = trace.BATCH_ENTRIES
WARM_SF = "sf0.01"  # sibling data directory of the untimed warm-up pass
TABLES = ("orders", "lineitem", "documents")  # the entries' inputs


def oracle_hash(name: str, sf_dir: str, work: str, cache_dir: str) -> str:
    """Value hash of the entry's DuckDB oracle over ``sf_dir``. The hash
    is cached per oracle text and input files, so a checkout pays for
    each oracle once rather than once per run."""
    from helix_db_spark.entry_queries import oracle_sql
    from tools.check_oracle import value_hash

    sql = oracle_sql()[name]
    key = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        key.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(cache_dir, f"{name}-{key.hexdigest()[:16]}")
    if os.path.exists(path):
        with open(path) as f:
            return f.read()
    con = oracle.connect(sf_dir, work, TABLES)
    rel = con.sql(sql)
    want = value_hash(list(rel.columns), rel.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as f:
        f.write(want)
    return want


def run(sf_dir: str, work: str, seed: int, seconds: float,
        traced: bool, cache_dir: str) -> Result:
    """``seed`` is unused: the entries and their data are fixed."""
    from helix_db_spark.entry_queries import queries

    registry = queries()
    spark, session_s = session.start(work, event_log=traced)
    try:
        t0 = time.perf_counter()
        warm_dir = os.path.join(os.path.dirname(os.path.normpath(sf_dir)),
                                WARM_SF)
        for name in ENTRIES:
            registry[name](spark, warm_dir).collect()
            spark.catalog.clearCache()
        session.collect_garbage(spark)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + warm_s

        tracer = trace.Tracer() if traced else None

        def span(name, op=None):
            return (tracer.span(name, op=op) if traced
                    else contextlib.nullcontext())

        results = []  # (name, columns, rows, construct s, execute s)
        failures = []  # entries that raised
        op_ids = []
        t_start = time.perf_counter()
        p = 0
        while p == 0 or time.perf_counter() - t_start < seconds:
            for name in ENTRIES:
                op = f"entry:{name}:{p}"
                if traced:
                    spark.sparkContext.setJobGroup(op, "perfbench")
                try:
                    with span("op", op):
                        t0 = time.perf_counter()
                        with span("entry.construct"):
                            df = registry[name](spark, sf_dir)
                        t1 = time.perf_counter()
                        with span("entry.execute"):
                            rows = [tuple(r) for r in df.collect()]
                        t2 = time.perf_counter()
                except Exception:  # noqa: BLE001 — a failed entry is counted
                    traceback.print_exc()
                    failures.append(name)
                    continue
                finally:
                    # between entries, untimed: no entry reads another's
                    # cache or pays for its garbage
                    spark.catalog.clearCache()
                    session.collect_garbage(spark)
                results.append((name, df.columns, rows, t1 - t0, t2 - t1))
                if traced:
                    op_ids.append(op)
                    tracer.count("dedup.pairs", len(rows), op=op)
                    tracer.phases.extend((op,) + ph
                                         for ph in trace.catalyst_phases(df))
            p += 1
        window_s = time.perf_counter() - t_start
        rss = session.peak_rss_mb(spark)
        heap = session.retained_heap_mb(spark)
        storage = session.storage_mb(spark) if traced else 0.0
    finally:
        session.stop(spark)

    from tools.check_oracle import value_hash

    failed = len(failures)
    for name, cols, rows, _, _ in results:
        got = value_hash(cols, rows)
        want = oracle_hash(name, sf_dir, work, cache_dir)
        if got != want:
            failed += 1
            print(f"# wrong answer for {name}: value hash {got} != {want}")
    times = [(c + e) * 1e3 for _, _, _, c, e in results]
    metrics = {"setup_s": setup_s,
               "ops_per_s": len(times) / window_s,
               "gmean_ms": stats.gmean(times),
               "p50_ms": stats.median(times),
               "max_ms": max(times)}
    table = [("setup_s", setup_s, "s",
              f"session {session_s:.2f} s + warm-up pass at {WARM_SF} "
              f"{warm_s:.2f} s"),
             ("ops_per_s", metrics["ops_per_s"], "1/s",
              f"{len(times)} entry runs in {window_s:.1f} s"),
             ("gmean_ms", metrics["gmean_ms"], "ms",
              "geometric mean of the entry runs"),
             ("p50_ms", metrics["p50_ms"], "ms", "median entry run"),
             ("max_ms", metrics["max_ms"], "ms", "slowest entry run"),
             ("pass_s", window_s / p, "s", f"{p} pass(es)")]
    short = {"dedup_minhash_pairs": "minhash_s",
             "dedup_ngram_jaccard_pairs": "ngram_s",
             "text_doc_stats": "textstats_s"}
    for name in ENTRIES:
        v = [c + e for n, _, _, c, e in results if n == name]
        if v:
            table.append((short[name], stats.median(v), "s",
                          "construct + execute"))
    attempted = len(results) + len(failures)
    table += [("error_rate", failed / attempted, "ratio",
               f"{failed} of {attempted} entry runs failed or wrong"),
              ("retained_heap_mb", heap, "MB", "JVM heap after a full GC"),
              ("peak_rss_mb", rss, "MB", "driver JVM + Python VmHWM")]
    per_layer = None
    if traced:
        per_layer = trace.reduce(
            tracer, trace.read_event_log(f"{work}/eventlog"), op_ids,
            "driver.other_ms",
            {"spark.storage_mb": storage,
             "trace.ops_per_s": metrics["ops_per_s"],
             "trace.gmean_ms": metrics["gmean_ms"]})
    return Result(attempted, failed, metrics, table, per_layer)
