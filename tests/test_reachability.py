"""Reachability guard: every top-level function or class in
``helix_db_spark`` that only the tests reach is listed below with the
reason it stays (a reference twin a test compares a faster path against,
or the operator behind a COVERAGE.md row). A new test-only helper fails
this test until it earns a line here and in COVERAGE.md, or is deleted.

The scan is Spark-free and name-based over the AST: a definition is
reached by a ``Name`` or ``Attribute`` node with its name (or an aliased
``from … import name as other``) anywhere outside its own body.
Decorated definitions register themselves (``@q`` graded entries) and
count as reached. Non-test code is the package, ``tools/``,
``examples/``, ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``;
``test_*.py`` files anywhere are tests.
"""

from __future__ import annotations

import ast
import collections
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TEST_ONLY = {
    "_assign_to": "reference twin of the IVF assignment kernel "
                  "(_assign_pandas)",
    "brute_force_topk": "reference twin of the ANN probes "
                        "(COVERAGE: ANN search)",
    "cosine_pairs_lsh": "COVERAGE: embedding cosine near-dup scale path",
    "bpe_decode_col": "COVERAGE: trainable BPE tokenizer",
    "decode_audio": "COVERAGE: multimodal plumbing",
    "decode_image": "COVERAGE: multimodal plumbing",
    "decode_video": "COVERAGE: multimodal plumbing",
    "hash_embedding": "COVERAGE: feature-hashing text embeddings "
                      "(Column form of the graded path)",
    "load_graph_config": "COVERAGE: source formats (config-driven mount)",
    "pagerank": "COVERAGE: PageRank",
    "pq_refine_codebooks": "COVERAGE: product quantization",
    "pq_rerank_topk": "COVERAGE: product quantization",
    "read_tables": "COVERAGE: source formats (TPC-H mapping, all tables)",
    "salted_join": "COVERAGE: shuffle-skew diagnosis (the salting remedy)",
    "serialize_query_bundle": "COVERAGE: protocol & lifecycle "
                              "(stored-route bundle)",
    "stream_curate": "COVERAGE: streaming (curation gates on a stream)",
    "stream_first_seen": "COVERAGE: streaming (custom stateful dedup)",
    "stream_graph_upserts": "COVERAGE: streaming (CDC graph upserts)",
    "stream_media": "COVERAGE: streaming media ingestion",
    "stream_media_dedup_ingest": "COVERAGE: streaming media dedup ingest",
    "stream_media_features": "COVERAGE: streaming media ingestion",
    "write_wet_fixture": "COVERAGE: WARC/WET ingestion (WET writer)",
}


def _py_files(base):
    for d, _, files in os.walk(base):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _references(path) -> collections.Counter:
    tree = ast.parse(open(path, encoding="utf-8").read())
    owner = {}
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef,
                            ast.ClassDef)):
            for node in ast.walk(top):
                owner[id(node)] = top.name
    out = collections.Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            out.update(a.name for a in node.names
                       if a.asname and a.asname != a.name)
            continue
        name = (node.id if isinstance(node, ast.Name) else
                node.attr if isinstance(node, ast.Attribute) else None)
        if name is not None and owner.get(id(node)) != name:
            out[name] += 1      # a recursive call is not reach
    return out


def _test_only_definitions() -> set:
    pkg = os.path.join(ROOT, "helix_db_spark")
    defs = set()
    for path in _py_files(pkg):
        tree = ast.parse(open(path, encoding="utf-8").read())
        defs.update(n.name for n in tree.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef))
                    and not n.decorator_list)
    code = list(_py_files(pkg))
    for extra in ("tools", "examples", "perfbench"):
        code += _py_files(os.path.join(ROOT, extra))
    code += [os.path.join(ROOT, f) for f in ("bench.py", "__spark_entry__.py")]
    tests = list(_py_files(os.path.join(ROOT, "tests")))
    used, tested = collections.Counter(), collections.Counter()
    for path in code + tests:
        is_test = path in tests or os.path.basename(path).startswith("test_")
        (tested if is_test else used).update(_references(path))
    return {n for n in defs if not used[n] and tested[n]}


def test_test_only_definitions_are_justified():
    found = _test_only_definitions()
    assert sorted(found - set(TEST_ONLY)) == [], \
        "test-only helpers: justify in TEST_ONLY + COVERAGE.md, or delete"
    assert sorted(set(TEST_ONLY) - found) == [], \
        "now reached outside tests (or deleted): drop from TEST_ONLY"
