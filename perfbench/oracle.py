"""Answer checkers: DuckDB over the same parquet the engine serves.

Served reads are checked against SQL written from each template's
semantics; the BM25 checker restates ``entry_queries._BM25_ORACLE`` with
the drawn terms over a corpus that also holds every document written
before the read. Batch entries are checked with their registry
``oracle_sql()`` and ``tools/check_oracle.value_hash``.
"""

from __future__ import annotations

import math
import os
from typing import Iterable, Optional, Sequence

import duckdb

from helix_db_spark.entry_queries import _TOK

SCORE_DIGITS = 4  # round-before-rank: scores are compared at 4 dp
# one rounding step: two engines' last-bit differences can flip a value
# that sits on a rounding boundary by exactly one unit
_SCORE_TOL = 10.0 ** -SCORE_DIGITS + 1e-9


def connect(sf_dir: str, temp_dir: str, tables: Iterable[str]):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"'{os.path.join(sf_dir, t)}.parquet'")
    return con


def check_topk(got: Sequence[tuple], candidates: Sequence[tuple],
               k: int) -> Optional[str]:
    """Tie-tolerant top-k check, ascending by score, ties by id.

    ``got`` and ``candidates`` are (id, score) pairs; scores are rounded
    before ranking, so any set whose rounded scores equal the rounded
    top-k scores, with each id's own score right, is a correct answer.
    Returns None when correct, else the reason."""
    def r(s):
        return round(s, SCORE_DIGITS)

    want = sorted(((r(s), i) for i, s in candidates))[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if len({i for i, _ in got}) != len(got):
        return "duplicate ids"
    score_of = {i: s for i, s in candidates}
    for i, s in got:
        if i not in score_of:
            return f"id {i} is not a candidate"
        if abs(r(s) - r(score_of[i])) > _SCORE_TOL:
            return f"id {i} score {s} != {score_of[i]}"
    for a, (b, _) in zip(sorted(r(s) for _, s in got), want):
        if abs(a - b) > _SCORE_TOL:
            return f"top-{k} scores differ: {a} vs {b}"
    return None


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9))
    return a == b


class ServedOracle:
    """Expected answers for the served templates. Writes are applied in
    issue order with :meth:`apply`, so a read's expectation includes every
    write issued before it."""

    def __init__(self, sf_dir: str, temp_dir: str):
        self.con = connect(sf_dir, temp_dir,
                           ("nation", "region", "orders", "embeddings"))
        c = self.con
        c.execute(f"CREATE TABLE customer AS SELECT * FROM "
                  f"'{os.path.join(sf_dir, 'customer')}.parquet'")
        c.execute(f"CREATE TABLE docs AS SELECT doc_id, text FROM "
                  f"'{os.path.join(sf_dir, 'documents')}.parquet'")
        self._index_docs("docs", "CREATE TABLE {} AS")

    # -- BM25 corpus, as in entry_queries._BM25_ORACLE --------------------

    def _index_docs(self, source: str, verb: str) -> None:
        """Term frequencies (tf) and lengths (dl) of ``source``'s docs."""
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE toks AS SELECT doc_id, "
            f"unnest({_TOK.format(c='text')}) AS term FROM {source} "
            "WHERE text IS NOT NULL")
        self.con.execute(verb.format("tf") + " SELECT doc_id, term, "
                         "count(*) AS tf FROM toks GROUP BY 1, 2")
        self.con.execute(verb.format("dl") + " SELECT doc_id, "
                         "count(*) AS dl FROM toks GROUP BY 1")

    def vocabulary(self) -> list:
        return [r[0] for r in self.con.execute(
            "SELECT DISTINCT term FROM tf ORDER BY 1").fetchall()]

    def customer_keys(self) -> list:
        return [r[0] for r in self.con.execute(
            "SELECT c_custkey FROM customer ORDER BY 1").fetchall()]

    def embeddings(self) -> dict:
        return {i: list(v) for i, v in self.con.execute(
            "SELECT vec_id, embedding FROM embeddings").fetchall()}

    def bm25_scores(self, terms: Sequence[str]) -> list:
        """(doc_id, score) for every document matching a term."""
        q = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
        return self.con.execute(f"""
            WITH stats AS (SELECT count(*)::DOUBLE AS n,
                                  avg(dl)::DOUBLE AS avgdl FROM dl),
            qterms AS (SELECT unnest([{q}]) AS term),
            df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
                   JOIN qterms USING (term) GROUP BY 1)
            SELECT tf.doc_id,
                   sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                       * (tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * (1 - 0.75 +
                          0.75 * dl.dl / stats.avgdl))) AS score
            FROM tf JOIN qterms USING (term) JOIN df USING (term)
                 JOIN dl USING (doc_id) CROSS JOIN stats
            GROUP BY tf.doc_id""").fetchall()

    # -- replay -----------------------------------------------------------

    def apply(self, op) -> None:
        """Make a write visible to later expectations."""
        if op.kind == "add_doc":
            self.con.execute("INSERT INTO docs VALUES (?, ?)",
                             [op.params["doc_id"], op.params["text"]])
            self.con.execute("CREATE OR REPLACE TEMP TABLE new_doc AS "
                             "SELECT * FROM docs WHERE doc_id = ?",
                             [op.params["doc_id"]])
            self._index_docs("new_doc", "INSERT INTO {}")
        elif op.kind == "set_balance":
            self.con.execute("UPDATE customer SET c_acctbal = ? "
                             "WHERE c_custkey = ?",
                             [op.params["value"], op.params["key"]])

    def check(self, op, rows: list) -> Optional[str]:
        """None when ``rows`` (the response's result list) is right."""
        p = op.params
        c = self.con
        if op.kind in ("point", "point_route"):
            want = [dict(zip(("c_custkey", "c_name", "c_acctbal"), r))
                    for r in c.execute(
                        "SELECT c_custkey, c_name, c_acctbal FROM customer "
                        "WHERE c_custkey = ?", [p["key"]]).fetchall()]
            return _rows_equal(rows, want)
        if op.kind == "two_hop":
            want = [{"r_name": r[0]} for r in c.execute(
                "SELECT r_name FROM customer JOIN nation "
                "ON c_nationkey = n_nationkey JOIN region "
                "ON n_regionkey = r_regionkey WHERE c_custkey = ?",
                [p["key"]]).fetchall()]
            return _rows_equal(rows, want)
        if op.kind == "in_hop":
            cands = c.execute("SELECT o_orderkey, o_totalprice FROM orders "
                              "WHERE o_custkey = ?", [p["key"]]).fetchall()
            got = [(r["o_orderkey"], r["o_totalprice"]) for r in rows]
            if [s for _, s in got] != sorted(s for _, s in got):
                return "in-hop rows not ordered by o_totalprice"
            return check_topk(got, cands, 10)
        if op.kind == "group_count":
            prop = p["property"]
            want = [{prop: v, "count": n} for v, n in c.execute(
                f"SELECT {prop}, count(*) FROM orders GROUP BY 1").fetchall()]
            return _rows_equal(rows, want)
        if op.kind == "vector":
            cands = c.execute(
                "SELECT vec_id, 1.0 - list_cosine_similarity("
                "embedding::DOUBLE[], ?::DOUBLE[]) FROM embeddings",
                [p["vector"]]).fetchall()
            return check_topk([(r["vec_id"], r["distance"]) for r in rows],
                              cands, 10)
        if op.kind == "bm25":
            cands = [(i, -s) for i, s in self.bm25_scores(p["terms"])]
            return check_topk([(r["doc_id"], r["distance"]) for r in rows],
                              cands, 10)
        label = {"add_doc": "documents", "add_edge": "has_embedding",
                 "set_balance": "customer"}[op.kind]
        if [r.get("label") for r in rows] != [label]:
            return f"write returned {rows!r}, expected one {label} element"
        return None


def _rows_equal(got: list, want: list) -> Optional[str]:
    """Order-insensitive row-multiset equality with float tolerance."""
    def key(r):
        return sorted((k, str(v)) for k, v in r.items())

    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if g.keys() != w.keys() or not all(_close(g[k], w[k]) for k in g):
            return f"row {g!r} != {w!r}"
    return None
