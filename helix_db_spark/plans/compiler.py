"""Step-pipeline -> DataFrame compiler.

A traversal stream is a set of per-label DataFrames (``Stream``). Keeping
labels separate as long as possible is the core scale decision: every label
frame keeps its typed columnar schema, so filters and projections push down
to the parquet scan, and hop joins only touch the edge labels that can
connect the frontier. Streams only coalesce (union with ``_label``) when a
step genuinely needs whole-stream semantics (sort/limit/aggregate).

Graph hops are equi-joins against the edge tables (the reference's only join
family, SURVEY §2.2). Frontier ids propagate through inner joins — bag
semantics, which matches both Gremlin traversers and SQL-join oracles. Small
frontiers broadcast automatically via AQE.

Reference semantics: sdks/rust/src/dsl.rs:2795-3262 (Step enum).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import (GraphCatalog, RESERVED_COLS, _DST, _ID, _SRC,
                       literal_rows)
from . import ast
from .exprs import ExprCompiler, dotted_path, lit_value

_LABEL = "_label"
_DIST = "_distance"
_FROM_ARRIVAL = "_arrived_from"
_ORIGIN = "_origin"  # provenance for Optional()
_BIND = "_b_"  # binding column prefix


def _carry_cols(df: DataFrame) -> List[str]:
    return [c for c in df.columns if c.startswith(_BIND) or c == _ORIGIN]


@dataclass
class Stream:
    """kind: 'node' | 'edge' | 'value'. frames: label -> DataFrame.

    A ``None`` key marks a coalesced (mixed-label) frame carrying _label.
    'value' streams are terminal result tables ({None: df}).
    """

    kind: str
    frames: Dict[Optional[str], DataFrame]

    def labels(self):
        return list(self.frames)

    def is_terminal(self) -> bool:
        return self.kind == "value"

    def ids(self) -> DataFrame:
        """Bag of element ids across all frames."""
        outs = [df.select(F.col(_ID).alias(_ID)) for df in self.frames.values()]
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def coalesce(self) -> DataFrame:
        """Union all label frames into one mixed frame with _label."""
        frames = []
        for label, df in self.frames.items():
            if label is None:
                frames.append(df)
            else:
                frames.append(df.withColumn(_LABEL, F.lit(label)))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def single(self) -> DataFrame:
        """The single frame of a terminal/value stream."""
        assert len(self.frames) == 1
        return next(iter(self.frames.values()))

    def map_frames(self, fn: Callable[[Optional[str], DataFrame], DataFrame]) -> "Stream":
        return Stream(self.kind, {l: fn(l, df) for l, df in self.frames.items()})

    def is_empty(self) -> bool:
        return all(df.isEmpty() for df in self.frames.values())


def make_resolver(df: DataFrame, label: Optional[str], kind: str):
    """Per-frame property resolver incl. virtual fields (SURVEY §1.3)."""
    cols = set(df.columns)
    schema = {f.name: f.dataType for f in df.schema.fields}

    def resolve(name: str):
        if name == "$id":
            return F.col(_ID)
        if name == "$label":
            return F.col(_LABEL) if label is None else F.lit(label)
        if name == "$distance":
            return F.col(_DIST) if _DIST in cols else F.lit(None).cast("double")
        if name == "$from":
            return F.col(_SRC)
        if name == "$to":
            return F.col(_DST)
        root = name.split(".", 1)[0]
        if root not in cols:
            return F.lit(None)
        if "." in name:
            return dotted_path(F.col(root), name, schema.get(root))
        return F.col(root)

    return resolve


@dataclass
class ExecContext:
    catalog: GraphCatalog
    params: dict = field(default_factory=dict)
    variables: Dict[str, Stream] = field(default_factory=dict)
    now_ms: Optional[int] = None
    mode: str = "read"


class UnsupportedStep(NotImplementedError):
    pass


class StepCompiler:
    def __init__(self, ctx: ExecContext):
        self.ctx = ctx
        self.cat = ctx.catalog

    # -- public -------------------------------------------------------------

    def run(self, traversal: ast.Traversal,
            initial: Optional[Stream] = None) -> Stream:
        stream = initial
        for step in traversal.steps:
            stream = self.apply(step, stream)
        return stream if stream is not None else Stream("value", {None: None})

    def apply(self, step: ast.Step, stream: Optional[Stream]) -> Stream:
        name = "_step_" + type(step).__name__
        fn = getattr(self, name, None)
        if fn is None:
            raise UnsupportedStep(f"step {type(step).__name__} not implemented")
        return fn(step, stream)

    # -- helpers --------------------------------------------------------------

    def _expr_compiler(self, df: DataFrame, label: Optional[str],
                       kind: str) -> ExprCompiler:
        return ExprCompiler(make_resolver(df, label, kind),
                            self.ctx.params, self.ctx.now_ms)

    def _filter(self, stream: Stream, pred: ast.Predicate) -> Stream:
        def fn(label, df):
            ec = self._expr_compiler(df, label, stream.kind)
            return df.filter(ec.pred(pred))
        return stream.map_frames(fn)

    def _resolve_ref_ids(self, ref: ast.Ref) -> Optional[List[int]]:
        """Literal id list for Ids/Param refs; None for All/Var."""
        if ref.kind == "ids":
            return list(ref.ids)
        if ref.kind == "param":
            v = self.ctx.params[ref.name]
            return list(v) if isinstance(v, (list, tuple)) else [v]
        return None

    def _bound(self, n) -> int:
        """StreamBound: literal or runtime expression/param (dsl.rs:1494-1513)."""
        if isinstance(n, int):
            return n
        if isinstance(n, ast.Param):
            return int(self.ctx.params[n.name])
        if isinstance(n, ast.Constant):
            return int(n.value)
        if isinstance(n, ast.Expr):
            # resolve a constant-foldable expression driver-side
            import pyspark.sql.functions as _F
            ec = ExprCompiler(lambda _: _F.lit(None), self.ctx.params,
                              self.ctx.now_ms)
            row = self.cat.spark.range(1).select(
                ec.expr(n).cast("long").alias("v")).head()
            return int(row["v"])
        raise ValueError(f"bad stream bound {n!r}")

    # -- sources ------------------------------------------------------------

    def _scan(self, kind: str, label: Optional[str], ref: ast.Ref) -> Stream:
        frames = (self.cat.nodes(label) if kind == "node"
                  else self.cat.edges(label))
        if not frames:  # unknown label => empty stream, not an error
            empty = self._empty_nodes() if kind == "node" else self._empty_edges()
            return Stream(kind, {None: empty})
        stream = Stream(kind, dict(frames))
        if ref.kind == "var":
            var = self.ctx.variables[ref.name]
            ids = var.ids().distinct()
            # plain semi join — a var's id set is unbounded, so the
            # broadcast-vs-shuffle choice belongs to AQE (which converts to
            # broadcast at runtime when the set is actually small); a forced
            # broadcast hint here would OOM on a large var at cluster scale
            stream = stream.map_frames(
                lambda l, df: df.join(ids, on=_ID, how="left_semi"))
        else:
            ids = self._resolve_ref_ids(ref)
            if ids is not None:
                stream = stream.map_frames(
                    lambda l, df: df.filter(F.col(_ID).isin(ids)))
        return stream

    def _step_N(self, step: ast.N, stream) -> Stream:
        return self._scan("node", step.label, step.ref)

    def _step_E(self, step: ast.E, stream) -> Stream:
        return self._scan("edge", step.label, step.ref)

    def _label_from_pred(self, pred) -> Optional[str]:
        """Extract a top-level ``$label == x`` for label pruning."""
        if isinstance(pred, ast.Cmp) and pred.op == "Eq" and pred.prop == "$label":
            rhs = pred.rhs
            if isinstance(rhs, ast.Constant):
                return rhs.value
            if isinstance(rhs, ast.Param):
                return self.ctx.params[rhs.name]
        if isinstance(pred, ast.And):
            for p in pred.preds:
                hit = self._label_from_pred(p)
                if hit is not None:
                    return hit
        return None

    def _step_NWhere(self, step: ast.NWhere, stream) -> Stream:
        label = step.label or self._label_from_pred(step.pred)
        base = self._scan("node", label, ast.Ref.all())
        return self._filter(base, step.pred)

    def _step_EWhere(self, step: ast.EWhere, stream) -> Stream:
        label = step.label or self._label_from_pred(step.pred)
        base = self._scan("edge", label, ast.Ref.all())
        return self._filter(base, step.pred)

    # -- filters --------------------------------------------------------------

    def _step_Where(self, step: ast.Where, stream: Stream) -> Stream:
        return self._filter(stream, step.pred)

    def _step_Has(self, step: ast.Has, stream: Stream) -> Stream:
        return self._filter(stream, ast.Cmp("Eq", step.prop,
                                            ast.Constant(step.value)))

    def _step_HasKey(self, step: ast.HasKey, stream: Stream) -> Stream:
        return self._filter(stream, ast.HasKeyPred(step.prop))

    def _step_HasLabel(self, step: ast.HasLabel, stream: Stream) -> Stream:
        frames = {}
        for label, df in stream.frames.items():
            if label == step.label:
                frames[label] = df
            elif label is None:
                frames[None] = df.filter(F.col(_LABEL) == step.label)
        if not frames:
            # empty stream of that shape
            any_df = next(iter(stream.frames.values()))
            frames = {None: any_df.limit(0).withColumn(_LABEL, F.lit(step.label))}
        return Stream(stream.kind, frames)

    # -- navigation -----------------------------------------------------------

    def _frontier(self, stream: Stream, id_alias: str) -> DataFrame:
        """Project frontier to (join-key, carry columns) as a bag."""
        outs = []
        for label, df in stream.frames.items():
            cols = [F.col(_ID).alias(id_alias)] + [F.col(c) for c in _carry_cols(df)]
            outs.append(df.select(*cols))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        return out

    def _attach_nodes(self, ids_df: DataFrame, key: str,
                      dst_label: Optional[str]) -> Dict[str, DataFrame]:
        """Join a bag of target ids (+carry cols) to node tables."""
        carry = _carry_cols(ids_df)
        probe = ids_df.select(F.col(key).alias(_ID), *[F.col(c) for c in carry])
        out: Dict[str, DataFrame] = {}
        targets = ([dst_label] if dst_label is not None
                   else self.cat.node_labels())
        for tl in targets:
            ndf = self.cat.nodes(tl).get(tl)
            if ndf is None:
                continue
            res = ndf.join(probe, on=_ID, how="inner")
            out[tl] = out[tl].unionByName(res) if tl in out else res
        return out

    def _hop_edges(self, stream: Stream, edge_label: Optional[str],
                   direction: str) -> Dict[str, DataFrame]:
        """frontier nodes -> incident edges (with carry cols propagated)."""
        out: Dict[str, DataFrame] = {}
        src_labels = set(stream.frames)
        for elabel, edf in self.cat.edges(edge_label).items():
            meta = self.cat.edge_meta(elabel)
            legs = []
            if direction in ("out", "both"):
                if meta.src_label is None or meta.src_label in src_labels or None in src_labels:
                    legs.append((_SRC, F.col(_SRC)))
            if direction in ("in", "both"):
                if meta.dst_label is None or meta.dst_label in src_labels or None in src_labels:
                    legs.append((_DST, F.col(_DST)))
            for key, arrival in legs:
                frontier = self._frontier(stream, key)
                # in-legs probe on _dst: scan the dst-clustered copy when
                # the store registered one (parquet min/max prune on _dst)
                frame = (self.cat.edges_directed(elabel, "in")
                         if key == _DST else edf)
                hop = frame.join(frontier, on=key, how="inner")
                hop = hop.withColumn(_FROM_ARRIVAL, arrival)
                out[elabel] = (out[elabel].unionByName(hop)
                               if elabel in out else hop)
        return out

    def _step_Hop(self, step: ast.Hop, stream: Stream) -> Stream:
        op = step.op
        if op in ("out", "in", "both"):
            # nodes -> neighbor nodes
            parts: Dict[str, DataFrame] = {}
            dirs = [op] if op != "both" else ["out", "in"]
            for d in dirs:
                edge_key, node_key = ((_SRC, _DST) if d == "out" else (_DST, _SRC))
                for elabel, edf in self.cat.edges(step.label).items():
                    meta = self.cat.edge_meta(elabel)
                    want = meta.src_label if d == "out" else meta.dst_label
                    if (want is not None and want not in stream.frames
                            and None not in stream.frames):
                        continue
                    frontier = self._frontier(stream, edge_key)
                    frame = (self.cat.edges_directed(elabel, "in")
                             if d == "in" else edf)
                    hop = frame.join(frontier, on=edge_key, how="inner")
                    dst_label = meta.dst_label if d == "out" else meta.src_label
                    for tl, res in self._attach_nodes(hop, node_key, dst_label).items():
                        parts[tl] = (parts[tl].unionByName(res)
                                     if tl in parts else res)
            if not parts:
                parts = {None: self._empty_nodes()}
            return Stream("node", parts)

        if op in ("out_e", "in_e", "both_e"):
            d = {"out_e": "out", "in_e": "in", "both_e": "both"}[op]
            frames = self._hop_edges(stream, step.label, d)
            if not frames:
                frames = {None: self._empty_edges()}
            return Stream("edge", frames)

        if op in ("out_n", "in_n", "other_n"):
            # edges -> endpoint node. OutN = target, InN = source
            # (parity fixture 008: inN->from_nodes, outN->to_nodes).
            parts: Dict[str, DataFrame] = {}
            for elabel, edf in stream.frames.items():
                meta = self.cat.edge_meta(elabel) if elabel else None
                if op == "out_n":
                    key_col, dst_label = F.col(_DST), meta.dst_label if meta else None
                elif op == "in_n":
                    key_col, dst_label = F.col(_SRC), meta.src_label if meta else None
                else:  # other_n: the endpoint we did NOT arrive from
                    if _FROM_ARRIVAL not in edf.columns:
                        raise ValueError("OtherN requires arrival provenance "
                                         "(use outE/inE/bothE first)")
                    key_col = F.when(F.col(_SRC) == F.col(_FROM_ARRIVAL),
                                     F.col(_DST)).otherwise(F.col(_SRC))
                    dst_label = None
                probe = edf.select(key_col.alias("_target"),
                                   *[F.col(c) for c in _carry_cols(edf)])
                for tl, res in self._attach_nodes(probe, "_target", dst_label).items():
                    parts[tl] = (parts[tl].unionByName(res)
                                 if tl in parts else res)
            if not parts:
                parts = {None: self._empty_nodes()}
            return Stream("node", parts)

        raise UnsupportedStep(f"hop {op}")

    def _empty_nodes(self) -> DataFrame:
        return literal_rows(self.cat.spark, [],
                            f"{_ID} long, {_LABEL} string")

    def _empty_edges(self) -> DataFrame:
        return literal_rows(
            self.cat.spark, [],
            f"{_ID} long, {_SRC} long, {_DST} long, {_LABEL} string")

    # -- stream ops -------------------------------------------------------------

    def _step_Dedup(self, step: ast.Dedup, stream: Stream) -> Stream:
        if stream.kind == "value":
            return Stream("value", {None: stream.single().dropDuplicates()})
        # element identity; ids are globally unique so per-frame dedup suffices
        return stream.map_frames(lambda l, df: df.dropDuplicates([_ID]))

    def _step_Within(self, step: ast.Within, stream: Stream) -> Stream:
        ids = self.ctx.variables[step.var].ids().distinct()
        return stream.map_frames(
            lambda l, df: df.join(ids, on=_ID, how="left_semi"))

    def _step_Without(self, step: ast.Without, stream: Stream) -> Stream:
        ids = self.ctx.variables[step.var].ids().distinct()
        return stream.map_frames(
            lambda l, df: df.join(ids, on=_ID, how="left_anti"))

    def _step_Inject(self, step: ast.Inject, stream: Stream) -> Stream:
        other = self.ctx.variables[step.var]
        frames = dict(stream.frames)
        for l, df in other.frames.items():
            frames[l] = (frames[l].unionByName(df, allowMissingColumns=True)
                         if l in frames else df)
        return Stream(stream.kind, frames)

    def _step_Select(self, step: ast.Select, stream) -> Stream:
        return self.ctx.variables[step.var]

    def _step_Store(self, step: ast.Store, stream: Stream) -> Stream:
        self.ctx.variables[step.name] = stream
        return stream

    def _step_Bind(self, step: ast.Bind, stream: Stream) -> Stream:
        col = _BIND + step.name

        def fn(label, df):
            keep = [c for c in df.columns
                    if not c.startswith(_BIND) and c != _ORIGIN]
            fields = [F.col(c).alias(c) for c in keep]
            if label is not None:
                fields.append(F.lit(label).alias(_LABEL))
            return df.withColumn(col, F.struct(*fields))
        return stream.map_frames(fn)

    def _order_cols(self, df, label, kind, keys):
        ec = self._expr_compiler(df, label, kind)
        cols = []
        for prop, direction in keys:
            c = ec.resolve(prop) if isinstance(prop, str) else ec.expr(prop)
            cols.append(c.desc() if str(direction).lower().startswith("d") else c.asc())
        return cols

    def _step_OrderBy(self, step: ast.OrderBy, stream: Stream) -> Stream:
        if len(stream.frames) == 1:
            (label, df), = stream.frames.items()
        else:
            label, df = None, stream.coalesce()
        cols = self._order_cols(df, label, stream.kind, step.keys)
        # orderBy + a later limit fuses into TakeOrderedAndProject (no full sort)
        return Stream(stream.kind, {label: df.orderBy(*cols)})

    def _step_Limit(self, step: ast.Limit, stream: Stream) -> Stream:
        n = self._bound(step.n)
        if len(stream.frames) == 1:
            (label, df), = stream.frames.items()
            return Stream(stream.kind, {label: df.limit(n)})
        return Stream(stream.kind, {None: stream.coalesce().limit(n)})

    def _step_Skip(self, step: ast.Skip, stream: Stream) -> Stream:
        n = self._bound(step.n)
        if len(stream.frames) == 1:
            (label, df), = stream.frames.items()
            return Stream(stream.kind, {label: df.offset(n)})
        return Stream(stream.kind, {None: stream.coalesce().offset(n)})

    def _step_Range(self, step: ast.Range, stream: Stream) -> Stream:
        start, end = self._bound(step.start), self._bound(step.end)
        s = self._step_Skip(ast.Skip(start), stream)
        return self._step_Limit(ast.Limit(max(end - start, 0)), s)

    # -- aggregation terminals ----------------------------------------------

    def _step_Count(self, step, stream: Stream) -> Stream:
        df = stream.coalesce() if stream.kind != "value" else stream.single()
        return Stream("value",
                      {None: df.agg(F.count(F.lit(1)).alias("count"))})

    def _step_Exists(self, step, stream: Stream) -> Stream:
        df = stream.coalesce() if stream.kind != "value" else stream.single()
        out = df.limit(1).agg((F.count(F.lit(1)) > 0).alias("exists"))
        return Stream("value", {None: out})

    def _agg_input(self, stream: Stream, prop: Optional[str]):
        df = stream.coalesce() if stream.kind != "value" else stream.single()
        if prop is None:
            return df, None
        ec = self._expr_compiler(df, None, stream.kind)
        return df, ec.resolve(prop) if isinstance(prop, str) else ec.expr(prop)

    def _step_Group(self, step: ast.Group, stream: Stream) -> Stream:
        df, key = self._agg_input(stream, step.prop)
        grouped = (df.groupBy(key.alias(step.prop))
                     .agg(F.sort_array(F.collect_list(F.col(_ID))).alias("ids")))
        return Stream("value", {None: grouped})

    def _step_GroupCount(self, step: ast.GroupCount, stream: Stream) -> Stream:
        df, key = self._agg_input(stream, step.prop)
        out = df.groupBy(key.alias(step.prop)).agg(
            F.count(F.lit(1)).alias("count"))
        return Stream("value", {None: out})

    def _step_AggregateBy(self, step: ast.AggregateBy, stream: Stream) -> Stream:
        df, col = self._agg_input(stream, step.prop)
        fn = step.fn.lower()
        if fn == "count":
            agg = F.count(F.lit(1) if col is None else col)
        elif fn == "sum":
            agg = F.sum(col)
        elif fn == "min":
            agg = F.min(col)
        elif fn == "max":
            agg = F.max(col)
        elif fn == "mean":
            agg = F.avg(col)
        else:
            raise UnsupportedStep(f"AggregateBy fn {step.fn}")
        return Stream("value", {None: df.agg(agg.alias(fn))})

    # -- projection terminals -------------------------------------------------

    def _project_frames(self, stream: Stream, builder) -> Stream:
        outs = []
        for label, df in stream.frames.items():
            ec = self._expr_compiler(df, label, stream.kind)
            outs.append(df.select(*builder(label, df, ec)))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        return Stream("value", {None: out})

    def _step_IdTerminal(self, step, stream: Stream) -> Stream:
        return self._project_frames(
            stream, lambda l, df, ec: [F.col(_ID).alias("id")])

    def _step_LabelTerminal(self, step, stream: Stream) -> Stream:
        return self._project_frames(
            stream, lambda l, df, ec: [ec.resolve("$label").alias("label")])

    def _step_Values(self, step: ast.Values, stream: Stream) -> Stream:
        def build(label, df, ec):
            return [ec.resolve(p).alias(p.replace(".", "_").lstrip("$"))
                    for p in step.props]
        return self._project_frames(stream, build)

    def _step_ValueMap(self, step: ast.ValueMap, stream: Stream) -> Stream:
        def build(label, df, ec):
            cols = [F.col(_ID).alias("id")]
            props = step.props
            if props is None:
                props = [c for c in df.columns if c not in RESERVED_COLS]
            for p in props:
                cols.append(ec.resolve(p).alias(p.replace(".", "_").lstrip("$")))
            if _DIST in df.columns:
                cols.append(F.col(_DIST).alias("distance"))
            return cols
        return self._project_frames(stream, build)

    def _endpoint_props(self, projections) -> Dict[str, List[str]]:
        need: Dict[str, List[str]] = {"$from": [], "$to": []}
        for proj in projections:
            src = proj.source
            if isinstance(src, str) and (src.startswith("$from.")
                                         or src.startswith("$to.")):
                end, prop = src.split(".", 1)
                need[end].append(prop)
        return need

    def _step_Project(self, step: ast.Project, stream: Stream) -> Stream:
        need = self._endpoint_props(step.projections)

        def attach_endpoints(label, df):
            # join endpoint node properties for $from.<p>/$to.<p> sources
            for end, key in (("$from", _SRC), ("$to", _DST)):
                if not need[end]:
                    continue
                meta = self.cat.edge_meta(label) if label else None
                tl = (meta.src_label if end == "$from" else meta.dst_label) if meta else None
                labels = [tl] if tl else self.cat.node_labels()
                side = None
                for nl in labels:
                    ndf = self.cat.nodes(nl)[nl]
                    cols = [F.col(_ID).alias("__k")] + [
                        (F.col(p) if p in ndf.columns else F.lit(None))
                        .alias(f"__{end[1:]}_{p}") for p in need[end]]
                    part = ndf.select(*cols)
                    side = part if side is None else side.unionByName(part)
                df = df.join(side, df[key] == side["__k"], "left").drop("__k")
            return df

        def build(label, df, ec):
            cols = []
            for proj in step.projections:
                src = proj.source
                if isinstance(src, str):
                    if src.startswith("$from.") or src.startswith("$to."):
                        end, prop = src.split(".", 1)
                        cols.append(F.col(f"__{end[1:]}_{prop}").alias(proj.alias))
                    else:
                        cols.append(ec.resolve(src).alias(proj.alias))
                else:
                    cols.append(ec.expr(src).alias(proj.alias))
            return cols

        pre = stream.map_frames(attach_endpoints)
        return self._project_frames(pre, build)

    def _step_EdgeProperties(self, step, stream: Stream) -> Stream:
        def build(label, df, ec):
            cols = [F.col(_ID).alias("id"),
                    F.col(_SRC).alias("from"),
                    F.col(_DST).alias("to")]
            if _DIST in df.columns:
                cols.append(F.col(_DIST).alias("distance"))
            cols += [F.col(c) for c in df.columns if c not in RESERVED_COLS]
            return cols
        return self._project_frames(stream, build)

    def _step_ProjectBindings(self, step: ast.ProjectBindings,
                              stream: Stream) -> Stream:
        def build(label, df, ec):
            cols = []
            for alias, refs in step.projections:
                parts = []
                for binding, prop in refs:
                    if binding is None:  # Current: the traverser element
                        if prop == "$id":
                            parts.append(F.col(_ID))
                        elif prop == "$label":
                            parts.append(F.lit(label))
                        else:
                            parts.append(ec.resolve(prop)
                                         if prop in df.columns else F.lit(None))
                        continue
                    bcol = _BIND + binding
                    if bcol not in df.columns:
                        parts.append(F.lit(None))
                    elif prop == "$id":
                        parts.append(F.col(bcol).getField(_ID))
                    elif prop == "$label":
                        parts.append(F.col(bcol).getField(_LABEL))
                    else:
                        fields = [f.name for f in df.schema[bcol].dataType.fields]
                        parts.append(F.col(bcol).getField(prop)
                                     if prop in fields else F.lit(None))
                cols.append(F.coalesce(*parts).alias(alias)
                            if len(parts) > 1 else parts[0].alias(alias))
            return cols
        out = self._project_frames(stream, build)
        if step.distinct:
            out = Stream("value", {None: out.single().dropDuplicates()})
        return out

    # -- branching / repetition (dsl.rs:3177-3197) ----------------------------

    def _sub(self, sub: ast.SubTraversal, stream: Stream) -> Stream:
        return self.run(ast.Traversal(sub.steps), initial=stream)

    @staticmethod
    def _merge(a: Optional[Stream], b: Stream) -> Stream:
        if a is None:
            return b
        frames = dict(a.frames)
        for l, df in b.frames.items():
            frames[l] = (frames[l].unionByName(df, allowMissingColumns=True)
                         if l in frames else df)
        kind = a.kind if a.kind == b.kind else "value"
        return Stream(kind, frames)

    def _step_Union(self, step: ast.Union, stream: Stream) -> Stream:
        out: Optional[Stream] = None
        for sub in step.subs:
            out = self._merge(out, self._sub(sub, stream))
        return out if out is not None else stream

    def _step_Choose(self, step: ast.Choose, stream: Stream) -> Stream:
        then_in = self._filter(stream, step.condition)
        out = self._sub(step.then, then_in)
        if step.else_ is not None:
            else_in = self._filter(stream, ast.Not(step.condition))
            out = self._merge(out, self._sub(step.else_, else_in))
        return out

    def _step_Coalesce(self, step: ast.Coalesce, stream: Stream) -> Stream:
        """Per-stream first-non-empty branch (observed fixture semantics)."""
        last = None
        for sub in step.subs:
            last = self._sub(sub, stream)
            if not last.is_empty():
                return last
        return last if last is not None else stream

    def _step_Optional_(self, step: ast.Optional_, stream: Stream) -> Stream:
        """Branch results, plus pass-through of inputs the branch produced
        nothing for; a stream-family change drops unmatched inputs
        (dsl.rs:4049-4057). Provenance threads through hop joins via _origin."""
        tagged = stream.map_frames(
            lambda l, df: df.withColumn(_ORIGIN, F.col(_ID)))
        res = self._sub(step.sub, tagged)
        same_family = res.kind == stream.kind
        origins = None
        for df in res.frames.values():
            if _ORIGIN in df.columns:
                part = df.select(F.col(_ORIGIN).alias(_ID))
                origins = part if origins is None else origins.unionByName(part)
        res = res.map_frames(
            lambda l, df: df.drop(_ORIGIN) if _ORIGIN in df.columns else df)
        if not same_family or origins is None:
            return res
        matched = origins.distinct()
        passthrough = stream.map_frames(
            lambda l, df: df.join(matched, on=_ID, how="left_anti"))
        return self._merge(res, passthrough)

    def _step_Repeat(self, step: ast.Repeat, stream: Stream) -> Stream:
        """Iterative frontier loop (BFS pattern). Each round localCheckpoints
        the frontier to cut lineage. Emit: None=final frontier only,
        Before=frontier before each application (incl. initial),
        After=after each application, All=both; emit_if filters emissions.
        until(pred): satisfied elements exit the loop into the result."""
        checkpoint = lambda s: s.map_frames(  # noqa: E731
            lambda l, df: df.localCheckpoint(eager=True))
        frontier = stream
        emitted: Optional[Stream] = None
        exited: Optional[Stream] = None

        def emit(s: Stream):
            nonlocal emitted
            if step.emit_if is not None:
                s = self._filter(s, step.emit_if)
            emitted = self._merge(emitted, s)

        emit_before = step.emit in ("Before", "All")
        # emit_if forces After (dsl.py:1038-1117)
        emit_after = step.emit in ("After", "All") or (
            step.emit_if is not None and step.emit == "None")
        rounds = step.times if step.times is not None else step.max_depth
        rounds = min(rounds, step.max_depth)
        for _ in range(rounds):
            if step.until is not None:
                done = self._filter(frontier, step.until)
                exited = self._merge(exited, done)
                frontier = self._filter(frontier, ast.Not(step.until))
            if step.times is None and frontier.is_empty():
                break
            if emit_before:
                emit(frontier)
            frontier = checkpoint(self._sub(step.sub, frontier))
            if emit_after:
                emit(frontier)

        if emit_before or emit_after:
            return emitted if emitted is not None else frontier
        result = frontier
        if exited is not None:
            result = self._merge(exited, result)
        return result

    # -- search (operators/search.py) -----------------------------------------

    def _scalar(self, v):
        """Resolve a driver-side scalar that may arrive as an Expr/Param
        (the SDKs' *_with search variants, e.g. query_text=Expr.param)."""
        if isinstance(v, ast.Param):
            return self.ctx.params[v.name]
        if isinstance(v, ast.Constant):
            return v.value
        if isinstance(v, ast.Expr):
            raise UnsupportedStep(
                "search query values must be literals or params")
        return v

    def _step_VectorSearch(self, step: ast.VectorSearch, stream) -> Stream:
        from ..operators.search import vector_search
        qv = step.query_vector
        if len(qv) == 1 and isinstance(qv[0], ast.Expr):
            qv = tuple(float(x) for x in self._scalar(qv[0]))
        step = ast.VectorSearch(step.target, step.label, step.property,
                                qv, step.k,
                                self._scalar(step.tenant_value), step.method)
        return vector_search(self, step)

    def _step_TextSearch(self, step: ast.TextSearch, stream) -> Stream:
        from ..operators.search import text_search
        step = ast.TextSearch(step.target, step.label, step.property,
                              str(self._scalar(step.query_text)), step.k,
                              self._scalar(step.tenant_value))
        return text_search(self, step)

    # -- mutations (write path; dsl.rs:3116-3167) ------------------------------

    def _require_write(self):
        if self.ctx.mode != "write":
            raise PermissionError("mutation step in a read batch")

    def _eval_props(self, properties) -> dict:
        """Literal property values for AddN/AddE (params resolved)."""
        out = {}
        for name, value in properties:
            if isinstance(value, ast.Param):
                value = self.ctx.params[value.name]
            elif isinstance(value, ast.Constant):
                value = value.value
            elif isinstance(value, ast.Expr):
                raise UnsupportedStep("AddN/AddE property exprs must be "
                                      "literals or params")
            out[name] = value
        return out

    def _check_unique(self, label: str, props: dict) -> None:
        """Unique equality indexes are enforced at write time
        (dsl.rs:2580-2658; the engine analogue of `unique: true`)."""
        for entry in self.cat.indexes.values():
            if (entry.label != label or not entry.unique
                    or entry.kind != "node_equality"):
                continue
            val = props.get(entry.property)
            if val is None:
                continue
            df = self.cat.nodes(label).get(label)
            if (df is not None and entry.property in df.columns
                    and df.filter(F.col(entry.property) == F.lit(val))
                          .limit(1).count() > 0):
                raise ValueError(
                    f"unique index violation on ({label}, {entry.property})"
                    f" = {val!r}")

    def _step_AddN(self, step: ast.AddN, stream) -> Stream:
        self._require_write()
        props = self._eval_props(step.properties)
        self._check_unique(step.label, props)
        (nid,) = self.cat.allocate_ids(1)
        row = dict(props)
        row[_ID] = nid
        df = literal_rows(self.cat.spark, [row])
        self.cat.add_nodes(step.label, df, rows=[row])
        # the new node becomes the current stream (dsl.rs:3119)
        return Stream("node", {step.label: self._written(
            self.cat.nodes(step.label)[step.label], df)})

    @staticmethod
    def _written(table: DataFrame, df: DataFrame) -> DataFrame:
        """The written rows ``df`` in the shape of the table they joined:
        its columns and types, without scanning it."""
        return table.limit(0).unionByName(df, allowMissingColumns=True)

    # Write batches are OLTP-small by contract (the reference's write path
    # enumerates endpoints the same way, dsl.rs:3128-3138). A large frontier
    # flowing into AddE/DropEdge would otherwise stream unbounded rows to
    # the driver; fail fast with an actionable message instead of OOMing.
    MAX_WRITE_FRONTIER = 10_000

    def _bounded_frontier(self, ids_df, what: str) -> List[int]:
        cap = self.MAX_WRITE_FRONTIER
        rows = ids_df.distinct().limit(cap + 1).collect()  # collect is capped
        if len(rows) > cap:
            raise ValueError(
                f"{what} enumerates more than {cap} distinct endpoints; "
                "write batches are OLTP-small by contract — use "
                "GraphCatalog.add_edges / replace_edges for bulk edge loads")
        return [r[_ID] for r in rows]

    def _target_ids(self, ref: ast.Ref) -> List[int]:
        if ref.kind == "var":
            var = self.ctx.variables[ref.name]
            return self._bounded_frontier(var.ids(), f"target var '{ref.name}'")
        ids = self._resolve_ref_ids(ref)
        if ids is None:
            raise ValueError("AddE/DropEdge target must be ids/var/param")
        return ids

    def _step_AddE(self, step: ast.AddE, stream: Stream) -> Stream:
        """Edges from current nodes x resolved targets (dsl.rs:3128-3138).
        Write batches are OLTP-small by contract; endpoints enumerate
        driver-side. Bulk edge loads use GraphCatalog.add_edges."""
        self._require_write()
        props = self._eval_props(step.properties)
        src_ids = self._bounded_frontier(stream.ids(), "AddE source")
        dst_ids = self._target_ids(step.to)
        pairs = [(s, d) for s in src_ids for d in dst_ids]
        eids = self.cat.allocate_ids(len(pairs))
        rows = [dict(props, **{_ID: e, _SRC: s, _DST: d})
                for e, (s, d) in zip(eids, pairs)]
        if not rows:
            return Stream("edge", {step.label: self._empty_edges()})
        df = literal_rows(self.cat.spark, rows)
        self.cat.add_edges(step.label, df)
        return Stream("edge", {step.label: self._written(
            self.cat.edges(step.label)[step.label], df)})

    def _apply_to_catalog(self, stream: Stream, update_fn) -> Stream:
        """Copy-on-write update of catalog tables for the stream's elements."""
        table = self.cat.nodes if stream.kind == "node" else self.cat.edges
        replace = (self.cat.replace_nodes if stream.kind == "node"
                   else self.cat.replace_edges)
        out_frames = {}
        ids = stream.ids().distinct()
        for label in (stream.frames if None not in stream.frames
                      else table(None)):
            base = table(label).get(label) if label is not None else None
            if base is None:
                continue
            marked = base.join(ids.withColumn("__hit", F.lit(True)),
                               on=_ID, how="left")
            updated = update_fn(label, marked).drop("__hit")
            updated = updated.localCheckpoint(eager=False)
            replace(label, updated)
            out_frames[label] = updated.join(ids, on=_ID, how="left_semi")
        return Stream(stream.kind, out_frames)

    def _step_SetProperty(self, step: ast.SetProperty, stream: Stream) -> Stream:
        self._require_write()

        def update(label, df):
            ec = self._expr_compiler(df, label, stream.kind)
            val = (ec.expr(step.value) if isinstance(step.value, ast.Expr)
                   else lit_value(step.value))
            old = (F.col(step.name) if step.name in df.columns
                   else F.lit(None))
            return df.withColumn(
                step.name,
                F.when(F.col("__hit").isNotNull(), val).otherwise(old))
        return self._apply_to_catalog(stream, update)

    def _step_RemoveProperty(self, step: ast.RemoveProperty,
                             stream: Stream) -> Stream:
        self._require_write()

        def update(label, df):
            if step.name not in df.columns:
                return df
            return df.withColumn(
                step.name,
                F.when(F.col("__hit").isNotNull(), F.lit(None))
                .otherwise(F.col(step.name)))
        return self._apply_to_catalog(stream, update)

    def _step_Drop(self, step: ast.Drop, stream: Stream) -> Stream:
        self._require_write()
        if stream.kind == "node":
            self.cat.drop_nodes_cascade(stream.ids())
        else:
            ids = stream.ids().distinct()
            for label, df in list(self.cat.edges().items()):
                self.cat.replace_edges(
                    label, df.join(ids, on=_ID, how="left_anti"))
        return Stream("value", {None: self.cat.spark.range(0)})

    def _step_DropEdge(self, step: ast.DropEdge, stream: Stream) -> Stream:
        self._require_write()
        if step.edge_ids is not None:
            for label, df in list(self.cat.edges().items()):
                self.cat.replace_edges(
                    label, df.filter(~F.col(_ID).isin(list(step.edge_ids))))
            return stream
        src_ids = self._bounded_frontier(stream.ids(), "DropEdge source")
        dst_ids = self._target_ids(step.to)
        for label, df in list(self.cat.edges(step.label).items()):
            self.cat.replace_edges(
                label,
                df.filter(~(F.col(_SRC).isin(src_ids)
                            & F.col(_DST).isin(dst_ids))))
        return stream

    # -- index DDL (dsl.rs:2580-2658) -------------------------------------------

    def _step_CreateIndex(self, step: ast.CreateIndex, stream) -> Stream:
        from ..catalog import IndexEntry
        self._require_write()  # index DDL is a write (reference write-mode)
        spec = step.spec
        entry = IndexEntry(spec.kind, spec.label, spec.property, spec.unique,
                           spec.direction, spec.tenant_property)
        self.cat.create_index(entry, step.if_not_exists)
        if spec.kind in ("node_text", "edge_text"):
            from ..operators.search import build_text_index
            build_text_index(self, spec.label, spec.property,
                             target="nodes" if spec.kind == "node_text" else "edges")
        if spec.kind in ("node_vector", "edge_vector"):
            from ..operators.search import build_vector_index
            build_vector_index(self, spec.label, spec.property,
                               target="nodes" if spec.kind == "node_vector" else "edges")
        return Stream("value", {None: self.cat.spark.range(0)})

    def _step_DropIndex(self, step: ast.DropIndex, stream) -> Stream:
        self._require_write()
        spec = step.spec
        self.cat.drop_index((spec.kind, spec.label, spec.property))
        return Stream("value", {None: self.cat.spark.range(0)})

    # -- reserved no-ops ---------------------------------------------------------

    def _step_ReservedNoop(self, step, stream):
        return stream
