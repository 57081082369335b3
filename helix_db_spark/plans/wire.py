"""Wire protocol: the reference's dynamic-query JSON <-> this engine's AST.

Parses the tagged serde-style JSON every reference SDK emits (unit variant =
bare string, newtype = 1-key object, tuple = array, struct = object — encoder
at sdks/python/src/helixdb/dsl.py:34-84) into :mod:`plans.ast`, and renders
batch results back to JSON. This is the ``POST /v1/query`` surface
(sdks/python/src/helixdb/client.py:170-196) minus HTTP.

Envelope (sdks/python/src/helixdb/dsl.py:2661-2718)::

    {"request_type": "read"|"write", "query_name": ...,
     "query": {"queries": [{"Query": {...}} | {"ForEach": {...}}],
               "returns": [...]},
     "parameters": {...}, "parameter_types": {...}}

Reserved steps (Fold/Unfold/Path/SimplePath/WithSack/SackSet/SackAdd/SackGet)
are accepted and ignored per dsl.rs:3214-3254.
"""

from __future__ import annotations

import datetime
import math
from typing import Any, Optional

from . import ast


class WireError(ValueError):
    """Malformed or unsupported wire JSON."""


def _tag(obj) -> tuple:
    """Split a tagged union value into (tag, payload)."""
    if isinstance(obj, str):
        return obj, None
    if isinstance(obj, dict) and len(obj) == 1:
        return next(iter(obj.items()))
    raise WireError(f"not a tagged value: {obj!r}")


# ---------------------------------------------------------------------------
# PropertyValue / PropertyInput / Expr / StreamBound
# ---------------------------------------------------------------------------

_SCALAR_TAGS = {"Bool", "I64", "F64", "F32", "String", "DateTime"}
_ARRAY_TAGS = {"I64Array", "F64Array", "F32Array", "StringArray"}


def parse_value(obj) -> Any:
    """Tagged PropertyValue -> python-native value (dsl.py:283-395)."""
    tag, payload = _tag(obj)
    if tag == "Null":
        return None
    if tag in _SCALAR_TAGS:
        return payload
    if tag == "Bytes":
        return bytes(payload)
    if tag in _ARRAY_TAGS:
        return list(payload)
    if tag == "Array":
        return [parse_value(v) for v in payload]
    if tag == "Object":
        return {k: parse_value(v) for k, v in payload.items()}
    raise WireError(f"unknown PropertyValue tag {tag!r}")


def parse_expr(obj) -> ast.Expr:
    tag, payload = _tag(obj)
    if tag == "Id":
        return ast.IdExpr()
    if tag == "Timestamp":
        return ast.TimestampExpr()
    if tag == "DateTimeNow":
        return ast.DateTimeNowExpr()
    if tag == "Property":
        return ast.Property(payload)
    if tag == "Constant":
        return ast.Constant(parse_value(payload))
    if tag == "Param":
        return ast.Param(payload)
    if tag in ("Add", "Sub", "Mul", "Div", "Mod"):
        return ast.BinOp(tag, parse_expr(payload[0]), parse_expr(payload[1]))
    if tag == "Neg":
        return ast.Neg(parse_expr(payload))
    if tag == "Case":
        whens = tuple((parse_predicate(p), parse_expr(e))
                      for p, e in payload["when_then"])
        else_expr = payload.get("else_expr")
        return ast.Case(whens, parse_expr(else_expr)
                        if else_expr is not None else None)
    raise WireError(f"unknown Expr tag {tag!r}")


def _pv_or_expr(obj) -> ast.Expr:
    """Payload position that holds either a PropertyValue or an Expr."""
    tag, _ = _tag(obj)
    if tag in _SCALAR_TAGS or tag in _ARRAY_TAGS or tag in (
            "Null", "Bytes", "Array", "Object"):
        return ast.Constant(parse_value(obj))
    return parse_expr(obj)


def parse_property_input(obj) -> Any:
    """PropertyInput = {"Value": PV} | {"Expr": Expr} -> literal or Expr."""
    tag, payload = _tag(obj)
    if tag == "Value":
        return parse_value(payload)
    if tag == "Expr":
        return parse_expr(payload)
    # some emitters inline the value
    return parse_value(obj)


def parse_bound(obj):
    """StreamBound = int | {"Literal": n} | Expr (dsl.rs:1494-1513)."""
    if isinstance(obj, int):
        return obj
    tag, payload = _tag(obj)
    if tag == "Literal":
        return payload
    return parse_expr(obj)


# ---------------------------------------------------------------------------
# Predicates (dsl.rs:1586-1692; identical grammar for SourcePredicate)
# ---------------------------------------------------------------------------

_CMP = {"Eq", "Neq", "Gt", "Gte", "Lt", "Lte"}
_STR = {"StartsWith", "EndsWith", "Contains"}


def parse_predicate(obj) -> ast.Predicate:
    tag, payload = _tag(obj)
    if tag in _CMP:
        return ast.Cmp(tag, payload[0], ast.Constant(parse_value(payload[1])))
    if tag.endswith("Expr") and tag[:-4] in _CMP:
        return ast.Cmp(tag[:-4], payload[0], parse_expr(payload[1]))
    if tag == "Between":
        return ast.Between(payload[0], _pv_or_expr(payload[1]),
                           _pv_or_expr(payload[2]))
    if tag == "HasKey":
        return ast.HasKeyPred(payload)
    if tag == "IsNull":
        return ast.IsNullPred(payload)
    if tag == "IsNotNull":
        return ast.IsNotNullPred(payload)
    if tag in _STR:
        return ast.StrPred(tag, payload[0], ast.Constant(payload[1]))
    if tag.endswith("Expr") and tag[:-4] in _STR:
        return ast.StrPred(tag[:-4], payload[0], parse_expr(payload[1]))
    if tag == "IsIn":
        return ast.IsIn(payload[0], ast.Constant(parse_value(payload[1])))
    if tag == "IsInExpr":
        return ast.IsIn(payload[0], parse_expr(payload[1]))
    if tag == "And":
        return ast.And(tuple(parse_predicate(p) for p in payload))
    if tag == "Or":
        return ast.Or(tuple(parse_predicate(p) for p in payload))
    if tag == "Not":
        return ast.Not(parse_predicate(payload))
    if tag == "Compare":
        return ast.Compare(parse_expr(payload["left"]), payload["op"],
                           parse_expr(payload["right"]))
    raise WireError(f"unknown Predicate tag {tag!r}")


# ---------------------------------------------------------------------------
# Refs, projections, index specs
# ---------------------------------------------------------------------------


def parse_ref(obj) -> ast.Ref:
    tag, payload = _tag(obj)
    if tag == "All":
        return ast.Ref.all()
    if tag == "Ids":
        return ast.Ref.of_ids(payload)
    if tag == "Var":
        return ast.Ref.var(payload)
    if tag == "Param":
        return ast.Ref.param(payload)
    raise WireError(f"unknown NodeRef/EdgeRef tag {tag!r}")


def _parse_projection(obj) -> ast.Projection:
    if "expr" in obj:
        return ast.Projection(obj["alias"], parse_expr(obj["expr"]))
    return ast.Projection(obj["alias"], obj["source"])


def _parse_binding_target(obj) -> Optional[str]:
    """BindingTarget: "Current" -> None, {"Binding": name} -> name."""
    tag, payload = _tag(obj)
    if tag == "Current":
        return None
    if tag == "Binding":
        return payload
    raise WireError(f"unknown BindingTarget {tag!r}")


def _parse_binding_projection(obj) -> tuple:
    kind = obj["kind"]
    if kind == "Property":
        return (obj["alias"],
                ((_parse_binding_target(obj["target"]), obj["source"]),))
    if kind == "Coalesce":
        refs = tuple((_parse_binding_target(r["target"]), r["source"])
                     for r in obj["refs"])
        return (obj["alias"], refs)
    raise WireError(f"unknown BindingProjection kind {kind!r}")


_INDEX_KINDS = {
    "NodeEquality": "node_equality", "NodeRange": "node_range",
    "EdgeEquality": "edge_equality", "EdgeRange": "edge_range",
    "NodeVector": "node_vector", "NodeText": "node_text",
    "EdgeVector": "edge_vector", "EdgeText": "edge_text",
}


def parse_index_spec(obj) -> ast.IndexSpec:
    tag, payload = _tag(obj)
    if tag not in _INDEX_KINDS:
        raise WireError(f"unknown IndexSpec kind {tag!r}")
    return ast.IndexSpec(
        _INDEX_KINDS[tag], payload["label"], payload["property"],
        unique=bool(payload.get("unique", False)),
        direction=payload.get("direction", "Asc") or "Asc",
        tenant_property=payload.get("tenant_property"))


# ---------------------------------------------------------------------------
# Steps
# ---------------------------------------------------------------------------

_UNIT_STEPS = {
    "Dedup": ast.Dedup(),
    "Count": ast.Count(),
    "Exists": ast.Exists(),
    "Id": ast.IdTerminal(),
    "Label": ast.LabelTerminal(),
    "EdgeProperties": ast.EdgeProperties(),
    "Drop": ast.Drop(),
    "OutN": ast.Hop("out_n"),
    "InN": ast.Hop("in_n"),
    "OtherN": ast.Hop("other_n"),
}

_HOPS = {"Out": "out", "In": "in", "Both": "both",
         "OutE": "out_e", "InE": "in_e", "BothE": "both_e"}

_RESERVED = set(ast.RESERVED_NOOP_TAGS)

_INDEX_SUGAR = {
    "CreateVectorIndexNodes": "node_vector",
    "CreateVectorIndexEdges": "edge_vector",
    "CreateTextIndexNodes": "node_text",
    "CreateTextIndexEdges": "edge_text",
}


def _parse_sub(obj) -> ast.SubTraversal:
    return ast.SubTraversal(parse_steps(obj["steps"]))


def parse_steps(seq) -> tuple:
    """Parse a step list, fusing an N/E-with-id/var/param-ref followed by a
    HasLabel back into the label-scoped scan. The serializer emits that pair
    because the wire N/E payload has no label slot for non-All refs
    (wire_out.steps_json) — fusing keeps parse(serialize(b)) == b and keeps
    id scans label-scoped after a round-trip."""
    import dataclasses

    steps: list = []
    for obj in seq:
        step = parse_step(obj)
        if (steps and isinstance(step, ast.HasLabel)
                and isinstance(steps[-1], (ast.N, ast.E))
                and steps[-1].label is None
                and steps[-1].ref.kind != "all"):
            steps[-1] = dataclasses.replace(steps[-1], label=step.label)
            continue
        steps.append(step)
    return tuple(steps)


def _parse_properties(pairs) -> tuple:
    return tuple((name, parse_property_input(v)) for name, v in pairs)


def parse_step(obj) -> ast.Step:  # noqa: C901 — one arm per wire tag
    tag, payload = _tag(obj)
    if tag in _UNIT_STEPS:
        return _UNIT_STEPS[tag]
    if tag in _RESERVED:
        return ast.ReservedNoop(tag)
    if tag in _HOPS:
        return ast.Hop(_HOPS[tag], payload)
    if tag == "N":
        return ast.N(parse_ref(payload))
    if tag == "E":
        return ast.E(parse_ref(payload))
    if tag == "NWhere":
        return ast.NWhere(parse_predicate(payload))
    if tag == "EWhere":
        return ast.EWhere(parse_predicate(payload))
    if tag in ("VectorSearchNodes", "VectorSearchEdges"):
        vec = parse_property_input(payload["query_vector"])
        # the *_with SDK variants pass the vector as an Expr/Param —
        # carried as a singleton, resolved driver-side by the compiler
        qv = (vec,) if isinstance(vec, ast.Expr) else tuple(vec)
        return ast.VectorSearch(
            "nodes" if tag.endswith("Nodes") else "edges",
            payload["label"], payload["property"], qv,
            parse_bound(payload["k"]),
            tenant_value=(parse_property_input(payload["tenant_value"])
                          if payload.get("tenant_value") is not None else None),
            # net-new optional field (exact | lsh | ivf); absent in the
            # reference SDK's emission => exact, preserving wire parity
            method=payload.get("method", "exact"))
    if tag in ("TextSearchNodes", "TextSearchEdges"):
        return ast.TextSearch(
            "nodes" if tag.endswith("Nodes") else "edges",
            payload["label"], payload["property"],
            parse_property_input(payload["query_text"]),
            parse_bound(payload["k"]),
            tenant_value=(parse_property_input(payload["tenant_value"])
                          if payload.get("tenant_value") is not None else None))
    if tag == "Where":
        return ast.Where(parse_predicate(payload))
    if tag in ("Has", "EdgeHas"):
        return ast.Has(payload[0], parse_property_input(payload[1]))
    if tag in ("HasLabel", "EdgeHasLabel"):
        return ast.HasLabel(payload)
    if tag == "HasKey":
        return ast.HasKey(payload)
    if tag == "Within":
        return ast.Within(payload)
    if tag == "Without":
        return ast.Without(payload)
    if tag == "Inject":
        return ast.Inject(payload)
    if tag == "Select":
        return ast.Select(payload)
    if tag in ("Store", "As"):
        return ast.Store(payload)
    if tag == "Bind":
        return ast.Bind(payload)
    if tag == "OrderBy":
        return ast.OrderBy(((payload[0], payload[1]),))
    if tag == "OrderByMultiple":
        return ast.OrderBy(tuple((p, o) for p, o in payload))
    if tag in ("Limit", "LimitBy"):
        return ast.Limit(parse_bound(payload))
    if tag in ("Skip", "SkipBy"):
        return ast.Skip(parse_bound(payload))
    if tag in ("Range", "RangeBy"):
        return ast.Range(parse_bound(payload[0]), parse_bound(payload[1]))
    if tag == "Group":
        return ast.Group(payload)
    if tag == "GroupCount":
        return ast.GroupCount(payload)
    if tag == "AggregateBy":
        return ast.AggregateBy(payload[0], payload[1])
    if tag == "Values":
        return ast.Values(tuple(payload))
    if tag == "ValueMap":
        return ast.ValueMap(tuple(payload) if payload is not None else None)
    if tag == "Project":
        return ast.Project(tuple(_parse_projection(p) for p in payload))
    if tag == "ProjectBindings":
        return ast.ProjectBindings(
            tuple(_parse_binding_projection(p)
                  for p in payload["projections"]),
            distinct=bool(payload.get("distinct", False)))
    if tag == "Union":
        return ast.Union(tuple(_parse_sub(s) for s in payload))
    if tag == "Choose":
        else_t = payload.get("else_traversal")
        return ast.Choose(parse_predicate(payload["condition"]),
                          _parse_sub(payload["then_traversal"]),
                          _parse_sub(else_t) if else_t is not None else None)
    if tag == "Coalesce":
        return ast.Coalesce(tuple(_parse_sub(s) for s in payload))
    if tag == "Optional":
        return ast.Optional_(_parse_sub(payload))
    if tag == "Repeat":
        until = payload.get("until")
        emit_pred = payload.get("emit_predicate")
        return ast.Repeat(
            _parse_sub(payload["traversal"]),
            times=payload.get("times"),
            until=parse_predicate(until) if until is not None else None,
            emit=payload.get("emit", "None") or "None",
            emit_if=parse_predicate(emit_pred)
            if emit_pred is not None else None,
            max_depth=payload.get("max_depth", 100))
    if tag == "AddN":
        return ast.AddN(payload["label"],
                        _parse_properties(payload.get("properties", ())))
    if tag == "AddE":
        return ast.AddE(payload["label"], parse_ref(payload["to"]),
                        _parse_properties(payload.get("properties", ())))
    if tag == "SetProperty":
        value = parse_property_input(payload[1])
        return ast.SetProperty(payload[0], value)
    if tag == "RemoveProperty":
        return ast.RemoveProperty(payload)
    if tag == "DropEdge":
        return ast.DropEdge(parse_ref(payload))
    if tag == "DropEdgeLabeled":
        return ast.DropEdge(parse_ref(payload["to"]), payload["label"])
    if tag == "DropEdgeById":
        ref = parse_ref(payload)
        return ast.DropEdge(ast.Ref.all(), None, tuple(ref.ids or ()))
    if tag == "CreateIndex":
        return ast.CreateIndex(parse_index_spec(payload["spec"]),
                               bool(payload.get("if_not_exists", False)))
    if tag == "DropIndex":
        return ast.DropIndex(parse_index_spec(payload["spec"]))
    if tag in _INDEX_SUGAR:
        # flat-payload sugar for CreateIndex if-not-exists
        # (reference dsl.py:1465-1490)
        return ast.CreateIndex(
            ast.IndexSpec(_INDEX_SUGAR[tag], payload["label"],
                          payload["property"],
                          tenant_property=payload.get("tenant_property")),
            True)
    raise WireError(f"unknown Step tag {tag!r}")


# ---------------------------------------------------------------------------
# Batch envelope
# ---------------------------------------------------------------------------


def _parse_condition(obj) -> ast.BatchCondition:
    tag, payload = _tag(obj)
    if tag == "PrevNotEmpty":
        return ast.BatchCondition("PrevNotEmpty")
    if tag in ("VarNotEmpty", "VarEmpty"):
        return ast.BatchCondition(tag, payload)
    if tag == "VarMinSize":
        return ast.BatchCondition(tag, payload[0], payload[1])
    raise WireError(f"unknown BatchCondition tag {tag!r}")


def _parse_entry(obj) -> ast.BatchEntry:
    tag, payload = _tag(obj)
    if tag == "Query":
        cond = payload.get("condition")
        return ast.BatchEntry(
            payload["name"],
            ast.Traversal(parse_steps(payload["steps"])),
            condition=_parse_condition(cond) if cond is not None else None)
    if tag == "ForEach":
        body = tuple(_parse_entry(e) for e in payload["body"])
        return ast.BatchEntry(None, ast.Traversal(()), None,
                              foreach_param=payload["param"],
                              foreach_body=body)
    raise WireError(f"unknown BatchEntry tag {tag!r}")


def parse_request(request: dict) -> ast.Batch:
    """DynamicQueryRequest JSON -> ast.Batch."""
    mode = request.get("request_type")
    if mode not in ("read", "write"):
        raise WireError(f"request_type must be read|write, got {mode!r}")
    query = request.get("query")
    if not isinstance(query, dict):
        raise WireError("missing query object")
    entries = tuple(_parse_entry(e) for e in query.get("queries", ()))
    if mode == "read":
        _reject_writes(entries)
    params = dict(request.get("parameters") or {})
    types = request.get("parameter_types") or {}
    for name, ty in types.items():
        if ty == "Bytes":
            # bytes are rejected in dynamic JSON params (dsl.py:2574-2575,
            # dsl.rs:846-848)
            raise WireError(
                f"parameter {name!r}: Bytes values are not supported in "
                "dynamic queries")
        if ty == "DateTime" and isinstance(params.get(name), str):
            params[name] = _parse_rfc3339_ms(params[name])
    return ast.Batch(mode, entries, tuple(query.get("returns", ())), params)


_WRITE_STEPS = (ast.AddN, ast.AddE, ast.SetProperty, ast.RemoveProperty,
                ast.Drop, ast.DropEdge,
                # index DDL mutates engine state (reference marks
                # create_index/drop_index write-mode; ReadBatch rejects them)
                ast.CreateIndex, ast.DropIndex)


def walk_steps(entries):
    """Every step of a batch in pre-order: each entry's traversal,
    recursing into sub-traversals (Union/Coalesce subs, Choose
    then/else, Optional/Repeat sub) and into wire-protocol ForEach
    bodies (full sub-batches of entries) — a write or search step nested
    anywhere is seen."""
    for entry in entries:
        todo = list(entry.traversal.steps)
        while todo:
            step = todo.pop(0)
            yield step
            subs = [*getattr(step, "subs", ()),
                    *(getattr(step, a, None)
                      for a in ("then", "else_", "sub"))]
            todo[:0] = [s for sub in subs if sub is not None
                        for s in sub.steps]
        yield from walk_steps(entry.foreach_body)


def _reject_writes(entries) -> None:
    """Read batches reject write traversals (dsl.py:2221-2222), however
    deeply nested."""
    for step in walk_steps(entries):
        if isinstance(step, _WRITE_STEPS):
            raise WireError(
                f"write step {type(step).__name__} in a read batch")


def _parse_rfc3339_ms(s: str) -> int:
    """RFC3339 -> UTC epoch millis (dynamic DateTime params,
    dsl.py:2564-2573)."""
    dt = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1000)


# ---------------------------------------------------------------------------
# Result serialization
# ---------------------------------------------------------------------------


def _json_value(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, (bytes, bytearray)):
        return list(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_value(x) for k, x in v.items()}
    try:  # Row / decimal / numpy scalars
        return _json_value(v.asDict())
    except AttributeError:
        return float(v) if hasattr(v, "__float__") else str(v)


def serialize_results(results: dict) -> dict:
    """{var: DataFrame} -> JSON-safe {var: [row-objects]} (the 200-response
    body keyed by ``returns`` names, client.py:207-215)."""
    return {
        name: [_json_value(row.asDict(recursive=True))
               for row in df.collect()]
        for name, df in results.items()
    }
