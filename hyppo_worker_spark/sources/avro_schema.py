"""Avro schema JSON ↔ Spark StructType conversion (pure Python — no
Avro library dependency, no spark-avro jar needed for the *schema*
plane).

The reference attaches an Avro schema to each integration and
identifies it by MD5 fingerprint
(``worker-api/.../code/IntegrationSchema.scala:11-31``). Records are
Avro ``SpecificRecord``s whose fields the worker never inspects; the
engine instead maps the schema to a ``StructType`` and lets Spark
carry the rows.

Supported Avro forms: primitives (null/boolean/int/long/float/double/
bytes/string), nullable unions (``["null", T]`` / ``["T","null"]``),
record, array, map, enum (→ string), fixed (→ binary), and logical
types timestamp-millis/micros (→ timestamp), date (→ date),
decimal (→ decimal). ``schema_resolver`` implements the spec's
Schema Resolution rules (reader/writer evolution).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import types as T

_PRIMITIVES: dict[str, T.DataType] = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}

_LOGICAL: dict[str, T.DataType] = {
    "timestamp-millis": T.TimestampType(),
    "timestamp-micros": T.TimestampType(),
    "local-timestamp-millis": T.TimestampNTZType(),
    "local-timestamp-micros": T.TimestampNTZType(),
    "date": T.DateType(),
    "time-millis": T.LongType(),
    "time-micros": T.LongType(),
}


class AvroSchemaError(ValueError):
    pass


_IN_PROGRESS = object()


def inline_named_types(schema_json: str | dict) -> dict:
    """Resolve NAMED TYPE REFERENCES by inlining: the Avro spec lets a
    schema define a record/enum/fixed once and refer to it by (bare or
    namespace-qualified) name everywhere else — real ``DataFileWriter``
    output does this whenever two fields share a type. The walkers
    here (``avro_to_struct``, ``null_branch_indices``,
    ``special_codecs``) all assume definitions appear in place, so
    references are expanded into copies first. Recursive types (a
    record referencing itself) are not representable as a Spark
    schema and raise rather than loop."""
    avro = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    named: dict[str, Any] = {}

    def keys_for(name: str, namespace: str) -> list[str]:
        # Spec name resolution (Avro 1.11 "Names"): a name containing a
        # dot IS a fullname; otherwise the definition's fullname is
        # namespace.name. Definitions register ONLY under the fullname
        # — registering the bare name too lets two types that share a
        # bare name in different namespaces shadow each other.
        if "." in name or not namespace:
            return [name]
        return [f"{namespace}.{name}"]

    def walk(node: Any, namespace: str) -> Any:
        if isinstance(node, str):
            if node in _PRIMITIVES:
                return node
            # References resolve in the ENCLOSING namespace first,
            # falling back to the null namespace — mirroring the
            # spec's resolve-relative-to-enclosing rule. A dotted
            # reference is already a fullname.
            if "." in node:
                got = named.get(node)
            else:
                got = named.get(f"{namespace}.{node}") if namespace else None
                if got is None:
                    got = named.get(node)
            if got is _IN_PROGRESS:
                raise AvroSchemaError(
                    f"recursive named type {node!r} is not representable "
                    "as a Spark schema"
                )
            if got is None:
                raise AvroSchemaError(f"unknown avro type: {node!r}")
            return got
        if isinstance(node, list):
            return [t if t == "null" else walk(t, namespace) for t in node]
        if isinstance(node, dict):
            kind = node.get("type")
            ns = node.get("namespace", namespace)
            if kind == "record":
                for k in keys_for(node["name"], ns):
                    named[k] = _IN_PROGRESS
                out = dict(node)
                out["fields"] = [
                    {**f, "type": walk(f["type"], ns)}
                    for f in node.get("fields", [])
                ]
                for k in keys_for(node["name"], ns):
                    named[k] = out
                return out
            if kind in ("enum", "fixed"):
                out = dict(node)
                for k in keys_for(node["name"], ns):
                    named[k] = out
                return out
            if kind == "array":
                out = dict(node)
                out["items"] = walk(node["items"], namespace)
                return out
            if kind == "map":
                out = dict(node)
                out["values"] = walk(node["values"], namespace)
                return out
            if isinstance(kind, str) and kind in _PRIMITIVES:
                return node  # {"type": "long", "logicalType": ...} wrapper
            if isinstance(kind, (str, list, dict)):
                out = dict(node)
                out["type"] = walk(kind, namespace)
                return out
        raise AvroSchemaError(f"unsupported avro schema node: {node!r}")

    return walk(avro, "")


def _convert(avro: Any) -> tuple[T.DataType, bool]:
    """Returns (spark_type, nullable)."""
    if isinstance(avro, str):
        if avro in _PRIMITIVES:
            return _PRIMITIVES[avro], avro == "null"
        raise AvroSchemaError(f"unknown avro type: {avro!r}")
    if isinstance(avro, list):  # union
        non_null = [t for t in avro if t != "null"]
        if len(non_null) != 1:
            raise AvroSchemaError(f"only nullable unions supported, got {avro!r}")
        inner, _ = _convert(non_null[0])
        return inner, True
    if isinstance(avro, dict):
        logical = avro.get("logicalType")
        if logical:
            if logical == "decimal":
                prec = int(avro.get("precision", 10))
                scale = int(avro.get("scale", 0))
                return T.DecimalType(prec, scale), False
            if logical in _LOGICAL:
                return _LOGICAL[logical], False
        kind = avro.get("type")
        if kind == "record":
            fields = []
            for f in avro.get("fields", []):
                ftype, nullable = _convert(f["type"])
                fields.append(T.StructField(f["name"], ftype, nullable))
            return T.StructType(fields), False
        if kind == "array":
            item, item_nullable = _convert(avro["items"])
            return T.ArrayType(item, item_nullable), False
        if kind == "map":
            val, val_nullable = _convert(avro["values"])
            return T.MapType(T.StringType(), val, val_nullable), False
        if kind == "enum":
            return T.StringType(), False
        if kind == "fixed":
            return T.BinaryType(), False
        if isinstance(kind, (str, list, dict)):
            return _convert(kind)
    raise AvroSchemaError(f"unsupported avro schema node: {avro!r}")


def null_branch_indices(schema_json: str | dict) -> dict[str, int]:
    """Per nullable-union SITE in the schema: the index of ``"null"``
    within its declared union. The binary branch prefix of a union
    value is the zigzag-encoded index into the DECLARED union order,
    so a decoder must read this from the file's own schema —
    ``["null",T]`` and ``[T,"null"]`` encode the same logical value
    with different branch bytes.

    Keys are paths: top-level field ``name``, nested record field
    ``outer.inner``, array element ``field[]``, map value
    ``field{}`` — matching the path convention the container's
    decoder builders use."""
    avro = inline_named_types(schema_json)
    out: dict[str, int] = {}

    def walk(node: Any, path: str) -> None:
        if isinstance(node, list):
            if "null" in node:
                out[path] = node.index("null")
            for t in node:
                if t != "null":
                    walk(t, path)
            return
        if isinstance(node, dict):
            kind = node.get("type")
            if kind == "record":
                for f in node.get("fields", []):
                    sub = f"{path}.{f['name']}" if path else f["name"]
                    walk(f["type"], sub)
            elif kind == "array":
                walk(node["items"], path + "[]")
            elif kind == "map":
                walk(node["values"], path + "{}")
            elif isinstance(kind, (dict, list)):
                walk(kind, path)

    for f in avro.get("fields", []):
        walk(f["type"], f["name"])
    return out


def special_codecs(schema_json: str | dict) -> dict[str, tuple]:
    """Per schema SITE whose binary encoding differs from the Spark
    type it maps to: Avro ``enum`` maps to StringType but is encoded
    as a zigzag INT index into the declared symbol list, and
    ``fixed`` maps to BinaryType but is encoded as exactly ``size``
    raw bytes with NO length prefix. A decoder built purely from the
    Spark schema misreads both; the container reader consults this
    map (same path convention as ``null_branch_indices``) to build
    the spec-correct decoder per site. Likewise a ``timestamp-millis``
    or ``local-timestamp-millis`` long maps to the same timestamp type
    as its micros twin but counts milliseconds.

    Values: ``("enum", [symbols...])``, ``("fixed", size)``,
    ``("fixed-decimal", (size, scale))`` or ``("millis", None)``."""
    avro = inline_named_types(schema_json)
    out: dict[str, tuple] = {}

    def walk(node: Any, path: str) -> None:
        if isinstance(node, list):
            for t in node:
                if t != "null":
                    walk(t, path)
            return
        if isinstance(node, dict):
            kind = node.get("type")
            if kind == "enum":
                out[path] = ("enum", list(node.get("symbols", [])))
            elif kind == "fixed":
                # decimal may legally annotate fixed as well as bytes
                # (spec "Decimal"): _convert maps the site to
                # DecimalType, but the wire form is still exactly
                # ``size`` raw bytes (two's-complement unscaled int),
                # NOT the length-prefixed bytes-decimal encoding.
                if node.get("logicalType") == "decimal":
                    out[path] = (
                        "fixed-decimal",
                        (int(node["size"]), int(node.get("scale", 0))),
                    )
                else:
                    out[path] = ("fixed", int(node["size"]))
            elif node.get("logicalType") in (
                "timestamp-millis", "local-timestamp-millis"
            ):
                out[path] = ("millis", None)
            elif kind == "record":
                for f in node.get("fields", []):
                    sub = f"{path}.{f['name']}" if path else f["name"]
                    walk(f["type"], sub)
            elif kind == "array":
                walk(node["items"], path + "[]")
            elif kind == "map":
                walk(node["values"], path + "{}")
            elif isinstance(kind, (dict, list)):
                walk(kind, path)

    for f in avro.get("fields", []):
        walk(f["type"], f["name"])
    return out


def avro_to_struct(schema_json: str | dict) -> T.StructType:
    """Avro record schema JSON → StructType. Named type references are
    inlined first (``inline_named_types``)."""
    avro = inline_named_types(schema_json)
    if not (isinstance(avro, dict) and avro.get("type") == "record"):
        raise AvroSchemaError("top-level schema must be an avro record")
    st, _ = _convert(avro)
    return st


_TO_AVRO: dict[type, str] = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.BinaryType: "bytes",
    T.StringType: "string",
}


def _to_avro(dt: T.DataType, nullable: bool, path: str = "record") -> Any:
    if isinstance(dt, T.StructType):
        # Avro record names must be unique within a schema; derive each
        # nested record's name from its field path (parent_field) so a
        # struct with two struct fields doesn't emit two records both
        # named "record" (which real Avro tooling rejects).
        out: Any = {
            "type": "record",
            "name": path,
            "fields": [
                {
                    "name": f.name,
                    "type": _to_avro(f.dataType, f.nullable, f"{path}_{f.name}"),
                }
                for f in dt.fields
            ],
        }
    elif isinstance(dt, T.ArrayType):
        out = {
            "type": "array",
            "items": _to_avro(dt.elementType, dt.containsNull, f"{path}_item"),
        }
    elif isinstance(dt, T.MapType):
        out = {
            "type": "map",
            "values": _to_avro(dt.valueType, dt.valueContainsNull, f"{path}_value"),
        }
    elif isinstance(dt, T.TimestampType):
        out = {"type": "long", "logicalType": "timestamp-micros"}
    elif isinstance(dt, T.TimestampNTZType):
        out = {"type": "long", "logicalType": "local-timestamp-micros"}
    elif isinstance(dt, T.DateType):
        out = {"type": "int", "logicalType": "date"}
    elif isinstance(dt, T.DecimalType):
        out = {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    elif type(dt) in _TO_AVRO:
        out = _TO_AVRO[type(dt)]
    else:
        raise AvroSchemaError(f"unsupported spark type: {dt}")
    return [out, "null"] if nullable else out


def struct_to_avro(st: T.StructType, name: str = "record", namespace: str = "") -> str:
    """StructType → Avro record schema JSON (fields nullable →
    ``[T, "null"]`` unions, matching the reference's TestRecord shape)."""
    fields = [
        {"name": f.name, "type": _to_avro(f.dataType, f.nullable, f"{name}_{f.name}")}
        for f in st.fields
    ]
    rec: dict[str, Any] = {"type": "record", "name": name, "fields": fields}
    if namespace:
        rec["namespace"] = namespace
    return json.dumps(rec)


# -- schema resolution (Avro spec "Schema Resolution") --------------------
#
# A reader with an EVOLVED schema must still decode files written under
# older schemas: writer-only fields are skipped, reader-only fields are
# filled from their declared defaults, primitives promote along the
# spec's lattice (int -> long/float/double, long -> float/double,
# float -> double, string <-> bytes), and enum symbols resolve by name
# with the reader's declared default as the fallback. The engine
# applies resolution AFTER decoding with the file's own writer schema
# (the container reader already decodes every site spec-correctly), so
# the resolver is a pure row-shape converter — no byte-level work.

_PROMOTIONS: dict[str, set[str]] = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
    "boolean": {"boolean"},
    "null": {"null"},
}


def _type_name(node: Any) -> str:
    if isinstance(node, str):
        return node
    if isinstance(node, list):
        return "union"
    return node.get("type") if isinstance(node.get("type"), str) else "nested"


def _default_value(node: Any, default: Any) -> Any:
    """Convert a JSON default (Avro spec table) to the decoded-row
    representation for ``node``."""
    if isinstance(node, list):  # union: default applies to FIRST branch
        first = node[0]
        if first == "null":
            return None
        return _default_value(first, default)
    if isinstance(node, str):
        if node == "bytes":
            return default.encode("latin-1") if isinstance(default, str) else default
        if node in ("int", "long"):
            return int(default)
        if node in ("float", "double"):
            return float(default)
        return default
    kind = node.get("type")
    if kind == "bytes" or kind == "fixed":
        return default.encode("latin-1") if isinstance(default, str) else default
    if kind == "array":
        return [_default_value(node["items"], d) for d in default]
    if kind == "map":
        return {k: _default_value(node["values"], v) for k, v in default.items()}
    if kind == "record":
        out = {}
        for f in node.get("fields", []):
            if f["name"] in default:
                out[f["name"]] = _default_value(f["type"], default[f["name"]])
            elif "default" in f:
                out[f["name"]] = _default_value(f["type"], f["default"])
            else:
                raise AvroSchemaError(
                    f"record default missing field {f['name']!r}"
                )
        return out
    if kind in ("int", "long"):
        return int(default)
    if kind in ("float", "double"):
        return float(default)
    return default


def _non_null(node: Any) -> Any:
    """The value branch of a nullable union, or the node itself."""
    if isinstance(node, list):
        branches = [b for b in node if b != "null"]
        if len(branches) != 1:
            raise AvroSchemaError(f"only nullable unions supported: {node!r}")
        return branches[0]
    return node


def _is_nullable(node: Any) -> bool:
    return isinstance(node, list) and "null" in node


def _resolver(writer: Any, reader: Any):
    """Value converter writer-shape -> reader-shape, or raise
    AvroSchemaError when the schemas don't resolve."""
    if _is_nullable(writer) or _is_nullable(reader):
        if _is_nullable(writer) and not _is_nullable(reader):
            raise AvroSchemaError(
                "writer nullable union cannot resolve to non-nullable "
                f"reader {reader!r}"
            )
        inner = _resolver(_non_null(writer), _non_null(reader))
        return lambda v: None if v is None else inner(v)

    wname = _type_name(writer)
    rname = _type_name(reader)

    # logical-typed wrappers decode to rich python values, so they must
    # be matched BEFORE the primitive-promotion lattice: a one-sided
    # logicalType whose underlying primitive happens to promote (writer
    # plain long -> reader timestamp-millis, writer bytes-decimal ->
    # reader string) would otherwise slip through and hand the reader
    # raw ints / Decimal objects where it expects rich / plain values.
    wl = writer.get("logicalType") if isinstance(writer, dict) else None
    rl = reader.get("logicalType") if isinstance(reader, dict) else None
    if wl or rl:
        if wl == rl:
            return lambda v: v
        raise AvroSchemaError(f"logicalType mismatch: {wl!r} -> {rl!r}")

    # primitives: promotion lattice
    w_prim = wname if wname in _PROMOTIONS else None
    r_prim = rname if rname in _PROMOTIONS else None
    if w_prim and r_prim:
        if r_prim not in _PROMOTIONS[w_prim]:
            raise AvroSchemaError(f"cannot promote {w_prim} -> {r_prim}")
        if w_prim == r_prim:
            return lambda v: v
        if r_prim in ("float", "double"):
            return lambda v: float(v)
        if w_prim == "string" and r_prim == "bytes":
            return lambda v: v.encode()
        if w_prim == "bytes" and r_prim == "string":
            # any byte sequence is a legal bytes value, so a legal
            # bytes->string promotion must not crash on non-UTF-8
            # payloads; Avro Java's Utf8 decodes with U+FFFD
            # replacement, and we match that ecosystem behavior
            return lambda v: v.decode("utf-8", errors="replace")
        return lambda v: v  # int -> long

    if wname == "enum" and rname == "enum":
        rsyms = set(reader.get("symbols", []))
        rdefault = reader.get("default")

        def conv_enum(v, rsyms=rsyms, rdefault=rdefault):
            if v in rsyms:
                return v
            if rdefault is not None:
                return rdefault
            raise AvroSchemaError(
                f"enum symbol {v!r} unknown to reader and no default"
            )
        return conv_enum
    if wname == "fixed" and rname == "fixed":
        if int(writer["size"]) != int(reader["size"]):
            raise AvroSchemaError("fixed size mismatch")
        return lambda v: v
    if wname == "array" and rname == "array":
        item = _resolver(writer["items"], reader["items"])
        item_nullable = _is_nullable(writer["items"])
        if item_nullable:
            return lambda v: [None if x is None else item(x) for x in v]
        return lambda v: [item(x) for x in v]
    if wname == "map" and rname == "map":
        val = _resolver(writer["values"], reader["values"])
        return lambda v: {k: val(x) for k, x in v.items()}
    if wname == "record" and rname == "record":
        wfields = {f["name"]: f for f in writer.get("fields", [])}
        plan: list[tuple[str, Any, Any]] = []  # (name, conv|None, default)
        _MISSING = object()
        for rf in reader.get("fields", []):
            name = rf["name"]
            wf = wfields.get(name)
            if wf is not None:
                plan.append((name, _resolver(wf["type"], rf["type"]), _MISSING))
            elif "default" in rf:
                plan.append(
                    (name, None, _default_value(rf["type"], rf["default"]))
                )
            else:
                raise AvroSchemaError(
                    f"reader field {name!r} absent from writer and has "
                    "no default"
                )

        def conv_rec(v, plan=plan):
            out = {}
            for name, conv, default in plan:
                if conv is None:
                    out[name] = default
                else:
                    x = v.get(name)
                    out[name] = None if x is None else conv(x)
            return out
        return conv_rec
    raise AvroSchemaError(f"cannot resolve {wname!r} -> {rname!r}")


def schema_resolver(writer_json: str | dict, reader_json: str | dict):
    """Row converter for decoded container rows: writer schema shape ->
    reader schema shape per the spec's resolution rules. Identity-fast
    when the schemas are equal."""
    writer = inline_named_types(writer_json)
    reader = inline_named_types(reader_json)
    if writer == reader:
        return lambda row: row
    if not (writer.get("type") == "record" and reader.get("type") == "record"):
        raise AvroSchemaError("schema resolution requires record schemas")
    return _resolver(writer, reader)
