"""Pure-Python Avro Object Container File reader/writer — the
reference's ACTUAL persisted record format, runnable WITHOUT the
spark-avro jar (absent from this container — probed every round) and
without any Avro library (also absent).

The reference writes processed records as Avro container files with a
configurable codec, default ``deflate``
(``executor/.../run/ProcessRawDataOperation.java:74-82``,
``worker/.../exec/AvroFileCodec.scala:11-15``,
``worker/src/main/resources/.../reference.conf:82``). This module
implements the container spec (public: Apache Avro 1.11 spec,
"Object Container Files") for the record shapes the engine's records
zone carries:

- header: magic ``Obj\\x01``, metadata map (``avro.schema`` JSON from
  `avro_schema.struct_to_avro`, ``avro.codec``), 16-byte sync marker
  (deterministic: md5 of the schema JSON — reproducible files);
- blocks: record-count varint, byte-size varint, payload, sync;
- binary encoding: zigzag-varint int/long, IEEE-LE float/double,
  length-prefixed utf8 strings / bytes, boolean as one byte, enum as
  a zigzag index into the declared symbol list (→ string), fixed as
  exactly N raw bytes with no length prefix (→ binary) — both decoded
  per the FILE's own schema via path-keyed special codecs
  (``avro_schema.special_codecs``), since the Spark types they map to
  encode differently — logical
  types date (int days) / timestamp-micros and timestamp-millis (long,
  the unit read per site from the file's schema) / decimal (bytes,
  big-endian two's complement), complex types (block-encoded arrays
  and string-keyed maps with zero-count terminators, nested
  records), and nullable sites as the 2-branch union ``[T, "null"]``
  — the branch-index prefix follows the DECLARED union order
  (value → zigzag(0), null → zigzag(1)); the reader derives every
  union site's null branch from each file's own schema (nested
  included, via path-keyed indices) so foreign ``["null", T]`` files
  decode correctly too;
- codecs: ``null``, ``deflate`` (raw RFC-1951 via zlib with negative
  wbits — the reference's default codec), and the spec's optional
  ``bzip2`` / ``xz`` (stdlib bz2/lzma; xz uses the spec's xz
  container format). ``snappy``/``zstandard`` need libraries absent
  from this environment (probed every round) and fail loud.

The write path is SCHEMA-PRESERVING when given the integration's
declared Avro schema (``write_container(...,
declared_schema=...)``): the declared JSON is embedded verbatim — so
the reference's MD5 fingerprint identity
(``IntegrationSchema.scala:25-28``) survives a read-modify-write
round-trip — and enum/fixed/fixed-decimal sites re-encode in their
spec wire forms instead of the string/bytes downgrade the
StructType-derived schema would imply (round-8; pinned byte-for-byte
against the hand-assembled golden bodies).

The read path supports SCHEMA RESOLUTION (spec "Schema
Resolution"): ``read_container(data, reader_schema=...)`` /
``read_avro(spark, path, reader_schema=...)`` decode every file under
its OWN writer schema and resolve rows to the evolved reader shape —
writer-only fields dropped, reader-only fields filled from declared
defaults, primitive promotions, enum-symbol fallback — so one zone
holding files from several schema versions reads as one DataFrame
(``avro_schema.schema_resolver``).

Two code paths write and read the same bytes; the schema picks one:

- **columnar** (flat schemas: only top-level byte/short/int/long,
  date, timestamp, timestamp_ntz, boolean, float, double, string or
  binary fields, and no enum/fixed site): ``write_container_arrow``
  encodes straight from Arrow buffers with numpy — zigzag varints,
  length prefixes taken from the Arrow offsets, union branch bytes in
  the declared order, rows laid out row-major through a cumsum of the
  per-field byte lengths — and the reader runs one generated decoder
  per wire shape (compiled once, cached) that appends into per-column
  lists, which become Arrow arrays; no dict is built per row;
- **row** (nested, decimal, enum/fixed sites): per-field closures over
  one Python dict per record (``_field_encoder``/``_field_decoder``).
  It is the only code for those types, and the byte-for-byte
  reference the columnar writer is tested against.

Distributed use (no driver bottleneck):

- **write**: ``write_avro(df, path)`` — each Spark partition encodes
  its Arrow batches (``mapInArrow``) to one ``part-*.avro`` file, the
  per-task layout of the records zone, and returns the file's size
  and md5 with its record count, so a manifest needs no re-read;
- **read**: ``read_avro(spark, path)`` — ``binaryFile`` scan +
  ``mapInArrow`` decode; each file's header schema is validated
  against the expected StructType (by default the first file's,
  read from its header alone);
- **small read**: ``local_avro_frame(spark, blobs)`` decodes files
  the driver already holds into an Arrow local relation; the records
  zone uses it below ``storage.LOCAL_READ_MAX_BYTES``, where one driver
  read beats a Python-worker scan. Both reads run the same per-file
  step, ``decode_checked``;
- **small write**: ``write_avro_local(df, path)`` collects the frame
  as Arrow (a JVM-side collect, no Python worker) and encodes on the
  driver the same part files ``write_avro`` would write; op 4 uses it
  below the same gate. Both writes end in ``_put_part`` and
  ``_seal``.

Interop evidence (no Avro library in the environment — probed every
round): beyond spec-level unit tests (hand-computed zigzag/varint
bytes, header layout, sync-marker framing) and hypothesis round-trips
through both codecs, the reader decodes CHECKED-IN golden container
files that were hand-assembled byte-by-byte from the public spec with
an independent encoder (``tests/fixtures/make_avro_goldens.py`` +
``tests/test_avro_goldens.py``: null+deflate codecs, nested
array/map/record, foreign ``["null",T]`` unions at top and nested
sites, date/timestamp-micros/decimal logicals), and the writer's
output is pinned byte-for-byte against a checked-in golden. The
header/metadata layout matches what ``DataFileWriter`` emits for the
same schema, so files exchange with real Avro tooling once present.
"""

from __future__ import annotations

import bz2 as _bz2
import datetime as _dtmod
import hashlib
import json
import lzma as _lzma
import os
import struct
import uuid
import zlib
from collections.abc import Iterator
from dataclasses import dataclass
from decimal import Decimal as _Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"

_EPOCH_DATE = _dtmod.date(1970, 1, 1)
_EPOCH_NAIVE = _dtmod.datetime(1970, 1, 1)
_EPOCH_UTC = _dtmod.datetime(1970, 1, 1, tzinfo=_dtmod.timezone.utc)
_MICRO = _dtmod.timedelta(microseconds=1)
_MILLI = _dtmod.timedelta(milliseconds=1)


# Wire value (int days / int micros) -> the Python value both decoders
# hand out for the integer-backed logical types.
_FROM_WIRE = {
    T.DateType: lambda n: _EPOCH_DATE + _dtmod.timedelta(days=n),
    T.TimestampType: lambda n: _EPOCH_UTC + _dtmod.timedelta(microseconds=n),
    T.TimestampNTZType: lambda n: _EPOCH_NAIVE + _dtmod.timedelta(microseconds=n),
}


# -- primitive binary encoding (Avro spec §binary encoding) ---------------


def zigzag_encode(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


# Per-schema specialized row codecs: the generic per-value isinstance
# chain costs ~6 us/row; a list of per-FIELD closures (type dispatch
# done once, at build time) runs ~4-5x faster — this is the records
# zone's hot loop (measured: 600k lineitem rows 3.5s -> <1s encode).
_CODEC_CACHE: dict[str, tuple[list, list]] = {}


def _field_encoder(
    dt: T.DataType,
    nb: dict[str, int] | None = None,
    path: str = "",
    special: dict[str, tuple] | None = None,
):
    """Build the encoder closure for one value site — the mirror of
    ``_field_decoder``. With a DECLARED writer schema (``nb`` +
    ``special`` from ``avro_schema``), enum sites emit the zigzag
    symbol index, fixed sites exactly N raw bytes, fixed-decimal the
    N-byte two's-complement unscaled int, and nullable-union branch
    bytes follow the DECLARED branch order; without one, the writer
    convention ([T,"null"], string/bytes for enum/fixed) applies."""
    zz = zigzag_encode
    pack = struct.pack

    def _nb(sub: str) -> int:
        return 1 if nb is None else nb.get(sub, 1)

    sp = None if special is None else special.get(path)
    # timestamp-millis sites count milliseconds, micros sites micros
    unit = _MILLI if sp is not None and sp[0] == "millis" else _MICRO
    if sp is not None:
        kind, arg = sp
        if kind == "enum":
            index = {s: i for i, s in enumerate(arg)}

            def enc_enum(v, out, zz=zz, index=index, path=path):
                i = index.get(v)
                if i is None:
                    raise ValueError(
                        f"enum site {path!r}: {v!r} is not a declared "
                        f"symbol of {sorted(index)}"
                    )
                out.extend(zz(i))
            return enc_enum
        if kind == "fixed":
            size = int(arg)

            def enc_fixed(v, out, size=size, path=path):
                b = bytes(v)
                if len(b) != size:
                    raise ValueError(
                        f"fixed site {path!r} requires exactly {size} "
                        f"bytes, got {len(b)}"
                    )
                out.extend(b)
            return enc_fixed
        if kind == "fixed-decimal":
            size, scale = int(arg[0]), int(arg[1])

            def enc_fixdec(v, out, size=size, scale=scale):
                unscaled = int(v.scaleb(scale))
                out.extend(unscaled.to_bytes(size, "big", signed=True))
            return enc_fixdec
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return lambda v, out: out.extend(zz(int(v)))
    if isinstance(dt, T.BooleanType):
        return lambda v, out: out.append(1 if v else 0)
    if isinstance(dt, T.DoubleType):
        return lambda v, out: out.extend(pack("<d", float(v)))
    if isinstance(dt, T.FloatType):
        return lambda v, out: out.extend(pack("<f", float(v)))
    if isinstance(dt, T.StringType):
        def enc_s(v, out, zz=zz):
            b = str(v).encode()
            out.extend(zz(len(b)))
            out.extend(b)
        return enc_s
    if isinstance(dt, T.BinaryType):
        def enc_b(v, out, zz=zz):
            b = bytes(v)
            out.extend(zz(len(b)))
            out.extend(b)
        return enc_b
    if isinstance(dt, T.DateType):
        # Avro logical type "date": int = days since Unix epoch
        epoch = _EPOCH_DATE

        def enc_date(v, out, zz=zz, epoch=epoch):
            out.extend(zz((v - epoch).days))
        return enc_date
    if isinstance(dt, T.TimestampType):
        # Avro logical type "timestamp-micros" (-millis): long = micros
        # (millis) since epoch UTC, floored like Java's toEpochMilli.
        # Integer arithmetic throughout (datetime.timestamp() would
        # round-trip through a float).
        def enc_ts(v, out, zz=zz, unit=unit):
            if v.tzinfo is None:
                delta = v - _EPOCH_NAIVE
            else:
                delta = v - _EPOCH_UTC
            out.extend(zz(delta // unit))
        return enc_ts
    if isinstance(dt, T.TimestampNTZType):
        # Avro "local-timestamp-micros" (-millis): no zone
        def enc_tsntz(v, out, zz=zz, unit=unit):
            out.extend(zz((v - _EPOCH_NAIVE) // unit))
        return enc_tsntz
    if isinstance(dt, T.DecimalType):
        # Avro logical type "decimal" over bytes: big-endian
        # two's-complement unscaled integer, minimal length
        scale = dt.scale

        def enc_dec(v, out, zz=zz, scale=scale):
            unscaled = int(v.scaleb(scale))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            b = unscaled.to_bytes(n, "big", signed=True)
            out.extend(zz(len(b)))
            out.extend(b)
        return enc_dec
    if isinstance(dt, T.ArrayType):
        # Avro arrays: series of blocks (count, items...) ended by a
        # zero count; one block per array here. Nullable elements are
        # 2-branch unions; branch BYTES follow the declared order
        # (writer convention [T,"null"]: value=\x00, null=\x02).
        enc_item = _field_encoder(dt.elementType, nb, path + "[]", special)
        if dt.containsNull:
            inull = _nb(path + "[]")
            null_b, val_b = _branch_bytes(inull)
        else:
            null_b = None
            val_b = 0

        def enc_arr(v, out, zz=zz):
            v = list(v)
            if v:
                out.extend(zz(len(v)))
                for x in v:
                    if null_b is not None:
                        if x is None:
                            out.append(null_b)
                            continue
                        out.append(val_b)
                    enc_item(x, out)
            out.append(0)  # end of blocks
        return enc_arr
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise NotImplementedError(
                "avro maps require string keys (Avro spec)"
            )
        enc_val = _field_encoder(dt.valueType, nb, path + "{}", special)
        if dt.valueContainsNull:
            inull = _nb(path + "{}")
            mnull_b, mval_b = _branch_bytes(inull)
        else:
            mnull_b = None
            mval_b = 0

        def enc_map(v, out, zz=zz):
            # Arrow map cells arrive as [(k, v), ...]; dicts accepted
            items = list(v.items()) if isinstance(v, dict) else list(v)
            if items:
                out.extend(zz(len(items)))
                for k, x in items:
                    kb = str(k).encode()
                    out.extend(zz(len(kb)))
                    out.extend(kb)
                    if mnull_b is not None:
                        if x is None:
                            out.append(mnull_b)
                            continue
                        out.append(mval_b)
                    enc_val(x, out)
            out.append(0)
        return enc_map
    if isinstance(dt, T.StructType):
        encs = []
        for f in dt.fields:
            sub = f"{path}.{f.name}" if path else f.name
            if f.nullable:
                inull = _nb(sub)
                fnull_b, fval_b = _branch_bytes(inull)
            else:
                fnull_b = None
                fval_b = 0
            encs.append(
                (f.name, fnull_b, fval_b,
                 _field_encoder(f.dataType, nb, sub, special))
            )

        def enc_struct(v, out):
            get = v.get
            for name, fnull_b, fval_b, enc in encs:
                x = get(name)
                if fnull_b is not None:
                    if x is None:
                        out.append(fnull_b)
                        continue
                    out.append(fval_b)
                enc(x, out)
        return enc_struct
    raise NotImplementedError(f"avro container: unsupported type {dt}")


def _field_decoder(
    dt: T.DataType,
    nb: dict[str, int] | None = None,
    path: str = "",
    special: dict[str, tuple] | None = None,
):
    """Build a decoder closure for one value site. ``nb`` maps schema
    paths (see ``avro_schema.null_branch_indices``) to the null-branch
    index DECLARED by the file being read; omitted → the writer
    convention [T,"null"] (null index 1) everywhere. ``special`` maps
    paths whose binary encoding differs from the mapped Spark type
    (``avro_schema.special_codecs``): an Avro ``enum`` site maps to
    StringType but is encoded as a zigzag index into the declared
    symbol list, and a ``fixed`` site maps to BinaryType but is
    exactly N raw bytes with no length prefix — decoding either by
    the Spark type alone misreads the stream."""

    def _nb(sub: str) -> int:
        return 1 if nb is None else nb.get(sub, 1)

    zz = zigzag_decode
    unpack = struct.unpack_from
    sp = None if special is None else special.get(path)
    if sp is not None:
        kind, arg = sp
        if kind == "enum":
            symbols = list(arg)

            def dec_enum(buf, pos, zz=zz, symbols=symbols):
                i, pos = zz(buf, pos)
                return symbols[i], pos
            return dec_enum
        if kind == "fixed":
            size = int(arg)

            def dec_fixed(buf, pos, size=size):
                return bytes(buf[pos : pos + size]), pos + size
            return dec_fixed
        if kind == "fixed-decimal":
            # fixed annotated with logicalType decimal: the site maps
            # to DecimalType but the wire form is exactly ``size`` raw
            # bytes holding a big-endian two's-complement unscaled int
            # — no length prefix (unlike bytes-decimal).
            size, scale = int(arg[0]), int(arg[1])

            def dec_fixdec(buf, pos, size=size, scale=scale):
                unscaled = int.from_bytes(
                    bytes(buf[pos : pos + size]), "big", signed=True
                )
                return _Decimal(unscaled).scaleb(-scale), pos + size
            return dec_fixdec
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return zz
    if isinstance(dt, T.BooleanType):
        return lambda buf, pos: (bool(buf[pos]), pos + 1)
    if isinstance(dt, T.DoubleType):
        return lambda buf, pos: (unpack("<d", buf, pos)[0], pos + 8)
    if isinstance(dt, T.FloatType):
        return lambda buf, pos: (unpack("<f", buf, pos)[0], pos + 4)
    if isinstance(dt, T.StringType):
        def dec_s(buf, pos, zz=zz):
            n, pos = zz(buf, pos)
            return bytes(buf[pos : pos + n]).decode(), pos + n
        return dec_s
    if isinstance(dt, T.BinaryType):
        def dec_b(buf, pos, zz=zz):
            n, pos = zz(buf, pos)
            return bytes(buf[pos : pos + n]), pos + n
        return dec_b
    conv = _FROM_WIRE.get(type(dt))
    if conv is not None:
        # date (int days) / [local-]timestamp-micros / -millis (x1000)
        scale = 1000 if sp is not None and sp[0] == "millis" else 1

        def dec_logical(buf, pos, zz=zz, conv=conv, scale=scale):
            n, pos = zz(buf, pos)
            return conv(n * scale), pos
        return dec_logical
    if isinstance(dt, T.DecimalType):
        scale = dt.scale

        def dec_dec(buf, pos, zz=zz, scale=scale):
            n, pos = zz(buf, pos)
            unscaled = int.from_bytes(bytes(buf[pos : pos + n]), "big", signed=True)
            return _Decimal(unscaled).scaleb(-scale), pos + n
        return dec_dec
    if isinstance(dt, T.ArrayType):
        dec_item = _field_decoder(dt.elementType, nb, path + "[]", special)
        item_nb = _nb(path + "[]") if dt.containsNull else None

        def dec_arr(buf, pos, zz=zz):
            out = []
            while True:
                cnt, pos = zz(buf, pos)
                if cnt == 0:
                    break
                if cnt < 0:  # spec: negative count precedes byte size
                    cnt = -cnt
                    _, pos = zz(buf, pos)
                for _ in range(cnt):
                    if item_nb is not None:
                        br, pos = zz(buf, pos)
                        if br == item_nb:
                            out.append(None)
                            continue
                    x, pos = dec_item(buf, pos)
                    out.append(x)
            return out, pos
        return dec_arr
    if isinstance(dt, T.MapType):
        dec_val = _field_decoder(dt.valueType, nb, path + "{}", special)
        val_nb = _nb(path + "{}") if dt.valueContainsNull else None

        def dec_map(buf, pos, zz=zz):
            # Decode to a real dict: callers see the natural Python
            # shape (read_container round-trips what write_container
            # accepted), and Arrow's from_pylist takes dicts for map
            # columns. Duplicate keys (legal bytes, undefined per the
            # Avro spec) collapse last-wins like every map consumer.
            out = {}
            while True:
                cnt, pos = zz(buf, pos)
                if cnt == 0:
                    break
                if cnt < 0:
                    cnt = -cnt
                    _, pos = zz(buf, pos)
                for _ in range(cnt):
                    kl, pos = zz(buf, pos)
                    k = bytes(buf[pos : pos + kl]).decode()
                    pos += kl
                    if val_nb is not None:
                        br, pos = zz(buf, pos)
                        if br == val_nb:
                            out[k] = None
                            continue
                    x, pos = dec_val(buf, pos)
                    out[k] = x
            return out, pos
        return dec_map
    if isinstance(dt, T.StructType):
        decs = [
            (
                f.name,
                _nb(f"{path}.{f.name}" if path else f.name)
                if f.nullable
                else None,
                _field_decoder(
                    f.dataType,
                    nb,
                    f"{path}.{f.name}" if path else f.name,
                    special,
                ),
            )
            for f in dt.fields
        ]

        def dec_struct(buf, pos, zz=zz):
            row = {}
            for name, fnb, dec in decs:
                if fnb is not None:
                    br, pos = zz(buf, pos)
                    if br == fnb:
                        row[name] = None
                        continue
                row[name], pos = dec(buf, pos)
            return row, pos
        return dec_struct
    raise NotImplementedError(f"avro container: unsupported type {dt}")


def _row_codecs(schema: T.StructType) -> tuple[list, list]:
    key = schema.json()
    hit = _CODEC_CACHE.get(key)
    if hit is None:
        encs = [
            (f.name, f.nullable, _field_encoder(f.dataType))
            for f in schema.fields
        ]
        decs = [
            (f.name, f.nullable, _field_decoder(f.dataType))
            for f in schema.fields
        ]
        hit = _CODEC_CACHE[key] = (encs, decs)
    return hit


def encode_record(schema: T.StructType, row: dict, out: bytearray) -> None:
    """Encode one record against the schema ``struct_to_avro`` emits:
    nullable fields are the union ``[T, "null"]`` (reference TestRecord
    shape), so the branch prefix is zigzag(0)=\\x00 for a VALUE and
    zigzag(1)=\\x02 for NULL — the branch index is into the DECLARED
    union order (Avro spec, "Unions")."""
    encs, _ = _row_codecs(schema)
    get = row.get
    for name, nullable, enc in encs:
        v = get(name)
        if nullable:
            if v is None:
                out.append(2)  # zigzag(1): the "null" branch of [T,"null"]
                continue
            out.append(0)  # zigzag(0): the value branch of [T,"null"]
        enc(v, out)


def decode_record(
    schema: T.StructType,
    buf: memoryview,
    pos: int,
    null_branch: dict[str, int] | None = None,
    special: dict[str, tuple] | None = None,
) -> tuple[dict, int]:
    """Decode one record. ``null_branch`` is the PATH-keyed map from
    ``avro_schema.null_branch_indices`` over the file's own schema
    (top-level field names, plus nested sites like ``f[]``, ``f{}``,
    ``f.sub``) — the same map ``read_container`` uses, so nested union
    sites honor the file's declared branch order too. When omitted,
    the ``struct_to_avro`` writer convention ``[T,"null"]`` (null
    index 1) is assumed at every union site."""
    if null_branch is None and special is None:
        _, decs = _row_codecs(schema)  # cached writer-convention path
    else:
        decs = [
            (
                f.name,
                f.nullable,
                _field_decoder(f.dataType, null_branch, f.name, special),
            )
            for f in schema.fields
        ]
    row = {}
    for name, nullable, dec in decs:
        if nullable:
            nb = 1 if null_branch is None else null_branch.get(name, 1)
            branch, pos = zigzag_decode(buf, pos)
            if branch == nb:
                row[name] = None
                continue
        row[name], pos = dec(buf, pos)
    return row, pos


# -- container framing ----------------------------------------------------


def _sync_marker(schema_json: str) -> bytes:
    """Deterministic 16-byte sync: md5 of the canonical schema JSON —
    byte-identical files for identical inputs (the engine's general
    reproducibility contract; the spec only requires uniqueness
    within a file)."""
    return hashlib.md5(schema_json.encode()).digest()


def _enc_meta_map(meta: dict[str, bytes]) -> bytes:
    out = bytearray()
    out += zigzag_encode(len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out += zigzag_encode(len(kb)) + kb
        out += zigzag_encode(len(v)) + v
    out += zigzag_encode(0)  # end of map blocks
    return bytes(out)


def _read_header(buf: memoryview) -> tuple[dict[str, bytes], int]:
    """The metadata map of a container and the offset just past it,
    where the 16-byte sync marker starts."""
    if bytes(buf[:4]) != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = zigzag_decode(buf, pos)
        if n == 0:
            return meta, pos
        if n < 0:  # spec: negative count precedes a byte size
            n = -n
            _, pos = zigzag_decode(buf, pos)
        for _ in range(n):
            kl, pos = zigzag_decode(buf, pos)
            k = bytes(buf[pos : pos + kl]).decode()
            pos += kl
            vl, pos = zigzag_decode(buf, pos)
            meta[k] = bytes(buf[pos : pos + vl])
            pos += vl


def _embedded_schema_json(data: bytes) -> str:
    """The avro.schema metadata value of a container file, verbatim."""
    meta, _ = _read_header(memoryview(data))
    if "avro.schema" not in meta:
        raise ValueError("container has no avro.schema metadata")
    return meta["avro.schema"].decode()


def _compress(body: bytes, codec: str) -> bytes:
    if codec == "deflate":
        # RFC-1951 raw deflate (no zlib wrapper) per the spec
        return zlib.compress(body, 6)[2:-4]
    if codec == "bzip2":
        return _bz2.compress(body)
    if codec == "xz":
        return _lzma.compress(body, format=_lzma.FORMAT_XZ)
    return body


def _decompress(body: bytes, codec: str) -> bytes:
    if codec == "deflate":
        return zlib.decompress(body, wbits=-15)
    if codec == "bzip2":
        return _bz2.decompress(body)
    if codec == "xz":
        return _lzma.decompress(body)
    if codec != "null":
        # snappy / zstandard need libraries absent from this
        # environment (probed every round) — fail loud
        raise ValueError(f"unsupported avro codec {codec}")
    return body


def _branch_bytes(null_index: int) -> tuple[int, int]:
    """(null byte, value byte) of a 2-branch union whose "null" sits at
    ``null_index`` of the declared order."""
    return (0, 2) if null_index == 0 else (2, 0)


def _field_branches(f: T.StructField, nb: dict[str, int] | None) -> tuple:
    """(null byte, value byte) of a top-level field; the null byte is
    None when the field is not a union. ``nb`` None → [T,"null"]."""
    if not f.nullable:
        return None, 0
    return _branch_bytes(1 if nb is None else nb.get(f.name, 1))


def _writer_schema(
    schema: T.StructType, declared_schema: str | dict | None
) -> tuple[str, T.StructType, dict[str, int] | None, dict[str, tuple] | None]:
    """(schema JSON to embed, StructType to encode under, null-branch
    map, special codecs) for a write. Without a declared schema these
    derive from the StructType (writer convention: [T,"null"],
    enum/fixed not expressible)."""
    from hyppo_worker_spark.sources.avro_schema import (
        avro_to_struct,
        null_branch_indices,
        special_codecs,
        struct_to_avro,
    )

    if declared_schema is None:
        return struct_to_avro(schema), schema, None, None
    schema_json = (
        declared_schema
        if isinstance(declared_schema, str)
        else json.dumps(declared_schema)
    )
    derived = avro_to_struct(schema_json)
    # Spark marks most DataFrame columns nullable regardless of
    # content, so compare SHAPES ignoring nullability: a declared
    # non-null field fed an actual None still fails loud at encode
    # time, and the union branch bytes follow the DECLARED
    # nullability either way.
    if _strip_nullability(derived) != _strip_nullability(schema):
        raise ValueError(
            "declared_schema does not map to the given StructType: "
            f"declared -> {derived.simpleString()}, "
            f"got {schema.simpleString()}"
        )
    # encode under the DECLARED nullability (branch bytes exist only
    # where the avro schema has a union)
    return (
        schema_json,
        derived,
        null_branch_indices(schema_json),
        special_codecs(schema_json),
    )


def _container(
    schema_json: str, codec: str, blocks: Iterator[tuple[int, bytes]]
) -> bytes:
    """Header, then one framed block per (record count, payload)."""
    if codec not in ("null", "deflate", "bzip2", "xz"):
        raise ValueError(f"unsupported avro codec {codec}")
    sync = _sync_marker(schema_json)
    out = bytearray()
    out += MAGIC
    out += _enc_meta_map(
        {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    )
    out += sync
    for count, payload in blocks:
        body = _compress(payload, codec)
        out += zigzag_encode(count)
        out += zigzag_encode(len(body))
        out += body
        out += sync
    return bytes(out)


def write_container(
    schema: T.StructType,
    rows: list[dict],
    codec: str = "deflate",
    block_records: int = 4096,
    declared_schema: str | dict | None = None,
) -> bytes:
    """One Avro Object Container File as bytes, through the row codec.

    ``declared_schema`` (Avro record schema JSON) makes this a
    SCHEMA-PRESERVING writer: the declared JSON is embedded verbatim
    (so the reference's MD5 fingerprint identity,
    ``IntegrationSchema.scala:25-28``, survives the round-trip) and
    the encoders follow the declared wire forms — enum as zigzag
    symbol index, fixed as raw N bytes, fixed-decimal as the N-byte
    unscaled int, nullable unions in the declared branch order.
    Without it, the schema derives from the StructType (writer
    convention: [T,"null"], enum/fixed not expressible)."""
    schema_json, schema, nb, special = _writer_schema(schema, declared_schema)
    encs4 = [
        (f.name, *_field_branches(f, nb),
         _field_encoder(f.dataType, nb, f.name, special))
        for f in schema.fields
    ]

    def blocks():
        for i in range(0, len(rows), block_records):
            chunk = rows[i : i + block_records]
            payload = bytearray()
            for r in chunk:
                get = r.get
                for name, null_b, val_b, enc in encs4:
                    v = get(name)
                    if null_b is not None:
                        if v is None:
                            payload.append(null_b)
                            continue
                        payload.append(val_b)
                    enc(v, payload)
            yield len(chunk), bytes(payload)

    return _container(schema_json, codec, blocks())


# -- columnar codec (flat schemas) -----------------------------------------

# Avro wire kind of each flat Spark type. Dates (int days) and the two
# timestamps (long micros) share the long's zigzag varint; a
# timestamp-millis site is the kind "millis" (a long of milliseconds).
_FLAT_WIRE: dict[type, str] = {
    T.ByteType: "long",
    T.ShortType: "long",
    T.IntegerType: "long",
    T.LongType: "long",
    T.DateType: "long",
    T.TimestampType: "long",
    T.TimestampNTZType: "long",
    T.BooleanType: "boolean",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "bytes",
}


def _flat_plan(
    schema: T.StructType,
    nb: dict[str, int] | None,
    special: dict[str, tuple] | None,
) -> tuple[tuple[str, int | None, int], ...] | None:
    """(wire kind, null byte, value byte) per field when the schema is
    flat — every field a top-level primitive site, no enum/fixed — and
    None otherwise. The null byte is None for a non-union field."""
    if not schema.fields:
        return None
    plan = []
    for f in schema.fields:
        kind = _FLAT_WIRE.get(type(f.dataType))
        sp = (special or {}).get(f.name)
        if sp is not None:
            kind = "millis" if sp[0] == "millis" else None
        if kind is None:
            return None
        plan.append((kind, *_field_branches(f, nb)))
    return tuple(plan)


# A segment is one run of bytes per row: (source bytes, per-row start in
# the source, per-row length). A field is one to three segments (branch
# byte, length prefix, value); rows are then laid out row-major.


def _varint_segment(n: "np.ndarray", keep: "np.ndarray"):
    """Zigzag varints of int64 ``n`` — 7-bit groups, low first, high bit
    set on every group but the last; rows where ``keep`` is False get
    no bytes."""
    import numpy as np

    n = np.where(keep, n, 0)
    u = ((n << 1) ^ (n >> 63)).view(np.uint64)
    nbytes = np.ones(len(u), np.int64)
    rest = u >> np.uint64(7)
    while rest.any():
        nbytes += rest != 0
        rest >>= np.uint64(7)
    width = int(nbytes.max()) if len(u) else 1
    shifts = np.arange(width, dtype=np.uint64) * np.uint64(7)
    groups = ((u[:, None] >> shifts) & np.uint64(0x7F)).astype(np.uint8)
    groups |= (np.arange(width) < (nbytes - 1)[:, None]).astype(np.uint8) << 7
    return groups.ravel(), np.arange(len(u)) * width, np.where(keep, nbytes, 0)


def _fixed_segment(values: "np.ndarray", keep: "np.ndarray"):
    """Fixed-width little-endian values (IEEE floats, booleans, branch
    bytes)."""
    import numpy as np

    w = values.dtype.itemsize
    src = values.view(np.uint8)
    return src, np.arange(len(values)) * w, np.where(keep, w, 0)


def _field_segments(arr: "pa.Array", kind: str, null_b, val_b) -> list:
    import numpy as np
    import pyarrow as pa

    n = len(arr)
    valid = (
        np.ones(n, bool)
        if arr.null_count == 0
        else arr.is_valid().to_numpy(zero_copy_only=False)
    )
    segs = []
    if null_b is not None:
        branch = np.where(valid, val_b, null_b).astype(np.uint8)
        segs.append(_fixed_segment(branch, np.ones(n, bool)))
    elif arr.null_count:
        raise ValueError("null for non-nullable field")
    bufs = arr.buffers()
    if kind == "boolean":
        bits = arr.fill_null(False).to_numpy(zero_copy_only=False)
        segs.append(_fixed_segment(bits.astype(np.uint8), valid))
    elif kind in ("string", "bytes"):
        large = arr.type in (pa.large_string(), pa.large_binary())
        offs = np.frombuffer(bufs[1], np.int64 if large else np.int32)
        offs = offs[arr.offset : arr.offset + n + 1].astype(np.int64)
        data = np.frombuffer(bufs[2], np.uint8)
        lens = np.diff(offs)
        segs.append(_varint_segment(lens, valid))
        segs.append((data, offs[:-1], np.where(valid, lens, 0)))
    else:
        width = arr.type.bit_width // 8
        code = "f" if kind in ("float", "double") else "i"
        vals = np.frombuffer(bufs[1], f"<{code}{width}")[arr.offset : arr.offset + n]
        if code == "f":
            segs.append(_fixed_segment(vals, valid))
        else:
            vals = vals.astype(np.int64)
            if kind == "millis":  # Arrow micros, floored to millis
                vals = vals // 1000
            segs.append(_varint_segment(vals, valid))
    return segs


def _row_major(segments: list):
    """Lay ``segments`` out row by row: returns (bytes, row end
    offsets)."""
    import numpy as np

    lens = np.stack([s[2] for s in segments]).astype(np.int64)
    row_end = np.cumsum(lens.sum(axis=0))
    # byte offset of each segment inside the whole output
    dest = (row_end - lens.sum(axis=0)) + (np.cumsum(lens, axis=0) - lens)
    out = np.empty(int(row_end[-1]), np.uint8)
    for (src, start, ln), base in zip(segments, dest):
        total = int(ln.sum())
        if not total:
            continue
        skip = np.cumsum(ln) - ln  # where each row's run starts in k
        k = np.arange(total)
        out[k + np.repeat(base - skip, ln)] = src[k + np.repeat(start - skip, ln)]
    return out, row_end


def write_container_arrow(
    schema: T.StructType,
    table: "pa.Table",
    codec: str = "deflate",
    block_records: int = 4096,
    declared_schema: str | dict | None = None,
) -> bytes:
    """``write_container(schema, table.to_pylist(), ...)``, byte for byte.

    Flat schemas encode straight from the Arrow columns (no Python
    object per value); any other schema goes through the row codec."""
    schema_json, wschema, nb, special = _writer_schema(schema, declared_schema)
    plan = _flat_plan(wschema, nb, special)
    if plan is None:
        return write_container(
            schema, table.to_pylist(), codec, block_records, declared_schema
        )
    n = table.num_rows
    if n == 0:
        return _container(schema_json, codec, iter(()))
    segments = [
        seg
        for col, field_plan in zip(table.columns, plan)
        for seg in _field_segments(col.combine_chunks(), *field_plan)
    ]
    out, row_end = _row_major(segments)

    def blocks():
        for i in range(0, n, block_records):
            j = min(i + block_records, n)
            a = int(row_end[i - 1]) if i else 0
            yield j - i, out[a : int(row_end[j - 1])].tobytes()

    return _container(schema_json, codec, blocks())


# One generated decoder per wire shape: the varint loop is inlined and
# every value is appended straight to its column's list.
_DECODERS: dict[tuple, object] = {}

# (one- and two-byte varints take no loop)
_VARINT = """\
b = buf[pos]
if b < 128:
    pos += 1
else:
    c = buf[pos + 1]
    b = (b & 127) | (c & 127) << 7
    pos += 2
    if c > 127:
        s = 14
        while True:
            c = buf[pos]; pos += 1
            b |= (c & 127) << s
            if c < 128:
                break
            s += 7
b = (b >> 1) ^ -(b & 1)"""

# a length prefix, checked against the block before slicing
_LENGTH = _VARINT + """
q = pos + b
if b < 0 or q > end:
    raise ValueError("length prefix runs past the block")"""

_VALUE = {
    "long": _VARINT + "\nA(b)",
    "millis": _VARINT + "\nA(b)",
    "boolean": "A(buf[pos] != 0); pos += 1",
    "float": "A(unpack_f(buf, pos)[0]); pos += 4",
    "double": "A(unpack_d(buf, pos)[0]); pos += 8",
    "string": _LENGTH + "\nA(buf[pos:q].decode()); pos = q",
    "bytes": _LENGTH + "\nA(buf[pos:q]); pos = q",
}


def _indent(src: str, depth: int) -> list[str]:
    return ["    " * depth + line for line in src.splitlines()]


def _flat_decoder(plan: tuple):
    """decode(buf, count, columns) -> bytes consumed, for one wire
    shape; compiled once and cached."""
    fn = _DECODERS.get(plan)
    if fn is not None:
        return fn
    lines = [
        "def decode(buf, count, columns):",
        "    pos, end = 0, len(buf)",
        "    " + ", ".join(f"a{i}" for i in range(len(plan)))
        + ", = [c.append for c in columns]",
        "    for _ in range(count):",
    ]
    for i, (kind, null_b, val_b) in enumerate(plan):
        value = _VALUE[kind].replace("A(", f"a{i}(")
        if null_b is None:
            lines += _indent(value, 2)
            continue
        lines += _indent(
            f"b = buf[pos]; pos += 1\n"
            f"if b == {null_b}:\n"
            f"    a{i}(None)\n"
            f"elif b != {val_b}:\n"
            f"    raise ValueError('union branch byte %d' % b)\n"
            f"else:",
            2,
        )
        lines += _indent(value, 3)
    lines.append("    return pos")
    scope = {
        "unpack_f": struct.Struct("<f").unpack_from,
        "unpack_d": struct.Struct("<d").unpack_from,
    }
    exec(compile("\n".join(lines), f"<avro decoder {plan}>", "exec"), scope)
    fn = _DECODERS[plan] = scope["decode"]
    return fn


# -- reading --------------------------------------------------------------


def _blocks(buf: memoryview, pos: int, codec: str, sync: bytes):
    """(record count, decompressed payload) per block; raises on a
    truncated block or a sync marker that does not match the header's."""
    truncated = "truncated block — corrupt container"
    while pos < len(buf):
        try:
            count, pos = zigzag_decode(buf, pos)
            size, pos = zigzag_decode(buf, pos)
        except IndexError:
            raise ValueError(truncated) from None
        if count < 0 or size < 0 or pos + size + 16 > len(buf):
            raise ValueError(truncated)
        body = bytes(buf[pos : pos + size])
        pos += size
        if bytes(buf[pos : pos + 16]) != sync:
            raise ValueError("sync marker mismatch — corrupt container")
        pos += 16
        yield count, _decompress(body, codec)


def _check_consumed(end: int, body: bytes) -> None:
    if end != len(body):
        raise ValueError(
            f"block decoded to {end} bytes, declared {len(body)} — "
            "corrupt container"
        )


@dataclass
class _Decoded:
    """One decoded container: ``columns`` (one list per field, wire
    values for dates and timestamps, wire kinds in ``plan``) for a flat
    schema, ``rows`` (one dict per record) otherwise."""

    schema_json: str
    schema: T.StructType
    codec: str
    columns: list[list] | None = None
    rows: list[dict] | None = None
    plan: tuple | None = None

    def to_rows(self) -> list[dict]:
        if self.columns is None:
            return self.rows
        cols = []
        for f, col, (kind, *_) in zip(self.schema.fields, self.columns, self.plan):
            conv = _FROM_WIRE.get(type(f.dataType))
            scale = 1000 if kind == "millis" else 1
            if conv is not None:
                col = [None if v is None else conv(v * scale) for v in col]
            cols.append(col)
        names = self.schema.names
        return [dict(zip(names, vals)) for vals in zip(*cols)]

    def to_batch(self, arrow_schema: "pa.Schema") -> "pa.RecordBatch":
        import pyarrow as pa

        if self.columns is None:
            return pa.RecordBatch.from_pylist(self.rows, schema=arrow_schema)
        arrays = []
        for c, f, (kind, *_) in zip(self.columns, arrow_schema, self.plan):
            if kind == "millis":  # exact ms -> us widening
                arrays.append(pa.array(c, pa.timestamp("ms", f.type.tz)).cast(f.type))
            else:
                arrays.append(pa.array(c, type=f.type))
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def _decode(data) -> _Decoded:
    """Decode one container under its own writer schema: the columnar
    decoder when the schema is flat, the row codec otherwise."""
    from hyppo_worker_spark.sources.avro_schema import (
        avro_to_struct,
        null_branch_indices,
        special_codecs,
    )

    buf = memoryview(data)
    meta, pos = _read_header(buf)
    schema_json = meta["avro.schema"].decode()
    codec = meta.get("avro.codec", b"null").decode()
    schema = avro_to_struct(schema_json)
    # branch bytes follow the file's DECLARED union order — a foreign
    # ["null",T] file decodes correctly, not just our own [T,"null"]
    null_branch = null_branch_indices(schema_json)
    # enum (zigzag symbol index) and fixed (raw N bytes) sites encode
    # differently from the StringType/BinaryType they map to
    special = special_codecs(schema_json)
    sync = bytes(buf[pos : pos + 16])
    blocks = _blocks(buf, pos + 16, codec, sync)
    plan = _flat_plan(schema, null_branch, special)
    out = _Decoded(schema_json, schema, codec, plan=plan)
    if plan is not None:
        decode = _flat_decoder(plan)
        out.columns = [[] for _ in plan]
        for count, body in blocks:
            try:
                end = decode(body, count, out.columns)
            except (IndexError, struct.error) as e:
                raise ValueError(f"corrupt container block: {e}") from e
            _check_consumed(end, body)
        return out
    # decoders built ONCE per file with the file's own null-branch map,
    # so nested unions (array items, map values, struct fields) also
    # honor the declared order
    decs_nb = [
        (
            f.name,
            null_branch.get(f.name, 1) if f.nullable else None,
            _field_decoder(f.dataType, null_branch, f.name, special),
        )
        for f in schema.fields
    ]
    zz = zigzag_decode
    rows = out.rows = []
    append = rows.append
    for count, body in blocks:
        bview = memoryview(body)
        bpos = 0
        for _ in range(count):
            row = {}
            for name, nb, dec in decs_nb:
                if nb is not None:
                    branch, bpos = zz(bview, bpos)
                    if branch == nb:
                        row[name] = None
                        continue
                row[name], bpos = dec(bview, bpos)
            append(row)
        _check_consumed(bpos, body)
    return out


def read_container(
    data: bytes, reader_schema: str | dict | None = None
) -> tuple[T.StructType, str, list[dict]]:
    """Decode one container file → (schema, codec, rows).

    With ``reader_schema`` (Avro record schema JSON), rows are decoded
    under the file's own WRITER schema and then resolved to the
    reader's shape per the spec's Schema Resolution rules; the
    returned StructType is the reader's."""
    got = _decode(data)
    rows = got.to_rows()
    if reader_schema is None:
        return got.schema, got.codec, rows
    from hyppo_worker_spark.sources.avro_schema import (
        avro_to_struct,
        schema_resolver,
    )

    reader_json = (
        reader_schema if isinstance(reader_schema, str) else json.dumps(reader_schema)
    )
    conv = schema_resolver(got.schema_json, reader_json)
    return avro_to_struct(reader_json), got.codec, [conv(r) for r in rows]


# -- distributed read/write ----------------------------------------------


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    declared_schema: str | dict | None = None,
    digests: list | None = None,
) -> int:
    """Distributed container write: each partition encodes its rows to
    one ``part-*.avro`` file (the per-task file layout of the records
    zone). Executor-side file IO — no driver collect of row data.
    Returns the total record count (observed from the write itself,
    like the Observation on the jar path). A ``digests`` list receives
    one ``(size, md5 hex)`` pair per file written, computed from the
    bytes as they were written, so a manifest needs no re-read.

    Arrow-native (``mapInArrow``): a pandas hop would widen nullable
    int64 columns to float64 and silently round ids above 2^53 — the
    Arrow buffers keep exact ints and real nulls."""
    import pyarrow as pa

    schema = df.schema
    os.makedirs(path, exist_ok=True)
    out_schema = pa.schema(
        [("n", pa.int64()), ("size", pa.int64()), ("md5", pa.string())]
    )

    def enc(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        batches = list(it)
        n = sum(b.num_rows for b in batches)
        if n:
            blob = write_container_arrow(
                schema,
                pa.Table.from_batches(batches),
                codec=codec,
                declared_schema=declared_schema,
            )
            size, md5 = _put_part(path, blob)
            row = {"n": n, "size": size, "md5": md5}
            yield pa.RecordBatch.from_pylist([row], schema=out_schema)

    # one pass and one Spark job: each written partition returns its
    # count and file digest, summed here (no aggregate, no shuffle)
    written = df.mapInArrow(enc, "n long, size long, md5 string").collect()
    _seal(schema, path, codec, [(r.size, r.md5) for r in written], digests)
    return sum(r.n for r in written)


def write_avro_local(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    digests: list | None = None,
) -> int:
    """``write_avro`` with the encode on the driver, for a small frame:
    the same part files (one per non-empty partition, the same bytes),
    the same ``part-empty.avro`` for an empty frame, the same digests
    and count.

    ``toArrow()`` collects the rows as Arrow batches built in the JVM:
    one Spark job and no Python worker beyond those the frame's own
    plan runs. Each row carries its partition id, so the rows split
    into the part files ``write_avro``'s encoder would write (a
    projection the optimizer folds into a local relation runs as one
    partition, so there it writes one file).

    Memory: ``write_avro``'s encoder already holds a whole partition in
    one Python worker (``batches = list(it)``), and a frame built from
    one small file is one partition. This path moves that same table
    into the driver; it does not make it bigger. Callers gate it on
    the input's size (``storage.LOCAL_READ_MAX_BYTES``)."""
    import numpy as np
    from pyspark.sql import functions as F

    schema = df.schema
    os.makedirs(path, exist_ok=True)
    part = "_part"
    while part in schema.names:
        part = "_" + part
    table = df.withColumn(part, F.spark_partition_id()).toArrow()
    # rows arrive in partition order: a part file per run of one id
    ids = table.column(part).to_numpy()
    table = table.drop_columns([part])
    bounds = [0, *(np.flatnonzero(np.diff(ids)) + 1), table.num_rows]
    files = [
        _put_part(path, write_container_arrow(schema, table.slice(a, b - a), codec))
        for a, b in zip(bounds, bounds[1:])
        if b > a
    ]
    _seal(schema, path, codec, files, digests)
    return table.num_rows


def _put_part(path: str, blob: bytes, name: str | None = None) -> tuple[int, str]:
    """Write one part file under ``path`` through a tmp file and
    ``os.replace``; returns its (size, md5 hex), taken from ``blob``."""
    name = name or f"part-{uuid.uuid4().hex}.avro"
    tmp = os.path.join(path, "." + name + ".tmp")
    with open(tmp, "wb") as fh:
        fh.write(blob)
    os.replace(tmp, os.path.join(path, name))
    return len(blob), hashlib.md5(blob).hexdigest()


def _seal(
    schema: T.StructType,
    path: str,
    codec: str,
    files: list[tuple[int, str]],
    digests: list | None,
) -> None:
    """Finish a write of ``files``: an empty dataset gets one
    header-only container so readers see the schema (mirrors the jar
    path's empty part file); ``digests`` receives every file's
    (size, md5)."""
    if not any(f.endswith(".avro") for f in os.listdir(path)):
        blob = write_container(schema, [], codec=codec)
        files = [*files, _put_part(path, blob, "part-empty.avro")]
    if digests is not None:
        digests.extend(files)


def read_avro(
    spark: SparkSession,
    path: str,
    expected: T.StructType | None = None,
    reader_schema: str | dict | None = None,
) -> DataFrame:
    """Distributed container read: binaryFile scan + mapInArrow
    decode; each file's header schema must match ``expected`` (or the
    first file's schema when omitted — taken from that file's header
    on the driver, no record decoded). Arrow-native for the same
    exact-int64 reason as ``write_avro``.

    ``reader_schema`` (Avro record schema JSON) enables SCHEMA
    RESOLUTION (spec "Schema Resolution"): every file decodes under
    its OWN writer schema, then each row resolves to the reader's
    shape — writer-only fields dropped, reader-only fields filled
    from declared defaults, primitive promotions and enum-symbol
    fallbacks applied. This is how an integration reads a records
    zone written across schema versions; files that cannot resolve
    (missing default, illegal promotion) fail loud per file."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from hyppo_worker_spark.sources.avro_schema import avro_to_struct

    if reader_schema is not None:
        if expected is not None:
            raise ValueError(
                "pass either expected (exact-match read) or "
                "reader_schema (resolving read), not both"
            )
        reader_json = (
            reader_schema
            if isinstance(reader_schema, str)
            else json.dumps(reader_schema)
        )
        expected = avro_to_struct(reader_json)
    else:
        reader_json = None
    if expected is None:
        first = sorted(f for f in os.listdir(path) if f.endswith(".avro"))
        if not first:
            raise FileNotFoundError(f"no .avro files under {path}")
        # the header alone: no record is decoded on the driver
        with open(os.path.join(path, first[0]), "rb") as fh:
            expected = avro_to_struct(_embedded_schema_json(fh.read()))
    exp = expected

    # pathGlobFilter, not a glob-in-path: a glob path makes Spark's
    # FileStreamSink metadata probe log a WARN+stacktrace per load.
    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
    )

    arrow_schema = to_arrow_schema(exp)

    def dec(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in it:
            for r in batch.to_pylist():
                blob = r["content"]
                if reader_json is not None:
                    # per-file resolution from the file's own writer
                    # schema to the reader's
                    _, _, rows = read_container(blob, reader_schema=reader_json)
                    if rows:
                        yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
                    continue
                out = decode_checked(blob, exp, arrow_schema, r["path"])
                if out.num_rows:
                    yield out

    return bin_df.mapInArrow(dec, exp)


def decode_checked(
    blob: bytes, expected: T.StructType, arrow_schema: "pa.Schema", where: str
) -> "pa.RecordBatch":
    """One container file → one Arrow batch of ``arrow_schema``; its
    header schema must equal ``expected``. The per-file step of both
    ``read_avro`` (on executors) and ``local_avro_frame`` (on the
    driver)."""
    got = _decode(blob)
    if got.schema != expected:
        raise ValueError(
            f"avro schema mismatch in {where}: {got.schema} != {expected}"
        )
    return got.to_batch(arrow_schema)


def local_avro_frame(
    spark: SparkSession, blobs: list[tuple[str, bytes]]
) -> DataFrame:
    """Driver-side container read of bytes already in memory, as
    ``(path, content)`` pairs: decode each file (its schema must equal
    the first file's, as in ``read_avro``) and return an Arrow local
    relation (``LocalTableScan``) — the batches ship to the JVM once and
    no plan node runs Python. For small datasets only: every record is
    held on the driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from hyppo_worker_spark.sources.avro_schema import avro_to_struct

    if not blobs:
        raise FileNotFoundError("no .avro files to read")
    exp = avro_to_struct(_embedded_schema_json(blobs[0][1]))
    arrow_schema = to_arrow_schema(exp)
    table = pa.Table.from_batches(
        [decode_checked(b, exp, arrow_schema, p) for p, b in blobs],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, exp)


def _strip_nullability(dt: T.DataType) -> T.DataType:
    """Structural copy with every nullable/containsNull flag forced
    True — shape comparison that ignores Spark's pessimistic column
    nullability."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _strip_nullability(f.dataType), True)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _strip_nullability(dt.keyType),
            _strip_nullability(dt.valueType),
            True,
        )
    return dt
