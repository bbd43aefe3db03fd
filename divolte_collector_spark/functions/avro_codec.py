"""Binary Avro record codec + schema fingerprints (reference §2.14).

The reference encodes each mapped record ONCE as binary Avro and fans
the buffer out to every sink (AvroRecordBuffer.java:93-112). Sinks
frame it:

- Kafka "naked" mode: the raw binary-Avro record
  (AvroRecordBufferSerializer.java:27-45);
- Kafka "confluent" mode: ``0x00`` magic + int32-BE schema id + record
  (ConfluentAvroRecordBufferSerializer.java:28-45);
- Pub/Sub: record bytes + attributes incl. base64url SHA-256
  ``SchemaNormalization.parsingFingerprint`` of the schema
  (GoogleCloudPubSubFlusher.java:45-91).

No spark-avro or python-avro package is available in this environment,
so the (small, fully-specified) wire format is implemented here from
the public Avro 1.x specification: zigzag-varint ints/longs, UTF-8
length-prefixed strings/bytes, little-endian IEEE floats, union index
prefix, block-encoded arrays/maps. Schemas are the same dicts
mapping/avro_schema.py validates (trivial [null,T] unions only).

The sinks encode through :func:`compile_encoder`, which turns one
Arrow batch (``mapInArrow``) into a binary column of records with Arrow
compute and numpy, so records never become Python objects;
:func:`encode_record` is the per-record reference it is tested against.
"""

from __future__ import annotations

import hashlib
import json
import struct
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# --- primitives -------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def encode_long(n: int) -> bytes:
    """Avro long: zigzag then varint."""
    z = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def encode_bytes(b: bytes) -> bytes:
    return encode_long(len(b)) + b


def encode_string(s: str) -> bytes:
    return encode_bytes(s.encode("utf-8"))


# --- record encoding --------------------------------------------------------


def _encode_value(avro_type: Any, value: Any) -> bytes:
    if isinstance(avro_type, list):  # trivial [null, T] union
        non_null = [t for t in avro_type if t != "null"]
        if value is None:
            return encode_long(avro_type.index("null"))
        return encode_long(avro_type.index(non_null[0])) + _encode_value(
            non_null[0], value
        )
    if isinstance(avro_type, dict):
        kind = avro_type["type"]
        if kind == "record":
            return encode_record(avro_type, value)
        if kind == "array":
            if not value:
                return encode_long(0)
            body = b"".join(_encode_value(avro_type["items"], v) for v in value)
            return encode_long(len(value)) + body + encode_long(0)
        if kind == "map":
            if not value:
                return encode_long(0)
            # a dict, or the (key, value) pairs Arrow's to_pylist gives
            items = value.items() if isinstance(value, dict) else value
            body = b"".join(
                encode_string(k) + _encode_value(avro_type["values"], v)
                for k, v in items
            )
            return encode_long(len(value)) + body + encode_long(0)
        if kind == "enum":
            return encode_long(avro_type["symbols"].index(value))
        if kind == "fixed":
            if len(value) != avro_type["size"]:
                raise ValueError("fixed size mismatch")
            return bytes(value)
        avro_type = kind  # named primitive, fall through
    if avro_type == "null":
        return b""
    if avro_type == "boolean":
        return b"\x01" if value else b"\x00"
    if avro_type in ("int", "long"):
        return encode_long(int(value))
    if avro_type == "float":
        return struct.pack("<f", float(value))
    if avro_type == "double":
        return struct.pack("<d", float(value))
    if avro_type == "string":
        return encode_string(value)
    if avro_type == "bytes":
        return encode_bytes(bytes(value))
    raise ValueError(f"unsupported Avro type: {avro_type!r}")


def encode_record(schema: dict, record: dict) -> bytes:
    """Binary-Avro encode ``record`` (a plain dict) against ``schema``."""
    out = []
    for f in schema["fields"]:
        value = record.get(f["name"], f.get("default"))
        out.append(_encode_value(f["type"], value))
    return b"".join(out)


# --- vectorized record encoding (Arrow) --------------------------------------
# The same bytes as encode_record, built for a whole Arrow batch at once:
# every primitive field becomes one or two binary columns (union tag,
# varint length or value bytes) and the record is a single element-wise
# join over all of them. Nested types go through _encode_value per value.

_PRIMITIVES = ("null", "boolean", "int", "long", "float", "double", "string", "bytes")
_EMPTY = pa.scalar(b"", pa.binary())
_TRUE = pa.scalar(b"\x01", pa.binary())
_FALSE = pa.scalar(b"\x00", pa.binary())


def _offsets(width: np.ndarray) -> np.ndarray:
    offsets = np.zeros(len(width) + 1, np.int32)
    np.cumsum(width, out=offsets[1:])
    return offsets


def _binary_array(offsets: np.ndarray, data: bytes | np.ndarray) -> pa.BinaryArray:
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets), pa.py_buffer(data)],
    )


def _varints(values: np.ndarray, valid: np.ndarray | None = None) -> pa.BinaryArray:
    """Zigzag varints of an int64 vector; rows where ``valid`` is False
    get no bytes."""
    v = values.astype(np.int64, copy=False)
    z = (v.view(np.uint64) << np.uint64(1)) ^ (v >> 63).view(np.uint64)
    width = np.ones(len(z), np.int32)
    rest = z >> np.uint64(7)
    while rest.any():
        width += rest != 0
        rest >>= np.uint64(7)
    if valid is not None:
        width[~valid] = 0
    offsets = _offsets(width)
    data = np.empty(int(offsets[-1]), np.uint8)
    for k in range(int(width.max(initial=0))):
        rows = np.flatnonzero(width > k)
        byte = (z[rows] >> np.uint64(7 * k)) & np.uint64(0x7F)
        byte |= (width[rows] > k + 1).astype(np.uint64) << np.uint64(7)
        data[offsets[rows] + k] = byte
    return _binary_array(offsets, data)


def _numpy(col: pa.Array, arrow_type: pa.DataType, dtype: str):
    """(values with nulls as 0, validity mask or None) of ``col``."""
    col = col.cast(arrow_type)
    valid = None
    if col.null_count:
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        col = col.fill_null(0)
    return col.to_numpy(zero_copy_only=False).astype(dtype, copy=False), valid


def _fixed_width(values: np.ndarray, valid: np.ndarray | None) -> pa.BinaryArray:
    width = np.full(len(values), values.dtype.itemsize, np.int32)
    if valid is not None:
        width[~valid] = 0
        values = values[valid]
    return _binary_array(_offsets(width), values.tobytes())


def _length_prefixed(col: pa.Array) -> list:
    col = col.cast(pa.binary())
    # null rows get no length bytes (_varints) and an empty value
    prefix = _varints(*_numpy(pc.binary_length(col), pa.int64(), "int64"))
    return [prefix, col.fill_null(b"") if col.null_count else col]


def _primitive_pieces(kind: str, col: pa.Array) -> list:
    """The pieces of a primitive value's bytes; null rows get none."""
    if kind == "null":
        return []
    if kind == "boolean":
        out = pc.if_else(col.cast(pa.bool_()), _TRUE, _FALSE)
        return [out.fill_null(b"") if out.null_count else out]
    if kind in ("int", "long"):
        return [_varints(*_numpy(col, pa.int64(), "int64"))]
    if kind == "float":
        return [_fixed_width(*_numpy(col, pa.float64(), "<f4"))]
    if kind == "double":
        return [_fixed_width(*_numpy(col, pa.float64(), "<f8"))]
    return _length_prefixed(col)  # string, bytes


def _primitive(avro_type: Any) -> str | None:
    """The primitive type name ``avro_type`` stands for, if any."""
    if isinstance(avro_type, dict):
        avro_type = avro_type["type"]
    return avro_type if avro_type in _PRIMITIVES else None


def _field_encoder(avro_type: Any) -> Callable[[pa.Array], list]:
    """Compile one field type to a function from its column to the
    pieces (arrays, or scalars broadcast over the batch) of its bytes."""
    kind = _primitive(avro_type)
    if kind:

        def required(col: pa.Array) -> list:
            if col.null_count:
                if kind != "boolean":
                    raise ValueError(f"null value for non-null Avro {kind}")
                col = col.fill_null(False)
            return _primitive_pieces(kind, col)

        return required
    if isinstance(avro_type, list) and len(avro_type) == 2 and "null" in avro_type:
        null_index = avro_type.index("null")
        branch = _primitive(avro_type[1 - null_index])
        if branch:
            null_tag = pa.scalar(encode_long(null_index), pa.binary())
            tag = pa.scalar(encode_long(1 - null_index), pa.binary())

            def nullable(col: pa.Array) -> list:
                if col.null_count:
                    tag_col = pc.if_else(col.is_valid(), tag, null_tag)
                else:
                    tag_col = tag
                return [tag_col, *_primitive_pieces(branch, col)]

            return nullable

    def nested(col: pa.Array) -> list:
        return [
            pa.array(
                [_encode_value(avro_type, v) for v in col.to_pylist()], pa.binary()
            )
        ]

    return nested


def compile_encoder(schema: dict) -> Callable[[pa.RecordBatch], pa.BinaryArray]:
    """Compile a record schema to a function from a ``pa.RecordBatch``
    to a ``pa.BinaryArray`` holding each row's binary-Avro record,
    byte-identical to :func:`encode_record` on the row as a dict.

    Columns are looked up by field name (extra columns are ignored); a
    field without a column takes its schema default."""
    fields = [
        (f["name"], f.get("default"), _field_encoder(f["type"]))
        for f in schema["fields"]
    ]

    def encode(batch: pa.RecordBatch) -> pa.BinaryArray:
        n = batch.num_rows
        pieces = []
        for name, default, field in fields:
            i = batch.schema.get_field_index(name)
            if i >= 0:
                col = batch.column(i)
            elif default is None:
                col = pa.nulls(n)
            else:
                col = pa.array([default] * n)
            pieces.extend(field(col))
        if not pieces:
            return pa.repeat(_EMPTY, n)
        return pc.binary_join_element_wise(*pieces, _EMPTY)

    return encode


def _decode_value(avro_type: Any, buf: bytes, pos: int) -> tuple[Any, int]:
    if isinstance(avro_type, list):
        idx, pos = decode_long(buf, pos)
        branch = avro_type[idx]
        if branch == "null":
            return None, pos
        return _decode_value(branch, buf, pos)
    if isinstance(avro_type, dict):
        kind = avro_type["type"]
        if kind == "record":
            rec = {}
            for f in avro_type["fields"]:
                rec[f["name"]], pos = _decode_value(f["type"], buf, pos)
            return rec, pos
        if kind == "array":
            items = []
            while True:
                n, pos = decode_long(buf, pos)
                if n == 0:
                    return items, pos
                if n < 0:
                    _, pos = decode_long(buf, pos)  # block byte size
                    n = -n
                for _ in range(n):
                    v, pos = _decode_value(avro_type["items"], buf, pos)
                    items.append(v)
        if kind == "map":
            m = {}
            while True:
                n, pos = decode_long(buf, pos)
                if n == 0:
                    return m, pos
                if n < 0:
                    _, pos = decode_long(buf, pos)
                    n = -n
                for _ in range(n):
                    klen, pos2 = decode_long(buf, pos)
                    k = buf[pos2 : pos2 + klen].decode("utf-8")
                    pos = pos2 + klen
                    m[k], pos = _decode_value(avro_type["values"], buf, pos)
        if kind == "enum":
            idx, pos = decode_long(buf, pos)
            return avro_type["symbols"][idx], pos
        if kind == "fixed":
            size = avro_type["size"]
            return buf[pos : pos + size], pos + size
        avro_type = kind
    if avro_type == "null":
        return None, pos
    if avro_type == "boolean":
        return buf[pos] == 1, pos + 1
    if avro_type in ("int", "long"):
        return decode_long(buf, pos)
    if avro_type == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if avro_type == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if avro_type == "string":
        n, pos = decode_long(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if avro_type == "bytes":
        n, pos = decode_long(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    raise ValueError(f"unsupported Avro type: {avro_type!r}")


def decode_record(schema: dict, buf: bytes) -> dict:
    rec, _ = _decode_value(schema, buf, 0)
    return rec


# --- schema normalization / fingerprints ------------------------------------

_CANONICAL_KEEP = ("name", "type", "fields", "symbols", "items", "values", "size")


def _canonical(schema: Any, namespace: str | None = None) -> Any:
    """Avro Parsing Canonical Form (Avro spec §"Transforming into
    Parsing Canonical Form"): keep only structural attributes, resolve
    fullnames, order attributes canonically."""
    if isinstance(schema, str):
        if schema in ("null", "boolean", "int", "long", "float", "double",
                      "bytes", "string"):
            return schema
        # named-type reference: qualify with enclosing namespace
        return schema if "." in schema or not namespace else f"{namespace}.{schema}"
    if isinstance(schema, list):
        return [_canonical(s, namespace) for s in schema]
    kind = schema["type"]
    if kind in ("record", "enum", "fixed"):
        name = schema["name"]
        ns = schema.get("namespace", namespace)
        fullname = name if "." in name or not ns else f"{ns}.{name}"
        out: dict[str, Any] = {"name": fullname, "type": kind}
        if kind == "record":
            out["fields"] = [
                {"name": f["name"], "type": _canonical(f["type"], ns)}
                for f in schema["fields"]
            ]
        elif kind == "enum":
            out["symbols"] = schema["symbols"]
        else:
            out["size"] = schema["size"]
        return out
    if kind == "array":
        return {"type": "array", "items": _canonical(schema["items"], namespace)}
    if kind == "map":
        return {"type": "map", "values": _canonical(schema["values"], namespace)}
    return _canonical(kind, namespace)


def parsing_canonical_form(schema: dict) -> str:
    """JSON text of the canonical form, minimal whitespace, field order
    name,type,fields/symbols/items/values/size (per the Avro spec)."""

    def order(obj: Any) -> Any:
        if isinstance(obj, dict):
            return {k: order(obj[k]) for k in _CANONICAL_KEEP if k in obj}
        if isinstance(obj, list):
            return [order(x) for x in obj]
        return obj

    return json.dumps(order(_canonical(schema)), separators=(",", ":"))


def schema_fingerprint_sha256(schema: dict) -> bytes:
    """``SchemaNormalization.parsingFingerprint("SHA-256", schema)`` —
    SHA-256 over the UTF-8 parsing canonical form
    (GoogleCloudPubSubFlusher.java:74-79)."""
    return hashlib.sha256(parsing_canonical_form(schema).encode("utf-8")).digest()


# --- object container files (Avro spec §"Object Container Files") -----------

OCF_MAGIC = b"Obj\x01"
_META_SCHEMA = {"type": "map", "values": "bytes"}


def default_sync_marker(schema: dict) -> bytes:
    """Deterministic 16-byte sync marker derived from the schema
    fingerprint (byte-identical output for identical input; pass 16
    random bytes for the reference's exact DataFileWriter behavior)."""
    return schema_fingerprint_sha256(schema)[:16]


def container_header(schema: dict, sync_marker: bytes) -> bytes:
    """OCF header: magic, file-metadata map (``avro.schema`` JSON +
    ``avro.codec`` null), 16-byte sync marker. An OCF is this header
    followed by any number of independent blocks — which is what makes
    the container format APPEND-ABLE: a writer can emit blocks as data
    arrives without buffering the file."""
    if len(sync_marker) != 16:
        raise ValueError("sync marker must be 16 bytes")
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode("utf-8"),
        "avro.codec": b"null",
    }
    return b"".join([OCF_MAGIC, _encode_value(_META_SCHEMA, meta), sync_marker])


def container_block(schema: dict, records: list[dict], sync_marker: bytes) -> bytes:
    """One OCF block: (count, byte-size, records, sync). A reader can
    recover at every block boundary — the reference's
    sync-every-N-records durability granularity
    (FileStrategyConfiguration ``syncFileAfterRecords``)."""
    body = b"".join(encode_record(schema, r) for r in records)
    return b"".join(
        [encode_long(len(records)), encode_long(len(body)), body, sync_marker]
    )


def encoded_block(encoded: pa.BinaryArray, sync_marker: bytes) -> bytes:
    """One OCF block over records already encoded by
    :func:`compile_encoder`: the block body is the slice of the array's
    data buffer that its rows span."""
    _, offsets, data = encoded.buffers()
    offsets = np.frombuffer(offsets, np.int32)
    start = int(offsets[encoded.offset])
    end = int(offsets[encoded.offset + len(encoded)])
    body = data.slice(start, end - start)
    return b"".join(
        [encode_long(len(encoded)), encode_long(end - start), body, sync_marker]
    )


def container_bytes(
    schema: dict,
    records: list[dict],
    sync_marker: bytes | None = None,
    block_records: int = 1000,
) -> bytes:
    """Serialize records as a complete Avro Object Container File
    (header + blocks of ``block_records``); see container_header /
    container_block for the streaming-append decomposition."""
    if sync_marker is None:
        sync_marker = default_sync_marker(schema)
    out = [container_header(schema, sync_marker)]
    for i in range(0, len(records), block_records):
        out.append(
            container_block(schema, records[i : i + block_records], sync_marker)
        )
    return b"".join(out)


def read_container(buf: bytes) -> tuple[dict, list[dict]]:
    """Parse an Avro Object Container File -> (schema, records).

    Validates magic, codec, and every block's sync marker — the
    read-back half of the K1 integration test."""
    if buf[:4] != OCF_MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta, pos = _decode_value(_META_SCHEMA, buf, 4)
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(f"unsupported container codec: {codec!r}")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    sync = buf[pos : pos + 16]
    pos += 16
    records: list[dict] = []
    while pos < len(buf):
        n, pos = decode_long(buf, pos)
        size, pos = decode_long(buf, pos)
        block_end = pos + size
        for _ in range(n):
            rec, pos = _decode_value(schema, buf, pos)
            records.append(rec)
        if pos != block_end:
            raise ValueError("container block size mismatch")
        if buf[pos : pos + 16] != sync:
            raise ValueError("container sync marker mismatch")
        pos += 16
    return schema, records


# --- sink framings ----------------------------------------------------------

CONFLUENT_MAGIC = b"\x00"


def confluent_frame(schema_id: int, avro_bytes: bytes) -> bytes:
    """``0x00 + int32-BE schema id + naked avro``
    (ConfluentAvroRecordBufferSerializer.java:28-45)."""
    return CONFLUENT_MAGIC + struct.pack(">i", schema_id) + avro_bytes
