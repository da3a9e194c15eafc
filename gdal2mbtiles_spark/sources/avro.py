"""Minimal Apache Avro Object Container File reader/writer.

The Iceberg table format stores its manifest lists and manifest files
as Avro containers; this sandbox has no Iceberg runtime jar (and no
``fastavro``), so the native Iceberg read path
(``sources/iceberg.py``) carries its own from-scratch codec for the
subset of Avro the Iceberg spec uses.  Everything here follows the
PUBLIC Avro 1.11 specification (container framing, zigzag varints,
deflate codec = raw RFC-1951); no reference-repo counterpart exists
(the reference shells out to GDAL and never touches table formats).

Supported schema types: null, boolean, int, long, float, double,
bytes, string, fixed, enum (as index), record, array, map, union.
The decoder is WRITER-SCHEMA driven (the schema embedded in the file
header), so containers produced by other writers read correctly as
long as they stay inside this subset — which the Iceberg v2 manifest
schemas do.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from typing import Any, Dict, Iterator, List

MAGIC = b"Obj\x01"


# ---- primitive codecs -------------------------------------------------------

def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: bytearray, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def read_long(src: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        byte = src.read(1)
        if not byte:
            raise EOFError("avro: truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc)
        shift += 7
        if shift > 70:
            raise ValueError("avro: varint too long")


def _write_bytes(buf: bytearray, data: bytes) -> None:
    write_long(buf, len(data))
    buf.extend(data)


def _read_bytes(src: io.BytesIO) -> bytes:
    n = read_long(src)
    if n < 0:
        raise ValueError("avro: negative byte length")
    data = src.read(n)
    if len(data) != n:
        raise EOFError("avro: truncated bytes")
    return data


# ---- schema-driven value codec ---------------------------------------------

def _schema_type(schema: Any) -> Any:
    """Normalize a schema node: bare strings are primitive names."""
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return schema                          # union
    return schema["type"]


def encode_value(buf: bytearray, schema: Any, value: Any) -> None:
    t = _schema_type(schema)
    if isinstance(t, list):                    # union: index + value
        idx = _union_branch(t, value)
        write_long(buf, idx)
        encode_value(buf, t[idx], value)
        return
    if t == "null":
        return
    if t == "boolean":
        buf.append(1 if value else 0)
    elif t in ("int", "long"):
        write_long(buf, int(value))
    elif t == "float":
        buf.extend(struct.pack("<f", float(value)))
    elif t == "double":
        buf.extend(struct.pack("<d", float(value)))
    elif t == "bytes":
        _write_bytes(buf, bytes(value))
    elif t == "string":
        _write_bytes(buf, value.encode("utf-8"))
    elif t == "fixed":
        data = bytes(value)
        if len(data) != schema["size"]:
            raise ValueError("avro: fixed size mismatch")
        buf.extend(data)
    elif t == "enum":
        write_long(buf, schema["symbols"].index(value))
    elif t == "record":
        for field in schema["fields"]:
            encode_value(buf, field["type"], value[field["name"]])
    elif t == "array":
        items = list(value)
        if items:
            write_long(buf, len(items))
            for item in items:
                encode_value(buf, schema["items"], item)
        write_long(buf, 0)
    elif t == "map":
        entries = dict(value)
        if entries:
            write_long(buf, len(entries))
            for k, v in entries.items():
                _write_bytes(buf, k.encode("utf-8"))
                encode_value(buf, schema["values"], v)
        write_long(buf, 0)
    else:
        raise ValueError(f"avro: unsupported schema type {t!r}")


def _union_branch(union: List[Any], value: Any) -> int:
    """Pick the union branch for a python value: None -> 'null',
    otherwise the first non-null branch (the Iceberg manifest schemas
    only use [null, X] unions)."""
    for i, branch in enumerate(union):
        if _schema_type(branch) == "null" and value is None:
            return i
    for i, branch in enumerate(union):
        if _schema_type(branch) != "null":
            return i
    raise ValueError("avro: no union branch for value")


def decode_value(src: io.BytesIO, schema: Any) -> Any:
    t = _schema_type(schema)
    if isinstance(t, list):
        idx = read_long(src)
        if not 0 <= idx < len(t):
            # a corrupted varint must error, not silently pick a
            # branch via Python negative indexing
            raise ValueError(
                f"avro: union branch index {idx} out of range "
                f"(union has {len(t)} branches)")
        return decode_value(src, t[idx])
    if t == "null":
        return None
    if t == "boolean":
        return src.read(1)[0] != 0
    if t in ("int", "long"):
        return read_long(src)
    if t == "float":
        return struct.unpack("<f", src.read(4))[0]
    if t == "double":
        return struct.unpack("<d", src.read(8))[0]
    if t == "bytes":
        return _read_bytes(src)
    if t == "string":
        return _read_bytes(src).decode("utf-8")
    if t == "fixed":
        return src.read(schema["size"])
    if t == "enum":
        return schema["symbols"][read_long(src)]
    if t == "record":
        return {field["name"]: decode_value(src, field["type"])
                for field in schema["fields"]}
    if t == "array":
        out = []
        while True:
            count = read_long(src)
            if count == 0:
                return out
            if count < 0:               # block with byte-size prefix
                count = -count
                read_long(src)
            for _ in range(count):
                out.append(decode_value(src, schema["items"]))
    if t == "map":
        out = {}
        while True:
            count = read_long(src)
            if count == 0:
                return out
            if count < 0:
                count = -count
                read_long(src)
            for _ in range(count):
                k = _read_bytes(src).decode("utf-8")
                out[k] = decode_value(src, schema["values"])
    raise ValueError(f"avro: unsupported schema type {t!r}")


# ---- object container file --------------------------------------------------

_META_SCHEMA = {"type": "map", "values": "bytes"}
# deterministic sync marker: files must be byte-reproducible across
# runs (the engine's golden-bytes discipline); uniqueness per file is
# only needed to DETECT corruption, which the explicit compare below
# provides just as well
_SYNC = bytes(range(16))


def write_container(path: str, schema: Dict, records: List[Dict],
                    codec: str = "deflate",
                    records_per_block: int = 1000) -> None:
    """Write an Avro Object Container File (spec 1.11 framing)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: unsupported codec {codec!r}")
    buf = bytearray()
    buf.extend(MAGIC)
    encode_value(buf, _META_SCHEMA, {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    })
    buf.extend(_SYNC)
    for i in range(0, max(len(records), 1), records_per_block):
        block = records[i:i + records_per_block]
        if not block:
            break
        payload = bytearray()
        for rec in block:
            encode_value(payload, schema, rec)
        body = bytes(payload)
        if codec == "deflate":               # raw RFC-1951 per spec
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = co.compress(bytes(payload)) + co.flush()
        write_long(buf, len(block))
        write_long(buf, len(body))
        buf.extend(body)
        buf.extend(_SYNC)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(bytes(buf))
    os.replace(tmp, path)


def read_container(path: str) -> Iterator[Dict]:
    """Yield records from an Avro Object Container File, decoding with
    the embedded writer schema."""
    with open(path, "rb") as fh:
        data = fh.read()
    src = io.BytesIO(data)
    if src.read(4) != MAGIC:
        raise ValueError(f"avro: bad magic in {path}")
    meta = decode_value(src, _META_SCHEMA)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: unsupported codec {codec!r}")
    sync = src.read(16)
    while True:
        head = src.read(1)
        if not head:
            return
        src.seek(-1, io.SEEK_CUR)
        count = read_long(src)
        size = read_long(src)
        body = src.read(size)
        if len(body) != size:
            raise EOFError("avro: truncated block")
        if codec == "deflate":
            body = zlib.decompress(body, -15)
        block = io.BytesIO(body)
        for _ in range(count):
            yield decode_value(block, schema)
        if src.read(16) != sync:
            raise ValueError(f"avro: sync marker mismatch in {path}")


def container_schema(path: str) -> Dict:
    """The writer schema embedded in a container's header."""
    with open(path, "rb") as fh:
        head = fh.read(1 << 20)
    src = io.BytesIO(head)
    if src.read(4) != MAGIC:
        raise ValueError(f"avro: bad magic in {path}")
    meta = decode_value(src, _META_SCHEMA)
    return json.loads(meta["avro.schema"].decode("utf-8"))
