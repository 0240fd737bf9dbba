"""Remaining format parsers: xml, yaml, ruby hash, regex_all,
replace_with, json-schema validation, cbor, protobuf and the snappy,
LZ4 and zstd codecs.

yaml + jsonschema are used directly. Snappy and LZ4 (both ways) and
zstd decoding run on the libsnappy, liblz4 and libzstd that pyarrow
links; the zstd encoder is the pure-Python one in
vrl_spark.functions.zstdcodec, whose bytes a frozen oracle vector
pins. cbor has its own minimal RFC 8949 decoder below;
parse_proto/encode_proto ride the from-scratch wire codec in
vrl_spark.functions.proto (FileDescriptorSet bootstrap included)."""

from __future__ import annotations

import functools
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------
# parse_regex_all (reference src/stdlib/parse_regex_all.rs)
# ---------------------------------------------------------------------


def parse_regex_all(col: Column, pattern: str) -> Column:
    """All matches -> array of structs of named captures.

    Vectorized pandas UDF (str.extractall); the JVM path
    (regexp_extract_all) only yields ONE group, so multi-group
    all-matches genuinely needs the Arrow lane."""
    import re as _re

    compiled = _re.compile(pattern)
    names = [n for n, _ in sorted(compiled.groupindex.items(), key=lambda kv: kv[1])]
    if not names:
        raise ValueError("parse_regex_all requires named capture groups")
    schema = T.ArrayType(
        T.StructType([T.StructField(n, T.StringType()) for n in names])
    )

    @pandas_udf(schema)
    def _all(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            out = []
            for m in compiled.finditer(v):
                out.append({n: m.group(n) for n in names})
            return out or None  # no match = error branch

        return s.map(one)

    return _all(col)


# ---------------------------------------------------------------------
# replace_with (closure over captures, src/stdlib/replace_with.rs)
# ---------------------------------------------------------------------


def replace_with(col: Column, pattern: str, fn: Callable[[dict], str]) -> Column:
    """Regex replace where the replacement is computed by a Python
    closure over the capture dict — VRL's only string closure. The
    closure runs inside an Arrow batch (once per match, C loop over
    rows)."""
    import re as _re

    compiled = _re.compile(pattern)

    @pandas_udf(T.StringType())
    def _rw(s: pd.Series) -> pd.Series:
        def repl(m: "._re.Match") -> str:
            groups = {"string": m.group(0)}
            groups.update(m.groupdict())
            for i, g in enumerate(m.groups(), start=1):
                groups[str(i)] = g
            return fn(groups)

        return s.map(lambda v: compiled.sub(repl, v) if v is not None else None)

    return _rw(col)


# ---------------------------------------------------------------------
# parse_xml (reference src/stdlib/parse_xml.rs) — stdlib ElementTree
# ---------------------------------------------------------------------


def parse_xml(col: Column) -> Column:
    """XML -> JSON string (dynamic shape; pair with from_json when the
    schema is known). Text nodes collapse per the reference's
    always_use_text_key=false behavior for leaf elements."""

    @pandas_udf(T.StringType())
    def _xml(s: pd.Series) -> pd.Series:
        import json
        import xml.etree.ElementTree as ET

        def node_to_obj(el):
            children = list(el)
            obj = {}
            for k, v in el.attrib.items():
                obj[f"@{k}"] = v
            if not children:
                text = (el.text or "").strip()
                if obj:
                    if text:
                        obj["#text"] = text
                    return obj
                return text
            for ch in children:
                val = node_to_obj(ch)
                if ch.tag in obj:
                    prev = obj[ch.tag]
                    if not isinstance(prev, list):
                        obj[ch.tag] = [prev]
                    obj[ch.tag].append(val)
                else:
                    obj[ch.tag] = val
            return obj

        def one(v):
            if v is None:
                return None
            try:
                root = ET.fromstring(v)
            except ET.ParseError:
                return None  # error branch
            return json.dumps({root.tag: node_to_obj(root)}, sort_keys=True)

        return s.map(one)

    return _xml(col)


# ---------------------------------------------------------------------
# parse_yaml (src/stdlib/parse_yaml.rs) — pyyaml present here
# ---------------------------------------------------------------------


def parse_yaml(col: Column) -> Column:
    """YAML -> JSON string (sorted keys: VRL objects are BTreeMaps)."""

    @pandas_udf(T.StringType())
    def _yaml(s: pd.Series) -> pd.Series:
        import json

        import yaml

        # libyaml's C SafeLoader parses ~10x faster than the pure-
        # Python one with the same safe-construction semantics; fall
        # back when the wheel ships without it
        loader = getattr(yaml, "CSafeLoader", yaml.SafeLoader)

        def one(v):
            if v is None:
                return None
            try:
                return json.dumps(yaml.load(v, Loader=loader),
                                  sort_keys=True)
            except yaml.YAMLError:
                return None

        return s.map(one)

    return _yaml(col)


# ---------------------------------------------------------------------
# parse_ruby_hash (src/stdlib/parse_ruby_hash.rs)
# ---------------------------------------------------------------------


def parse_ruby_hash(col: Column) -> Column:
    """Ruby hash literal -> JSON string. Handles '=>' arrows, symbol
    keys (:key / key:), nil, single quotes."""

    @pandas_udf(T.StringType())
    def _ruby(s: pd.Series) -> pd.Series:
        import json
        import re as _re

        sym = _re.compile(r"(?<=[{,\s]):(\w+)\s*=>")
        symtrail = _re.compile(r"(?<=[{,\s])(\w+):\s")
        arrow = _re.compile(r"=>")

        def one(v):
            if v is None:
                return None
            t = v
            t = sym.sub(r'"\1" =>', t)
            t = symtrail.sub(r'"\1": ', t)
            t = arrow.sub(":", t)
            t = t.replace("nil", "null")
            # single-quoted strings -> double-quoted
            t = _re.sub(r"'([^'\\]*(?:\\.[^'\\]*)*)'", lambda m: json.dumps(m.group(1)), t)
            try:
                return json.dumps(json.loads(t), sort_keys=True)
            except json.JSONDecodeError:
                return None

        return s.map(one)

    return _ruby(col)


# ---------------------------------------------------------------------
# validate_json_schema (src/stdlib/validate_json_schema.rs)
# ---------------------------------------------------------------------


def validate_json_schema(col: Column, schema_json: str) -> Column:
    """True iff the JSON document validates against the schema
    (jsonschema lib, compiled once per executor)."""

    @pandas_udf(T.BooleanType())
    def _val(s: pd.Series) -> pd.Series:
        import json

        import jsonschema

        validator = jsonschema.Draft7Validator(json.loads(schema_json))

        def one(v):
            if v is None:
                return None
            try:
                doc = json.loads(v)
            except json.JSONDecodeError:
                return False
            return validator.is_valid(doc)

        return s.map(one)

    return _val(col)


# ---------------------------------------------------------------------
# snappy / lz4 / zstd (the libsnappy, liblz4 and libzstd pyarrow links)
# ---------------------------------------------------------------------
# Reference parity: encode_snappy.rs / decode_snappy.rs (snap::raw),
# encode_lz4.rs / decode_lz4.rs (lz4_flex::block; prepended u32-LE
# size defaults: true on encode, false on decode), decode_zstd.rs /
# encode_zstd.rs (zstd::decode_all / encode_all). The _*_decompress
# helpers raise ValueError on malformed input; the Column wrappers map
# it to NULL (the error branch), like every other fallible codec here.
# The zstd encoder is the pure-Python one in zstdcodec: the frozen
# vrl_hashes_encode vector pins its bytes, and libzstd writes others.


@functools.cache
def _codec(name: str):
    import pyarrow as pa

    return pa.Codec(name)


def _decompress(name: str, src: bytes, size: int) -> bytes:
    """One-shot decode into exactly ``size`` bytes; a library error
    becomes ValueError."""
    try:
        return _codec(name).decompress(src, decompressed_size=size,
                                       asbytes=True)
    except OSError as e:
        raise ValueError(str(e)) from e


def _snappy_compress(src: bytes) -> bytes:
    return _codec("snappy").compress(src, asbytes=True)


def _snappy_decompress(src: bytes) -> bytes:
    """libsnappy wants the exact length the varint preamble states; a
    preamble longer than any stream of this size could decode to is
    rejected before its buffer is allocated (a copy op yields at most
    64 bytes for 3)."""
    ulen = shift = pos = 0
    while True:
        if pos >= len(src) or shift > 28:
            raise ValueError("bad snappy length varint")
        b = src[pos]
        pos += 1
        ulen |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    if ulen > 22 * len(src):
        raise ValueError("snappy length beyond what the stream can hold")
    return _decompress("snappy", src, ulen)


def _lz4_compress(src: bytes, prepend_size: bool) -> bytes:
    out = _codec("lz4_raw").compress(src, asbytes=True)
    return len(src).to_bytes(4, "little") + out if prepend_size else out


def _lz4_decoded_len(src: bytes) -> int:
    """Walk an LZ4 block's sequences without copying bytes: the decoded
    length, which liblz4 must be handed exactly (given more it returns
    the whole buffer, tail and all). A zero match offset, which liblz4
    would copy from unwritten output, or one reaching before the first
    byte raises."""
    n, pos, out = len(src), 0, 0

    def length(nibble: int) -> int:
        nonlocal pos
        if nibble == 15:  # 255-runs extend it, the first other byte ends
            while True:
                if pos >= n:
                    raise ValueError("truncated length")
                pos += 1
                nibble += src[pos - 1]
                if src[pos - 1] != 255:
                    break
        return nibble

    while pos < n:
        token = src[pos]
        pos += 1
        lit = length(token >> 4)
        pos += lit
        out += lit
        if pos >= n:  # the last sequence: literals only
            if pos > n:
                raise ValueError("truncated literals")
            break
        if pos + 2 > n:
            raise ValueError("truncated offset")
        off = src[pos] | src[pos + 1] << 8
        pos += 2
        if off == 0 or off > out:
            raise ValueError("bad match offset")
        out += length(token & 15) + 4
    return out


def _lz4_decompress(src: bytes, buf_size: int, prepended_size: bool) -> bytes:
    if prepended_size:
        if len(src) < 4:
            raise ValueError("missing prepended size")
        want, src = int.from_bytes(src[:4], "little"), src[4:]
    n = _lz4_decoded_len(src)
    if prepended_size and n != want:
        raise ValueError("prepended size mismatch")
    if not prepended_size and n > buf_size:
        raise ValueError("decoded size exceeds buf_size")
    return _decompress("lz4_raw", src, n) if n else b""


def _zstd_decompress(src: bytes) -> bytes:
    """Every frame of ``src`` (skippable frames skipped), streamed so a
    frame without a content size decodes too."""
    import pyarrow as pa

    if not src:
        raise ValueError("empty zstd input")
    try:
        return pa.input_stream(pa.py_buffer(src), compression="zstd").read()
    except OSError as e:
        raise ValueError(str(e)) from e


def _bytes_udf(col: Column, fn: Callable[[bytes], bytes]) -> Column:
    """Binary -> binary Arrow UDF of ``fn``; NULL stays NULL, and a
    ValueError (a decoder's malformed input) is NULL."""

    @pandas_udf(T.BinaryType())
    def _b(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                return fn(bytes(v))
            except ValueError:
                return None

        return s.map(one)

    return _b(col.cast("binary"))


def encode_snappy(col: Column) -> Column:
    return _bytes_udf(col, _snappy_compress)


def decode_snappy(col: Column) -> Column:
    return _bytes_udf(col, _snappy_decompress)


def encode_lz4(col: Column, prepend_size: bool = True) -> Column:
    return _bytes_udf(col, lambda v: _lz4_compress(v, prepend_size))


def decode_lz4(
    col: Column, buf_size: int = 1_000_000, prepended_size: bool = False
) -> Column:
    return _bytes_udf(
        col, lambda v: _lz4_decompress(v, buf_size, prepended_size))


def encode_zstd(col: Column, compression_level: int = 0) -> Column:
    """``compression_level`` is accepted for VRL parity; the encoder
    has one strategy (see zstdcodec)."""
    from vrl_spark.functions.zstdcodec import zstd_compress

    return _bytes_udf(col, lambda v: zstd_compress(v, compression_level))


def decode_zstd(col: Column) -> Column:
    return _bytes_udf(col, _zstd_decompress)


# --- CBOR (src/stdlib/parse_cbor.rs) ----------------------------------


def _cbor_decode(buf: bytes, pos: int = 0):
    """Minimal RFC 8949 decoder (pure stdlib — cbor2 is absent in this
    environment, and the format is simple enough to not need it):
    all major types, definite + indefinite lengths, half/single/double
    floats, tags unwrapped. Returns (value, next_pos)."""
    import struct

    def head(p):
        ib = buf[p]
        mt, ai = ib >> 5, ib & 0x1F
        p += 1
        if ai < 24:
            return mt, ai, p
        if ai == 24:
            return mt, buf[p], p + 1
        if ai == 25:
            return mt, int.from_bytes(buf[p:p + 2], "big"), p + 2
        if ai == 26:
            return mt, int.from_bytes(buf[p:p + 4], "big"), p + 4
        if ai == 27:
            return mt, int.from_bytes(buf[p:p + 8], "big"), p + 8
        if ai == 31:
            return mt, None, p  # indefinite
        raise ValueError(f"invalid CBOR additional info {ai}")

    mt, arg, p = head(pos)
    if mt == 0:
        return arg, p
    if mt == 1:
        return -1 - arg, p
    if mt in (2, 3):  # bytes / text
        if arg is None:  # indefinite: concatenate chunks
            out = b""
            while buf[p] != 0xFF:
                chunk, p = _cbor_decode(buf, p)
                out += chunk if isinstance(chunk, bytes) else chunk.encode()
            p += 1
        else:
            out, p = buf[p:p + arg], p + arg
        if mt == 3:
            return out.decode("utf-8"), p
        # VRL Value::Bytes renders lossy-utf8 (value.rs:199-215)
        return out, p
    if mt == 4:  # array
        items = []
        if arg is None:
            while buf[p] != 0xFF:
                v, p = _cbor_decode(buf, p)
                items.append(v)
            p += 1
        else:
            for _ in range(arg):
                v, p = _cbor_decode(buf, p)
                items.append(v)
        return items, p
    if mt == 5:  # map
        obj = {}
        if arg is None:
            while buf[p] != 0xFF:
                k, p = _cbor_decode(buf, p)
                v, p = _cbor_decode(buf, p)
                obj[k if isinstance(k, str) else str(k)] = v
            p += 1
        else:
            for _ in range(arg):
                k, p = _cbor_decode(buf, p)
                v, p = _cbor_decode(buf, p)
                obj[k if isinstance(k, str) else str(k)] = v
        return obj, p
    if mt == 6:  # tag: unwrap
        return _cbor_decode(buf, p)
    # mt == 7: simple / floats
    ib_ai = buf[pos] & 0x1F
    if ib_ai == 20:
        return False, p
    if ib_ai == 21:
        return True, p
    if ib_ai in (22, 23):
        return None, p
    if ib_ai == 25:  # half float
        h = int.from_bytes(buf[pos + 1:pos + 3], "big")
        sign = -1.0 if h >> 15 else 1.0
        exp, frac = (h >> 10) & 0x1F, h & 0x3FF
        if exp == 0:
            return sign * frac * 2.0 ** -24, p
        if exp == 31:
            return sign * (float("inf") if frac == 0 else float("nan")), p
        return sign * (1 + frac / 1024.0) * 2.0 ** (exp - 15), p
    if ib_ai == 26:
        return struct.unpack(">f", buf[pos + 1:pos + 5])[0], p
    if ib_ai == 27:
        return struct.unpack(">d", buf[pos + 1:pos + 9])[0], p
    raise ValueError(f"unsupported CBOR simple value {ib_ai}")


def parse_cbor(col: Column) -> Column:
    """src/stdlib/parse_cbor.rs — decode CBOR bytes to the engine's
    dynamic-value JSON string (same surface as the dynamic lane of
    parse_json: pair with from_json + a schema for typed columns).
    Bytes payloads decode lossy-UTF8 like VRL Value::Bytes; undecodable
    input -> NULL (the error branch)."""

    @pandas_udf(T.StringType())
    def _cb(s: pd.Series) -> pd.Series:
        import json as _json

        def one(v):
            if v is None:
                return None
            try:
                val, _ = _cbor_decode(bytes(v))

                def conv(x):
                    if isinstance(x, bytes):
                        return x.decode("utf-8", errors="replace")
                    if isinstance(x, list):
                        return [conv(i) for i in x]
                    if isinstance(x, dict):
                        return {k: conv(i) for k, i in x.items()}
                    return x

                return _json.dumps(conv(val), sort_keys=True, separators=(",", ":"))
            except Exception:
                return None

        return s.map(one)

    return _cb(col.cast("binary"))


# --- protobuf (src/stdlib/parse_proto.rs / encode_proto.rs) -----------
# From-scratch wire-format + descriptor-set codec in
# vrl_spark.functions.proto — validated against the same Person/maps
# vectors the reference's own unit tests use. The descriptor is
# loaded and resolved at PLAN time (desc_file/message_type are plan
# constants, like the reference's compile-time descriptor check), so
# a bad path or unknown message fails the build, not a task.


def parse_proto(col: Column, desc_file, message_type: str) -> Column:
    """Proto message bytes -> JSON text (sorted keys; enums decoded
    to their names, map keys stringified). NULL = the error branch."""
    import json as _json

    from vrl_spark.functions.proto import (
        decode_message, load_descriptor, resolve_message,
    )

    registry = load_descriptor(desc_file)
    msg = resolve_message(registry, message_type)

    @pandas_udf(T.StringType())
    def _pp(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                return _json.dumps(
                    decode_message(bytes(v), msg, registry),
                    sort_keys=True, separators=(",", ":"),
                )
            except Exception:
                return None

        return s.map(one)

    return _pp(col.cast("binary"))


def encode_proto(col: Column, desc_file, message_type: str) -> Column:
    """JSON-text object -> proto message bytes (enum names or numbers
    accepted, maps re-keyed per the schema). NULL = the error
    branch."""
    import json as _json

    from vrl_spark.functions.proto import (
        encode_message, load_descriptor, resolve_message,
    )

    registry = load_descriptor(desc_file)
    msg = resolve_message(registry, message_type)

    @pandas_udf(T.BinaryType())
    def _ep(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                return encode_message(_json.loads(v), msg, registry)
            except Exception:
                return None

        return s.map(one)

    return _ep(col)
