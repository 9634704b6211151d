"""Byte-level pins for the from-scratch Avro OCF codec
(catalog/avro_ocf.py). The encoded buffers here are hand-computed from
the public Avro 1.11 spec — zig-zag varints, length-prefixed strings,
block-framed containers — so the reader is validated against the SPEC,
not against our own writer (and vice versa)."""

import io
import json
import struct
import zlib

import pytest

from iceberg_catalog_bench_spark.catalog import avro_ocf
from iceberg_catalog_bench_spark.catalog.avro_ocf import (
    _Reader, _read_long, _write_long, decode, encode, read_ocf, write_ocf,
)

pytestmark = pytest.mark.spark_free

SCHEMA = {
    "type": "record", "name": "row",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": ["null", "double"]},
    ],
}


def test_zigzag_varint_spec_vectors():
    # Avro spec's own table: 0→00, -1→01, 1→02, -2→03, 2→04, -64→7f,
    # 64→80 01
    vectors = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03",
               2: b"\x04", -64: b"\x7f", 64: b"\x80\x01",
               8589934592: b"\x80\x80\x80\x80\x40"}
    for v, b in vectors.items():
        out = io.BytesIO()
        _write_long(out, v)
        assert out.getvalue() == b, v
        assert _read_long(_Reader(b)) == v


def _hand_encoded_record() -> bytes:
    # {a: 3, b: "hi", c: 2.5}: long 3 → 06; string "hi" → 04 'h' 'i';
    # union branch 1 (double) → 02, then IEEE LE 2.5
    return b"\x06" + b"\x04hi" + b"\x02" + struct.pack("<d", 2.5)


def test_decode_record_from_hand_bytes():
    names = {}
    avro_ocf.collect_names(SCHEMA, names)
    rec = decode(SCHEMA, _Reader(_hand_encoded_record()), names)
    assert rec == {"a": 3, "b": "hi", "c": 2.5}


def test_encode_record_to_hand_bytes():
    out = io.BytesIO()
    encode(SCHEMA, {"a": 3, "b": "hi", "c": 2.5}, out, {})
    assert out.getvalue() == _hand_encoded_record()


def test_read_hand_built_container(tmp_path):
    # Assemble a full OCF by hand: magic, metadata map (1 block, 2
    # entries), sync, one data block (null codec), sync.
    body = _hand_encoded_record()
    schema_bytes = json.dumps(SCHEMA).encode()
    out = io.BytesIO()
    out.write(b"Obj\x01")
    out.write(b"\x04")  # map block count 2 (zigzag 2 = 04)
    for k, v in [(b"avro.schema", schema_bytes), (b"avro.codec", b"null")]:
        _write_long(out, len(k)); out.write(k)
        _write_long(out, len(v)); out.write(v)
    out.write(b"\x00")  # map terminator
    sync = bytes(range(16))
    out.write(sync)
    out.write(b"\x02")  # 1 record
    _write_long(out, len(body))
    out.write(body)
    out.write(sync)
    p = tmp_path / "hand.avro"
    p.write_bytes(out.getvalue())
    meta, recs = read_ocf(str(p))
    assert recs == [{"a": 3, "b": "hi", "c": 2.5}]
    assert meta["avro.codec"] == b"null"


def test_write_then_hand_decode_deflate(tmp_path):
    p = tmp_path / "w.avro"
    write_ocf(str(p), SCHEMA, [{"a": 3, "b": "hi", "c": 2.5},
                               {"a": -1, "b": "", "c": None}])
    raw = p.read_bytes()
    assert raw[:4] == b"Obj\x01"
    r = _Reader(raw)
    r.read(4)
    meta = decode({"type": "map", "values": "bytes"}, r, {})
    assert json.loads(meta["avro.schema"]) == SCHEMA
    assert meta["avro.codec"] == b"deflate"
    r.read(16)  # sync
    count = _read_long(r)
    size = _read_long(r)
    block = zlib.decompressobj(-15).decompress(r.read(size))
    assert count == 2
    # hand-decode both records from the inflated block
    br = _Reader(block)
    assert _read_long(br) == 3
    assert br.read(_read_long(br)) == b"hi"
    assert _read_long(br) == 1  # union branch: double
    assert struct.unpack("<d", br.read(8))[0] == 2.5
    assert _read_long(br) == -1
    assert br.read(_read_long(br)) == b""
    assert _read_long(br) == 0  # union branch: null
    assert br.eof()


def test_array_map_fixed_enum_union_roundtrip(tmp_path):
    schema = {
        "type": "record", "name": "kitchen",
        "fields": [
            {"name": "xs", "type": {"type": "array", "items": "int"}},
            {"name": "kv", "type": {"type": "map", "values": "long"}},
            {"name": "fx", "type": {"type": "fixed", "name": "f8", "size": 8}},
            {"name": "en", "type": {"type": "enum", "name": "col",
                                    "symbols": ["RED", "BLUE"]}},
            {"name": "pairs", "type": {"type": "array", "items": {
                "type": "record", "name": "kvp", "fields": [
                    {"name": "key", "type": "int"},
                    {"name": "value", "type": "bytes"}]}}},
            {"name": "again", "type": {"type": "array", "items": "kvp"}},
        ],
    }
    rows = [{
        "xs": [1, -2, 3],
        "kv": {"a": 10, "b": -20},
        "fx": b"12345678",
        "en": "BLUE",
        "pairs": [{"key": 1, "value": b"\x00\x01"}],
        "again": [{"key": 7, "value": b""}],  # named-type reference
    }]
    p = tmp_path / "k.avro"
    write_ocf(str(p), schema, rows, codec="null")
    _, back = read_ocf(str(p))
    assert back == rows


def test_negative_count_array_block():
    # Writers may emit a NEGATIVE item count followed by a byte size
    # (Avro spec: "If a block's count is negative...").
    schema = {"type": "array", "items": "long"}
    out = io.BytesIO()
    _write_long(out, -2)          # block of 2 items, size follows
    items = io.BytesIO()
    _write_long(items, 5); _write_long(items, 6)
    _write_long(out, len(items.getvalue()))
    out.write(items.getvalue())
    _write_long(out, 0)           # terminator
    assert decode(schema, _Reader(out.getvalue()), {}) == [5, 6]


def test_empty_file_and_bad_magic(tmp_path):
    p = tmp_path / "e.avro"
    write_ocf(str(p), SCHEMA, [])
    meta, recs = read_ocf(str(p))
    assert recs == []
    bad = tmp_path / "bad.avro"
    bad.write_bytes(b"PAR1....")
    assert not avro_ocf.is_ocf(str(bad))
    with pytest.raises(ValueError, match="magic"):
        read_ocf(str(bad))


# ---- property tests (hypothesis) ------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_LONGS = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_ROWS = st.lists(
    st.tuples(
        _LONGS,
        st.text(max_size=40),
        st.floats(allow_nan=False, width=64),
        st.none() | st.binary(max_size=20),
        st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                 max_size=5),
        st.dictionaries(st.text(min_size=1, max_size=8), _LONGS,
                        max_size=4),
    ),
    max_size=25,
)

_PROP_SCHEMA = {
    "type": "record", "name": "row", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": "double"},
        {"name": "d", "type": ["null", "bytes"]},
        {"name": "e", "type": {"type": "array", "items": "int"}},
        {"name": "f", "type": {"type": "map", "values": "long"}},
    ],
}


@settings(max_examples=60, deadline=None)
@given(rows=_ROWS, codec=st.sampled_from(["null", "deflate"]))
def test_ocf_roundtrip_property(tmp_path_factory, rows, codec):
    """Any record set over the full primitive/array/map/union surface
    survives write→read byte-exactly, under both codecs."""
    recs = [{"a": a, "b": b, "c": c, "d": d, "e": e, "f": f}
            for a, b, c, d, e, f in rows]
    p = str(tmp_path_factory.mktemp("prop") / "r.avro")
    write_ocf(p, _PROP_SCHEMA, recs, codec=codec)
    _, back = read_ocf(p)
    assert back == recs
