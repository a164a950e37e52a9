"""Property-based round-trip tests for the protobuf wire codec.

The message strategy is DERIVED from the wire specs (proto/wire.py), so
it generates random FULL-WIDTH Bidrequests — every field of all 22
messages of /root/reference/proto/bidrequest.proto can appear
(including unicode strings, empty/absent messages, zero scalars,
repeated packed ints, repeated strings, deep nesting).  The invariant
is decode(encode(m)) == canonicalize(m), where canonicalization applies
proto3's lossy-by-design rules: scalar zero values, empty collections
and absent messages are indistinguishable from defaults."""

from __future__ import annotations

import struct

from hypothesis import example, given, settings
from hypothesis import strategies as st

from quacfka_service_spark.proto.wire import (
    BIDREQUEST_SPEC,
    decode_bidrequest,
    decode_message,
    encode_bidrequest,
    encode_varint,
)

text = st.text(min_size=0, max_size=20)
i32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
# float32-representable values only (the wire is fixed32)
f32 = st.floats(width=32, allow_nan=False, allow_infinity=False)

_KIND_STRATEGY = {
    "string": text,
    "int32": i32,
    "int64": i64,
    "float": f32,
    "strings": st.lists(text, max_size=3),
    "int32s": st.lists(i32, max_size=3),
}


def _message_strategy(spec: dict, depth: int = 0):
    """Wire spec -> hypothesis strategy for that message's dict shape.
    Sub-messages may be None (absent); repeated messages 0-2 elements."""
    shape = {}
    for _num, (name, kind, sub) in spec.items():
        if kind == "message":
            shape[name] = st.none() | _message_strategy(sub, depth + 1)
        elif kind == "messages":
            # cap fan-out so deep nests (imp.pmp.deals) stay small
            shape[name] = st.lists(_message_strategy(sub, depth + 1), max_size=2)
        else:
            shape[name] = _KIND_STRATEGY[kind]
    return st.fixed_dictionaries(shape)


bidrequest = _message_strategy(BIDREQUEST_SPEC)


def _canon(msg, spec):
    """What proto3 round-tripping must preserve: presence + non-zero
    values; zero scalars and absent collections collapse to defaults."""
    if msg is None:
        return None
    out = {}
    for _num, (name, kind, sub) in spec.items():
        v = msg.get(name)
        if kind == "string":
            out[name] = v or ""
        elif kind in ("int32", "int64"):
            out[name] = v or 0
        elif kind == "float":
            out[name] = struct.unpack("<f", struct.pack("<f", v or 0.0))[0]
        elif kind == "strings":
            out[name] = list(v or [])
        elif kind == "int32s":
            out[name] = list(v or [])
        elif kind == "message":
            out[name] = _canon(v, sub)
        elif kind == "messages":
            out[name] = [_canon(x, sub) for x in (v or [])]
    return out


@settings(max_examples=200, deadline=None)
@given(bidrequest)
def test_roundtrip(msg):
    assert decode_bidrequest(encode_bidrequest(msg)) == _canon(msg, BIDREQUEST_SPEC)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_decoder_never_reads_past_known_fields(junk):
    """Arbitrary junk after a valid message: the decoder either raises
    cleanly or returns a dict — it must never hang or corrupt known
    fields parsed before the junk."""
    prefix = encode_bidrequest({"id": "stable"})
    try:
        got = decode_bidrequest(prefix + bytes(junk))
    except (ValueError, IndexError, UnicodeDecodeError, struct.error):
        return
    assert got["id"] == "stable" or isinstance(got["id"], str)


@settings(max_examples=200, deadline=None)
@given(i64)
def test_varint_negative_and_large(v):
    spec = {1: ("x", "int64", None)}
    raw = encode_varint((1 << 3) | 0) + encode_varint(v)
    assert decode_message(raw, spec)["x"] == v


def _arrow_schema():
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from quacfka_service_spark.schema import struct_of

    fields = [
        pa.field(f.name, to_arrow_type(f.dataType))
        for f in struct_of(BIDREQUEST_SPEC).fields
    ]
    return pa.schema(fields), pa.struct(fields)


@settings(max_examples=100, deadline=None)
@given(st.lists(bidrequest, min_size=0, max_size=5))
def test_columnar_decoder_equals_from_pylist(msgs):
    """The columnar-accumulator decoder (columnar.py) assembled into an
    Arrow batch must equal RecordBatch.from_pylist over the reference
    decode (wire.decode_bidrequest), element for element, on random full-width message batches —
    including absent/null structs, empty repeateds, unicode, and
    duplicate-field last-wins (both lazy and eager string modes)."""
    import pyarrow as pa

    from quacfka_service_spark.proto.columnar import ColumnarDecoder

    schema, struct_type = _arrow_schema()
    payloads = [encode_bidrequest(m) for m in msgs]
    ref = pa.RecordBatch.from_pylist(
        [decode_bidrequest(p) for p in payloads], schema=schema
    )
    for eager in (False, True):
        dec = ColumnarDecoder(BIDREQUEST_SPEC, eager_strings=eager)
        for p in payloads:
            dec.append_record(p, 0, len(p))
        got = pa.RecordBatch.from_arrays(dec.finish(struct_type), schema=schema)
        assert got.equals(ref), f"eager_strings={eager}"


# round-4 falsifying examples (Hypothesis-found, now pinned forever):
# junk whose bytes parse as an OVERSIZED varint for an int32 field —
# before the width-mask fix the value (e.g. 562949953421311) was
# accepted into the int32 accumulator and the whole batch died later in
# finish() with OverflowError/ArrowInvalid instead of rolling back.
_R4_MSG = {"id": "x", "at": 1}


@settings(max_examples=100, deadline=None)
@given(bidrequest, st.binary(min_size=1, max_size=32))
@example(msg=_R4_MSG, junk=b"\x80\x80\x00\x00")
@example(msg=_R4_MSG, junk=b"\x80\x80\x03\x00")
def test_columnar_rollback_on_malformed_record(msg, junk):
    """Permissive contract: a malformed record must leave the
    accumulators EXACTLY as before it — decoding good, bad, good yields
    the same batch as good, good."""
    import pyarrow as pa

    from quacfka_service_spark.proto.columnar import ColumnarDecoder

    schema, struct_type = _arrow_schema()
    good = encode_bidrequest(msg)
    # a truncated frame overruns its window or dies mid-varint
    bad = good[: max(1, len(good) - 3)] + bytes(junk)
    dec = ColumnarDecoder(BIDREQUEST_SPEC, eager_strings=True)
    dec.append_record(good, 0, len(good))
    try:
        dec.append_record(bad, 0, len(bad) - 1)
    except Exception:
        pass
    dec.append_record(good, 0, len(good))
    got = pa.RecordBatch.from_arrays(dec.finish(struct_type), schema=schema)

    dec2 = ColumnarDecoder(BIDREQUEST_SPEC, eager_strings=True)
    dec2.append_record(good, 0, len(good))
    dec2.append_record(good, 0, len(good))
    want = pa.RecordBatch.from_arrays(dec2.finish(struct_type), schema=schema)
    assert got.num_rows in (2, 3)  # the bad frame may happen to parse
    if got.num_rows == 2:
        assert got.equals(want)
    else:
        # The malformed frame parsed into row 1 — finish() already
        # proved every accumulated value materializes width-legal
        # (the round-4 bug died HERE with OverflowError).  The good
        # rows around it must still be byte-identical to the
        # good-good reference batch: rows 0 and 2 vs want's 0 and 1.
        assert got.slice(0, 1).to_pylist() == want.slice(0, 1).to_pylist()
        assert got.slice(2, 1).to_pylist() == want.slice(1, 1).to_pylist()
