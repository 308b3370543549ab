"""The shared binary-wire primitives (`llm/wire.py`): CRC check values
pinned per format, bit-level references for every unreflected CRC, and
round-trip properties for the MSB-first bit I/O, varints, zigzag and the
protobuf field walk, including truncated input."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from dynamodb_to_datalake_project_spark.llm import (
    flac,
    mpegts,
    multimodal,
    wire,
)

#: (width, poly, init) of every unreflected CRC the formats use
_UNREFLECTED = {
    "flac_crc8": (8, 0x07, 0),
    "flac_crc16": (16, 0x8005, 0),
    "adts_crc16": (16, 0x8005, 0xFFFF),
    "mpeg2_crc32": (32, 0x04C11DB7, 0xFFFFFFFF),
    "ogg_crc32": (32, 0x04C11DB7, 0),
}


def _crc_bitwise(data: bytes, width: int, poly: int, init: int) -> int:
    """Literal shift-register definition, one bit at a time."""
    top, mask = 1 << (width - 1), (1 << width) - 1
    crc = init
    for b in data:
        crc ^= b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
    return crc


def test_crc_check_values_per_format():
    """Each format's CRC over the standard check string returns the
    value the per-format implementations returned."""
    check = b"123456789"
    assert flac._crc8(check) == 0xF4
    assert flac._crc16(check) == 0xFEE8
    assert multimodal._crc16_adts(check) == 0xAEE7
    assert mpegts.mpeg_crc32(check) == 0x0376E6E7
    assert multimodal.ogg_crc(check) == 0x89A1897F
    assert wire.crc32c(check) == 0xE3069283
    for width, poly, init in _UNREFLECTED.values():
        assert wire.crc_fn(width, poly, init)(b"") == init


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=300), st.sampled_from(sorted(_UNREFLECTED)))
def test_crc_fn_matches_bitwise_definition(data, name):
    width, poly, init = _UNREFLECTED[name]
    assert wire.crc_fn(width, poly, init)(data) == _crc_bitwise(
        data, width, poly, init
    )


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=300), st.binary(max_size=300))
def test_crc32c_continues_across_chunks(a, b):
    assert wire.crc32c(b, wire.crc32c(a)) == wire.crc32c(a + b)


_fields = st.lists(
    st.integers(min_value=1, max_value=64).flatmap(
        lambda n: st.tuples(st.integers(0, (1 << n) - 1), st.just(n))
    ),
    max_size=60,
)


@settings(max_examples=80, deadline=None)
@given(_fields)
def test_msb_bits_roundtrip(fields):
    w = wire.MsbWriter()
    for v, n in fields:
        w.write(v, n)
    w.align()
    total = sum(n for _, n in fields)
    assert len(w.out) == (total + 7) // 8
    assert int.from_bytes(w.out, "big") >> (8 * len(w.out) - total) == (
        int("".join(format(v, f"0{n}b") for v, n in fields) or "0", 2)
    )
    r = wire.MsbReader(bytes(w.out))
    assert [r.read(n) for _, n in fields] == [v for v, _ in fields]
    with pytest.raises(ValueError, match="truncated"):
        r.read(8 - total % 8 + 1)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=40).flatmap(
            lambda n: st.tuples(
                st.integers(-(1 << (n - 1)), (1 << (n - 1)) - 1), st.just(n)
            )
        ),
        max_size=40,
    ),
    st.lists(st.integers(min_value=0, max_value=40), max_size=20),
)
def test_msb_signed_and_unary_roundtrip(signed, runs):
    w = wire.MsbWriter()
    for v, n in signed:
        w.signed(v, n)
    for q in runs:
        w.unary(q)
    w.align()
    r = wire.MsbReader(bytes(w.out))
    assert [r.signed(n) for _, n in signed] == [v for v, _ in signed]
    assert [r.unary() for _ in runs] == runs


def test_msb_writer_rejects_values_wider_than_the_field():
    w = wire.MsbWriter()
    with pytest.raises(ValueError, match="overflows"):
        w.write(4, 2)
    with pytest.raises(ValueError, match="overflows"):
        w.write(-1, 8)
    with pytest.raises(ValueError, match="truncated"):
        wire.MsbReader(b"\x00\x00").unary()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), max_size=30))
def test_uvarint_roundtrip_and_truncation(values):
    buf = b"".join(wire.write_uvarint(v) for v in values)
    pos, got = 0, []
    while pos < len(buf):
        v, pos = wire.read_uvarint(buf, pos)
        got.append(v)
    assert got == values
    for v in values:
        enc = wire.write_uvarint(v)
        assert len(enc) == max(1, -(-v.bit_length() // 7))
        for cut in range(len(enc)):
            with pytest.raises(ValueError, match="truncated varint"):
                wire.read_uvarint(enc[:cut], 0)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
def test_zigzag_roundtrip(v):
    u = wire.zigzag(v)
    assert u >= 0 and u == (2 * v if v >= 0 else -2 * v - 1)
    assert wire.unzigzag(u) == v
    cur = wire.WireCursor(wire.write_zigzag(v))
    assert cur.zigzag() == v and cur.pos == len(cur.buf)


def test_uvarint_rejects_overlong_and_negative():
    with pytest.raises(ValueError, match="too long"):
        wire.read_uvarint(b"\x80" * 11 + b"\x01", 0)
    with pytest.raises(ValueError):
        wire.write_uvarint(-1)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=1000),
            st.one_of(
                st.integers(min_value=0, max_value=(1 << 64) - 1),
                st.binary(max_size=40),
            ),
        ),
        max_size=12,
    )
)
def test_pb_fields_roundtrip_and_truncation(fields):
    msg = b"".join(
        wire.write_uvarint(f << 3) + wire.write_uvarint(v)
        if isinstance(v, int)
        else wire.write_uvarint((f << 3) | 2) + wire.write_uvarint(len(v)) + v
        for f, v in fields
    )
    assert wire.pb_fields(msg) == [
        (f, 0 if isinstance(v, int) else 2, v) for f, v in fields
    ]
    if msg:  # every field ends in a varint or its bytes: a cut raises
        with pytest.raises(ValueError, match="truncated"):
            wire.pb_fields(msg[:-1])
