"""Binary-wire primitives shared by the format codecs in `llm/`.

One implementation each of:

- the unreflected (MSB-first) table CRC of any width from 8 bits, with a
  register preset and no final xor: FLAC CRC-8 and CRC-16, ADTS CRC-16,
  and the MPEG-2 PSI and Ogg CRC-32s, whose polynomial 0x04C11DB7 runs
  through zlib; and the reflected CRC-32C (Castagnoli) of TFRecord and
  Kafka;
- the MSB-first bit reader and writer (FLAC, H.264 RBSP, MP3 side info);
- unsigned LEB128 varints and the zigzag signed mapping (protobuf, ORC,
  Avro, Kafka, parquet's thrift compact protocol and encodings), plus the
  cursor the varint-framed decoders read through;
- the protobuf wire-format field walk (tf.Example, ORC file tails).

Copies whose contracts differ stay in their modules: zstd's zero-filling
forward and backward bit readers, webp's LSB-first VP8L reader and
writer, the numpy batch CRC-32C (`tfrecord.crc32c_batch`) and the literal
Ogg CRC the tests compare the zlib path against
(`multimodal._ogg_crc_ref`).

Malformed input raises ValueError.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable

# ---------------------------------------------------------------------------
# CRCs

#: per-byte bit reversal (the zlib mapping of the 0x04C11DB7 CRC-32s)
_BITREV8 = bytes(int(f"{i:08b}"[::-1], 2) for i in range(256))


def _bitrev32(x: int) -> int:
    br = _BITREV8
    return (
        br[x >> 24]
        | (br[(x >> 16) & 0xFF] << 8)
        | (br[(x >> 8) & 0xFF] << 16)
        | (br[x & 0xFF] << 24)
    )


def crc_fn(width: int, poly: int, init: int = 0) -> Callable[[bytes], int]:
    """The unreflected CRC of `width` (>= 8) bits with polynomial `poly`,
    register preset `init` and no final xor, as a function of the data.

    The 32-bit polynomial 0x04C11DB7 runs through C-speed zlib: a CRC
    with an unreflected polynomial over a message equals the bit-reversed
    reflected CRC of the byte-bit-reversed message (the reflection
    identity), zlib's 0xEDB88320 is bitrev32(0x04C11DB7), and zlib's
    preset/final-xor conditioning is undone algebraically. Every other
    CRC runs one table lookup per byte; the table entry is the 8-bit
    unrolled shift-register loop for that byte."""
    if width == 32 and poly == 0x04C11DB7:
        seed = _bitrev32(init) ^ 0xFFFFFFFF

        def crc32(data: bytes) -> int:
            return _bitrev32(
                zlib.crc32(data.translate(_BITREV8), seed) ^ 0xFFFFFFFF
            )

        return crc32
    top, mask, shift = 1 << (width - 1), (1 << width) - 1, width - 8
    tbl = []
    for b in range(256):
        r = b << shift
        for _ in range(8):
            r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
        tbl.append(r)

    def crc(data: bytes) -> int:
        c = init
        for b in data:
            c = ((c << 8) & mask) ^ tbl[(c >> shift) ^ b]
        return c

    return crc


#: CRC-32C (Castagnoli), reflected polynomial 0x82F63B78
CRC32C_TABLE: "list[int]" = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    CRC32C_TABLE.append(_c)


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C (Castagnoli, poly 0x1EDC6F41 reflected) — the checksum
    TFRecord, Kafka v2 batches and iSCSI use; `crc` continues a
    previous result. stdlib zlib.crc32 is the IEEE polynomial and
    cannot compute it."""
    crc ^= 0xFFFFFFFF
    tbl = CRC32C_TABLE
    for b in data:
        crc = (crc >> 8) ^ tbl[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# MSB-first bit I/O


class MsbReader:
    """MSB-first bit reader over `data` from byte `pos` (FLAC, H.264,
    MPEG audio bit order; the opposite of VP8L's). A read past the end
    raises ValueError."""

    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.pos = pos  # byte position
        self.bit = 0  # bits consumed within d[pos]

    def read(self, n: int) -> int:
        # all n bits in one int.from_bytes + shift, not a per-bit loop
        if n == 0:
            return 0
        need = self.bit + n
        nby = (need + 7) >> 3
        chunk = self.d[self.pos : self.pos + nby]
        if len(chunk) < nby:
            raise ValueError("truncated bitstream: bit read past end")
        v = (int.from_bytes(chunk, "big") >> (nby * 8 - need)) & (
            (1 << n) - 1
        )
        self.pos += need >> 3
        self.bit = need & 7
        return v

    def signed(self, n: int) -> int:
        """n-bit two's complement value (n >= 1)."""
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        """Count of 0-bits before the next 1-bit, which is consumed."""
        # scan whole bytes for the terminating 1-bit instead of
        # reading bit-by-bit; value and end position are identical
        d, pos, bit, q = self.d, self.pos, self.bit, 0
        nd = len(d)
        while True:
            if pos >= nd:
                raise ValueError("truncated bitstream: bit read past end")
            cur = d[pos] & (0xFF >> bit)
            if cur:
                hb = cur.bit_length()  # 1..8; the 1-bit is at 8-hb
                q += (8 - hb) - bit
                bit = 9 - hb
                if bit == 8:
                    bit = 0
                    pos += 1
                break
            q += 8 - bit
            bit = 0
            pos += 1
            if q > 1 << 24:
                raise ValueError("corrupt unary run")
        if q > 1 << 24:
            raise ValueError("corrupt unary run")
        self.pos, self.bit = pos, bit
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


class MsbWriter:
    """MSB-first bit writer. Bits accumulate in an int and flush to
    `out` whole bytes at a time, so `out` always holds every completed
    byte (byte-aligned CRCs over `out` see the final bytes). A value
    that does not fit its width raises ValueError."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.bit = 0  # bits pending in acc (0..7 after write())

    def write(self, v: int, n: int) -> None:
        if v < 0 or v >> n:
            raise ValueError(f"value {v} overflows {n} bits")
        acc = (self.acc << n) | v
        nb = self.bit + n
        if nb >= 8:
            flush = nb & ~7
            nb -= flush
            self.out += (acc >> nb).to_bytes(flush >> 3, "big")
            acc &= (1 << nb) - 1
        self.acc = acc
        self.bit = nb

    def signed(self, v: int, n: int) -> None:
        self.write(v & ((1 << n) - 1), n)

    def unary(self, q: int) -> None:
        self.write(1, q + 1)

    def align(self) -> None:
        """Zero-pad to the next byte boundary."""
        if self.bit:
            self.write(0, 8 - self.bit)


# ---------------------------------------------------------------------------
# varints


def read_uvarint(buf: bytes, pos: int) -> "tuple[int, int]":
    """(value, position after it) of the unsigned LEB128 varint at
    `pos`. Raises ValueError when the buffer ends inside the varint or
    it runs past 11 bytes."""
    v = shift = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        if b < 0x80:
            return v | (b << shift), pos
        v |= (b & 0x7F) << shift
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


#: single-byte varints (tags, small lengths: most varints on the wire)
_UVARINT1 = [bytes((v,)) for v in range(0x80)]


def write_uvarint(v: int) -> bytes:
    """Unsigned LEB128 bytes of v >= 0 (a negative v raises ValueError)."""
    if 0 <= v < 0x80:
        return _UVARINT1[v]
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def zigzag(v: int) -> int:
    """Signed 64-bit value -> unsigned: 0, -1, 1, -2 ... -> 0, 1, 2, 3 ..."""
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def write_zigzag(v: int) -> bytes:
    return write_uvarint(zigzag(v))


class WireCursor:
    """Read position over a byte buffer, with the varint reads the
    varint-framed decoders share."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def varint(self) -> int:
        v, self.pos = read_uvarint(self.buf, self.pos)
        return v

    def zigzag(self) -> int:
        v, self.pos = read_uvarint(self.buf, self.pos)
        return unzigzag(v)


# ---------------------------------------------------------------------------
# protobuf


def pb_fields(buf: bytes) -> "list[tuple[int, int, int | bytes]]":
    """(field number, wire type, value) of each field of one protobuf
    message, in wire order; the value is an int for varint and fixed
    fields and bytes for length-delimited ones. Group wire types raise
    NotImplementedError."""
    out = []
    pos, n = 0, len(buf)
    while pos < n:
        tag, pos = read_uvarint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, pos = read_uvarint(buf, pos)
        elif wire == 2:
            ln, pos = read_uvarint(buf, pos)
            if pos + ln > n:
                raise ValueError("protobuf: truncated bytes field")
            v = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:
            if pos + 4 > n:
                raise ValueError("protobuf: truncated fixed32")
            (v,) = struct.unpack_from("<I", buf, pos)
            pos += 4
        elif wire == 1:
            if pos + 8 > n:
                raise ValueError("protobuf: truncated fixed64")
            (v,) = struct.unpack_from("<Q", buf, pos)
            pos += 8
        else:
            raise NotImplementedError(
                f"protobuf: wire type {wire} not implemented"
            )
        out.append((field, wire, v))
    return out
