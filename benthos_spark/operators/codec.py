"""Payload (de)compression processors.

Reference: lib/processor/{compress.go:24, decompress.go:26} — gzip,
zlib, flate, snappy, lz4.  The stdlib covers gzip/zlib/flate/bz2/lzma;
snappy (raw block format, as golang/snappy) and lz4 (frame format, as
pierrec/lz4) use the libsnappy/liblz4 that pyarrow bundles.  LZ4 frames
are assembled here because Arrow's frame writer omits the content
checksum, and a corrupted payload would then decode silently.
Malformed input raises a ValueError that names the algorithm.

These are pandas UDFs over binary columns: compression is pure CPU per
record with no cross-record state, so Arrow batching distributes it at
scan speed; in practice prefer file-level codecs (parquet zstd) which
Spark applies for free — this operator exists for payload-level parity.
"""

from __future__ import annotations

import bz2 as _bz2
import gzip as _gzip
import lzma as _lzma
import struct
import zlib as _zlib

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

_SNAPPY = pa.Codec("snappy")
_LZ4_BLOCK = pa.Codec("lz4_raw")


def _flate_compress(b: bytes) -> bytes:
    c = _zlib.compressobj(wbits=-15)
    return c.compress(b) + c.flush()


def _snappy_compress(b: bytes) -> bytes:
    return _SNAPPY.compress(b, asbytes=True)


def _snappy_decompress(b: bytes) -> bytes:
    # pyarrow sizes its output from `decompressed_size`, so read the
    # exact length from the varint preamble
    n = shift = i = 0
    while True:
        if i == len(b) or shift > 28:
            raise ValueError("snappy: bad varint length preamble")
        n |= (b[i] & 0x7F) << shift
        i += 1
        if b[i - 1] < 0x80:
            break
        shift += 7
    # the longest element, a 3-byte copy, emits 64 bytes: a preamble
    # past that ratio is junk, rejected before allocating its buffer
    if n > 22 * (len(b) - i):
        raise ValueError(f"snappy: length preamble {n} exceeds what "
                         f"{len(b) - i} compressed bytes can hold")
    try:
        return _SNAPPY.decompress(b, decompressed_size=n, asbytes=True)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"snappy: {e}") from e


_P1, _P2, _P3, _P4, _P5 = (2654435761, 2246822519, 3266489917,
                           668265263, 374761393)
_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _round(v: int, lane: int) -> int:
    return _rotl((v + lane * _P2) & _M32, 13) * _P1 & _M32


def _xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 (xxhash_spec.md), the LZ4 frame checksum."""
    n = len(data)
    stripes = n - n % 16
    if n >= 16:
        v1, v2 = (seed + _P1 + _P2) & _M32, (seed + _P2) & _M32
        v3, v4 = seed & _M32, (seed - _P1) & _M32
        lanes = struct.unpack_from(f"<{stripes // 4}I", data)
        for j in range(0, len(lanes), 4):
            v1 = _round(v1, lanes[j])
            v2 = _round(v2, lanes[j + 1])
            v3 = _round(v3, lanes[j + 2])
            v4 = _round(v4, lanes[j + 3])
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    i = stripes
    while i + 4 <= n:
        h = (h + struct.unpack_from("<I", data, i)[0] * _P3) & _M32
        h = _rotl(h, 17) * _P4 & _M32
        i += 4
    for byte in data[i:]:
        h = (h + byte * _P5) & _M32
        h = _rotl(h, 11) * _P1 & _M32
    h = (h ^ (h >> 15)) * _P2 & _M32
    h = (h ^ (h >> 13)) * _P3 & _M32
    return h ^ (h >> 16)


# magic, FLG 0x64 (version 01, independent blocks, content checksum),
# BD 0x40 (64 KiB blocks), HC = second byte of xxh32(FLG BD)
_LZ4_HEADER = (struct.pack("<I", 0x184D2204) + b"\x64\x40"
               + bytes([(_xxh32(b"\x64\x40") >> 8) & 0xFF]))
_LZ4_BLOCK_MAX = 1 << 16


def _lz4_compress(b: bytes) -> bytes:
    out = [_LZ4_HEADER]
    for off in range(0, len(b), _LZ4_BLOCK_MAX):
        chunk = b[off:off + _LZ4_BLOCK_MAX]
        block = _LZ4_BLOCK.compress(chunk, asbytes=True)
        if len(block) < len(chunk):
            out += (struct.pack("<I", len(block)), block)
        else:  # stored block: the size's high bit marks it raw
            out += (struct.pack("<I", len(chunk) | 0x80000000), chunk)
    out += (b"\0\0\0\0", struct.pack("<I", _xxh32(b)))  # EndMark, checksum
    return b"".join(out)


def _lz4_decompress(b: bytes) -> bytes:
    if not b:  # the stream reader would return b"" for it
        raise ValueError("lz4: empty frame")
    try:
        return pa.CompressedInputStream(pa.BufferReader(b), "lz4").read()
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"lz4: {e}") from e


_CODECS = {
    "gzip": (lambda b: _gzip.compress(b, mtime=0), _gzip.decompress),
    "zlib": (_zlib.compress, _zlib.decompress),
    # raw DEFLATE (RFC 1951): no zlib header or Adler-32 trailer
    "flate": (_flate_compress, lambda b: _zlib.decompress(b, -15)),
    "bz2": (_bz2.compress, _bz2.decompress),
    "lzma": (_lzma.compress, _lzma.decompress),
    "snappy": (_snappy_compress, _snappy_decompress),
    "lz4": (_lz4_compress, _lz4_decompress),
}


def _codec(algorithm: str, direction: int):
    try:
        return _CODECS[algorithm][direction]
    except KeyError:
        raise ValueError(
            f"compression algorithm {algorithm!r} unsupported "
            f"(have: {sorted(_CODECS)})") from None


def compress(col: Column, algorithm: str = "gzip") -> Column:
    """`compress` processor: payload bytes → compressed bytes."""
    fn = _codec(algorithm, 0)

    @pandas_udf("binary")
    def op(payloads):
        return payloads.map(lambda b: None if b is None else fn(bytes(b)))

    return op(col.cast("binary"))


def decompress(col: Column, algorithm: str = "gzip") -> Column:
    """`decompress` processor: compressed bytes → payload bytes."""
    fn = _codec(algorithm, 1)

    @pandas_udf("binary")
    def op(payloads):
        return payloads.map(lambda b: None if b is None else fn(bytes(b)))

    return op(col)


def decompress_str(col: Column, algorithm: str = "gzip") -> Column:
    return decompress(col, algorithm).cast("string")
