"""Payload (de)compression processors.

Reference: lib/processor/{compress.go:24, decompress.go:26} — gzip,
zlib, flate, snappy, lz4.  Python stdlib covers gzip/zlib/bz2/lzma;
snappy/lz4 are gated behind import (not in this container) exactly like
the reference gates optional codecs.

These are pandas UDFs over binary columns: compression is pure CPU per
record with no cross-record state, so Arrow batching distributes it at
scan speed; in practice prefer file-level codecs (parquet zstd) which
Spark applies for free — this operator exists for payload-level parity.
"""

from __future__ import annotations

import bz2 as _bz2
import gzip as _gzip
import lzma as _lzma
import zlib as _zlib

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _flate_compress(b: bytes) -> bytes:
    c = _zlib.compressobj(wbits=-15)
    return c.compress(b) + c.flush()


_CODECS = {
    "gzip": (lambda b: _gzip.compress(b, mtime=0), _gzip.decompress),
    "zlib": (_zlib.compress, _zlib.decompress),
    # raw DEFLATE (RFC 1951): no zlib header or Adler-32 trailer
    "flate": (_flate_compress, lambda b: _zlib.decompress(b, -15)),
    "bz2": (_bz2.compress, _bz2.decompress),
    "lzma": (_lzma.compress, _lzma.decompress),
}

try:  # C extension when present (real compression ratios) ...
    import snappy as _snappy  # noqa: F401
    _CODECS["snappy"] = (_snappy.compress, _snappy.decompress)
except ImportError:
    # ... else the pure-Python raw-snappy codec (operators/snappy_py):
    # spec-complete decoder for real payloads, all-literal encoder
    from benthos_spark.operators import snappy_py as _snappy_py
    _CODECS["snappy"] = (_snappy_py.compress, _snappy_py.decompress)

try:  # python-lz4 binding when present (frame format) ...
    import lz4.frame as _lz4f  # noqa: F401
    _CODECS["lz4"] = (_lz4f.compress, _lz4f.decompress)
except ImportError:
    # ... else the pure-Python frame+block codec (operators/lz4_py):
    # spec-complete frame decoder, greedy fast-level block encoder
    from benthos_spark.operators import lz4_py as _lz4_py
    _CODECS["lz4"] = (_lz4_py.compress, _lz4_py.decompress)


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
