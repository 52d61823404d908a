"""Bit-exact NebulaGraph ``HASH()`` for string ids — GCC ``std::hash``.

The reference never computes HASH itself: it renders ``HASH("value")`` into
the nGQL statement (pkg/picker/converter_function.go:21-33) and the
NebulaGraph SERVER evaluates it. NebulaGraph documents that its ``HASH()``
over strings is GCC libstdc++'s ``std::hash<std::string>`` — the public
MurmurHash-style ``_Hash_bytes`` (libstdc++ hash_bytes.cc, Austin Appleby's
public-domain MurmurHash64A shape) with multiplier 0xc6a4a7935bd1e995,
shift 47, and seed 0xc70f6907, returning the result as int64.

This module reproduces it in two forms, golden-tested against values
generated by an actual ``g++ std::hash<std::string>`` binary (21/21 exact,
including the empty string, every tail length 1-7, multi-chunk strings,
and non-ASCII UTF-8):

- :func:`hash_bytes_py` — scalar model (tests, tails, tiny inputs).
- :func:`nebula_hash_series` — numpy-vectorized batch kernel: the input
  batch is zero-padded into an (N, W) little-endian uint64 matrix and the
  mix runs per CHUNK POSITION across all rows (W = longest string / 8, a
  handful for id-sized inputs), so there is no per-row Python in the loop.
  Zero padding is what makes the tail load free: libstdc++'s
  ``load_bytes`` is the little-endian value of the last ``len & 7`` bytes,
  which is exactly the padded chunk masked to its low bytes.
- :func:`nebula_hash` — an Arrow-batched ``pandas_udf`` Column for use in
  id compilation.

Scale note: this is the PARITY path — a Python stage (Arrow-batched,
numpy-vectorized) in the id hot path, and the only ``function: hash``
implementation :func:`nebula_importer_spark.functions.picker.compile_id`
has: the config surface stays exactly the reference's, where ``hash`` means
the server's ``HASH()``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_M = 0xC6A4A7935BD1E995
_SEED = 0xC70F6907
_MASK = (1 << 64) - 1
# Above this padded-matrix blowup factor the vectorized kernel would
# allocate mostly padding (one huge outlier string in a batch of short
# ids); fall back to the scalar loop for that batch instead.
_MAX_PAD_BLOWUP = 4.0


def hash_bytes_py(data: bytes) -> int:
    """Scalar ``_Hash_bytes(data, len, 0xc70f6907)`` → signed int64."""
    ln = len(data)
    h = (_SEED ^ (ln * _M)) & _MASK
    aligned = ln & ~7
    for i in range(0, aligned, 8):
        k = int.from_bytes(data[i : i + 8], "little")
        d = (k * _M) & _MASK
        d = ((d ^ (d >> 47)) * _M) & _MASK
        h = ((h ^ d) * _M) & _MASK
    if ln & 7:
        k = int.from_bytes(data[aligned:], "little")
        h = ((h ^ k) * _M) & _MASK
    h = ((h ^ (h >> 47)) * _M) & _MASK
    h ^= h >> 47
    return h - (1 << 64) if h >= (1 << 63) else h


def nebula_hash_series(values):
    """pandas Series[str] → pandas Series[Int64] (nulls propagate)."""
    import numpy as np
    import pandas as pd

    n = len(values)
    if n == 0:
        return pd.Series([], dtype="Int64")
    null_mask = values.isna().to_numpy()
    encoded = [
        b"" if null_mask[i] else str(values.iat[i]).encode("utf-8")
        for i in range(n)
    ]
    lens = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=n)
    total = int(lens.sum())
    max_len = int(lens.max())
    width = max(1, (max_len + 7) // 8)
    if n * width * 8 > _MAX_PAD_BLOWUP * (total + 8 * n):
        out = np.fromiter(
            (hash_bytes_py(b) for b in encoded), dtype=np.int64, count=n
        )
    else:
        pad = width * 8
        buf = b"".join(b.ljust(pad, b"\0") for b in encoded)
        mat = np.frombuffer(buf, dtype="<u8").reshape(n, width)
        m = np.uint64(_M)
        sh = np.uint64(47)
        h = np.uint64(_SEED) ^ (lens.astype(np.uint64) * m)
        aligned = lens & ~7
        for j in range(width):
            active = aligned > 8 * j
            if not active.any():
                break
            d = mat[:, j] * m
            d ^= d >> sh
            d *= m
            h = np.where(active, (h ^ d) * m, h)
        tail_len = (lens & 7).astype(np.uint64)
        has_tail = tail_len > 0
        if has_tail.any():
            idx = np.minimum(aligned // 8, width - 1)
            tail = mat[np.arange(n), idx] & (
                (np.uint64(1) << (tail_len * np.uint64(8))) - np.uint64(1)
            )
            h = np.where(has_tail, (h ^ tail) * m, h)
        h = (h ^ (h >> sh)) * m
        h ^= h >> sh
        out = h.view(np.int64)
    res = pd.Series(out, index=values.index, dtype="Int64")
    res[null_mask] = pd.NA
    return res


@F.pandas_udf(LongType())
def _nebula_hash_udf(values):
    return nebula_hash_series(values)


def nebula_hash(col) -> Column:
    """Bit-exact NebulaGraph/GCC ``std::hash`` of a string column → long.
    Null in → null out (upstream reject passes surface missing ids)."""
    c = F.col(col) if isinstance(col, str) else col
    return _nebula_hash_udf(c.cast("string"))
