"""Tokenize/detokenize between raw syslog lines and the pre-tokenized input
table shape ``(doc_id, tokens:array<int32>, n_tok, source)``.

Encoding (fixture generator and decoder are inverses): ``tokens[i]`` is the
Unicode code point of ``raw[i]``.  int32 holds every code point, so the
round trip is exact for any line, ASCII or not (astral code points
included) — which makes the routed-row token-array equality audit
well-defined.

Two decoder paths:

* **SQL/JVM path (codegen'd, no Python):** ``char(t)`` per code point
  below 256, and above it the code point as 8 hex digits, unhexed and
  decoded as UTF-32 (big-endian): Spark's ``char(n)`` is
  ``chr(n % 256)``.  ASCII text never takes the decode branch.
* **Arrow path** (``detokenize_arrow``) for the Python parse batch: one
  decoder over the list column's flat values and offsets builds a
  pa.StringArray — no per-row Python.  ``udfs._string_from_token_list``
  calls it for batches that are not all ASCII.
"""

from __future__ import annotations

import numpy as np


def detokenize_arrow(tokens):
    """pa.ListArray of int32 code points -> pa.StringArray.

    The flat code points of the rows take one utf-32 decode and one utf-8
    encode.  A row's BYTE offset is its code-point offset plus the extra
    utf-8 bytes (1-3 each) of the multi-byte code points before it, so
    only those code points are visited.  A null list decodes to "" (its
    offsets are equal)."""
    import pyarrow as pa

    off = tokens.offsets.to_numpy().astype(np.int64)
    flat = tokens.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]
    data = (flat.astype("<i4", copy=False).tobytes().decode("utf-32-le")
            .encode("utf-8"))
    wide = np.flatnonzero(flat >= 0x80)
    extra = np.cumsum(1 + (flat[wide] >= 0x800) + (flat[wide] >= 0x10000))
    starts = off - off[0]
    starts += np.concatenate(([0], extra))[np.searchsorted(wide, starts)]
    return pa.StringArray.from_buffers(
        len(tokens), pa.py_buffer(starts.astype(np.int32)),
        pa.py_buffer(data))


def detokenize_col(col: str = "tokens"):
    """Spark Column that decodes a tokens array JVM-side (no Python, whole-
    stage codegen): the SQL/JVM path of the module docstring."""
    from pyspark.sql import functions as F

    return F.expr(f"concat_ws('', transform({col}, t -> case when t < 256 "
                  "then char(t) else decode(unhex(lpad(hex(t), 8, '0')), "
                  "'UTF-32') end))")


def tokenize_col(col: str = "raw"):
    """Spark Column that encodes a string to array<int> JVM-side: split to
    chars then ascii() per char."""
    from pyspark.sql import functions as F

    # split('', '') yields [''] (ascii -> [0]), so empty strings need an
    # explicit empty array to keep the round trip exact
    return F.expr(
        f"case when length({col}) = 0 then array() "
        f"else transform(split({col}, ''), c -> cast(ascii(c) as int)) end"
    ).cast("array<int>")
