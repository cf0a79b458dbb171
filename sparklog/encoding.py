"""Tokenize/detokenize between raw syslog lines and the pre-tokenized input
table shape ``(doc_id, tokens:array<int32>, n_tok, source)``.

Encoding (fixture generator and decoder are inverses): ``tokens[i]`` is the
Unicode code point of ``raw[i]``.  Syslog bodies are printable US-ASCII
(RFC5424 PRINTUSASCII), so int32 is ample and round-tripping is exact —
which makes the routed-row token-array equality audit well-defined.

Two decoder paths:

* **SQL/JVM path (codegen'd, no Python):**
  ``concat_ws('', transform(tokens, t -> char(t)))``
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


# Spark SQL expression for the JVM-side (whole-stage-codegen) decoder.
DETOKENIZE_SQL = "concat_ws('', transform({col}, t -> char(t)))"


def detokenize_col(col: str = "tokens"):
    """Spark Column that decodes a tokens array JVM-side (no Python)."""
    from pyspark.sql import functions as F

    return F.expr(DETOKENIZE_SQL.format(col=col))


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
