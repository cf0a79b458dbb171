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
  utf-32 decode over the flat code points builds a pa.StringArray — no
  per-row Python loops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def detokenize_arrow(tokens: pd.Series):
    """list[int32] code points -> pa.StringArray without per-row Python.

    Flat codepoints -> one utf-32 decode -> one utf-8 encode; per-row BYTE
    offsets derived vectorially from codepoint widths (1/2/3/4 bytes), so
    the Arrow string buffer is built in two passes even for non-ASCII.
    """
    import pyarrow as pa

    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64,
                       count=len(tokens))
    if len(lens) == 0:
        return pa.array([], pa.string())
    flat = (np.concatenate([np.asarray(t, dtype=np.int32) for t in tokens])
            if lens.sum() else np.array([], dtype=np.int32))

    byte_offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    if len(flat) == 0 or (flat < 0x80).all():
        # ASCII fast path (syslog is PRINTUSASCII): utf-8 bytes ARE the
        # codepoints — one narrowing cast, offsets = char offsets
        data = flat.astype(np.uint8).tobytes()
        np.cumsum(lens, out=byte_offsets[1:])
        return pa.StringArray.from_buffers(
            len(lens), pa.py_buffer(byte_offsets.tobytes()),
            pa.py_buffer(data))

    text = flat.astype("<u4").tobytes().decode("utf-32-le")
    data = text.encode("utf-8")
    blen = (1 + (flat >= 0x80).astype(np.int64) + (flat >= 0x800)
            + (flat >= 0x10000))
    cum = np.cumsum(blen)
    ends = np.cumsum(lens)
    byte_offsets[1:] = np.where(ends > 0, cum[np.maximum(ends - 1, 0)], 0)
    byte_offsets = np.maximum.accumulate(byte_offsets).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(lens), pa.py_buffer(byte_offsets.tobytes()),
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
