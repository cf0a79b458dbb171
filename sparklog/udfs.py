"""The parse layer: one path from an Arrow batch to the parsed columns.

``parse_batch_arrow`` is the one place a batch of raw lines becomes the
parsed columns, for every ``ParseConfig``.  Each tier yields parts of
(row positions, columns): the Arrow fast-path hits per dialect, the rows
the Arrow error classifier settles, and the masked-column slow path per
dialect.  One merge concatenates the parts and gathers each column back
into row order.

``make_map_in_arrow_parser`` wraps it for ``DataFrame.mapInArrow`` (decode
+ detect + parse in one Arrow pass per batch: the pipeline's only
JVM<->Python boundary), ``map_in_arrow_parse`` builds that call and its
output schema for every Spark entry point, and ``parse_frame`` wraps it
for the pandas library API.  ``_line_array`` turns every entry point's
input into the one batch shape ``parse_batch_arrow`` takes.

The parsed columns are named once (``grammar._OUTPUT_COLUMNS``) and typed
once (``PARSED_SCHEMA``); the Arrow types the batches carry and the pandas
dtypes of ``parse_frame`` derive from it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .grammar import _OUTPUT_COLUMNS, RFC_3164, RFC_5424, ParseConfig

PARSED_SCHEMA = T.StructType([
    T.StructField(name, typ) for name, typ in zip(_OUTPUT_COLUMNS, (
        *[T.IntegerType()] * 4,      # priority, facility, severity, version
        T.TimestampType(),           # ts
        T.IntegerType(),             # tz_offset_minutes
        T.BooleanType(),             # ts_is_nil
        *[T.StringType()] * 9,       # hostname .. message, parse_error
    ), strict=True)])

# naive timestamp[us]: the session time zone is UTC
_ARROW_TYPES = {f.name: to_arrow_type(f.dataType, timestamp_utc=False)
                for f in PARSED_SCHEMA.fields}


def _string_from_token_list(col: pa.ListArray) -> pa.StringArray:
    """list<int32> code points -> pa.StringArray straight from the list's
    values and offsets (no per-row arrays).  An all-ASCII batch (syslog is
    PRINTUSASCII) is one narrowing cast; any other batch goes to
    ``encoding.detokenize_arrow``.  A null list decodes to ""."""
    from . import encoding

    off = col.offsets.to_numpy().astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]
    if (flat >= 0x80).any():
        return encoding.detokenize_arrow(col)
    return pa.StringArray.from_buffers(
        len(col), pa.py_buffer((off - off[0]).astype(np.int32)),
        pa.py_buffer(flat.astype(np.uint8)))


def _line_array(col) -> pa.StringArray:
    """Any parse input -> the null-free pa.StringArray that detection and
    ``parse_batch_arrow`` take.  The input kind is read from the Arrow
    type: a list<int32> token column is decoded; a string column (or
    anything ``pa.array`` takes as strings, e.g. a pandas Series) has its
    chunks combined and nulls set to ""."""
    if not isinstance(col, (pa.Array, pa.ChunkedArray)):
        col = pa.array(col, pa.string(), from_pandas=True)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_list(col.type):
        return _string_from_token_list(col)
    return pc.fill_null(col, "") if col.null_count else col


def _rows(arr: pa.Array, mask: np.ndarray) -> pa.Array:
    """The rows of ``arr`` where ``mask`` holds (no copy when it holds
    everywhere)."""
    return arr if mask.all() else arr.filter(pa.array(mask))


def parse_batch_arrow(arr: pa.StringArray, rfc: np.ndarray,
                      cfg: ParseConfig) -> dict:
    """Whole-batch parse of a null-free pa.StringArray with per-row dialect
    codes ``rfc`` -> {output column: pa.Array}, for every ParseConfig.

    Default-config batches take the Arrow fast path first (hits keep their
    Arrow string buffers), then the Arrow error classifier on the misses;
    only what both leave goes through the pandas slow path.  Injected
    configs skip both (the fast path and the classifier assume the
    default config) and send every known-dialect row to the slow path.
    Unknown-dialect rows carry ``DetectFailed``.

    Every tier adds parts of (row positions, columns); a column a part
    lacks is null there.  The one merge concatenates the parts and puts
    each column back in row order with one take, skipped when a single
    part covers the batch (its positions are then the identity)."""
    from . import fastpath, grammar

    n = len(rfc)
    fast = grammar._fast_eligible(cfg)
    dialects = (
        (RFC_3164, lambda a: fastpath.parse_rfc3164_fast(a, cfg.default_year),
         grammar._parse_rfc3164_slow),
        (RFC_5424, fastpath.parse_rfc5424_fast, grammar._parse_rfc5424_slow),
    )
    parts = []
    left = np.ones(n, dtype=bool)       # rows no tier has settled yet
    if fast:
        for code, fast_parse, _ in dialects:
            m = rfc == code
            if m.any():
                hit, cols = fast_parse(_rows(arr, m))
                pos = np.flatnonzero(m)[hit]
                parts.append((pos, cols))
                left[pos] = False
    if left.any():
        pos = np.flatnonzero(left)
        sub, srfc = _rows(arr, left), rfc[pos]
        # Arrow error pre-classification: provable error codes skip the
        # pandas slow path entirely (garbage bursts stay cheap)
        codes = (fastpath.classify_errors_fast(sub, srfc) if fast
                 else np.full(len(pos), None, dtype=object))
        codes[(srfc != RFC_3164) & (srfc != RFC_5424)] = "DetectFailed"
        err = pd.notna(codes)
        parts.append((pos[err],
                      {"parse_error": pa.array(codes[err], pa.string())}))
        for code, _, slow_parse in dialects:
            m = ~err & (srfc == code)
            if m.any():
                lines = _rows(sub, m).to_numpy(zero_copy_only=False)
                parts.append((pos[m], slow_parse(pd.Series(lines), cfg)))

    parts = [(pos, cols) for pos, cols in parts if len(pos)]
    order = None
    if len(parts) > 1:
        inv = np.empty(n, dtype=np.int64)
        inv[np.concatenate([pos for pos, _ in parts])] = np.arange(n)
        order = pa.array(inv)
    out = {}
    for name, typ in _ARROW_TYPES.items():
        chunks = [_part_column(cols, name, typ, len(pos))
                  for pos, cols in parts] or [pa.nulls(0, typ)]
        col = chunks[0] if len(chunks) == 1 else pa.concat_arrays(chunks)
        out[name] = col if order is None else col.take(order)
    return out


def _part_column(cols, name: str, typ: pa.DataType, k: int) -> pa.Array:
    """One part's ``name`` column as a pa.Array of ``typ``: nulls when the
    part lacks it; fast-path columns are Arrow or numpy, slow-path ones a
    pandas Series."""
    if name not in cols:
        return pa.nulls(k, typ)
    v = cols[name]
    if isinstance(v, pd.Series):
        if pa.types.is_timestamp(typ):
            return pa.array(v.to_numpy(dtype="M8[ns]")).cast(typ)
        return pa.Array.from_pandas(v, type=typ)
    return (v if isinstance(v, pa.Array) else pa.array(v)).cast(typ)


def make_map_in_arrow_parser(cfg: ParseConfig | None = None,
                             passthrough=("doc_id", "source"),
                             input_col: str = "tokens",
                             out_prefix: str = ""):
    """Batch function for DataFrame.mapInArrow: passthrough columns ride
    along untouched (same Arrow buffers); decode+detect+parse append the
    rfc + parsed columns.  Being a map barrier, the parse can never be
    duplicated by filter pushdown the way struct-field references to a
    UDF result can.

    The input kind is read from ``input_col``'s Arrow type
    (``_line_array``).  A list<int32> token column feeds the decoder
    straight from its Arrow buffers and the decoded line is emitted as a
    ``raw`` string column: the token ARRAY must never appear in the OUTPUT
    batch, since shipping array<int> back across the Arrow boundary costs
    10-20x the parse itself (measured 17-23s vs 0.6-2.8s per 400k rows at
    local[32]), and the codec is bijective, so downstream equality audits
    on the string are exactly the token-array invariant.  A string column
    is parsed as is (nulls as "") and no ``raw`` is emitted."""
    cfg = cfg or ParseConfig()

    def fn(batches):
        from .grammar import detect_rfc_arrow

        for b in batches:
            col = b.column(input_col)
            arr = _line_array(col)
            rfc = detect_rfc_arrow(arr)
            out = parse_batch_arrow(arr, rfc, cfg)
            names = list(passthrough)
            arrays = [b.column(c) for c in passthrough]
            if pa.types.is_list(col.type):
                names.append("raw")
                arrays.append(arr)
            names += ["rfc"] + [f"{out_prefix}{c}" for c in out]
            arrays += [pa.array(rfc, pa.int32()), *out.values()]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


def map_in_arrow_parse(df, input_col: str, cfg: ParseConfig | None = None,
                       out_prefix: str = ""):
    """``df`` plus ``rfc`` and the parsed columns (named with
    ``out_prefix``) through one mapInArrow.  An array<int> token column is
    replaced by the decoded ``raw`` string; a string column stays, and
    every other column passes through."""
    tokens = isinstance(df.schema[input_col].dataType, T.ArrayType)
    keep = [f for f in df.schema.fields if not tokens or f.name != input_col]
    fn = make_map_in_arrow_parser(cfg, tuple(f.name for f in keep),
                                  input_col, out_prefix)
    schema = T.StructType(
        keep
        + ([T.StructField("raw", T.StringType())] if tokens else [])
        + [T.StructField("rfc", T.IntegerType())]
        + [T.StructField(f"{out_prefix}{f.name}", f.dataType)
           for f in PARSED_SCHEMA.fields])
    return df.mapInArrow(fn, schema)


def parse_frame(lines, cfg: ParseConfig,
                rfc: int | None = None) -> pd.DataFrame:
    """pandas adapter over parse_batch_arrow for the library API: lines (a
    pandas Series or anything pd.Series accepts) are parsed as dialect
    ``rfc``, or detected per row when ``rfc`` is None — the frame then
    leads with the detected ``rfc`` column.  Null lines parse as "".  The
    frame keeps the caller's index; ints come back as nullable Int64,
    ``ts`` as M8[ns], strings and ``ts_is_nil`` as object."""
    from .grammar import detect_rfc_arrow

    lines = lines if isinstance(lines, pd.Series) else pd.Series(lines)
    arr = _line_array(lines)
    codes = (detect_rfc_arrow(arr) if rfc is None
             else np.full(len(arr), rfc, dtype=np.int64))
    data = {} if rfc is not None else {"rfc": codes}
    for c, col in parse_batch_arrow(arr, codes, cfg).items():
        v = col.to_numpy(zero_copy_only=False)
        if pa.types.is_integer(col.type):
            data[c] = pd.array(v, dtype="Int64")
        elif pa.types.is_timestamp(col.type):
            data[c] = v.astype("M8[ns]")
        else:
            data[c] = np.asarray(v, dtype=object)
    return pd.DataFrame(data, index=lines.index)


DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("raw", T.StringType()),
])


def make_decoder_fn(input_col: str = "tokens"):
    """mapInArrow batch fn: tokens -> (doc_id, raw) only, for the audit's
    source side (input-side token arrays are cheap; it is the OUTPUT side
    that must stay string-only)."""

    def fn(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), _line_array(b.column(input_col))],
                names=["doc_id", "raw"])

    return fn
