"""The parse dispatcher and its Spark batch function.

``parse_batch_arrow`` is the one place a batch of raw lines becomes the
parsed columns, for every ``ParseConfig``: the Arrow fast path and error
classifier (default config only), the masked-column slow path for the
rest, merged with one gather per column.  ``make_map_in_arrow_parser``
wraps it for ``DataFrame.mapInArrow`` (decode + detect + parse in one
Arrow pass per batch: the pipeline's only JVM<->Python boundary), and
``parse_frame`` wraps it for the pandas library API.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from .grammar import RFC_3164, RFC_5424, ParseConfig

PARSED_SCHEMA = T.StructType([
    T.StructField("priority", T.IntegerType()),
    T.StructField("facility", T.IntegerType()),
    T.StructField("severity", T.IntegerType()),
    T.StructField("version", T.IntegerType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("tz_offset_minutes", T.IntegerType()),
    T.StructField("ts_is_nil", T.BooleanType()),
    T.StructField("hostname", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("app_name", T.StringType()),
    T.StructField("proc_id", T.StringType()),
    T.StructField("msg_id", T.StringType()),
    T.StructField("structured_data", T.StringType()),
    T.StructField("message", T.StringType()),
    T.StructField("parse_error", T.StringType()),
])

_INT_COLS = ["priority", "facility", "severity", "version",
             "tz_offset_minutes"]


def _string_from_token_list(col):
    """pa list<int32> -> pa.StringArray without materializing per-row numpy
    arrays (the mapInArrow input-side win: ListArray values/offsets are
    used directly)."""
    import pyarrow as pa

    from .encoding import detokenize_arrow

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = col.values.to_numpy(zero_copy_only=False)
    lo, hi = off[0], off[-1]
    flat = vals[lo:hi]
    rel = (off - lo)
    if len(flat) == 0 or (flat < 0x80).all():
        data = flat.astype(np.uint8).tobytes()
        return pa.StringArray.from_buffers(
            len(off) - 1, pa.py_buffer(rel.astype(np.int32).tobytes()),
            pa.py_buffer(data))
    # non-ASCII fallback: slice per row via the generic pandas-side codec
    toks = pd.Series([flat[a:b] for a, b in zip(rel[:-1], rel[1:])])
    return detokenize_arrow(toks)


def parse_batch_arrow(arr, rfc: np.ndarray, cfg: ParseConfig) -> dict:
    """Whole-batch parse of a pa.StringArray with per-row dialect codes
    ``rfc`` -> {output column: pa.Array}, for every ParseConfig.

    Default-config batches take the Arrow fast path first (hits keep their
    Arrow string buffers), then the Arrow error classifier on the misses;
    only what both leave goes through the pandas slow path.  Injected
    configs skip both (the fast path and the classifier assume the
    default config) and send every known-dialect row to the slow path.
    Unknown-dialect rows carry ``DetectFailed``.  The row groups are
    merged with one gather (take) per column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import fastpath
    from .grammar import (
        _OUTPUT_COLUMNS,
        _fast_eligible,
        _parse_rfc3164_slow,
        _parse_rfc5424_slow,
    )

    n = len(rfc)
    fast = _fast_eligible(cfg)
    hit3 = np.zeros(n, dtype=bool)
    hit5 = np.zeros(n, dtype=bool)
    cols3: dict = {}
    cols5: dict = {}
    if fast:
        m3 = rfc == RFC_3164
        m5 = rfc == RFC_5424
        if m3.all():
            h3, cols3 = fastpath.parse_rfc3164_fast(arr, cfg.default_year)
            hit3 = h3
        elif m3.any():
            a3 = pc.filter(arr, pa.array(m3))
            h3, cols3 = fastpath.parse_rfc3164_fast(a3, cfg.default_year)
            hit3[np.flatnonzero(m3)[h3]] = True
        if m5.all():
            h5, cols5 = fastpath.parse_rfc5424_fast(arr)
            hit5 = h5
        elif m5.any():
            a5 = pc.filter(arr, pa.array(m5))
            h5, cols5 = fastpath.parse_rfc5424_fast(a5)
            hit5[np.flatnonzero(m5)[h5]] = True

        # homogeneous canonical batch (the 100 TB common case): columns
        # are already in row order — skip the concat+gather entirely
        for full_hit, cols_d in ((hit3, cols3), (hit5, cols5)):
            if full_hit.all():
                return {c: _fast_col(cols_d, c, n) for c in _OUTPUT_COLUMNS}

    miss = ~(hit3 | hit5)
    slow_parts = []
    err_codes = None
    err_pos = np.array([], dtype=np.int64)
    if miss.any():
        miss_idx = np.flatnonzero(miss)
        miss_arr = pc.filter(arr, pa.array(miss))
        srfc = rfc[miss_idx]
        # Arrow error pre-classification: provable error codes skip the
        # pandas slow path entirely (garbage bursts stay cheap)
        codes = (fastpath.classify_errors_fast(miss_arr, srfc) if fast
                 else np.full(len(srfc), None, dtype=object))
        codes[~((srfc == RFC_3164) | (srfc == RFC_5424))] = "DetectFailed"
        classified = np.array([x is not None for x in codes])
        if classified.any():
            err_codes = codes[classified]
            err_pos = miss_idx[classified]
        rem = ~classified
        if rem.any():
            sub = pd.Series(
                pc.filter(miss_arr, pa.array(rem)).to_numpy(
                    zero_copy_only=False),
                index=miss_idx[rem], dtype=object)
            srfc_r = srfc[rem]
            sm3 = srfc_r == RFC_3164
            sm5 = srfc_r == RFC_5424
            frames = []
            order = []
            if sm3.any():
                frames.append(_parse_rfc3164_slow(sub[sm3], cfg))
                order.append(miss_idx[rem][sm3])
            if sm5.any():
                frames.append(_parse_rfc5424_slow(sub[sm5], cfg))
                order.append(miss_idx[rem][sm5])
            for f in frames:  # align dtypes so concat never silently casts
                f["ts_is_nil"] = f["ts_is_nil"].astype(object)
            slow = pd.concat(frames, ignore_index=True)
            slow_pos = np.concatenate(order)
            slow_parts = [(slow, slow_pos)]

    # gather permutation: [3164 hits, 5424 hits, classified errs, slow]
    pos = [np.flatnonzero(hit3), np.flatnonzero(hit5), err_pos]
    if slow_parts:
        pos.append(slow_parts[0][1])
    perm_src = np.concatenate(pos) if pos else np.array([], dtype=np.int64)
    inv = np.empty(n, dtype=np.int64)
    inv[perm_src] = np.arange(n)
    inv_pa = pa.array(inv)

    n3, n5 = int(hit3.sum()), int(hit5.sum())

    n_err = len(err_pos)

    def seg(colname, typ):
        """Build the concatenated [hits3, hits5, classified-errors, slow]
        segment for one output column, then gather into row order."""
        chunks = []
        for nn, cols_d in ((n3, cols3), (n5, cols5)):
            if not nn:
                continue
            if colname in cols_d:
                chunks.append(_to_pa(cols_d[colname], typ))
            elif colname == "ts_is_nil":
                # fast-path hits always carry a concrete False
                chunks.append(pa.array(np.zeros(nn, dtype=bool)))
            else:
                chunks.append(pa.nulls(nn, typ))
        if n_err:
            if colname == "parse_error":
                chunks.append(pa.array(list(err_codes), pa.string()))
            else:
                chunks.append(pa.nulls(n_err, typ))
        if slow_parts:
            slow = slow_parts[0][0]
            chunks.append(_slow_col_to_pa(slow[colname], typ))
        merged = pa.concat_arrays([c.combine_chunks()
                                   if isinstance(c, pa.ChunkedArray) else c
                                   for c in chunks] or [pa.nulls(0, typ)])
        return merged.take(inv_pa)

    return {c: seg(c, _pa_type(c)) for c in _OUTPUT_COLUMNS}


def _pa_type(colname):
    import pyarrow as pa

    if colname in _INT_COLS:
        return pa.int32()
    if colname == "ts":
        return pa.timestamp("us")
    if colname == "ts_is_nil":
        return pa.bool_()
    return pa.string()


def _to_pa(v, typ):
    """Fast-path column (numpy or pa.Array over the hit rows) -> pa.Array
    of `typ`."""
    import pyarrow as pa

    if isinstance(v, (pa.Array, pa.ChunkedArray)):
        return v.cast(typ)
    if typ == pa.bool_():
        return pa.array(v.astype(bool))
    return pa.array(v).cast(typ)


def _fast_col(cols_d: dict, colname: str, n: int):
    """All-hit shortcut column builder: fast-path output (already in row
    order) -> pa.Array; absent columns are nulls, ts_is_nil is False."""
    import pyarrow as pa

    typ = _pa_type(colname)
    if colname in cols_d:
        return _to_pa(cols_d[colname], typ)
    if colname == "ts_is_nil":
        return pa.array(np.zeros(n, dtype=bool))
    return pa.nulls(n, typ)


def _slow_col_to_pa(series: pd.Series, typ):
    import pyarrow as pa

    if typ == pa.timestamp("us"):
        return pa.array(series.to_numpy(dtype="M8[ns]")).cast(typ)
    return pa.Array.from_pandas(series, type=typ)


def make_map_in_arrow_parser(cfg: ParseConfig | None = None,
                             passthrough=("doc_id", "source"),
                             input_col: str = "tokens",
                             input_kind: str = "tokens",
                             out_prefix: str = "",
                             emit_raw: bool = True):
    """Batch function for DataFrame.mapInArrow: passthrough columns ride
    along untouched (same Arrow buffers); decode+detect+parse append the
    rfc + parsed columns.  The token list column feeds the decoder
    straight from its Arrow buffers (no per-row ndarray allocations), and
    — being a map barrier — the parse can never be duplicated by filter
    pushdown the way struct-field references to a UDF result can.

    The token ARRAY column must never appear in the OUTPUT batch: shipping
    array<int> back across the Arrow boundary costs 10-20x the parse
    itself (measured 17-23s vs 0.6-2.8s per 400k rows at local[32]) and
    bloats the JVM with list-array allocations.  Instead the decoded line
    is emitted as a plain string column (``emit_raw``) — the codec is
    bijective, so downstream equality audits on the string are exactly the
    token-array invariant."""
    import pyarrow as pa

    cfg = cfg or ParseConfig()

    def fn(batches):
        import pyarrow.compute as pc

        from .grammar import _OUTPUT_COLUMNS, detect_rfc_arrow

        for b in batches:
            col = b.column(b.schema.get_field_index(input_col))
            if input_kind == "tokens":
                arr = _string_from_token_list(col)
            else:
                arr = (col.combine_chunks()
                       if isinstance(col, pa.ChunkedArray) else col)
                arr = pc.if_else(pc.is_valid(arr), arr, "")
            rfc = detect_rfc_arrow(arr)
            arrays = [b.column(b.schema.get_field_index(c))
                      for c in passthrough]
            names = list(passthrough)
            if emit_raw:
                arrays.append(arr)
                names.append("raw")
            names += ["rfc"] + [f"{out_prefix}{c}" for c in _OUTPUT_COLUMNS]
            arrays.append(pa.array(rfc, pa.int32()))
            out = parse_batch_arrow(arr, rfc, cfg)
            arrays.extend(out[c] for c in _OUTPUT_COLUMNS)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


def parse_frame(lines, cfg: ParseConfig,
                rfc: int | None = None) -> pd.DataFrame:
    """pandas adapter over parse_batch_arrow for the library API: lines (a
    pandas Series or anything pd.Series accepts) are parsed as dialect
    ``rfc``, or detected per row when ``rfc`` is None — the frame then
    leads with the detected ``rfc`` column.  Null lines parse as "".  The
    frame keeps the caller's index; ints come back as nullable Int64,
    ``ts`` as M8[ns], strings and ``ts_is_nil`` as object."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .grammar import _OUTPUT_COLUMNS, detect_rfc_arrow

    lines = lines if isinstance(lines, pd.Series) else pd.Series(lines)
    arr = pa.array(lines, pa.string(), from_pandas=True)
    if arr.null_count:
        arr = pc.fill_null(arr, "")
    codes = (detect_rfc_arrow(arr) if rfc is None
             else np.full(len(arr), rfc, dtype=np.int64))
    out = parse_batch_arrow(arr, codes, cfg)
    data = {} if rfc is not None else {"rfc": codes}
    for c in _OUTPUT_COLUMNS:
        v = out[c].to_numpy(zero_copy_only=False)
        if c in _INT_COLS:
            data[c] = pd.array(v, dtype="Int64")
        elif c == "ts":
            data[c] = v.astype("M8[ns]")
        else:
            data[c] = np.asarray(v, dtype=object)
    return pd.DataFrame(data, index=lines.index)


MAP_IN_ARROW_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType()),
     T.StructField("source", T.StringType()),
     T.StructField("raw", T.StringType()),
     T.StructField("rfc", T.IntegerType())]
    + PARSED_SCHEMA.fields)


DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("raw", T.StringType()),
])


def make_decoder_fn(input_col: str = "tokens"):
    """mapInArrow batch fn: tokens -> (doc_id, raw) only, for the audit's
    source side (input-side token arrays are cheap; it is the OUTPUT side
    that must stay string-only)."""
    import pyarrow as pa

    def fn(batches):
        for b in batches:
            col = b.column(b.schema.get_field_index(input_col))
            arr = _string_from_token_list(col)
            yield pa.RecordBatch.from_arrays(
                [b.column(b.schema.get_field_index("doc_id")), arr],
                names=["doc_id", "raw"])

    return fn
