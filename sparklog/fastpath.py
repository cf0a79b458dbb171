"""Arrow-native fast path for the syslog grammars.

One ``pc.extract_regex`` (re2, C++) pass captures the whole canonical line
shape; post-validation masks (ranges, length caps, window rules) decide
per-row whether the fast result is EXACTLY what the full grammar would
produce.  Rows that miss — malformed lines, NILVALUE timestamps, quirk
shapes (empty tags, 32-char windows, 7-digit fractions, `.Z`, unvalidated
separators) — fall back to the masked-column slow path in grammar.py, so
semantics are identical by construction and verified by differential tests
(tests/test_fastpath_equiv.py runs both paths over golden + hypothesis
corpora and asserts frame equality).

No input coercion happens here: every function takes the null-free
pa.StringArray that ``udfs._line_array`` builds (``""`` never matches
either shape regex, so a null line reaches the slow path as ``""``).

Throughput: the fast path is ~10-30x the object-dtype pandas path; at
cluster scale the parse UDF cost is what the BASELINE sequences/sec metric
measures, so this is the hot loop of the whole pipeline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_MONTH_LIST = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
               "Sep", "Oct", "Nov", "Dec"]
_DAYS_LEAP = np.array([31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
                      dtype=np.int64)
_POW10 = np.array([1, 10, 100, 1000, 10000, 100000, 1000000],
                  dtype=np.int64)

_NS_MIN = pd.Timestamp.min.value // 1000 + 1
_NS_MAX = pd.Timestamp.max.value // 1000 - 1

# Capture-free anchored shape validators.  With no capture groups re2 runs
# its DFA (~6x faster than the capturing NFA path on these inputs); field
# extraction then uses split/slice/cast kernels on the hit subset only,
# where every cast is guaranteed safe by the match.
#
# RFC3164 day window: sp1(1-2) + day(1-2 digits) + sp2(1-2) must total 4
# chars (the two Go layouts after space-run collapsing, rfc3164.go:208-211);
# the three legal shapes are enumerated.
RX_3164 = (
    r"^<[0-9]{1,3}>"
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
    r"(?: [0-9]{2} | {2}[0-9] | [0-9] {2})"
    r"[0-9]{2}:[0-9]{2}:[0-9]{2} "
    r"[^ ]* [^ \[\]:]+(?s:.*)$"
)

# app<=47 / proc<=127 / msgid<=31 caps folded into the shape (over-cap rows
# miss and take the slow path, same as the old post-check).
RX_5424 = (
    r"^<[0-9]{1,3}>[0-9] "
    r"[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}"
    r"(?:\.[0-9]{1,6})?(?:Z|[+-][0-9]{2}:[0-9]{2}) "
    r"[^ ]* [^ ]{0,47} [^ ]{0,127} [^ ]{0,31} (?s:.+)$"
)


def _np(arr) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def _civil_days(y: np.ndarray, m: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Days since 1970-01-01 for (possibly out-of-calendar) civil dates,
    with Go time.Date month-start + day-offset normalization applied by the
    caller (d is always passed as 1 here; day-1 added separately)."""
    y = y - (m <= 2)
    era = np.floor_divide(y, 400)
    yoe = y - era * 400
    mp = np.where(m > 2, m - 3, m + 9)
    doy = (153 * mp + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _epoch_us(y, mo, day, hh, mi, se, us, tz_min):
    days = _civil_days(y, mo, np.ones_like(y)) + (day - 1)
    total = (days * 86400 + hh * 3600 + mi * 60 + se) * 1_000_000 + us
    return total - tz_min * 60_000_000


def _us_to_dt64(us: np.ndarray, valid: np.ndarray) -> np.ndarray:
    in_range = (us >= _NS_MIN) & (us <= _NS_MAX)
    ns = np.where(in_range, us, 0) * 1000
    out = ns.view("M8[ns]").copy()
    out[~(valid & in_range)] = np.datetime64("NaT")
    return out


def _sd_split(rest):
    """STRUCTURED-DATA boundary per rfc5424/rfc5424.go:597-636 using the
    sentinel-split trick: append '] ' so split_pattern(max_splits=1) always
    yields two parts, then strip the two appended chars from the message.

    PERF note: this formulation copies the buffer ~4x through Arrow C++
    kernels (~540 ns/row) and still beats every numpy reformulation
    tried — per-row byte-window gathers pay 4-8x the payload in index
    bandwidth (int64/int32 fancy indexing), and a +1/-1 delta mask needs
    a cumsum over the BYTE buffer, which numpy executes as a scalar loop
    for narrow dtypes (~3.5 ns/byte, 2x the whole parse).  Arrow's
    kernels do these copies at memcpy speed; don't relitigate without
    beating that."""
    p = _np(pc.find_substring(rest, "] "))
    sent = pc.binary_join_element_wise(rest, "] ", "")
    parts = pc.split_pattern(sent, "] ", max_splits=1)
    first = pc.list_element(parts, 0)
    second = pc.list_element(parts, 1)
    has_term = p >= 0
    sd = pc.if_else(pa.array(has_term),
                    pc.binary_join_element_wise(first, "]", ""),
                    rest)
    msg = pc.if_else(pa.array(has_term),
                     pc.utf8_trim(pc.utf8_slice_codeunits(second, 0, -2),
                                  " "),
                     pa.scalar("", pa.string()))
    return sd, msg, has_term


def _clamp(arr: pa.Array, limit: int) -> pa.Array:
    """Packet-length clamp (rfc3164.go:12 / rfc5424.go:14), skipped when no
    row exceeds it (byte length bounds codepoint length, so the check is
    safe for multi-byte text)."""
    if len(arr) and (pc.max(pc.binary_length(arr)).as_py() or 0) > limit:
        return pc.utf8_slice_codeunits(arr, 0, limit)
    return arr


def _str_view(arr: pa.Array):
    """(data uint8, starts int64, lens int64) raw-buffer view of a
    StringArray with no nulls (split/list_element outputs here).  All byte
    positions subsequently gathered are regex-pinned ASCII, so byte offsets
    equal codepoint offsets."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = np.frombuffer(arr.buffers()[1], np.int32)
    o = arr.offset
    starts = offs[o:o + len(arr)].astype(np.int64)
    lens = offs[o + 1:o + len(arr) + 1].astype(np.int64) - starts
    data = np.frombuffer(arr.buffers()[2], np.uint8)
    return data, starts, lens


def _byte_at(data: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Bounds-clamped gather (masked rows may index past their own row but
    never past the buffer)."""
    if len(data) == 0:
        return np.zeros(len(idx), dtype=np.uint8)
    return data[np.minimum(idx, len(data) - 1)]


def _two_digits(data, pos):
    return (_byte_at(data, pos).astype(np.int64) - 48) * 10 + (
        _byte_at(data, pos + 1).astype(np.int64) - 48)


def _suffix(arr: pa.Array, start: int) -> pa.Array:
    """Byte-based suffix (prefix bytes are regex-pinned ASCII); ~5x cheaper
    than utf8_slice_codeunits which walks codepoints."""
    return pc.binary_slice(arr.view(pa.binary()), start, 2 ** 30).view(
        pa.string())


_MON24 = np.array([(ord(m[0]) << 16) | (ord(m[1]) << 8) | ord(m[2])
                   for m in _MONTH_LIST], dtype=np.int64)


def _refine(hit: np.ndarray, refine: np.ndarray, cols: dict):
    """Scatter the post-regex refinement mask back onto the input index and
    filter the extracted columns down to the final hit rows."""
    if refine.all():
        return hit, cols
    out = np.zeros(len(hit), dtype=bool)
    out[np.flatnonzero(hit)[refine]] = True
    sel = pa.array(refine)
    cols = {k: (pc.filter(v, sel) if isinstance(v, (pa.Array,
                                                    pa.ChunkedArray))
                else v[refine])
            for k, v in cols.items()}
    return out, cols


def parse_rfc3164_fast(raw: pa.StringArray, default_year: int):
    """-> (hit mask ndarray over the input, dict of columns for HIT ROWS
    ONLY; strings stay pa.Array, numerics/ts are numpy)."""
    arr = _clamp(raw, 2048)
    hit = _np(pc.match_substring_regex(arr, RX_3164))
    if not hit.any():
        return hit, {}
    h = arr if hit.all() else pc.filter(arr, pa.array(hit))

    # first space = first char of the day window (sp1 >= 1 always), so
    # e0 = "<pri>Mon" and e1 has a UNIFORM layout: 2-char day region,
    # space, HH:MM:SS at 3-10, space, host from 12
    sp = pc.split_pattern(h, " ", max_splits=1)
    e0 = pc.list_element(sp, 0)
    e1 = pc.list_element(sp, 1)

    d0, s0, l0 = _str_view(e0)
    # priority: 1-3 digits at bytes 1..l0-5 ("<" + digits + ">" + "Mon")
    priw = l0 - 5
    dig1 = _byte_at(d0, s0 + 1).astype(np.int64) - 48
    dig2 = _byte_at(d0, s0 + 2).astype(np.int64) - 48
    dig3 = _byte_at(d0, s0 + 3).astype(np.int64) - 48
    pri = np.where(priw == 1, dig1,
                   np.where(priw == 2, dig1 * 10 + dig2,
                            dig1 * 100 + dig2 * 10 + dig3))
    m24 = ((_byte_at(d0, s0 + l0 - 3).astype(np.int64) << 16)
           | (_byte_at(d0, s0 + l0 - 2).astype(np.int64) << 8)
           | _byte_at(d0, s0 + l0 - 1).astype(np.int64))
    mon_idx = np.zeros(len(e0), dtype=np.int64)
    for i, c in enumerate(_MON24):
        if i:
            mon_idx[m24 == c] = i

    d1, s1, _l1 = _str_view(e1)
    b4 = _byte_at(d1, s1)
    b5 = _byte_at(d1, s1 + 1)
    day = np.where(b4 == 32, b5.astype(np.int64) - 48,
                   np.where(b5 == 32, b4.astype(np.int64) - 48,
                            (b4.astype(np.int64) - 48) * 10
                            + b5.astype(np.int64) - 48))
    hh = _two_digits(d1, s1 + 3)
    mi = _two_digits(d1, s1 + 6)
    se = _two_digits(d1, s1 + 9)

    # host SP tag...: sentinel-append so the split always yields 2 parts
    rest2 = _suffix(e1, 12)
    sp2 = pc.split_pattern(pc.binary_join_element_wise(rest2, " ", ""),
                           " ", max_splits=1)
    host = pc.list_element(sp2, 0)
    tagrest = pc.list_element(sp2, 1)

    # tag = first word up to the first of '[' / ']' / ':' (the slow path's
    # state machine); the canonical content is everything past the first
    # space either way (enough-mode consumes-and-drops up to it).  tagrest
    # already carries the sentinel space, so the split always has 2 parts
    # and find_substring always succeeds.
    w0sp = pc.split_pattern(tagrest, " ", max_splits=1)
    w0 = pc.list_element(w0sp, 0)
    content = pc.utf8_trim(pc.list_element(w0sp, 1), " ")
    t1 = pc.list_element(pc.split_pattern(w0, "[", max_splits=1), 0)
    t2 = pc.list_element(pc.split_pattern(t1, "]", max_splits=1), 0)
    tag = pc.list_element(pc.split_pattern(t2, ":", max_splits=1), 0)
    tag_len = _np(pc.utf8_length(tag))
    w0_len = _np(pc.utf8_length(w0))

    # special-terminated tags must find a space inside the 32-char window
    # (p measured in tagrest incl sentinel; beyond-window or
    # window-exhaustion quirk rows fall back to the slow path)
    is_special = tag_len < w0_len
    p_space = _np(pc.find_substring(tagrest, " "))
    refine = ((day >= 1) & (day <= _DAYS_LEAP[mon_idx])
              & (hh <= 23) & (mi <= 59) & (se <= 59)
              & (tag_len <= 31)
              & (~is_special | (p_space < 32)))

    us = _epoch_us(np.full_like(pri, default_year), mon_idx + 1, day,
                   hh, mi, se, np.zeros_like(pri), np.zeros_like(pri))
    ts = _us_to_dt64(us, refine)

    cols = {
        "priority": pri, "facility": pri // 8, "severity": pri % 8,
        "ts": ts, "tz_offset_minutes": np.zeros_like(pri),
        "ts_is_nil": np.zeros(len(pri), dtype=bool),
        "hostname": host,           # strings stay as Arrow arrays
        "tag": tag,
        "content": content,
    }
    return _refine(hit, refine, cols)


def parse_rfc5424_fast(raw: pa.StringArray):
    """-> (hit mask ndarray over the input, dict of columns for HIT ROWS
    ONLY; strings stay pa.Array, numerics/ts are numpy)."""
    arr = _clamp(raw, 3048)
    hit = _np(pc.match_substring_regex(arr, RX_5424))
    if not hit.any():
        return hit, {}
    h = arr if hit.all() else pc.filter(arr, pa.array(hit))

    # "<pri>V TS HOST APP PROC MSGID SD..." — exactly 6 header separators
    sp = pc.split_pattern(h, " ", max_splits=6)
    e0 = pc.list_element(sp, 0)      # "<pri>V"
    ts_f = pc.list_element(sp, 1)
    host, app, proc, msgid = (pc.list_element(sp, i) for i in range(2, 6))
    rest_sd = pc.list_element(sp, 6)

    d0, s0, l0 = _str_view(e0)
    priw = l0 - 3                    # "<" + digits + ">" + version char
    dig1 = _byte_at(d0, s0 + 1).astype(np.int64) - 48
    dig2 = _byte_at(d0, s0 + 2).astype(np.int64) - 48
    dig3 = _byte_at(d0, s0 + 3).astype(np.int64) - 48
    pri = np.where(priw == 1, dig1,
                   np.where(priw == 2, dig1 * 10 + dig2,
                            dig1 * 100 + dig2 * 10 + dig3))
    ver = _byte_at(d0, s0 + l0 - 1).astype(np.int64) - 48

    # fixed prefix "YYYY-MM-DDTHH:MM:SS", then optional .frac, then tz
    dt, st, lt = _str_view(ts_f)
    y = (_two_digits(dt, st) * 100 + _two_digits(dt, st + 2))
    mo, d = _two_digits(dt, st + 5), _two_digits(dt, st + 8)
    hh, mi, se = (_two_digits(dt, st + p) for p in (11, 14, 17))

    is_z = _byte_at(dt, st + lt - 1) == ord("Z")
    tz_start = st + lt - 6
    tz_neg = _byte_at(dt, tz_start) == ord("-")
    tz_hh = _two_digits(dt, tz_start + 1)
    tz_mi = _two_digits(dt, tz_start + 4)
    tz_min = np.where(is_z, 0,
                      np.where(tz_neg, -1, 1) * (tz_hh * 60 + tz_mi))

    # fraction digits between byte 20 and the tz (the regex caps at 6)
    fr_len = lt - 19 - np.where(is_z, 1, 6)
    fr_len = np.maximum(fr_len - 1, 0)  # the '.' itself, absent when 0
    # us = sum f_j * 10^(5-j) over the k fraction digits (== int(frac)
    # scaled by 10^(6-k))
    j = np.arange(6, dtype=np.int64)
    fdig = (_byte_at(dt, st[:, None] + 20 + j[None, :]).astype(np.int64)
            - 48)
    fmask = j[None, :] < fr_len[:, None]
    us = (np.where(fmask, fdig, 0) * _POW10[5 - j][None, :]).sum(axis=1)

    refine = ((mo >= 1) & (mo <= 12) & (d >= 1) & (d <= 31)
              & (hh <= 23) & (mi <= 59) & (se <= 59)
              & (is_z | ((tz_hh <= 23) & (tz_mi <= 59))))

    # STRUCTURED-DATA: NILVALUE first char '-' (trailing junk after '-' is
    # consumed by the header's unvalidated skip); '[' blocks via '] '
    # terminator; anything else -> slow path (error rows)
    dr, sr, _lr = _str_view(rest_sd)
    c0 = _byte_at(dr, sr)
    is_nil_sd = c0 == ord("-")
    is_open = c0 == ord("[")
    sd_blocks, msg_blocks, has_term = _sd_split(rest_sd)
    ends_br = _np(pc.ends_with(rest_sd, "]"))
    refine &= is_nil_sd | (is_open & (has_term | ends_br))

    # codepoint-safe slice: _suffix's byte slicing would split a multi-byte
    # char at bytes 1-2 of an SD/MSG field (e.g. "[é..." / "€msg"),
    # making utf8_trim raise and killing the whole batch;
    # utf8_slice_codeunits walks codepoints and matches the slow path's
    # r6.str.slice(2) exactly.  Computed on the FILTERED nil subset and
    # scattered back with take, so the ~260 ns/row codepoint walk costs
    # proportionally to the batch's NILVALUE fraction (zero for SD-heavy
    # batches) instead of running over every row.
    if is_nil_sd.any():
        nil_vals = pc.utf8_trim(pc.utf8_slice_codeunits(
            pc.filter(rest_sd, pa.array(is_nil_sd)), 2, 2 ** 30), " ")
        scatter = np.maximum(np.cumsum(is_nil_sd) - 1, 0)
        nil_msg = pc.take(nil_vals, pa.array(scatter))
        sd = pc.if_else(pa.array(is_nil_sd), pa.scalar("-", pa.string()),
                        sd_blocks)
        msg = pc.if_else(pa.array(is_nil_sd), nil_msg, msg_blocks)
    else:
        sd, msg = sd_blocks, msg_blocks

    epoch = _epoch_us(y, mo, d, hh, mi, se, us, tz_min)
    ts = _us_to_dt64(epoch, refine)

    cols = {
        "priority": pri, "facility": pri // 8, "severity": pri % 8,
        "version": ver, "ts": ts, "tz_offset_minutes": tz_min,
        "ts_is_nil": np.zeros(len(pri), dtype=bool),
        "hostname": host,           # strings stay as Arrow arrays
        "app_name": app,
        "proc_id": proc,
        "msg_id": msgid,
        "structured_data": sd,
        "message": msg,
    }
    return _refine(hit, refine, cols)


# ---------------------------------------------------------------------------
# Conservative Arrow error pre-classification for fast-path misses.
# Classifies ONLY cases whose error code is provable without the cursor
# machinery; everything else returns no verdict and the pandas slow path
# decides.  Exactness is enforced by error-heavy differential tests.
# ---------------------------------------------------------------------------

_MONTH_SET = None


def classify_errors_fast(arr, rfc: np.ndarray):
    """-> (codes: object ndarray with error strings or None) for rows the
    classifier is CERTAIN about; None entries must go to the slow path.

    Covered families (identical precedence to the reference):
      * the six priority errors (parsercommon/parsercommon.go:50-94)
      * RFC3164 TimestampUnknownFormat when the month token at the exact
        post-priority cursor cannot match either layout, or fewer than 15
        chars remain (rfc3164/rfc3164.go:219-247)
      * RFC5424 VersionNotFound (end of buffer) and YearInvalid /
        EOL-before-year when the 4 chars after "V " are non-numeric
        (rfc5424/rfc5424.go:369-388)
    """
    global _MONTH_SET
    if _MONTH_SET is None:
        _MONTH_SET = set(_MONTH_LIST)

    n_arr = pc.utf8_length(arr).to_numpy(zero_copy_only=False)
    ex = pc.extract_regex(arr, r"^<(?P<d>[0-9]*)(?P<c>(?s:.))?")
    has = pc.is_valid(ex).to_numpy(zero_copy_only=False)
    d = pc.struct_field(ex, 0)
    c = pc.struct_field(ex, 1)
    dl_all = pc.utf8_length(pc.if_else(pc.is_valid(d), d, "")).to_numpy(
        zero_copy_only=False)
    c_np = pc.if_else(pc.is_valid(c), c, "").to_numpy(zero_copy_only=False)

    n = len(n_arr)
    out = np.full(n, None, dtype=object)

    m3 = rfc == 1
    m5 = rfc == 2

    # --- priority scan precedence (first 5 chars drive everything)
    out[(m3 | m5) & (n_arr == 0)] = "PriorityEmpty"
    first = pc.utf8_slice_codeunits(arr, 0, 1).to_numpy(zero_copy_only=False)
    out[(m3 | m5) & (n_arr > 0) & (first != "<")] = "PriorityNoStart"
    # within-window analysis: dl digits then next char (both from ex);
    # the window is chars 1..4, so clamp dl and recheck the char at the cap
    dl_w = np.minimum(dl_all, 4)
    in_win = dl_all <= 3  # next char c is within the 5-char window
    undecided = (m3 | m5) & has & pd_isnull(out)
    gt = c_np == ">"
    out[undecided & in_win & gt & (dl_all == 0)] = "PriorityTooShort"
    nondigit = (c_np != ">") & (c_np != "") & ~np.isin(
        c_np, list("0123456789"))
    out[undecided & in_win & nondigit] = "PriorityNonDigit"
    # all-digit window without terminator
    nodigit_end = (~in_win) | (c_np == "")
    out[undecided & nodigit_end & (dl_w >= (np.minimum(n_arr, 5) - 1))
        & (n_arr > 5)] = "PriorityTooLong"
    out[undecided & (c_np == "") & (n_arr <= 5) & (n_arr > 0)
        & (first == "<")] = "PriorityNoEnd"

    pri_ok = has & in_win & gt & (dl_all >= 1)
    cur = dl_all + 2  # cursor just past '>'

    # --- RFC3164: month token at the exact cursor (one optional space)
    todo = m3 & pri_ok & pd_isnull(out)
    if todo.any():
        for base in (3, 4, 5):
            sel = todo & (cur == base)
            if not sel.any():
                continue
            rest = pc.utf8_slice_codeunits(arr, base, base + 20)
            rest_np = rest.to_numpy(zero_copy_only=False)
            for extra in (0, 1):
                if extra == 0:
                    sub = np.array([r[:15] for r in rest_np], dtype=object)
                    lead_sp = np.array([r[:1] == " " for r in rest_np])
                    pick = sel & ~lead_sp
                else:
                    sub = np.array([r[1:16] for r in rest_np], dtype=object)
                    lead_sp = np.array([r[:1] == " " for r in rest_np])
                    pick = sel & lead_sp
                if not pick.any():
                    continue
                short = np.array([len(s) < 15 for s in sub])
                badmon = np.array([s[:3] not in _MONTH_SET for s in sub])
                out[pick & (short | badmon)] = "TimestampUnknownFormat"

    # --- RFC5424: version + year prefix
    todo5 = m5 & pri_ok & pd_isnull(out)
    if todo5.any():
        out[todo5 & (cur >= n_arr)] = "VersionNotFound"
        # char after version is skipped unvalidated; year = chars
        # [cur+2, cur+6) — non-numeric -> YearInvalid, too short -> EOL,
        # but '-' (NIL timestamp) and valid years stay undecided
        for base in (3, 4, 5):
            sel = todo5 & (cur == base) & (cur < n_arr)
            if not sel.any():
                continue
            y4 = pc.utf8_slice_codeunits(arr, base + 2, base + 6)
            y_np = y4.to_numpy(zero_copy_only=False)
            nil = np.array([y.startswith("-") for y in y_np])
            yshort = np.array([len(y) < 4 for y in y_np])
            ybad = np.array(
                [len(y) == 4
                 and not (y.isdigit()
                          or (y[0] in "+-" and y[1:].isdigit()))
                 for y in y_np])
            out[sel & ~nil & yshort] = "EOL"
            out[sel & ~nil & ybad] = "YearInvalid"

    return out


def pd_isnull(a: np.ndarray) -> np.ndarray:
    return np.array([x is None for x in a])
