"""Vectorized syslog grammar: RFC3164 + RFC5424 + dialect detection.

This is a brand-new, whole-column (pandas) reimplementation of the parsing
semantics of jeromer/syslogparser (the reference at /root/reference).  It is
NOT a port: the reference is a per-message cursor scanner; this module
expresses the same grammar as masked column operations so that whole Arrow
batches parse with zero per-row Python loops.  It is the slow path behind
the Arrow fast path (fastpath.py); udfs.parse_batch_arrow dispatches every
batch between the two, and the public parse_rfc3164/parse_rfc5424 are thin
pandas adapters over it.

Semantics are pinned to the reference by file:line citations:

* priority ``<NNN>``            parsercommon/parsercommon.go:50-94
* facility = P/8, severity=P%8  parsercommon/parsercommon.go:124-133
* version (single digit)        parsercommon/parsercommon.go:97-118
* RFC3164 grammar + quirks      rfc3164/rfc3164.go:98-346
* RFC5424 grammar + quirks      rfc5424/rfc5424.go:118-663
* dialect detection             syslogparser.go:30-56

Error taxonomy: parse failures are values (the ``parse_error`` column), never
exceptions; codes mirror the reference's error singletons
(parsercommon/parsercommon.go:14-29, rfc5424/rfc5424.go:23-37).

Divergence note (documented, not golden-covered): inputs on which the Go
reference would panic with an index-out-of-range (e.g. a line that ends
exactly where ``buff[cursor]`` is probed, syslogparser.go:36 for buffers
<10 bytes without '>') are handled gracefully here and yield the nearest
error code instead of a crash.  Timestamps outside pandas' datetime64[ns]
range (years <1678 or >2261) parse successfully but surface ``ts = null``.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Resolved ONCE per process, mirroring the reference's time.Now().Year()
# default for year-less RFC3164 timestamps (rfc3164/rfc3164.go:331-346).
# Jobs that need reproducibility across year boundaries must pin
# ParseConfig(default_year=...) explicitly (tests and oracles do).
CURRENT_YEAR = _dt.date.today().year

# --- constants (reference: rfc3164/rfc3164.go:12-17, rfc5424/rfc5424.go:14-21)
MAX_PACKET_LEN_3164 = 2048
MAX_PACKET_LEN_5424 = 3048
NO_VERSION = -1

RFC_UNKNOWN = 0
RFC_3164 = 1
RFC_5424 = 2

# --- error codes (names mirror the reference's error singletons)
E_EOL = "EOL"
E_PRIORITY_NO_START = "PriorityNoStart"
E_PRIORITY_EMPTY = "PriorityEmpty"
E_PRIORITY_NO_END = "PriorityNoEnd"
E_PRIORITY_TOO_SHORT = "PriorityTooShort"
E_PRIORITY_TOO_LONG = "PriorityTooLong"
E_PRIORITY_NON_DIGIT = "PriorityNonDigit"
E_VERSION_NOT_FOUND = "VersionNotFound"
E_TIMESTAMP_UNKNOWN_FORMAT = "TimestampUnknownFormat"
E_YEAR_INVALID = "YearInvalid"
E_MONTH_INVALID = "MonthInvalid"
E_DAY_INVALID = "DayInvalid"
E_INVALID_TIME_FORMAT = "InvalidTimeFormat"
E_INVALID_APP_NAME = "InvalidAppName"
E_INVALID_PROC_ID = "InvalidProcId"
E_INVALID_MSG_ID = "InvalidMsgId"
E_NO_STRUCTURED_DATA = "NoStructuredData"

_MONTHS = {
    "Jan": 1, "Feb": 2, "Mar": 3, "Apr": 4, "May": 5, "Jun": 6,
    "Jul": 7, "Aug": 8, "Sep": 9, "Oct": 10, "Nov": 11, "Dec": 12,
}
# Go parses year-less timestamps at year 0, which IS a leap year, so Feb 29
# is accepted pre-fix (rfc3164/rfc3164.go:202-259 + Go time.Parse range check).
_DAYS_IN_MONTH_LEAP = {1: 31, 2: 29, 3: 31, 4: 30, 5: 31, 6: 30,
                       7: 31, 8: 31, 9: 30, 10: 31, 11: 30, 12: 31}

# Equivalent of the two Go layouts "Jan 02 15:04:05" / "Jan  2 15:04:05"
# tried at rfc3164/rfc3164.go:208-211.  Because Go's time.Parse collapses
# space runs on both sides and the probed substring is exactly 15 chars, the
# full acceptance set is: month(3) + spaces(a) + day(1-2 digits) + spaces(b)
# + HH:MM:SS(8) with a+len(day)+b == 4.  One anchored regex covers it.
_RX_3164_TS = (
    r"^(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
    r" +([0-9]{1,2}) +([0-9]{2}):([0-9]{2}):([0-9]{2})$"
)

_RX_ATOI = r"^[+-]?[0-9]+$"  # strconv.Atoi acceptance (optional sign)

_OUTPUT_COLUMNS = [
    "priority", "facility", "severity", "version",
    "ts", "tz_offset_minutes", "ts_is_nil",
    "hostname", "tag", "content",
    "app_name", "proc_id", "msg_id", "structured_data", "message",
    "parse_error",
]


# Go reference-layout tokens -> strptime, fixed-width only (every supported
# token consumes exactly len(token) input chars, so the consumed length of a
# translated layout is len(layout) with no extra bookkeeping).  Variable-
# width Go tokens map to None and raise.
_GO_TOKENS = [
    ("2006", "%Y"), ("-07:00", "%z"), ("-0700", "%z"), (".000000", ".%f"),
    (".000", ".%f"), ("January", None), ("Monday", None), ("Jan", "%b"),
    ("Mon", None), ("MST", None), ("Z07:00", None), ("Z0700", None),
    ("15", "%H"), ("01", "%m"), ("02", "%d"), ("03", "%I"), ("04", "%M"),
    ("05", "%S"), ("06", "%y"), ("PM", "%p"), ("pm", None), ("_2", None),
    ("1", None), ("2", None), ("3", None), ("4", None), ("5", None),
]


def go_layout_to_strptime(layout: str) -> str:
    """Translate a Go reference-time layout (the argument the reference's
    WithTimestampFormat takes, rfc3164/rfc3164.go:79-86) to a strptime
    pattern.  Only fixed-width tokens are supported; variable-width ones
    ('January', 'Mon', '_2', bare '2'...) raise so a silent all-error parse
    can't happen."""
    out: list[str] = []
    i, n = 0, len(layout)
    while i < n:
        for tok, rep in _GO_TOKENS:
            if layout.startswith(tok, i):
                if rep is None:
                    raise ValueError(
                        f"unsupported variable-width Go layout token "
                        f"{tok!r}; pass a strptime pattern with an "
                        f"explicit ts_format_len instead")
                out.append(rep)
                i += len(tok)
                break
        else:
            c = layout[i]
            out.append("%%" if c == "%" else c)
            i += 1
    return "".join(out)


@dataclass(frozen=True)
class ParseConfig:
    """Job-level equivalents of the reference's With* injection hooks
    (rfc3164/rfc3164.go:58-86, rfc5424/rfc5424.go:93-112)."""

    priority: int | None = None      # WithPriority
    hostname: str | None = None      # WithHostname
    tag: str | None = None           # WithTag          (RFC3164 only; 5424 noop)
    location: str = "UTC"            # WithLocation     (RFC3164 only; 5424 noop)
    ts_format: str | None = None     # WithTimestampFormat: a Go reference
    #   layout exactly as the reference API takes it (auto-translated), or
    #   a strptime pattern (detected by '%')
    ts_format_len: int | None = None  # literal length the custom layout consumes
    default_year: int = CURRENT_YEAR  # time.Now().Year() equivalent,
                                      # resolved once per process
                                      # (rfc3164/rfc3164.go:331-346)


DEFAULT_CONFIG = ParseConfig()


def _slice_from(s: pd.Series, start) -> pd.Series:
    """Per-row ``s[i][start[i]:]`` via grouping on distinct start offsets.

    Vectorized per distinct offset — the parse stages that use this have a
    small bounded set of distinct cursor positions (priority width, timestamp
    width, fraction width), so this stays whole-column.
    """
    if np.isscalar(start):
        return s.str.slice(int(start))
    out = pd.Series(np.full(len(s), "", dtype=object), index=s.index)
    start = pd.Series(start, index=s.index).fillna(0).astype(int)
    for st in np.unique(start.to_numpy()):
        m = (start == st).to_numpy()
        out[m] = s[m].str.slice(int(st))
    return out


def _set_err(err: pd.Series, mask, code: str) -> None:
    m = pd.Series(mask, index=err.index).fillna(False).astype(bool) & err.isna()
    if m.any():
        err[m] = code


def _parse_priority(s: pd.Series, n: pd.Series, err: pd.Series,
                    injected: int | None):
    """parsercommon/parsercommon.go:50-94 as masked ops.

    Returns (priority Int64, cursor int array).  Scanning precedence is
    replicated positionally: the first special char seen decides the error.
    """
    if injected is not None:
        pri = pd.Series(np.full(len(s), injected), index=s.index, dtype="Int64")
        cur = np.zeros(len(s), dtype=np.int64)
        return pri, cur

    _set_err(err, n == 0, E_PRIORITY_EMPTY)
    _set_err(err, (n > 0) & (s.str.slice(0, 1) != "<"), E_PRIORITY_NO_START)

    body = s.str.slice(1, 5)                       # chars at i=1..4
    ex = body.str.extract(r"^([0-9]*)(.)?", expand=True)
    digits, nextch = ex[0], ex[1]
    dl = digits.str.len()

    gt_first = nextch == ">"
    _set_err(err, gt_first & (dl == 0), E_PRIORITY_TOO_SHORT)
    _set_err(err, nextch.notna() & (nextch != ">"), E_PRIORITY_NON_DIGIT)
    # all-digits window, no terminator: i reaches 5 iff l > 5 (TooLong),
    # else the scan runs off the buffer (NoEnd)
    _set_err(err, nextch.isna() & (n > 5), E_PRIORITY_TOO_LONG)
    _set_err(err, nextch.isna() & (n <= 5), E_PRIORITY_NO_END)

    pri = pd.to_numeric(digits.where(gt_first & (dl > 0)), errors="coerce")
    pri = pri.astype("Int64")
    cur = (dl.fillna(0).astype(int) + 2).to_numpy()  # just past '>'
    return pri, cur


def _ts_3164(rest1: pd.Series, cfg: ParseConfig, err: pd.Series):
    """rfc3164/rfc3164.go:202-259 + 331-346 (year fix).

    ``rest1`` starts at the timestamp cursor.  Returns (utc_ts, tz_offset_min,
    fmt_len) — fmt_len is the scalar layout width consumed on success.
    """
    if cfg.ts_format is not None:
        fmt = cfg.ts_format
        if "%" not in fmt:  # a Go layout passed verbatim, as the reference
            fmt = go_layout_to_strptime(fmt)
        fmt_len = cfg.ts_format_len or len(cfg.ts_format)
        sub = rest1.str.slice(0, fmt_len)
        full = sub.str.len() == fmt_len
        wall = pd.to_datetime(sub.where(full), format=fmt,
                              errors="coerce")
        ok = wall.notna()
        if "%Y" not in fmt:
            # layout has no year -> Go parses year 0 -> fixTimestampIfNeeded
            wall = _rebase_year(wall, cfg.default_year)
        _set_err(err, ~ok, E_TIMESTAMP_UNKNOWN_FORMAT)
        return _localize(wall.where(ok), cfg.location, err), fmt_len

    fmt_len = 15
    sub = rest1.str.slice(0, fmt_len)
    full = sub.str.len() == fmt_len
    ex = sub.str.extract(_RX_3164_TS, expand=True)
    mon = ex[0].map(_MONTHS)
    day = pd.to_numeric(ex[1], errors="coerce")
    hh = pd.to_numeric(ex[2], errors="coerce")
    mm = pd.to_numeric(ex[3], errors="coerce")
    ss = pd.to_numeric(ex[4], errors="coerce")
    max_day = mon.map(_DAYS_IN_MONTH_LEAP)
    ok = (full & mon.notna() & (day >= 1) & (day <= max_day)
          & (hh <= 23) & (mm <= 59) & (ss <= 59))

    # time.Date-style normalization: build at day 1 then add (day-1) days,
    # so a Feb 29 fixed onto a non-leap default_year rolls to Mar 1 exactly
    # like Go's time.Date (rfc3164/rfc3164.go:339-344).
    frame = pd.DataFrame({
        "year": cfg.default_year,
        "month": mon.fillna(1).astype(int),
        "day": 1,
    }, index=rest1.index)
    wall = (pd.to_datetime(frame, errors="coerce")
            + pd.to_timedelta(day.fillna(0) - 1, unit="D")
            + pd.to_timedelta(hh.fillna(0), unit="h")
            + pd.to_timedelta(mm.fillna(0), unit="m")
            + pd.to_timedelta(ss.fillna(0), unit="s"))
    _set_err(err, ~ok, E_TIMESTAMP_UNKNOWN_FORMAT)
    return _localize(wall.where(ok), cfg.location, err), fmt_len


def _rebase_year(wall: pd.Series, year: int) -> pd.Series:
    """Replace the year with ``year`` keeping month/day/time, normalizing
    out-of-range days forward (Go time.Date semantics)."""
    frame = pd.DataFrame({
        "year": year,
        "month": wall.dt.month.fillna(1).astype(int),
        "day": 1,
    }, index=wall.index)
    rebased = (pd.to_datetime(frame, errors="coerce")
               + pd.to_timedelta(wall.dt.day.fillna(1) - 1, unit="D")
               + pd.to_timedelta(wall.dt.hour.fillna(0), unit="h")
               + pd.to_timedelta(wall.dt.minute.fillna(0), unit="m")
               + pd.to_timedelta(wall.dt.second.fillna(0), unit="s")
               + pd.to_timedelta(wall.dt.microsecond.fillna(0), unit="us"))
    return rebased.where(wall.notna())


def _localize(wall: pd.Series, location: str, err: pd.Series):
    """Wall time in ``location`` -> (UTC-naive instant, offset minutes).

    Go resolves the zone offset for the (post-year-fix) date via time.Date;
    tz_localize with a real zoneinfo does the same.  DST-ambiguous walls take
    the DST side; nonexistent walls shift forward (untested edge in the
    reference)."""
    if location in ("UTC", "utc", None):
        off = pd.Series(np.where(wall.notna(), 0, None), index=wall.index,
                        dtype="Int64")
        return wall, off
    local = wall.dt.tz_localize(location, ambiguous=np.ones(len(wall), bool),
                                nonexistent="shift_forward")
    utc = local.dt.tz_convert("UTC").dt.tz_localize(None)
    off_td = wall - utc
    off = (off_td / pd.Timedelta(minutes=1)).round().astype("Int64")
    return utc, off


def _fast_eligible(cfg: ParseConfig) -> bool:
    return (cfg.priority is None and not cfg.hostname and not cfg.tag
            and cfg.ts_format is None
            and cfg.location in ("UTC", "utc", None))


def parse_rfc3164(raw: pd.Series, cfg: ParseConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Full RFC3164 parse of every line: the Arrow/re2 fast path for
    canonical lines, the masked-column slow path for quirk/error/
    injected-config rows (udfs.parse_batch_arrow).  Both paths are
    golden- and differential-tested to agree exactly."""
    from .udfs import parse_frame

    return parse_frame(raw, cfg, RFC_3164)


def _parse_rfc3164_slow(raw: pd.Series, cfg: ParseConfig) -> pd.DataFrame:
    """Full RFC3164 parse (rfc3164/rfc3164.go:98-127) as masked column ops."""
    s = raw.fillna("").astype(object).str.slice(0, MAX_PACKET_LEN_3164)
    n = s.str.len()
    err = pd.Series(np.full(len(s), None, dtype=object), index=s.index)

    pri, cur0 = _parse_priority(s, n, err, cfg.priority)

    # parseHeader leading-space skip (rfc3164/rfc3164.go:156-158)
    rest0 = _slice_from(s, cur0)
    skip0 = rest0.str.startswith(" ").fillna(False)
    rest1 = pd.Series(
        np.where(skip0, rest0.str.slice(1), rest0), index=s.index)

    (ts, tz_off), fmt_len = _ts_3164(rest1, cfg, err)

    # cursor += fmt_len, then skip one trailing space (rfc3164/rfc3164.go:252-258)
    rest2 = rest1.str.slice(fmt_len)
    skip1 = rest2.str.startswith(" ").fillna(False)
    rest3 = pd.Series(
        np.where(skip1, rest2.str.slice(1), rest2), index=s.index)

    # hostname: up to next space, cursor left ON the space
    # (parsercommon/parsercommon.go:171-186); injected hostname does not
    # advance the cursor (rfc3164/rfc3164.go:261-269)
    if cfg.hostname:
        hostname = pd.Series(np.full(len(s), cfg.hostname, dtype=object),
                             index=s.index)
        rest4 = rest3
    else:
        hostname = rest3.str.extract(r"^([^ ]*)", expand=False)
        rest4 = rest3.str.replace(r"^[^ ]*", "", regex=True, n=1)

    # Parse() skips exactly one space between header and message
    # (rfc3164/rfc3164.go:115-117)
    rest5 = rest4.str.replace(r"^ ", "", regex=True, n=1)

    # tag state machine (rfc3164/rfc3164.go:272-315): chars up to the first
    # of space/'['/']'/':' within a 32-char window; after a special char the
    # scan consumes-but-drops until a space; empty tag rewinds the cursor.
    if cfg.tag:
        tag = pd.Series(np.full(len(s), cfg.tag, dtype=object), index=s.index)
        rest6 = rest5
    else:
        w = rest5.str.slice(0, 32)
        tag = w.str.extract(r"^([^ \[\]:]*)", expand=False)
        p_space = w.str.find(" ")
        after = np.where(p_space >= 0, p_space + 1, w.str.len())
        after = np.where(tag.fillna("") == "", 0, after)  # empty-tag rewind
        rest6 = _slice_from(rest5, after)

    # content = remainder trimmed of spaces; always "succeeds" via ErrEOL
    # (rfc3164/rfc3164.go:317-329)
    content = rest6.str.strip(" ")

    ok = err.isna()
    out = pd.DataFrame(index=s.index)
    out["priority"] = pri.where(ok)
    out["facility"] = (pri // 8).where(ok).astype("Int64")
    out["severity"] = (pri % 8).where(ok).astype("Int64")
    out["version"] = pd.Series([None] * len(s), index=s.index, dtype="Int64")
    out["ts"] = ts.where(ok)
    out["tz_offset_minutes"] = tz_off.where(ok)
    out["ts_is_nil"] = pd.Series(np.where(ok, False, None), index=s.index,
                                 dtype=object)
    out["hostname"] = hostname.where(ok)
    out["tag"] = tag.where(ok)
    out["content"] = content.where(ok)
    for c in ("app_name", "proc_id", "msg_id", "structured_data", "message"):
        out[c] = None
    out["parse_error"] = err
    return out[_OUTPUT_COLUMNS]


def _atoi_field(sub: pd.Series, width: int):
    """strconv.Atoi over a fixed-width slice: (value, parse_ok, long_enough)."""
    full = sub.str.len() == width
    ok = sub.str.match(_RX_ATOI).fillna(False) & full
    val = pd.to_numeric(sub.where(ok), errors="coerce")
    return val, ok, full


def parse_rfc5424(raw: pd.Series, cfg: ParseConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Full RFC5424 parse of every line (see parse_rfc3164)."""
    from .udfs import parse_frame

    return parse_frame(raw, cfg, RFC_5424)


def _parse_rfc5424_slow(raw: pd.Series, cfg: ParseConfig) -> pd.DataFrame:
    """Full RFC5424 parse (rfc5424/rfc5424.go:118-143) as masked column ops."""
    s = raw.fillna("").astype(object).str.slice(0, MAX_PACKET_LEN_5424)
    n = s.str.len()
    err = pd.Series(np.full(len(s), None, dtype=object), index=s.index)

    pri, cur0 = _parse_priority(s, n, err, cfg.priority)

    # version: exactly one char; non-digit -> NO_VERSION with nil error
    # (parsercommon/parsercommon.go:97-118)
    rest = _slice_from(s, cur0)
    verch = rest.str.slice(0, 1)
    _set_err(err, verch == "", E_VERSION_NOT_FOUND)
    ver_digit = verch.str.isdigit().fillna(False)
    version = pd.to_numeric(verch.where(ver_digit), errors="coerce")
    version = version.fillna(NO_VERSION).astype("Int64")

    # parseHeader skips one separator char unvalidated (rfc5424/rfc5424.go:173)
    r1 = rest.str.slice(2)

    # --- timestamp (rfc5424/rfc5424.go:238-286)
    c0 = r1.str.slice(0, 1)
    is_nil = (c0 == "-") & err.isna()

    year, y_ok, y_full = _atoi_field(r1.str.slice(0, 4), 4)
    _set_err(err, ~is_nil & ~y_full, E_EOL)                       # :372-374
    _set_err(err, ~is_nil & y_full & ~y_ok, E_YEAR_INVALID)       # :382-384
    _set_err(err, ~is_nil & (r1.str.slice(4, 5) != "-"),
             E_TIMESTAMP_UNKNOWN_FORMAT)                          # :337-339
    month, m_ok, m_full = _atoi_field(r1.str.slice(5, 7), 2)
    m_ok = m_ok & (month >= 1) & (month <= 12)
    _set_err(err, ~is_nil & ~m_full, E_EOL)
    _set_err(err, ~is_nil & ~m_ok.fillna(False), E_MONTH_INVALID)  # :391-393
    _set_err(err, ~is_nil & (r1.str.slice(7, 8) != "-"),
             E_TIMESTAMP_UNKNOWN_FORMAT)
    day, d_ok, d_full = _atoi_field(r1.str.slice(8, 10), 2)
    d_ok = d_ok & (day >= 1) & (day <= 31)                        # Feb 31 OK :396-402
    _set_err(err, ~is_nil & ~d_full, E_EOL)
    _set_err(err, ~is_nil & ~d_ok.fillna(False), E_DAY_INVALID)
    _set_err(err, ~is_nil & (r1.str.slice(10, 11) != "T"),
             E_INVALID_TIME_FORMAT)                               # :252-254

    # FULL-TIME: any failure collapses to TimestampUnknownFormat (:258-264)
    hh, hh_ok, _ = _atoi_field(r1.str.slice(11, 13), 2)
    hh_ok = hh_ok & (hh >= 0) & (hh <= 23)
    mi, mi_ok, _ = _atoi_field(r1.str.slice(14, 16), 2)
    mi_ok = mi_ok & (mi >= 0) & (mi <= 59)
    se, se_ok, _ = _atoi_field(r1.str.slice(17, 19), 2)
    se_ok = se_ok & (se >= 0) & (se <= 59)
    hms_ok = (hh_ok.fillna(False) & mi_ok.fillna(False) & se_ok.fillna(False)
              & (r1.str.slice(13, 14) == ":") & (r1.str.slice(16, 17) == ":"))
    _set_err(err, ~is_nil & ~hms_ok, E_TIMESTAMP_UNKNOWN_FORMAT)

    # TIME-SECFRAC: 1-6 digits; an empty fraction after '.' is silently
    # ignored with the cursor left after the '.' (:458-471, :493-523)
    hasdot = r1.str.slice(19, 20) == "."
    frac_digits = r1.str.slice(20, 26).str.extract(r"^([0-9]*)", expand=False)
    dl = frac_digits.str.len().fillna(0).astype(int)
    dl = np.where(hasdot, dl, 0)
    frac_val = pd.to_numeric(frac_digits.where(hasdot & (dl > 0)),
                             errors="coerce").fillna(0)
    micros = (frac_val * np.power(10.0, 6 - np.maximum(dl, 1))).round()
    off_start = np.where(hasdot, 20 + dl, 19)

    # TIME-OFFSET (:526-560): 'Z' or ±HH:MM with hour<=23, minute<=59
    offr = _slice_from(r1, off_start)
    zc = offr.str.slice(0, 1)
    is_z = zc == "Z"
    sign = zc.map({"+": 1, "-": -1})
    ohh, ohh_ok, _ = _atoi_field(offr.str.slice(1, 3), 2)
    ohh_ok = ohh_ok & (ohh >= 0) & (ohh <= 23)
    omm, omm_ok, _ = _atoi_field(offr.str.slice(4, 6), 2)
    omm_ok = omm_ok & (omm >= 0) & (omm <= 59)
    num_ok = (sign.notna() & ohh_ok.fillna(False) & omm_ok.fillna(False)
              & (offr.str.slice(3, 4) == ":"))
    _set_err(err, ~is_nil & ~is_z & ~num_ok, E_TIMESTAMP_UNKNOWN_FORMAT)
    tz_off = pd.Series(
        np.where(is_z, 0.0,
                 (sign.fillna(0) * (ohh.fillna(0) * 60 + omm.fillna(0)))),
        index=s.index)
    ts_end = off_start + np.where(is_z, 1, 6)

    # wall time -> UTC instant (time.Date normalization via month-start+delta)
    frame = pd.DataFrame({
        "year": pd.to_numeric(year, errors="coerce").fillna(2000).astype(int),
        "month": month.fillna(1).astype("Int64").astype(int),
        "day": 1,
    }, index=s.index)
    wall = (pd.to_datetime(frame, errors="coerce")
            + pd.to_timedelta(day.fillna(1) - 1, unit="D")
            + pd.to_timedelta(hh.fillna(0), unit="h")
            + pd.to_timedelta(mi.fillna(0), unit="m")
            + pd.to_timedelta(se.fillna(0), unit="s")
            + pd.to_timedelta(pd.Series(micros, index=s.index).fillna(0),
                              unit="us"))
    utc_ts = wall - pd.to_timedelta(tz_off, unit="m")
    utc_ts = utc_ts.where(~is_nil)
    tz_off_out = pd.Series(tz_off, index=s.index).astype("Int64").where(~is_nil)

    # header cursor after TIMESTAMP SP (unvalidated skip, :180)
    after_ts = np.where(is_nil, 2, ts_end + 1)
    r2 = _slice_from(r1, after_ts)

    # HOSTNAME: to next space, then cursor++ consumes the separator
    # (:289-299); injected hostname does not consume (quirk -> the raw line
    # omits the field, rfc5424_test.go:136-177)
    if cfg.hostname:
        hostname = pd.Series(np.full(len(s), cfg.hostname, dtype=object),
                             index=s.index)
        r3 = r2
    else:
        hostname = r2.str.extract(r"^([^ ]*)", expand=False)
        r3 = r2.str.replace(r"^[^ ]* ?", "", regex=True, n=1)

    # APP-NAME / PROCID / MSGID via parseUpToLen (:638-663): a space must
    # appear strictly within maxLen scanned chars; header then skips the space
    def up_to_len(r: pd.Series, max_len: int, code: str):
        sp = r.str.find(" ")
        found = (sp >= 0) & (sp < max_len)
        val = r.str.extract(r"^([^ ]*)", expand=False).where(found)
        _set_err(err, ~found, code)
        nxt = r.str.replace(r"^[^ ]{0,%d} " % (max_len - 1), "", regex=True,
                            n=1)
        return val, nxt

    app_name, r4 = up_to_len(r3, 48, E_INVALID_APP_NAME)
    proc_id, r5 = up_to_len(r4, 128, E_INVALID_PROC_ID)
    msg_id, r6 = up_to_len(r5, 32, E_INVALID_MSG_ID)

    # STRUCTURED-DATA (:597-636): '-' NILVALUE, or '[...]' ending at the
    # first ']' followed by a space or end-of-buffer; '] ' splits blocks
    # (the second is dropped into MSG); adjacent '][' blocks stay joined.
    sc = r6.str.slice(0, 1)
    sd_nil = sc == "-"
    sd_open = sc == "["
    p_term = r6.str.find("] ")
    ends_br = r6.str.endswith("]").fillna(False)
    sd_found = sd_open & ((p_term >= 0) | ends_br)
    _set_err(err, ~sd_nil & ~sd_found, E_NO_STRUCTURED_DATA)

    # structured_data value: everything before the first '] ' (inclusive of
    # the ']'), or the whole remainder when the terminator is end-of-buffer.
    head = r6.str.split("] ", n=1).str[0] + "]"
    sd_val = pd.Series(np.where(p_term >= 0, head, r6), index=s.index)
    structured_data = pd.Series(np.where(sd_nil, "-",
                                         np.where(sd_found, sd_val, None)),
                                index=s.index)

    # MSG: Parse() does cursor++ then trims the remainder (:132-140);
    # message defaults to "" when absent.
    msg_rest = pd.Series(
        np.where(p_term >= 0,
                 r6.str.split("] ", n=1).str[1],
                 ""),
        index=s.index)
    # nil-SD rows: remainder after "- "
    msg_rest = pd.Series(np.where(sd_nil, r6.str.slice(2), msg_rest),
                         index=s.index)
    message = pd.Series(msg_rest, index=s.index).fillna("").str.strip(" ")

    ok = err.isna()
    out = pd.DataFrame(index=s.index)
    out["priority"] = pri.where(ok)
    out["facility"] = (pri // 8).where(ok).astype("Int64")
    out["severity"] = (pri % 8).where(ok).astype("Int64")
    out["version"] = version.where(ok)
    out["ts"] = utc_ts.where(ok)
    out["tz_offset_minutes"] = tz_off_out.where(ok)
    out["ts_is_nil"] = pd.Series(np.where(ok, is_nil, None), index=s.index,
                                 dtype=object)
    out["hostname"] = hostname.where(ok)
    out["tag"] = None
    out["content"] = None
    out["app_name"] = app_name.where(ok)
    out["proc_id"] = proc_id.where(ok)
    out["msg_id"] = msg_id.where(ok)
    out["structured_data"] = structured_data.where(ok)
    out["message"] = message.where(ok)
    out["parse_error"] = err
    return out[_OUTPUT_COLUMNS]


def detect_rfc_arrow(arr) -> np.ndarray:
    """Dialect detection on a pa.StringArray -> np.int64 codes.

    Reference quirks preserved (syslogparser.go:30-56):
    * scans the first 10 bytes for '>';
    * no '>' found leaves v=0 (not NO_VERSION) -> reports RFC5424;
    * '>' at index 9 -> version out of the 10-byte window -> UNKNOWN;
    * char after '>' digit -> RFC5424, non-digit -> RFC3164.

    Buffers the reference would panic on (<10 bytes without '>', or '>' as
    the last byte) report UNKNOWN here.

    All-ASCII batches (the hot path; checked once per batch) classify via
    numpy byte gathers on the Arrow buffers — ~10x cheaper than the regex
    formulation, which is kept for batches with multi-byte text where the
    codepoint-window semantics need real UTF-8 walking.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if (n and arr.offset == 0 and arr.null_count == 0
            and arr.type == pa.string()):
        # offsets sliced by LOGICAL length: a zero-offset slice of a longer
        # StringArray has len(arr) < buffer rows, so offs[:-1] would
        # over-read; truncating the data view to offs[n] also makes the
        # ASCII check exact over the logical content only
        offs = np.frombuffer(arr.buffers()[1], np.int32)
        starts = offs[:n].astype(np.int64)
        lens = offs[1:n + 1].astype(np.int64) - starts
        buf = arr.buffers()[2]
        data = (np.frombuffer(buf, np.uint8)[:int(offs[n])]
                if buf is not None else np.zeros(0, np.uint8))
        if len(data) == 0 or data.max() < 0x80:
            # memchr-style: ONE SIMD pass marks every '>' in the flat
            # buffer; the first '>' at-or-after each row start is then a
            # vectorized searchsorted — no N x 10 window materialization
            out = np.full(n, RFC_UNKNOWN, dtype=np.int64)
            gt = np.flatnonzero(data == ord(">"))
            if len(gt):
                k = np.searchsorted(gt, starts)
                p_abs = gt[np.minimum(k, len(gt) - 1)]
                p = p_abs - starts          # >= 0 whenever k < len(gt)
                has = (k < len(gt)) & (p < np.minimum(lens, 10))
                out[~has & (lens >= 10)] = RFC_5424  # latent v=0 quirk
                after_ok = has & (p <= 8) & (p + 1 < lens)
                nxt = data[np.where(after_ok, p_abs + 1, 0)]
                digit = (nxt >= ord("0")) & (nxt <= ord("9"))
                out[after_ok & digit] = RFC_5424
                out[after_ok & ~digit] = RFC_3164
            else:
                out[lens >= 10] = RFC_5424           # latent v=0 quirk
            return out

    head = pc.utf8_slice_codeunits(arr, 0, 10)
    p_gt = pc.find_substring(head, ">").to_numpy(zero_copy_only=False)
    n = pc.utf8_length(arr).to_numpy(zero_copy_only=False)
    ex = pc.extract_regex(arr, r"^(?P<pre>(?s:[^>]{0,8}))>(?P<c>(?s:.))")
    matched = pc.is_valid(ex).to_numpy(zero_copy_only=False)
    c = pc.if_else(pc.is_valid(ex), pc.struct_field(ex, 1), "")
    c_np = c.to_numpy(zero_copy_only=False)

    out = np.full(len(n), RFC_UNKNOWN, dtype=np.int64)
    no_gt = p_gt < 0
    out[no_gt & (n >= 10)] = RFC_5424                # latent v=0 quirk
    digit = (c_np >= "0") & (c_np <= "9") & (c_np != "")
    out[matched & digit] = RFC_5424
    out[matched & ~digit] = RFC_3164
    return out


def detect_rfc(raw) -> pd.Series:
    """Dialect detection over a pandas Series (see detect_rfc_arrow); a
    null line is detected as ""."""
    from .udfs import _line_array

    return pd.Series(detect_rfc_arrow(_line_array(raw)), index=raw.index)
