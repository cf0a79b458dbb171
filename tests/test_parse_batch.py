"""The parse batch path without Spark: the token decoder against
``chr`` per code point, and a soak batch holding every kind of row (fast
hits of both dialects, classified errors, slow-path rows of both dialects,
unknown dialect) through the one merge of ``udfs.parse_batch_arrow``,
compared row by row with the scalar oracle."""

import numpy as np
import pandas as pd
import pyarrow as pa

from sparklog import fixtures
from sparklog.api import parse_lines_pandas
from sparklog.encoding import detokenize_arrow
from sparklog.grammar import ParseConfig
from sparklog.udfs import _string_from_token_list
from tests.oracle_scalar import (
    detect_scalar,
    parse_rfc3164_scalar,
    parse_rfc5424_scalar,
)
from tests.test_differential import _cmp

# the non-ASCII tail the hostile benchmark workload appends to lines
NON_ASCII_SUFFIX = " naïve café ✓ 日本語 ≠ Ω"


def _tokens(rows):
    return pa.array([None if r is None else [ord(c) for c in r]
                     for r in rows], pa.list_(pa.int32()))


def _want(rows):
    return ["" if r is None else r for r in rows]


def test_token_decoder_code_point_widths():
    """1- to 4-byte code points, empty rows and a null list decode to
    ``"".join(map(chr, row))`` (``""`` for the null list), on the whole
    column and on a slice with a non-zero offset."""
    rows = ["", "a", None, "é", "日", "𝄞", "", "aé日𝄞", "x" * 40 + "𝄞",
            "<34>Oct 11 22:14:15 hôte su: 日本語", None, "abc"]
    col = _tokens(rows)
    assert _string_from_token_list(col).to_pylist() == _want(rows)
    part = col.slice(3, 5)
    assert part.offset == 3
    assert _string_from_token_list(part).to_pylist() == _want(rows[3:8])
    assert detokenize_arrow(part).to_pylist() == _want(rows[3:8])


def test_token_decoder_ascii_batch():
    """An all-ASCII batch (the inline narrowing cast) and the general
    decoder agree on it, slices included."""
    rows = ["<34>Oct 11 22:14:15 h su: x", "", None, "abc", "~ !"]
    col = _tokens(rows)
    for c, want in ((col, rows), (col.slice(1, 3), rows[1:4])):
        assert _string_from_token_list(c).to_pylist() == _want(want)
        assert detokenize_arrow(c).to_pylist() == _want(want)


def _soak_lines(seed: int = 11) -> list:
    rng = np.random.default_rng(seed)
    synth = fixtures.synth_lines(16000, seed=seed, error_rate=0.3)
    lines = synth["raw"].tolist()
    lines += [g["raw"] for g in fixtures.GOLDEN_ERRORS]
    lines += [r + NON_ASCII_SUFFIX for r in lines[:1500]]
    for r, n in zip(lines[1500:2000], rng.integers(2100, 3100, 500)):
        lines.append((r + " " + "lorem ipsum " * 300)[:n])
    lines += [None, ""] * 20
    # byte fuzz: random code points 0-255 written over valid lines, and
    # lines of random bytes behind a priority-like prefix
    for r in lines[:1500]:
        b = np.frombuffer(r.encode("latin-1"), np.uint8).copy()
        at = rng.integers(0, len(b), rng.integers(1, 4))
        b[at] = rng.integers(0, 256, len(at))
        lines.append(b.tobytes().decode("latin-1"))
    for k in rng.integers(0, 40, 500):
        tail = bytes(rng.integers(0, 256, k).tolist()).decode("latin-1")
        lines.append(["<", "<34>", "<165>1 ", ""][k % 4] + tail)
    order = rng.permutation(len(lines))
    return [lines[i] for i in order]


def test_parse_soak_matches_scalar_oracle():
    """About 20k lines of every part kind in one batch through
    ``parse_lines_pandas`` under the default config, every row against
    the scalar oracle."""
    cfg = ParseConfig()
    lines = _soak_lines()
    assert len(lines) > 19000
    out = parse_lines_pandas(pd.Series(lines, dtype=object))
    assert len(out) == len(lines)
    for i, raw in enumerate(lines):
        line = "" if raw is None else raw
        rfc = detect_scalar(line)
        assert out["rfc"].iat[i] == rfc, (raw, out["rfc"].iat[i], rfc)
        if rfc == 1:
            want = parse_rfc3164_scalar(line, cfg)
        elif rfc == 2:
            want = parse_rfc5424_scalar(line, cfg)
        else:
            assert out["parse_error"].iat[i] == "DetectFailed", raw
            continue
        _cmp(out.iloc[i], want, raw)
