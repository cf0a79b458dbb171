"""parse_batch_arrow must agree with the masked-column slow path, dispatched
by detected dialect, on error-heavy and adversarial corpora (compared
column-by-column).  Under the default config this pins the Arrow error
pre-classifier; under injected configs it pins the classifier bypass (the
classifier assumes the default config)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from sparklog import fixtures
from sparklog.grammar import (
    _OUTPUT_COLUMNS,
    RFC_3164,
    RFC_5424,
    ParseConfig,
    _parse_rfc3164_slow,
    _parse_rfc5424_slow,
    detect_rfc_arrow,
)
from sparklog.udfs import parse_batch_arrow

CFG = ParseConfig(default_year=2025)
INJECTED = [ParseConfig(priority=0, default_year=2025),
            ParseConfig(hostname="dummy", default_year=2025)]


def _slow_reference(rows, rfc, cfg) -> pd.DataFrame:
    """Slow path per dialect; unknown-dialect rows carry only
    DetectFailed."""
    raw = pd.Series(rows, dtype=object)
    ref = pd.DataFrame({c: pd.Series([None] * len(rows), dtype=object)
                        for c in _OUTPUT_COLUMNS})
    for code, slow in ((RFC_3164, _parse_rfc3164_slow),
                       (RFC_5424, _parse_rfc5424_slow)):
        m = rfc == code
        if m.any():
            part = slow(raw[m], cfg)
            for c in _OUTPUT_COLUMNS:
                ref.loc[m, c] = part[c].astype(object).where(
                    part[c].notna(), None).to_numpy()
    ref.loc[(rfc != RFC_3164) & (rfc != RFC_5424), "parse_error"] = (
        "DetectFailed")
    return ref


def _compare(rows, cfg=CFG):
    arr = pa.array(rows, pa.string())
    rfc = detect_rfc_arrow(arr)
    out = parse_batch_arrow(arr, rfc, cfg)
    ref = _slow_reference(rows, rfc, cfg)
    for c in _OUTPUT_COLUMNS:
        got = out[c].to_pandas()
        g = got.astype(object).where(got.notna(), None)
        w = ref[c].where(ref[c].notna(), None)
        same = pd.Series([a == b for a, b in zip(g, w)])
        assert same.all(), (
            c, [rows[i] for i in np.flatnonzero(~same.to_numpy())[:3]])


def _error_corpus():
    return ([c["raw"] for c in fixtures.GOLDEN_ERRORS] * 3
            + ["", "<", "<>", "<77", "<1233>", "<7a8>x", "7>x",
               "<34>", "<34>x", "<34>Foo 11 22:14:15 h t: x",
               "<34> Oct 11 22:14:15 h t: x",     # leading space variant
               "<34>  Oct 11 22:14:15 h t: x",    # double space
               "<165>1", "<165>1 ", "<165>1 2", "<165>1 20x3-",
               "<165>1 +123-10-11T22:14:15Z h a - - - m",  # signed year
               "<165>1 - h a - - - m",            # NIL ts
               "<12345678>9 x", "x" * 12, "short"])


def _synthetic(seed, error_rate):
    return fixtures.synth_lines(8000, seed=seed,
                                error_rate=error_rate)["raw"].tolist()


def _fuzz(seed):
    import random

    rng = random.Random(seed)
    alph = "<>[]:. -0123456789abcZT+\""
    return ["".join(rng.choice(alph) for _ in range(rng.randint(0, 40)))
            for _ in range(4000)]


CORPORA = {
    "empty": list,
    "errors": _error_corpus,
    "error_heavy": lambda: _synthetic(77, 0.9),
    "mixed": lambda: _synthetic(78, 0.05),
    "fuzz1": lambda: _fuzz(1),
    "fuzz2": lambda: _fuzz(2),
}


def test_error_corpus():
    _compare(CORPORA["errors"]())


def test_error_heavy_synthetic():
    _compare(CORPORA["error_heavy"]())


def test_mixed_synthetic():
    _compare(CORPORA["mixed"]())


@pytest.mark.parametrize("seed", [1, 2])
def test_adversarial_fuzz(seed):
    _compare(CORPORA[f"fuzz{seed}"]())


@pytest.mark.parametrize("corpus", sorted(CORPORA))
@pytest.mark.parametrize("cfg", INJECTED, ids=["priority0", "hostname"])
def test_injected_config_corpora(cfg, corpus):
    """Multi-row batches under injected configs: every known-dialect row
    goes to the slow path, never through the classifier (with priority=0
    it would stamp PriorityNoStart on golden g03's "Oct 11 ..." line)."""
    _compare(CORPORA[corpus](), cfg)

