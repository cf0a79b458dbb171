"""Public convenience API — the LogParser-equivalent surface for users
migrating from the reference library.

Reference usage (README.md:83-101 of jeromer/syslogparser):

    rfc, _ := syslogparser.DetectRFC(buff)
    p := rfc3164.NewParser(buff); p.Parse(); parts := p.Dump()

sparklog equivalents:

    # Spark DataFrame with a raw-line column -> parsed columns
    parsed = sparklog.parse_lines(df, col="raw")

    # pandas Series of raw lines -> parsed DataFrame (no Spark needed)
    parsed = sparklog.parse_lines_pandas(lines)

    # the With* injection hooks become a ParseConfig
    cfg = sparklog.ParseConfig(hostname="dummy", default_year=2025)
"""

from __future__ import annotations

import pandas as pd

from .grammar import (  # noqa: F401  (re-exported)
    RFC_3164,
    RFC_5424,
    RFC_UNKNOWN,
    ParseConfig,
    detect_rfc,
    parse_rfc3164,
    parse_rfc5424,
)


def parse_lines(df, col: str = "raw",
                cfg: ParseConfig | None = None):
    """Spark DataFrame with a raw syslog-line column -> the same rows plus
    ``rfc`` and the parsed fields (prefixed ``p_``), via the mapInArrow
    barrier.  Dialect detection is automatic; parse failures surface as
    ``p_parse_error`` values; a null line parses as ""."""
    from .udfs import map_in_arrow_parse

    return map_in_arrow_parse(df, col, cfg, "p_")


def parse_tokens(df, col: str = "tokens",
                 cfg: ParseConfig | None = None):
    """Spark DataFrame with a pre-tokenized array<int> column -> parsed
    columns (the pipeline's native input shape).  The token array itself
    is NOT echoed to the output — shipping array<int> back across the
    Arrow boundary costs 10-20x the parse (see udfs.py); the decoded line
    comes back as a ``raw`` string column instead."""
    from .udfs import map_in_arrow_parse

    return map_in_arrow_parse(df, col, cfg, "p_")


def parse_lines_pandas(lines: pd.Series,
                       cfg: ParseConfig | None = None) -> pd.DataFrame:
    """pandas Series of raw lines -> ``rfc`` + parsed frame with per-row
    dialect detection (the library surface, no Spark session required)."""
    from .udfs import parse_frame

    return parse_frame(lines, cfg or ParseConfig())
