"""sparklog — a PySpark-native syslog parse → enrich → route → aggregate
pipeline with the grammar and semantics of jeromer/syslogparser, built
Spark-first (DataFrame + Arrow-vectorized batch parsing, no per-row
Python).

Public surface (see api.py):

    sparklog.parse_lines(df, col="raw")          # Spark, raw lines
    sparklog.parse_tokens(df, col="tokens")      # Spark, token arrays
    sparklog.parse_lines_pandas(series)          # no Spark needed
    sparklog.ParseConfig(...)                    # the With* hooks
"""

import os as _os
import zipimport as _zipimport


def _stat_gated_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's index
    only when the archive's (size, mtime) differ from what that importer
    last read, so a changed archive is still re-read.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task, and on Python 3.11 each zipimporter then re-reads its archive's
    whole central directory: 250-600 ms per task on a 4-core host with
    Python 3.11.7.  No Spark config avoids those calls: the JVM puts
    ``$SPARK_HOME/python/lib/*.zip`` and the spark-core jar first on the
    worker's PYTHONPATH.  This module runs on every sparklog import in a
    worker, so from a worker's second task on nothing is re-read."""
    stock = _zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_stat_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_size, st.st_mtime_ns)
        if getattr(self, "_read_stamp", None) != stamp:
            stock(self)
            self._read_stamp = stamp

    invalidate_caches._stat_gated = True
    _zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_gated_zip_invalidation()

from .api import (  # noqa: F401, E402
    RFC_3164,
    RFC_5424,
    RFC_UNKNOWN,
    ParseConfig,
    detect_rfc,
    parse_lines,
    parse_lines_pandas,
    parse_rfc3164,
    parse_rfc5424,
    parse_tokens,
)

__version__ = "0.1.0"
