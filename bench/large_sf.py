"""Larger-SF benchmark: run the headline suite at the x10 corpus
(bench/gen_large_sf.py -> /tmp/sparklog_sf1, "sf1") with bench.py's
INTERLEAVED-rounds protocol (bench._interleaved) and report per-query
round-to-round spread.

Protocol: one Spark session (JVM/worker warmup excluded), then
`2 * reps` passes over the full query list in order; pass i belongs to
round i % 2, so both rounds sample the same host-noise windows
query-by-query (suite-A-then-suite-B measured 2-6x cross-round drift on
this host; interleaving is the standard fix).  A query's timed window
runs from building its plan to the end of its noop write.  Each round's
per-query time is the best of its `reps` passes; spread = |a - b| /
min(a, b) between the two round bests.  Stability bar: spread < 20%.

Usage: python bench/large_sf.py [--sf-dir /tmp/sparklog_sf1] [--reps 3]
Prints one JSON line with both rounds' timings, spreads, and max spread.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sparklog_sf1")
    ap.add_argument("--reps", type=int, default=3,
                    help="passes per round (best-of)")
    args = ap.parse_args()

    from bench import HEADLINE, _force, _interleaved
    from sparklog.queries import REGISTRY
    from sparklog.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    _force(REGISTRY["syslog_priority_split"][0](spark, args.sf_dir).limit(10))

    n_rounds = 2
    best, rounds, spreads = _interleaved(spark, REGISTRY, args.sf_dir,
                                         HEADLINE, args.reps, n_rounds)
    print(json.dumps({
        "metric": "large_sf_suite_sec",
        "sf": args.sf_dir,
        "unit": "sec",
        "protocol": f"interleaved {n_rounds} rounds x best-of-{args.reps}, "
                    "one session",
        "rounds": rounds,
        "totals": [round(sum(r.values()), 3) for r in rounds],
        "spread": spreads,
        "max_spread": max(spreads.values()),
        "best": best,
    }))


if __name__ == "__main__":
    main()
