"""Benchmark harness.  PRIMARY: the x100 corpus (deterministic scale-up of
sf0.1 via bench/gen_large_sf.py — 500k docs, 10M events, 60M lineitem)
with the interleaved-rounds protocol, because sub-second sf0.1 timings are
noise-dominated on this host (BENCH_LARGE_SF.md; round-3 judge item #7).
SECONDARY: the sf0.1 suite ($SPARK_GRAFT_SF_DIR) for round-over-round
continuity, plus the end-to-end parse→route pipeline throughput.

Protocol (memory: host shows 2-7x wall-time variance between identical
runs): ONE Spark session; passes interleave round assignment query-by-
query; per round the best of its passes; spread = |a-b|/min between round
bests.  Query-scoped caches are released after every pass so no pass hits
the previous pass's membership cache.

Prints ONE JSON line:
  {"metric": "x100_suite_sec", "value": total, "unit": "sec",
   "queries": {name: best_sec, ...}, "sf": ..., "spread": ...,
   "secondary_sf01": {...}, "pipeline_rows_per_sec": ...,
   "dedup_bucket_metrics": {...}}
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "syslog_parse_rfc3164",
    "syslog_parse_rfc5424",
    "syslog_hourly_agg",
    "syslog_route_counts",
    "agg_lineitem_pricing",
    "join_broadcast_segment_revenue",
    "window_topk_orders",
    "dedup_exact_documents",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_connected_components",
    "dedup_substring",
    "dedup_substring_sampled",
    "dedup_substring_excise",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "asof_join_event_rates",
    "text_quality_scores",
    "pack_sequences",
    "decontaminate_benchmark",
    "text_repetition_scores",
    "token_vocab_topk",
    "mixture_source_weights",
    "pii_scrub_documents",
    "url_domain_topk",
    "decontaminate_benchmark_tokens",
    "curate_documents",
    "dedup_incremental",
]

BENCH_ROWS = int(os.environ.get("SPARKLOG_BENCH_ROWS", "400000"))
X100_DIR = os.environ.get("SPARKLOG_X100_DIR", "/tmp/sparklog_sf10")
# 2 passes per round by default: with 1 pass the committed artifact had
# only two samples per query and 5 of 16 queries blew the 20% spread bar
# on this 2-7x-variance host (round-4 judge item #4); best-of-2 x 2
# rounds = 4 samples keeps the report stable at ~2x the wall cost
X100_REPS = int(os.environ.get("SPARKLOG_X100_REPS", "2"))


def _force(df) -> None:
    """Execute the full plan without transferring results."""
    df.write.format("noop").mode("overwrite").save()


def _ensure_x100() -> str | None:
    """The x100 corpus is derived, not provided: generate it once (in a
    subprocess — the generator owns its own Spark session) if the
    completion marker is absent.  Returns None if generation fails, in
    which case the sf0.1 suite becomes the primary artifact."""
    if os.path.exists(os.path.join(X100_DIR, "_COMPLETE_x100")):
        return X100_DIR
    try:
        subprocess.run(
            [sys.executable, os.path.join(REPO, "bench", "gen_large_sf.py"),
             "--k", "100", "--out", X100_DIR],
            check=True, timeout=1200,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        return X100_DIR
    except Exception:  # noqa: BLE001 — bench must still emit a JSON line
        return None


def _interleaved(spark, registry, sf_dir: str, queries: list[str],
                 reps: int, n_rounds: int = 2):
    from sparklog.queries import release_caches

    samples = {q: [[] for _ in range(n_rounds)] for q in queries}
    for p in range(n_rounds * reps):
        rnd = p % n_rounds
        for q in queries:
            # plan CONSTRUCTION is inside the timed window: some queries
            # legitimately do driver-side work there (the IVF codebook
            # sample+Lloyd, the CC label iterations) and hiding it would
            # flatter them
            t0 = time.time()
            _force(registry[q][0](spark, sf_dir))
            samples[q][rnd].append(time.time() - t0)
            release_caches()  # no cross-pass cache hits / storage creep
    rounds = [{q: round(min(samples[q][r]), 3) for q in queries}
              for r in range(n_rounds)]
    best = {q: min(r[q] for r in rounds) for q in queries}
    spread = {}
    for q in queries:
        ts = [rounds[r][q] for r in range(n_rounds)]
        lo, hi = min(ts), max(ts)
        spread[q] = round((hi - lo) / lo, 3) if lo > 0 else 0.0
    return best, rounds, spread


def main() -> None:
    sf01_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from sparklog.queries import REGISTRY, release_caches
    from sparklog.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    x100_dir = _ensure_x100()

    # warm the JVM + Python workers once (excluded from timings)
    warm_dir = x100_dir or sf01_dir
    _force(REGISTRY["syslog_priority_split"][0](spark, warm_dir).limit(10))

    out: dict = {"unit": "sec"}
    if x100_dir:
        best, rounds, spread = _interleaved(spark, REGISTRY, x100_dir,
                                            HEADLINE, reps=X100_REPS)
        out.update({
            "metric": "x100_suite_sec",
            "value": round(sum(best.values()), 3),
            "queries": best,
            "sf": x100_dir,
            "protocol": f"interleaved 2 rounds x best-of-{X100_REPS}, "
                        "one session, caches released per pass",
            "rounds": rounds,
            "spread": spread,
            "max_spread": max(spread.values()),
        })

    # secondary: the sf0.1 suite (best-of-2, same session)
    best01, _r01, _s01 = _interleaved(spark, REGISTRY, sf01_dir,
                                      HEADLINE, reps=1)
    sec = {"value": round(sum(best01.values()), 3), "queries": best01,
           "sf": sf01_dir}
    if x100_dir:
        out["secondary_sf01"] = sec
    else:
        out.update({"metric": "headline_suite_sec", **sec})

    # end-to-end pipeline throughput (parsed-and-routed sequences/sec)
    from sparklog.enrich import enrich
    from sparklog.fixtures import synth_lines, write_tokens_table
    from sparklog.pipeline import parse_stage
    from sparklog.route import salted_repartition, with_route_columns

    src_path = f"/tmp/sparklog_bench_src_{BENCH_ROWS}"
    if not os.path.exists(os.path.join(src_path, "_SUCCESS")):
        write_tokens_table(spark, synth_lines(BENCH_ROWS), src_path,
                           n_partitions=64)
    src = spark.read.parquet(src_path)
    routed = salted_repartition(
        with_route_columns(enrich(parse_stage(src), spark)), 64)
    pipe_sec = float("inf")
    for _ in range(3):
        t0 = time.time()
        _force(routed)
        pipe_sec = min(pipe_sec, time.time() - t0)
    out["pipeline_parse_route_sec"] = round(pipe_sec, 3)
    out["pipeline_rows"] = BENCH_ROWS
    out["pipeline_rows_per_sec"] = round(BENCH_ROWS / pipe_sec, 1)

    # per-run dedup observability (untimed): the cap-cascade metrics rows
    # a production run_dedup commits beside its outputs, plus the ANN LSH
    # path's row (run_dedup runs no ANN plan) from the same counter
    import shutil
    import tempfile

    from sparklog.pipeline import run_dedup
    from sparklog.queries import (
        LSH_BUCKET_CAP,
        _embeddings_v,
        _lsh_keyed,
        _lsh_nplanes,
        _table_rowcount,
        _vector_collapse,
        bucket_split_stats,
    )

    dedup_out = tempfile.mkdtemp(prefix="sparklog_bench_dedup_")
    bm = run_dedup(spark, sf01_dir, dedup_out)["bucket_metrics"]
    shutil.rmtree(dedup_out, ignore_errors=True)
    # ann_lsh_near_pairs buckets the collapsed unique vectors, so its row
    # meters that rep-level keyed table
    n_vecs = _table_rowcount(spark, sf01_dir, "embeddings")
    _vk, reps, _vm = _vector_collapse(_embeddings_v(spark, sf01_dir))
    keyed_lsh, refine = _lsh_keyed(reps, _lsh_nplanes(n_vecs))
    ann = bucket_split_stats(keyed_lsh, "bucket", "vec_id", LSH_BUCKET_CAP,
                             refine=refine, approx_rows=n_vecs
                             ).collect()[0].asDict()
    bm["ann_lsh_buckets"] = {k: ann.get(k) for k in bm["minhash_bands"]}
    out["dedup_bucket_metrics"] = bm
    release_caches()

    print(json.dumps(out))

    # The full line above is ~4 kB and overflows the driver's 2000-char
    # tail capture (every committed BENCH_rNN.json had "parsed": null),
    # so the LAST stdout line is a compact summary kept under ~1500
    # chars: suite total, max spread, per-query times rounded to 0.01.
    compact = {"metric": out.get("metric"), "value": out.get("value"),
               "unit": "sec", "sf": out.get("sf"),
               "max_spread": out.get("max_spread"),
               "pipeline_rows_per_sec": out.get("pipeline_rows_per_sec"),
               "queries": {q: round(t, 2)
                           for q, t in out.get("queries", {}).items()}}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1500:  # defensive: per-query detail goes first
        compact.pop("queries", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
