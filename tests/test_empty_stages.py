"""Counts of a stage that comes out empty.

Every job count is read off the plan that runs it (lineage.metered).
When a shuffle stage above the observed frame produces no rows, AQE
replaces the plan above it by an empty relation, the observed node with
it; the meter must still report the counts, not fail."""

import os

import pytest
from pyspark.sql import functions as F

from sparklog.lineage import Manifest
from sparklog.pipeline import run_dedup, run_pipeline
from sparklog.queries import _SUBSTR_W, _bucket_pairs, bucket_split_stats
from sparklog.streaming import TOKENS_SCHEMA


def test_bucket_pairs_meter_with_no_pairs(spark, tmp_path):
    """500 keys of one id each: the pairs' distinct() stage comes out
    empty, and the meter still equals bucket_split_stats."""
    keyed = spark.range(500).select(
        F.concat(F.lit("k"), F.col("id")).alias("gk"), F.col("id").alias("i"))
    pairs, meter = _bucket_pairs(keyed, "gk", "i", 8)
    pairs.write.parquet(str(tmp_path / "pairs"))
    assert spark.read.parquet(str(tmp_path / "pairs")).count() == 0
    ref = bucket_split_stats(keyed, "gk", "i", 8).collect()[0].asDict()
    assert meter.get == ref
    assert (ref["n_rows"], ref["n_buckets"]) == (500, 500)


def test_pipeline_on_an_empty_source(spark, tmp_path):
    """A 0-row tokens table runs every stage, fresh and resumed after the
    sinks stage, and reports zero counts and empty tables."""
    src = str(tmp_path / "tokens")
    spark.createDataFrame([], TOKENS_SCHEMA).write.parquet(src)
    fresh = str(tmp_path / "fresh")
    resumed = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, src, resumed, fail_after="sinks")
    for out, prefix in ((fresh, []), (resumed, ["sinks"])):
        stats = run_pipeline(spark, src, out)
        assert stats["resumed_stages"] == prefix
        assert (stats["rows"], stats["n_failed"]) == (0, 0)
        done = Manifest(out).load()["stages"]
        assert done["audit"]["violations"] == 0
        for table in ("aggregates", "metrics"):
            assert done[table]["rows"] == 0
            assert spark.read.parquet(os.path.join(out, table)).count() == 0


@pytest.mark.parametrize("replicas", [1, 2])
def test_dedup_with_no_candidate_pair(spark, tmp_path, replicas):
    """Texts over disjoint word sets share no band bucket and no window:
    the band cascade and the substring runs come out empty.  Each count
    follows from how the corpus is built."""
    lengths = [25 + i % 10 for i in range(200)]
    texts = [" ".join(f"t{j}w{i}" for i in range(n))
             for j, n in enumerate(lengths)]
    rows = [(r * len(texts) + j, t, "en", "web")
            for r in range(replicas) for j, t in enumerate(texts)]
    d = str(tmp_path / "sf")
    (spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                           "source string")
     .coalesce(2).write.parquet(f"{d}/documents.parquet"))
    stats = run_dedup(spark, d, str(tmp_path / "out"))
    m = stats["bucket_metrics"]
    n_texts = len(texts)
    assert m["minhash_bands"]["n_rows"] == 2 * n_texts
    assert m["minhash_bands"]["n_buckets"] == 2 * n_texts
    assert (m["exact_text_groups"]["n_rows"],
            m["exact_text_groups"]["n_buckets"]) == (len(rows), n_texts)
    assert m["minhash_components"]["n_components"] == n_texts
    assert stats["n_components"] == n_texts
    n_windows = sum(n - _SUBSTR_W + 1 for n in lengths)
    assert (m["substring_windows"]["n_rows"],
            m["substring_windows"]["n_buckets"]) == (n_windows, n_windows)
    assert stats["n_substring_runs"] == 0
    assert stats["n_pairs"] == (replicas - 1) * n_texts
    for row in m.values():
        assert row["n_dropped_rows"] in (None, 0)
