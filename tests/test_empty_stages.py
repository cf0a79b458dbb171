"""Counts of a stage that comes out empty.

Every job count is read off the plan that runs it (lineage.metered).
When a shuffle stage above the observed frame produces no rows, AQE
replaces the plan above it by an empty relation, the observed node with
it; the meter must still report the counts, not fail.  The components
row of run_dedup, counted on its write, is checked here on the corpus
whose stages come out empty and on sf0.001."""

import os

import pytest
from pyspark.sql import functions as F

from sparklog import pipeline
from sparklog.lineage import Manifest
from sparklog.pipeline import (
    run_curate,
    run_dedup,
    run_incremental,
    run_pipeline,
)
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


_DOCS_SCHEMA = "doc_id long, text string, lang string, source string"


def _disjoint_corpus(spark, d, replicas):
    """A documents table under ``d`` of 200 texts over disjoint word sets
    (text j = t{j}w0 ... t{j}w{n-1}, n = 25-34), ``replicas`` copies
    each: returns (rows, texts, lengths)."""
    lengths = [25 + i % 10 for i in range(200)]
    texts = [" ".join(f"t{j}w{i}" for i in range(n))
             for j, n in enumerate(lengths)]
    rows = [(r * len(texts) + j, t, "en", "web")
            for r in range(replicas) for j, t in enumerate(texts)]
    (spark.createDataFrame(rows, _DOCS_SCHEMA)
     .coalesce(2).write.parquet(f"{d}/documents.parquet"))
    return rows, texts, lengths


@pytest.mark.parametrize("replicas", [1, 2])
def test_dedup_with_no_candidate_pair(spark, tmp_path, replicas):
    """Texts over disjoint word sets share no band bucket and no window:
    the band cascade and the substring runs come out empty.  Each count
    follows from how the corpus is built."""
    d = str(tmp_path / "sf")
    rows, texts, lengths = _disjoint_corpus(spark, d, replicas)
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


@pytest.mark.parametrize("corpus", ["sf0.001", "disjoint"])
def test_components_row_counts_the_written_components(spark, tmp_path,
                                                      corpus):
    """run_dedup's minhash_components row, counted on the components
    write, fresh and resumed: n_rows is the distinct reps of the persisted
    membership and n_components the distinct component_rep written."""
    if corpus == "disjoint":
        d = str(tmp_path / "sf")
        _disjoint_corpus(spark, d, 2)
    else:
        d = "/root/testdata/sf0.001"
    out = str(tmp_path / "out")
    for resumed in ([], ["near_dup_pairs", "components", "substring_runs",
                         "dedup_metrics"]):
        stats = run_dedup(spark, d, out)
        assert stats["resumed_stages"] == resumed
        row = stats["bucket_metrics"]["minhash_components"]
        assert row["cc_converged"] is True
        membership = spark.read.parquet(f"{out}/rep_graph/membership")
        components = spark.read.parquet(f"{out}/components")
        assert row["n_rows"] == membership.select("rep").distinct().count()
        assert row["n_components"] == (
            components.select("component_rep").distinct().count())


@pytest.mark.parametrize("job, first, second, counts", [
    (run_curate, "curated", "corpus", "reasons"),
    (run_incremental, "flags", "additions", "flag_combos")])
def test_curate_and_incremental_on_an_empty_table(spark, tmp_path,
                                                  monkeypatch, job, first,
                                                  second, counts):
    """A 0-row documents table runs both stages of the curation and the
    incremental-dedup job, fresh and resumed after the first stage: the
    count map observed on the first stage's write holds every key at 0,
    and the job reports no count and writes empty tables."""
    d = str(tmp_path / "sf")
    spark.createDataFrame([], _DOCS_SCHEMA).write.parquet(
        f"{d}/documents.parquet")
    fresh = str(tmp_path / "fresh")
    resumed = str(tmp_path / "resumed")
    run_group = pipeline._run_group
    with monkeypatch.context() as m:
        m.setattr(pipeline, "_run_group",
                  lambda *a: run_group(*a[:4], first))
        with pytest.raises(RuntimeError, match="injected failure"):
            job(spark, d, resumed)
    for out, prefix in ((fresh, []), (resumed, [first])):
        stats = job(spark, d, out)
        assert stats["resumed_stages"] == prefix
        assert stats[counts] == {}
        done = Manifest(out).load()["stages"]
        assert set(done) == {first, second}
        assert set(done[first][counts].values()) == {0}
        for table in (first, second):
            assert done[table]["rows"] == 0
            assert spark.read.parquet(os.path.join(out, table)).count() == 0
