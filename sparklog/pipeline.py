"""End-to-end job: read tokens table → detokenize → detect → parse →
enrich → route (fan-out sinks) → aggregate → audit, with manifest commits
and resume.

Plan shape (everything except the one MapInArrow is JVM-side):

    Scan parquet (pruned: doc_id, tokens, source)
      → MapInArrow: decode + detect + parse, one Arrow
        pass per batch (udfs.make_map_in_arrow_parser)   [no shuffle]
      → 3× BroadcastHashJoin (dims, JVM LocalRelations)   [no shuffle]
      → CollectMetrics: the sinks lineage (rows, failures, rows per sink
        class), counted on the write's own plan (lineage.partition_lineage)
      → salted repartition on sink key, AQE-sized         [the ONE shuffle]
      → dynamic-partition parquet write per sink
    aggregates, metrics and audit run concurrently (one stage group,
    committed in that order) on one read of sinks/, typed with the routed
    plan's schema (no schema-inference job); every stage counts its rows
    on its own write (lineage.metered, no read-back).

Usage:  python -m sparklog.pipeline --gen-rows 100000 --out /tmp/slout
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import hourly_counts, parse_metrics
from .enrich import enrich
from .grammar import ParseConfig
from .lineage import Manifest, count_map, metered, partition_lineage
from .route import audit_token_equality, with_route_columns, write_sinks
from .udfs import map_in_arrow_parse


def parse_stage(src: DataFrame, cfg: ParseConfig | None = None) -> DataFrame:
    """tokens table -> flat parsed DataFrame (keeps doc_id/source plus the
    decoded ``raw`` string for routing + the token-equality audit).

    Decode + detect + parse happen inside ONE Arrow pass per batch
    (mapInArrow): token list buffers feed the decoder directly with no
    per-row numpy materialization, and passthrough columns reuse the input
    Arrow buffers.  (JVM-side per-char array ops are a GC hazard at scale —
    measured 4-8s/400k rows with 6x variance — and the pandas list-column
    conversion costs ~65k ndarray allocations per batch.)  The token ARRAY
    never appears in the output: echoing array<int> across the Arrow
    boundary measured 10-20x the parse cost; ``raw`` carries the same
    information through the bijective codec."""
    return map_in_arrow_parse(src.select("doc_id", "source", "tokens"),
                              "tokens", cfg)


_STAGE_THREAD = "sparklog-stage"   # name prefix of the stage threads


def _run_group(spark: SparkSession, manifest: Manifest, stats: dict,
               group, fail_after: str | None) -> None:
    """Run one group of manifest stages.  A stage a previous run committed
    is skipped (recording the resume); the others run concurrently, one
    thread each, as ``fn(done)`` on the infos of the stages committed
    before the group, and inherit the caller's Spark job group and local
    properties.  The calling thread commits their infos in listed order and
    raises the first failure in that order, or the ``fail_after`` kill
    right after the named stage commits, only once every stage of the
    group has finished, so no Spark job outlives the call."""
    done = manifest.load()["stages"]
    stats["resumed_stages"] += [name for name, *_ in group if name in done]
    todo = [(name, fn) for name, fn, *_ in group if name not in done]
    if not todo:
        return
    inherit = inheritable_thread_target(spark)
    if inherit is spark:   # pinned-thread mode off: no thread state to copy
        def inherit(fn):
            return fn
    # leaving the pool waits for every stage, also when a commit raises
    with ThreadPoolExecutor(len(todo),
                            thread_name_prefix=_STAGE_THREAD) as pool:
        runs = [(name, pool.submit(inherit(fn), done)) for name, fn in todo]
        for name, run in runs:
            manifest.commit_stage(name, run.result())
            if fail_after == name:
                raise RuntimeError(f"injected failure after stage {name}")


def _run_job(spark: SparkSession, out_dir: str, groups,
             fail_after: str | None = None) -> tuple[dict, dict]:
    """Run (or resume) ``[[(name, fn, *keys), ...], ...]`` stage groups
    under the manifest in ``out_dir``, one group after another (see
    _run_group; a single stage is a group of one).  A committed stage
    resumes only if its info holds every one of its ``keys``; else the
    job raises before any group runs.  Returns (stats, committed stage
    infos): a job reports its counts from the infos of the stages that
    produced them, so a resumed run reports what a fresh run does and no
    output is re-read after the stages."""
    manifest = Manifest(out_dir)
    committed = manifest.load()["stages"]
    for name, _fn, *keys in (stage for group in groups for stage in group):
        missing = [k for k in keys
                   if name in committed and k not in committed[name]]
        if missing:
            raise RuntimeError(
                f"the committed {name} stage carries no {', '.join(missing)}"
                "; delete the output's _manifests/ to rerun the job")
    stats: dict = {"resumed_stages": []}
    t0 = time.time()
    for group in groups:
        _run_group(spark, manifest, stats, group, fail_after)
    stats["wall_sec"] = time.time() - t0
    state = manifest.load()
    stats["snapshot"] = state["snapshot_id"]
    return stats, state["stages"]


def _write(df: DataFrame, path: str, *metrics: Column) -> dict:
    """Overwrite ``path`` with ``df`` as parquet; the row count and the
    aggregate ``metrics`` are observed on that same write (no second pass
    over the output)."""
    observed, meter = metered(df, F.count(F.lit(1)).alias("rows"), *metrics)
    observed.write.mode("overwrite").parquet(path)
    return meter.get


def _once(fn):
    """``fn()`` built on the first call and returned by every later one,
    also when the stage threads of one group call it at once."""
    lock, memo = threading.Lock(), []

    def call():
        with lock:
            if not memo:
                memo.append(fn())
            return memo[0]
    return call


def run_pipeline(spark: SparkSession, src_path: str, out_dir: str,
                 cfg: ParseConfig | None = None,
                 num_partitions: int | None = None, salt_buckets: int = 16,
                 fail_after: str | None = None,
                 table_format: str = "parquet") -> dict:
    """Run (or resume) the full job.  ``num_partitions=None`` lets AQE size
    the sink shuffle (see route.py).  ``fail_after`` kills the run after
    the named stage commits — used by the resume test.

    The source goes through the catalog abstraction (SURVEY.md §7.5):
    ``table_format="iceberg"`` reads with Spark's iceberg source, so the
    runtime jar must be on the classpath; a load error is raised, never
    replaced by a parquet read of the same path, which the first stage
    that needs the source makes."""
    sinks = os.path.join(out_dir, "sinks")

    @_once
    def _src():
        return spark.read.format(table_format).load(src_path)

    @_once
    def _routed():
        return with_route_columns(enrich(parse_stage(_src(), cfg), spark))

    @_once
    def _sunk():
        # the tail's one read of the sinks, typed: no schema inference
        return spark.read.schema(_routed().schema).parquet(sinks)

    def _sinks(_):
        observed, lineage = partition_lineage(_routed())
        write_sinks(observed, sinks, num_partitions, salt_buckets)
        return lineage.get

    def _aggregates(_):
        return _write(hourly_counts(_sunk()).repartition(1),
                      os.path.join(out_dir, "aggregates"))

    def _metrics(_):
        info = _write(parse_metrics(_sunk())
                      .repartition(1), os.path.join(out_dir, "metrics"),
                      F.collect_list(F.struct("source", "rfc", "n_ok",
                                              "n_failed")).alias("per_source"))
        info["per_source"] = {f"{r['source']}/{r['rfc']}":
                              [r["n_ok"], r["n_failed"]]
                              for r in info["per_source"]}
        return info

    def _audit(_):
        violations = audit_token_equality(_sunk(), _src())
        if violations:
            raise AssertionError(
                f"token-array equality audit failed: {violations} rows")
        return {"violations": 0}

    stats, done = _run_job(spark, out_dir, [
        [("sinks", _sinks, "rows", "n_failed")],
        [("aggregates", _aggregates), ("metrics", _metrics),
         ("audit", _audit)]], fail_after)
    stats["rows"], stats["n_failed"] = (done["sinks"]["rows"],
                                        done["sinks"]["n_failed"])
    return stats


# run_dedup's bucket_metrics columns: the cascade counters, then the CC
# convergence stats; a row leaves NULL the columns its path has not
_BUCKET_METRICS = (("n_rows", "long"), ("n_buckets", "long"),
                   ("n_over_cap_buckets", "long"), ("n_refined_rows", "long"),
                   ("n_salted_rows", "long"), ("n_dropped_rows", "long"),
                   ("cc_iterations", "long"), ("cc_converged", "boolean"),
                   ("n_components", "long"))


def _bucket_metrics(done: dict) -> dict:
    """path -> row of the metrics rows the near_dup_pairs, components and
    substring_runs stages committed, every column present."""
    return {path: {c: row.get(c) for c, _t in _BUCKET_METRICS}
            for stage in ("near_dup_pairs", "components", "substring_runs")
            for path, row in done[stage]["bucket_metrics"].items()}


def run_dedup(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Dedup job over the documents table: near-dup pairs, the component
    partition (what downstream keep-one-per-component actually
    consumes), the maximal cross-doc substring runs (round 7 — the
    (doc_a, doc_b, offset_a, offset_b, match_len) rows an excision pass
    consumes: doc-level outputs cannot see a long block shared inside
    two distinct pages), and the per-path cap-cascade observability
    table — written with the same manifest/stage pattern as
    run_pipeline, metrics beside outputs the way parse_metrics sits
    beside the sinks.

    The MinHash rep graph is built once, by near_dup_pairs, which
    persists its (doc_id, rep) membership and (a, b) rep pairs under
    ``rep_graph/`` for the components stage (and for a resume).  Each
    stage commits the metrics row of the cascade it ran, counted by the
    plan that ran it: the two MinHash cascades' meters (_bucket_pairs),
    observed on the rep_pairs and pairs writes, the components meter
    (_cc_core), observed on the components write, and the substring
    drop's meter (_substring_kept), observed on the substring_runs write;
    dedup_metrics only writes those committed rows out."""
    from .queries import (
        _cc_core,
        _minhash_pairs,
        _minhash_rep_graph,
        _substring_kept,
        _substring_match_positions,
        _substring_maximal_runs,
        release_caches,
    )

    graph = [os.path.join(out_dir, "rep_graph", t)
             for t in ("membership", "rep_pairs")]

    def _save(df, name, **meters):
        # a meter on df's plan is read once the write ran it
        info = _write(df, os.path.join(out_dir, name))
        release_caches()
        return {**info, "bucket_metrics": {k: m.get
                                           for k, m in meters.items()}}

    def _pairs(_):
        exact, membership, rep_pairs, bands, n_docs = _minhash_rep_graph(
            spark, sf_dir)
        _write(membership, graph[0])
        _write(rep_pairs, graph[1])   # runs the band cascade and its meter
        pairs, groups = _minhash_pairs(exact, membership,
                                       spark.read.parquet(graph[1]), n_docs)
        return _save(pairs, "near_dup_pairs", minhash_bands=bands,
                     exact_text_groups=groups)

    def _components(_):
        df, meter = _cc_core(*(spark.read.parquet(p) for p in graph))
        return _save(df, "components", minhash_components=meter)

    def _substring(_):
        kept, meter = _substring_kept(spark, sf_dir)
        return _save(_substring_maximal_runs(_substring_match_positions(kept)),
                     "substring_runs", substring_windows=meter)

    def _metrics(done):
        rows = [(path, *row.values())
                for path, row in _bucket_metrics(done).items()]
        schema = ", ".join(["path string"] + [f"{c} {t}"
                                              for c, t in _BUCKET_METRICS])
        return _write(spark.createDataFrame(rows, schema).coalesce(1),
                      os.path.join(out_dir, "dedup_metrics"))

    stats, done = _run_job(spark, out_dir, [
        [("near_dup_pairs", _pairs, "bucket_metrics")],
        [("components", _components, "bucket_metrics")],
        [("substring_runs", _substring, "bucket_metrics")],
        [("dedup_metrics", _metrics)]])
    stats["n_pairs"] = done["near_dup_pairs"]["rows"]
    stats["n_substring_runs"] = done["substring_runs"]["rows"]
    stats["bucket_metrics"] = _bucket_metrics(done)
    # every membership rep is a label vertex, so the label roots are
    # exactly the distinct component_rep values written
    stats["n_components"] = (stats["bucket_metrics"]["minhash_components"]
                             ["n_components"])
    return stats


def _seen(counts: dict) -> dict:
    """A fixed-key count map (lineage.count_map) without its zero counts:
    the keys a groupBy over the counted rows gives."""
    return {k: n for k, n in counts.items() if n}


def run_curate(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Nightly curation job: one composed collapse-first sweep
    (queries.curate_corpus) writes

      curated/  — the FULL verdict ledger: every doc_id with keep/reason
                  and the PII-scrubbed text (the drop ledger a data team
                  keeps for attribution/rollback)
      corpus/   — kept docs only, scrubbed text as the new ``text``
                  column + ``source`` metadata: the next training corpus

    plus per-reason counts in the manifest, counted on the curated write.
    Same manifest/stage pattern as run_pipeline: the single expensive scan
    materializes once into ``curated`` and the corpus write re-reads that
    parquet — re-running the curate plan per stage would double the
    corpus-sized work."""
    from .queries import CURATE_REASONS, curate_corpus

    curated = os.path.join(out_dir, "curated")

    def _curated(_):
        return _write(curate_corpus(spark, sf_dir), curated,
                      count_map(F.col("reason"), CURATE_REASONS)
                      .alias("reasons"))

    def _corpus(_):
        return _write(spark.read.parquet(curated).where("keep")
                      .select("doc_id", "source",
                              F.col("scrubbed_text").alias("text")),
                      os.path.join(out_dir, "corpus"))

    stats, done = _run_job(spark, out_dir, [
        [("curated", _curated, "reasons")], [("corpus", _corpus)]])
    stats["reasons"] = _seen(done["curated"]["reasons"])
    stats["n_docs"] = sum(stats["reasons"].values())
    stats["n_kept"] = stats["reasons"].get("kept", 0)
    return stats


def run_incremental(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Nightly incremental-dedup job: one broadcast-probe pass
    (queries.dedup_incremental — the new batch vs the existing corpus,
    never corpus x corpus) writes

      flags/      — per batch doc: exact/near-in-corpus, dup-in-batch,
                    keep (the dedup ledger)
      additions/  — the kept batch docs with their text: what actually
                    gets appended to the corpus

    plus the counts of each flag combination in the manifest, counted on
    the flags write.  Same manifest/stage pattern as run_dedup/run_curate:
    the probe materializes once into ``flags`` and the additions join is
    batch-sized."""
    from .queries import _t, dedup_incremental

    flags = os.path.join(out_dir, "flags")
    # a flag combination's key: its flags as "True"/"False", "|"-joined
    combo = F.concat_ws("|", *(F.initcap(F.col(c).cast("string")) for c in (
        "exact_dup_corpus", "near_dup_corpus", "dup_in_batch", "keep")))
    combos = [*map("|".join, itertools.product(("True", "False"), repeat=4))]

    def _flags(_):
        return _write(dedup_incremental(spark, sf_dir), flags,
                      count_map(combo, combos).alias("flag_combos"))

    def _additions(_):
        kept = spark.read.parquet(flags).where("keep").select("doc_id")
        docs = _t(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text", "source")
        return _write(docs.join(F.broadcast(kept), "doc_id"),
                      os.path.join(out_dir, "additions"))

    stats, done = _run_job(spark, out_dir, [
        [("flags", _flags, "flag_combos")], [("additions", _additions)]])
    stats["flag_combos"] = _seen(done["flags"]["flag_combos"])
    stats["n_batch"] = sum(stats["flag_combos"].values())
    stats["n_added"] = done["additions"]["rows"]
    return stats


def run_tokenize(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Tokenizer-artifact job (round 7): learn the BPE merge table ONCE
    from the corpus and persist it as a tiny ordered (mi, a, b) parquet
    under ``merges/``.  The token-keyed ops (token_vocab_topk,
    decontaminate_benchmark_tokens, pack_sequences) re-learn per call by
    default — correct, but a corpus scan each — and accept the loaded
    artifact via their ``merges=`` parameter, which is what a production
    pipeline does: one learning pass per corpus snapshot, every
    downstream job injects the artifact (the blocklist-injection
    pattern).  Manifest-staged and resume-idempotent like the sibling
    jobs."""
    from .bpe import save_merges
    from .queries import _bpe_merges

    def _merges(_):
        merges = _bpe_merges(spark, sf_dir)
        save_merges(spark, merges, os.path.join(out_dir, "merges"))
        return {"n_merges": len(merges)}

    stats, done = _run_job(spark, out_dir, [[("merges", _merges)]])
    stats["n_merges"] = done["merges"]["n_merges"]
    return stats


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default=None, help="tokens parquet path")
    ap.add_argument("--out", default="/tmp/sparklog_out")
    ap.add_argument("--gen-rows", type=int, default=0,
                    help="generate a synthetic tokens table of N rows")
    ap.add_argument("--master", default=None)
    ap.add_argument("--partitions", type=int, default=None,
                    help="sink shuffle partitions (default: sized by AQE)")
    ap.add_argument("--fresh", action="store_true",
                    help="ignore existing manifest (full rerun)")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg"])
    # With* injection hooks of the reference, as job-level config
    # (rfc3164/rfc3164.go:58-86)
    ap.add_argument("--default-year", type=int, default=2025)
    ap.add_argument("--location", default="UTC")
    ap.add_argument("--inject-priority", type=int, default=None)
    ap.add_argument("--inject-hostname", default=None)
    ap.add_argument("--inject-tag", default=None)
    ap.add_argument("--ts-format", default=None,
                    help="custom strptime timestamp layout")
    ap.add_argument("--ts-format-len", type=int, default=None)
    sf_jobs = {
        "dedup": (run_dedup, "the dedup job (near-dup pairs + components "
                  "+ bucket metrics)"),
        "curate": (run_curate, "the curation job (verdict ledger + "
                   "scrubbed kept corpus + reason counts)"),
        "incremental": (run_incremental, "the incremental-dedup job "
                        "(batch-vs-corpus flags + kept additions + flag "
                        "counts)"),
        "tokenize": (run_tokenize, "the tokenizer job (learn + persist "
                     "the BPE merges/ parquet artifact)")}
    for name, (_job, what) in sf_jobs.items():
        ap.add_argument(f"--{name}-sf", default=None, help=f"run {what} "
                        "over this sf dir instead of the parse pipeline")
    args = ap.parse_args(argv)

    cfg = ParseConfig(
        priority=args.inject_priority, hostname=args.inject_hostname,
        tag=args.inject_tag, location=args.location,
        ts_format=args.ts_format, ts_format_len=args.ts_format_len,
        default_year=args.default_year)

    from .session import get_spark
    spark = get_spark(args.master)
    spark.sparkContext.setLogLevel("WARN")

    for name, (job, _what) in sf_jobs.items():
        sf = getattr(args, f"{name}_sf")
        if sf:
            print(json.dumps(job(spark, sf, args.out), default=str))
            return

    src = args.src
    if args.gen_rows:
        from .fixtures import synth_lines, write_tokens_table
        src = os.path.join(args.out, "src_tokens")
        write_tokens_table(spark, synth_lines(args.gen_rows), src,
                           n_partitions=max(args.partitions or 8, 8))
    if args.fresh:
        import shutil
        shutil.rmtree(os.path.join(args.out, "_manifests"),
                      ignore_errors=True)

    stats = run_pipeline(spark, src, args.out, cfg=cfg,
                         num_partitions=args.partitions,
                         table_format=args.format)
    print(json.dumps(stats, default=str))


if __name__ == "__main__":
    main()
