"""Spans and per-layer probes for the traced run.

Spans are recorded from the benchmark's own code, around calls into each
layer's public functions (by wrapping the module attributes those calls
resolve through), or derived from stamps the program already writes
(manifest ``committed_at`` of ``run_pipeline`` and ``run_dedup``,
streaming ``durationMs``).  They are kept in memory and written as JSON
at the end of the run.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import statistics
import time
import uuid

KERNEL_BATCHES = 3   # measured Arrow batches per kernel probe
PREFIX_ROUNDS = 2    # noop rounds per plan prefix; the first warms up


class Tracer:
    """In-memory span recorder.  Times are ``time.perf_counter()`` seconds;
    spans of one run share ``run_id``."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent,
                           "run_id": self.run_id, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.perf_counter(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` with a span around every call; ``on_result(span, args,
        result)`` may attach counts to the span."""
        def wrapped(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out
        return wrapped

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, **extra) -> None:
        st = self.self_times()
        spans = [{**s, "self": st[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": spans}, f,
                      indent=1, default=str)


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace module attributes: ``[(module, name, new)]``."""
    saved = [(m, n, getattr(m, n)) for m, n, _ in targets]
    try:
        for m, n, new in targets:
            setattr(m, n, new)
        yield
    finally:
        for m, n, old in saved:
            setattr(m, n, old)


def _sum(tr: Tracer, name: str, key: str | None = None) -> float:
    return sum((s[key] if key else s["end"] - s["start"])
               for s in tr.spans if s["name"] == name)


# ------------------------------------------------------------ kernels ---

def kernel_layers(tr: Tracer, src_dir: str) -> dict:
    """Run the mapInArrow batch function in-process (no Spark, one core)
    over the workload's own tokens table in 8192-row Arrow batches (the
    session's maxRecordsPerBatch), with spans around decode, detect, the
    fast path, the error classifier and the whole-batch parse.  The first
    batch warms caches and is discarded; the next KERNEL_BATCHES are
    measured."""
    import numpy as np
    import pyarrow.parquet as pq

    from sparklog import encoding, fastpath, grammar, udfs

    table = pq.read_table(src_dir, columns=["doc_id", "source", "tokens"])
    batches = table.combine_chunks().to_batches(max_chunksize=8192)
    passes = [batches[:1], batches[1:1 + KERNEL_BATCHES] or batches[:1]]

    def rows_in(sp, args, out):
        sp["rows"] = len(args[0])

    def fast_hits(sp, args, out):
        sp["rows"] = len(args[0])
        sp["hits"] = int(np.count_nonzero(out[0]))

    def classified(sp, args, out):
        sp["rows"] = len(args[0])
        sp["classified"] = int(sum(x is not None for x in out))

    wraps = [
        (udfs, "_string_from_token_list",
         tr.wrap("decode", udfs._string_from_token_list, rows_in)),
        (encoding, "detokenize_arrow",
         tr.wrap("decode.fallback", encoding.detokenize_arrow, rows_in)),
        (grammar, "detect_rfc_arrow",
         tr.wrap("detect", grammar.detect_rfc_arrow, rows_in)),
        (udfs, "parse_batch_arrow",
         tr.wrap("parse_batch", udfs.parse_batch_arrow, rows_in)),
        (fastpath, "parse_rfc3164_fast",
         tr.wrap("fastpath", fastpath.parse_rfc3164_fast, fast_hits)),
        (fastpath, "parse_rfc5424_fast",
         tr.wrap("fastpath", fastpath.parse_rfc5424_fast, fast_hits)),
        (fastpath, "classify_errors_fast",
         tr.wrap("classify", fastpath.classify_errors_fast, classified)),
        (grammar, "_parse_rfc3164_slow",
         tr.wrap("slowpath.grammar", grammar._parse_rfc3164_slow, rows_in)),
        (grammar, "_parse_rfc5424_slow",
         tr.wrap("slowpath.grammar", grammar._parse_rfc5424_slow, rows_in)),
    ]
    batch_ms = []
    with patched(wraps):
        for p, bs in enumerate(passes):
            first = len(tr.spans)
            it = udfs.make_map_in_arrow_parser()(iter(bs))
            for b in bs:
                with tr.span("udfs.batch", rows=b.num_rows) as sp:
                    next(it)
                batch_ms.append((sp["end"] - sp["start"]) * 1e3)
            if p == 0:
                del tr.spans[first:]
                batch_ms.clear()
    rows = sum(b.num_rows for b in passes[1])

    def named(n):
        return [s for s in tr.spans if s["name"] == n]

    fp = named("fastpath")
    cl = named("classify")
    fp_rows = sum(s["rows"] for s in fp) or 1
    cl_rows = sum(s["rows"] for s in cl)
    parse_t = _sum(tr, "parse_batch")
    return {
        "decode.ns_per_row": _sum(tr, "decode") / rows * 1e9,
        "decode.fallback_ratio":
            sum(s["rows"] for s in named("decode.fallback")) / rows,
        "detect.ns_per_row": _sum(tr, "detect") / rows * 1e9,
        "fastpath.ns_per_row": _sum(tr, "fastpath") / fp_rows * 1e9,
        "fastpath.hit_ratio": sum(s["hits"] for s in fp) / fp_rows,
        "classify.ns_per_row":
            _sum(tr, "classify") / max(cl_rows, 1) * 1e9,
        "classify.classified_ratio":
            sum(s["classified"] for s in cl) / max(cl_rows, 1),
        "slowpath.self_ns_per_row":
            (parse_t - _sum(tr, "fastpath") - _sum(tr, "classify"))
            / rows * 1e9,
        "udfs.batch_ms_p50": statistics.median(batch_ms),
    }


# ------------------------------------------------------- spark layers ---

def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def spark_prefixes(tr: Tracer, spark, src_dir: str) -> dict:
    """Force successively longer prefixes of the batch job's plan to a noop
    sink and take differences.  Round 0 warms and is discarded; each
    prefix's time is the median of the remaining rounds.  The shuffle
    uses ``run_pipeline``'s own partition and salt defaults."""
    from pyspark.sql import functions as F

    from sparklog.enrich import enrich
    from sparklog.pipeline import parse_stage, run_pipeline
    from sparklog.route import salted_repartition, with_route_columns

    params = inspect.signature(run_pipeline).parameters
    src = spark.read.parquet(src_dir)
    parsed = parse_stage(src)
    enriched = enrich(parsed, spark)
    routed = salted_repartition(with_route_columns(enriched),
                                params["num_partitions"].default,
                                params["salt_buckets"].default)
    prefixes = [("scan", src.select("doc_id", "source", "tokens")),
                ("parse_stage", parsed), ("enrich", enriched),
                ("route.shuffle", routed)]
    times: dict[str, list] = {n: [] for n, _ in prefixes}
    for r in range(PREFIX_ROUNDS):
        for name, df in prefixes:
            with tr.span(f"noop.{name}", round=r) as sp:
                dt = _noop(df)
            sp["wall"] = dt
            if r:
                times[name].append(dt)
    med = {n: statistics.median(v) for n, v in times.items()}
    per_part = (routed.groupBy(F.spark_partition_id().alias("p"),
                               "sink_class").count().collect())
    part_rows: dict[int, int] = {}
    sink_rows: dict[str, int] = {}
    for row in per_part:
        part_rows[row["p"]] = part_rows.get(row["p"], 0) + row["count"]
        sink_rows[row["sink_class"]] = (sink_rows.get(row["sink_class"], 0)
                                        + row["count"])
    sizes = sorted(part_rows.values())
    out = {
        "scan.s": med["scan"],
        "parse_stage.self_s": med["parse_stage"] - med["scan"],
        "enrich.self_s": med["enrich"] - med["parse_stage"],
        "route.shuffle_self_s": med["route.shuffle"] - med["enrich"],
        "route.shuffle_skew": sizes[-1] / statistics.median(sizes),
        "_routed_noop_s": med["route.shuffle"],
    }
    for cls in ("crit", "warn", "info", "dead"):
        out[f"route.rows.{cls}"] = sink_rows.get(cls, 0)
    return out


def parse_noop_s(spark, files: list[str]) -> float:
    """parse_stage over ``files`` forced to a noop sink, after one
    warm-up."""
    from sparklog.pipeline import parse_stage

    df = parse_stage(spark.read.parquet(*files))
    _noop(df)
    return _noop(df)


# ------------------------------------------------------ job structure ---

PIPELINE_STAGES = ("sinks", "aggregates", "metrics", "audit")
DEDUP_STAGES = {"near_dup_pairs": "pairs", "components": "components",
                "substring_runs": "substring", "dedup_metrics": "metrics"}


def _stage_spans(tr: Tracer, job: dict, out_dir: str, stages: list[str],
                 names: list[str]) -> None:
    """Cut a job span into child spans at the ``committed_at`` stamps of
    its manifest stages (the last child runs from the last commit to the
    job's end), and move the layer-call spans recorded directly under the
    job to the stage that contains them."""
    from sparklog.lineage import Manifest

    off = time.perf_counter() - time.time()
    committed = Manifest(out_dir).load()["stages"]
    jid = job["id"]
    calls = [s for s in tr.spans if s["parent"] == jid]
    cuts = [job["start"]] + [committed[s]["committed_at"] + off
                             for s in stages] + [job["end"]]
    stage_ids = [tr.add(n, a, b, jid, derived="committed_at")
                 for n, a, b in zip(names, cuts, cuts[1:])]
    for s in calls:
        for sid in stage_ids:
            st = tr.spans[sid]
            if st["start"] <= s["start"] and s["end"] <= st["end"] + 1e-3:
                s["parent"] = sid
                break


def traced_pipeline_job(tr: Tracer, spark, src_dir: str, out_dir: str):
    """run_pipeline with spans around the driver-side layer calls it makes
    (sink write, lineage re-read, audit join) and stage spans cut at the
    manifest's ``committed_at`` stamps.  Returns (stats, job span id)."""
    from sparklog import pipeline

    wraps = [
        (pipeline, "write_sinks",
         tr.wrap("route.write_sinks", pipeline.write_sinks)),
        (pipeline, "partition_lineage",
         tr.wrap("lineage.reread", pipeline.partition_lineage)),
        (pipeline, "audit_token_equality",
         tr.wrap("route.audit", pipeline.audit_token_equality)),
    ]
    with patched(wraps), tr.span("job", kind="run_pipeline") as job:
        stats = pipeline.run_pipeline(spark, src_dir, out_dir)
    _stage_spans(tr, job, out_dir, list(PIPELINE_STAGES),
                 [f"pipeline.{s}" for s in PIPELINE_STAGES]
                 + ["pipeline.tail_counts"])
    return stats, job["id"]


def job_structure(tr: Tracer, jid: int, out_dir: str,
                  snapshot_id: int) -> dict:
    """Stage times of one traced job, the layer calls inside its sinks
    stage, and what it wrote.  ``_write_sinks_s`` is the whole
    ``write_sinks`` call (the plan runs inside it); traced() splits it
    into the plan prefixes and the write."""
    stages = {s["name"]: s for s in tr.spans
              if s["parent"] == jid and s["name"].startswith("pipeline.")}
    sinks_id = stages["pipeline.sinks"]["id"]

    def call_s(name):
        return sum(s["end"] - s["start"] for s in tr.spans
                   if s["name"] == name and s["parent"] == sinks_id)

    n_bytes = n_files = 0
    for d, _, files in os.walk(os.path.join(out_dir, "sinks")):
        for fn in files:
            if fn.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(d, fn))
    out = {f"{k}_s": s["end"] - s["start"] for k, s in stages.items()}
    write_s, reread_s = call_s("route.write_sinks"), call_s("lineage.reread")
    job = tr.spans[jid]
    out.update({"lineage.reread_s": reread_s, "_write_sinks_s": write_s,
                # the stages tile the job; inside the sinks stage, the time
                # outside write_sinks and the re-read (plan building, the
                # manifest commit) is attributed to no layer
                "trace.unattributed_share":
                    (out["pipeline.sinks_s"] - write_s - reread_s)
                    / (job["end"] - job["start"]),
                "sinks.bytes": n_bytes, "sinks.files": n_files,
                "lineage.snapshots": snapshot_id})
    return out


def traced_dedup_job(tr: Tracer, spark, sf_dir: str, out_dir: str) -> dict:
    """run_dedup inside a job span cut at its manifest stages; returns its
    stats plus ``dedup.<stage>_s`` times."""
    from sparklog.pipeline import run_dedup

    with tr.span("job", kind="run_dedup") as job:
        stats = run_dedup(spark, sf_dir, out_dir)
    names = [f"dedup.{n}" for n in DEDUP_STAGES.values()]
    _stage_spans(tr, job, out_dir, list(DEDUP_STAGES),
                 names + ["dedup.counts"])
    stats["wall"] = job["end"] - job["start"]
    stats["stage_s"] = {f"{s['name']}_s": s["end"] - s["start"]
                        for s in tr.spans
                        if s["parent"] == job["id"] and s["name"] in names}
    return stats


STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "getBatch")


def epoch_progress(query) -> list[dict]:
    """Per-epoch progress entries of a finished query (epochs with input)."""
    return [p for p in (json.loads(p.json) for p in query.recentProgress)
            if p.get("numInputRows", 0) > 0]


def stream_spans(tr: Tracer, parent: int, epochs: list[dict]) -> dict:
    """Epoch spans from streaming progress (``durationMs``), with one child
    per phase laid end to end inside the epoch, and their medians."""
    from datetime import datetime

    off = time.perf_counter() - time.time()
    per_phase: dict[str, list] = {p: [] for p in STREAM_PHASES}
    for e in epochs:
        d = e["durationMs"]
        start = datetime.strptime(e["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        t0 = (start - datetime(1970, 1, 1)).total_seconds() + off
        eid = tr.add("stream.epoch", t0, t0 + d["triggerExecution"] / 1e3,
                     parent, epoch=e["batchId"], rows=e["numInputRows"],
                     derived="durationMs")
        cur = t0
        for p in STREAM_PHASES:
            ms = d.get(p, 0)
            per_phase[p].append(ms)
            tr.add(f"stream.{p}", cur, cur + ms / 1e3, eid,
                   derived="durationMs")
            cur += ms / 1e3
    out = {f"stream.{p}_ms_p50": statistics.median(v) if v else 0.0
           for p, v in per_phase.items()}
    out["stream.epoch_s_p50"] = statistics.median(
        e["durationMs"]["triggerExecution"] / 1e3 for e in epochs
    ) if epochs else 0.0
    out["stream.epochs"] = len(epochs)
    return out
