"""sparklog benchmark: runs the public batch, streaming and dedup jobs on
seeded inputs, checks every job's output against generator truth, and
prints one JSON line of metrics.

    python3 perfbench/run.py --workload batch_clean --seed 1 --seconds 10 \
        --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same jobs plus the per-layer probes and
prints the per-layer metrics (spans go to ``perfbench/.work``).  See
perfbench/README.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from collections import Counter

# workload -> rows; each input is written as N_FILES parquet part files, so
# the traced run's streaming drain (maxFilesPerTrigger=16) has 2 epochs
WORKLOADS = {"batch_clean": 40_000, "batch_hostile": 40_000}
N_FILES = 32
MIN_MEASURED = 2    # measured warm jobs per run even if --seconds is exceeded
RSS_INTERVAL_S = 0.25
# the traced run's dedup probe: distinct texts x exact replicas
DEDUP_DOCS, DEDUP_REPLICAS = 2000, 4
# part files parsed at local[1] and at local[nproc] for the scaling ratio
SCALING_FILES = 8

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------- host fit ---

def host_env(root: str, run_dir: str) -> None:
    """Session settings for this host, set through the variables the
    program reads (sparklog.session) before the JVM starts.  Every
    scratch path lives under ``run_dir`` inside the checkout."""
    cpus = str(os.cpu_count() or 1)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARKLOG_DRIVER_MEM": "2g",
        "SPARKLOG_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import sparklog from the checkout whatever their
        # working directory (the parse UDF unpickles by module reference)
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-XX:-UsePerfData' "
            f"--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


def start_session(master: str | None = None):
    from pyspark.sql import SparkSession

    from sparklog.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark(master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session, then the JVM this process launched, and wait for
    every child process to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()   # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — fall through to kill
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


# ------------------------------------------------------------ peak rss ---

def descendants(root: int) -> list[int]:
    kids: dict[int, list] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] == "Z":
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root``'s descendants: RSS with
    each shared page split among the processes mapping it, so the forked
    Python workers do not count their common pages once each."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak memory of this process's descendants (the driver JVM and the
    Python workers it forks), sampled from /proc since the last
    ``reset()``."""

    def __init__(self):
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            v = tree_pss_bytes(me)
            with self._lock:
                self.peak = max(self.peak, v)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- jobs ---

# Checks read the job's output with pyarrow in this process, so they add
# no Spark work to the session being measured.

def _read(path: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=columns)


def _rows_by_sink_and_code(sinks_dir: str) -> tuple[Counter, Counter]:
    t = _read(sinks_dir, ["rfc", "sink_class", "parse_error"]).to_pydict()
    by_sink = Counter(f"{r}/{c}" for r, c in zip(t["rfc"], t["sink_class"]))
    dead = Counter(e for c, e in zip(t["sink_class"], t["parse_error"])
                   if c == "dead")
    return by_sink, dead


def _hourly(agg_dir: str) -> dict[str, int]:
    import pyarrow.compute as pc

    t = _read(agg_dir, ["rfc", "sink_class", "facility", "severity", "hour",
                        "n_events"])
    hour = pc.fill_null(pc.strftime(t["hour"], format="%Y-%m-%d %H"),
                        "null").to_pylist()
    d = t.to_pydict()
    return {f"{r}|{c}|{f}|{s}|{h}": n for r, c, f, s, h, n in zip(
        d["rfc"], d["sink_class"], d["facility"], d["severity"], hour,
        d["n_events"])}


def _diff(what: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    keys = sorted(set(got) | set(want), key=str)
    bad = [k for k in keys if got.get(k) != want.get(k)]
    return [f"{what}: {len(bad)} keys differ, e.g. "
            + ", ".join(f"{k}: {got.get(k)} != {want.get(k)}"
                        for k in bad[:3])]


class BatchJob:
    """``run_pipeline`` as a user runs it (default partitions and salt)."""

    def __init__(self, spark, src: str, truth: dict, run_dir: str):
        self.spark, self.src, self.truth = spark, src, truth
        self.run_dir = run_dir

    def out(self, k: int) -> str:
        return os.path.join(self.run_dir, f"job-{k}")

    def run(self, k: int) -> dict:
        from sparklog.pipeline import run_pipeline

        t = time.perf_counter()
        stats = run_pipeline(self.spark, self.src, self.out(k))
        return {"wall": time.perf_counter() - t, "stats": stats}

    def check(self, k: int, res: dict) -> list[str]:
        from sparklog.lineage import Manifest

        t, out, stats = self.truth, self.out(k), res["stats"]
        problems = []
        if stats["rows"] != t["rows"]:
            problems.append(f"committed {stats['rows']} of {t['rows']} rows")
        audit = Manifest(out).load()["stages"].get("audit", {})
        if audit.get("violations") != 0:
            problems.append(f"audit reported {audit.get('violations')}")
        by_sink, dead = _rows_by_sink_and_code(os.path.join(out, "sinks"))
        problems += _diff("rows per rfc/sink", by_sink, t["rows_by_rfc_sink"])
        problems += _diff("dead-letter rows per code", dead,
                          t["dead_by_code"])
        problems += _diff("hourly aggregates",
                          _hourly(os.path.join(out, "aggregates")),
                          t["hourly"])
        return problems

    def cleanup(self, k: int) -> None:
        from sparklog.queries import release_caches

        release_caches()
        shutil.rmtree(self.out(k), ignore_errors=True)
        # start every job on a collected heap, so GC left over from the
        # previous job does not land in the next one's time
        self.spark._jvm.System.gc()


class StreamJob(BatchJob):
    """``start_streaming_job`` (availableNow) draining the input's part
    files as a landing directory, inside a span with per-epoch phase
    spans; its sinks are checked against the same truth as the batch
    job's."""

    def __init__(self, tr, *args):
        super().__init__(*args)
        self.tr = tr

    def run(self, k: int) -> dict:
        import tracing
        from sparklog.streaming import start_streaming_job

        out = self.out(k)
        with self.tr.span("job", kind="stream") as sp:
            q = start_streaming_job(self.spark, self.src, out,
                                    os.path.join(out, "_checkpoint"))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return {"wall": sp["end"] - sp["start"],
                "layers": tracing.stream_spans(
                    self.tr, sp["id"], tracing.epoch_progress(q))}

    def check(self, k: int, res: dict) -> list[str]:
        by_sink, dead = _rows_by_sink_and_code(
            os.path.join(self.out(k), "sinks"))
        return (_diff("rows per rfc/sink", by_sink,
                      self.truth["rows_by_rfc_sink"])
                + _diff("dead-letter rows per code", dead,
                        self.truth["dead_by_code"]))


class DedupJob(BatchJob):
    """``run_dedup`` on the seeded corpus of gen.dedup_corpus, with stage
    spans, checked against how the corpus was built:

    - near-duplicate pairs: every pair of replicas of a text, and no pair
      of unrelated texts (a planted pair may or may not be a candidate);
    - components: exactly the replica groups, joined where a planted pair
      came out as a candidate;
    - substring runs: one run of the planted block's length per planted
      pair, between the pair's representatives."""

    def __init__(self, tr, spark, sf_dir: str, truth: dict, run_dir: str):
        super().__init__(spark, sf_dir, truth, run_dir)
        self.tr = tr

    def out(self, k: int) -> str:
        return os.path.join(self.run_dir, f"dedup-{k}")

    def run(self, k: int) -> dict:
        import tracing

        stats = tracing.traced_dedup_job(self.tr, self.spark, self.src,
                                         self.out(k))
        return {"wall": stats["wall"], "stats": stats}

    def check(self, k: int, res: dict) -> list[str]:
        t, out, stats = self.truth, self.out(k), res["stats"]
        n, r = t["n_docs"], t["replicas"]
        planted = {tuple(p) for p in t["planted"]}
        problems = []

        pairs = _read(os.path.join(out, "near_dup_pairs"),
                      ["doc_a", "doc_b"]).to_pydict()
        same, joined, stray = 0, set(), 0
        for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
            ba, bb = sorted((a % n, b % n))
            if ba == bb:
                same += 1
            elif (ba, bb) in planted:
                joined.add((ba, bb))
            else:
                stray += 1
        if same != n * r * (r - 1) // 2:
            problems.append(f"{same} replica pairs, want "
                            f"{n * r * (r - 1) // 2}")
        if stray:
            problems.append(f"{stray} pairs of unrelated texts")

        root = list(range(n))
        for a, b in joined:
            root[b] = a
        want: dict[int, set] = {}
        for doc in range(n * r):
            want.setdefault(root[doc % n], set()).add(doc)
        comp = _read(os.path.join(out, "components"),
                     ["doc_id", "component_rep"]).to_pydict()
        got: dict[int, set] = {}
        for doc, rep in zip(comp["doc_id"], comp["component_rep"]):
            got.setdefault(rep, set()).add(doc)
        if ({frozenset(g) for g in got.values()}
                != {frozenset(g) for g in want.values()}):
            problems.append(f"components differ: {len(got)} groups, want "
                            f"{len(want)}")
        if stats["n_components"] != len(want):
            problems.append(f"n_components {stats['n_components']} != "
                            f"{len(want)}")

        runs = _read(os.path.join(out, "substring_runs"),
                     ["doc_a", "doc_b", "match_len"]).to_pydict()
        got_runs = sorted((*sorted((a % n, b % n)), m) for a, b, m in zip(
            runs["doc_a"], runs["doc_b"], runs["match_len"]))
        if got_runs != sorted((a, b, t["block_words"]) for a, b in planted):
            problems.append(f"{len(got_runs)} substring runs, want "
                            f"{len(planted)} of {t['block_words']} words")
        return problems

    def cleanup(self, k: int) -> None:
        from sparklog.queries import release_caches

        release_caches()
        shutil.rmtree(self.out(k), ignore_errors=True)


class Ledger:
    """Attempted/failed job counts; a job fails if it raises or if its
    output check finds a difference."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, job, k: int) -> dict | None:
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = job.run(k)
            t_check = time.perf_counter()
            problems = job.check(k, res)
        except Exception as e:  # noqa: BLE001 — a failed job is data
            res, problems = None, [f"{type(e).__name__}: {e}"]
        finally:
            job.cleanup(k)
        print(f"job {k}: {res['wall'] if res else float('nan'):.3f} s "
              f"(check and clean-up {time.perf_counter() - t_check:.3f} s)"
              if res else f"job {k}: failed after "
              f"{time.perf_counter() - t:.3f} s", file=sys.stderr)
        if problems:
            self.failed += 1
            print(f"job {k} FAILED: {problems}", file=sys.stderr)
            return None
        return res


# ---------------------------------------------------------------- main ---

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "sparklog", "pipeline.py"))
            and os.path.isfile(os.path.join(root, "tests",
                                            "oracle_scalar.py"))):
        print("run from the repository root: sparklog/ and "
              "tests/oracle_scalar.py not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, BENCH_DIR)
    work = os.path.join(BENCH_DIR, ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    host_env(root, run_dir)
    try:
        result = bench(args, work, run_dir)
    finally:
        t = time.perf_counter()
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"shut-down {time.perf_counter() - t:.3f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


def bench(args, work: str, run_dir: str) -> dict:
    import gen

    n_rows = WORKLOADS[args.workload]
    ledger = Ledger()
    # set-up: input generation (or its digest check on a cache hit), then
    # JVM launch and session start; the oracle truth, the benchmark's own
    # work, runs between them untimed and before the JVM exists
    t = time.perf_counter()
    src = gen.ensure_input(os.path.join(work, "cache"), args.workload,
                           n_rows, args.seed, N_FILES)
    input_s = time.perf_counter() - t
    t = time.perf_counter()
    truth = gen.ensure_truth(src)
    truth_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t
    setup_s = input_s + session_s
    print(f"set-up: input {input_s:.3f} s, session {session_s:.3f} s "
          f"(truth {truth_s:.3f} s, untimed)", file=sys.stderr)

    with RssSampler() as rss:
        job = BatchJob(spark, src, truth, run_dir)
        cold = ledger.run(job, 0)
        if args.trace:
            metrics = traced(args, job, ledger, n_rows)
        else:
            measured, peaks = [], []
            t0 = time.perf_counter()
            k = 1
            while k <= MIN_MEASURED or time.perf_counter() - t0 < args.seconds:
                rss.reset()
                res = ledger.run(job, k)
                k += 1
                if res is not None:
                    measured.append(res["wall"])
                    peaks.append(rss.peak)
            metrics = {
                # a failed job commits nothing: 0 rows/s when all failed
                "rows_per_s": n_rows / statistics.median(measured)
                if measured else 0.0,
                "cold_job_s": cold["wall"] if cold else 0.0,
                "setup_s": setup_s,
                "peak_rss_mb": statistics.median(peaks) / 2**20
                if peaks else 0.0,
                "ok_ops_ratio": 1 - ledger.failed / ledger.attempted,
            }
    units = metric_units("per_layer" if args.trace else "end_to_end")
    missing = sorted(set(units) - set(metrics))
    if missing and not ledger.failed:
        raise RuntimeError(f"metrics not measured: {missing}")
    # a metric a failed job left unmeasured reads 0 in a run that is
    # reported incorrect anyway
    return {"correct": ledger.failed == 0, "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": {name: {"value": metrics.get(name, 0.0), "unit": unit}
                        for name, unit in units.items()}}


class TracedPipelineJob(BatchJob):
    """``run_pipeline`` with layer-call and stage spans (see
    tracing.traced_pipeline_job); checked like the untraced job."""

    def __init__(self, tr, *args):
        super().__init__(*args)
        self.tr = tr

    def run(self, k: int) -> dict:
        import tracing

        stats, jid = tracing.traced_pipeline_job(self.tr, self.spark,
                                                 self.src, self.out(k))
        sp = self.tr.spans[jid]
        return {"wall": sp["end"] - sp["start"], "stats": stats,
                "layers": tracing.job_structure(self.tr, jid, self.out(k),
                                                stats["snapshot"])}


def traced(args, job, ledger, n_rows) -> dict:
    """Per-layer run: a traced and an untraced job (more while --seconds
    lasts) for the stage times and the tracing overhead; then the same
    rows drained as a stream, the dedup probe, the kernel and Spark-side
    layer probes, and the single-threaded parse baseline."""
    import gen
    import tracing

    tr = tracing.Tracer()
    spark, src, run_dir = job.spark, job.src, job.run_dir
    args_ = (spark, src, job.truth, run_dir)
    traced_job = TracedPipelineJob(tr, *args_)
    plain, traced_runs = [], []
    t0 = time.perf_counter()
    k = 1
    while k <= 2 or time.perf_counter() - t0 < args.seconds:
        res = ledger.run(traced_job if k % 2 else job, k)
        if res is not None:
            (traced_runs if k % 2 else plain).append(res)
        k += 1
    m: dict = {}
    if plain and traced_runs:
        m["trace.overhead_rows_per_s"] = (
            n_rows / statistics.median(r["wall"] for r in plain)
            - n_rows / statistics.median(r["wall"] for r in traced_runs))
        m.update({key: statistics.median(r["layers"][key]
                                         for r in traced_runs)
                  for key in traced_runs[0]["layers"]})

    res = ledger.run(StreamJob(tr, *args_), k)
    if res is not None:
        m.update(res["layers"])

    sf_dir = os.path.join(run_dir, "dedup-src")
    corpus = gen.dedup_corpus(sf_dir, DEDUP_DOCS, DEDUP_REPLICAS, args.seed)
    res = ledger.run(DedupJob(tr, spark, sf_dir, corpus, run_dir), k + 1)
    if res is not None:
        st = res["stats"]
        bm = st["bucket_metrics"]
        m.update(st["stage_s"])
        m.update({
            "dedup.docs_per_s": DEDUP_DOCS * DEDUP_REPLICAS / st["wall"],
            "dedup.n_pairs": st["n_pairs"],
            "dedup.n_components": st["n_components"],
            "dedup.cc_iterations": bm["minhash_components"]["cc_iterations"],
            "dedup.n_over_cap_buckets": sum(
                v["n_over_cap_buckets"] or 0 for v in bm.values()),
        })

    m.update(tracing.kernel_layers(tr, src))
    m.update(tracing.spark_prefixes(tr, spark, src))
    # the plan prefixes run inside write_sinks; the rest of it is the write
    routed_s = m.pop("_routed_noop_s")
    if "_write_sinks_s" in m:
        m["route.write_self_s"] = m.pop("_write_sinks_s") - routed_s

    n = os.cpu_count() or 1
    files = sorted(os.path.join(src, f) for f in os.listdir(src))
    files = files[:SCALING_FILES]
    t_n = tracing.parse_noop_s(spark, files)
    t_1 = tracing.parse_noop_s(start_session("local[1]"), files)
    m["scaling.parse_eff_1_to_N"] = t_1 / t_n / n
    m["trace.spans"] = len(tr.spans)
    path = os.path.join(os.path.dirname(run_dir),
                        f"trace-{args.workload}-s{args.seed}.json")
    tr.dump(path, workload=args.workload, seed=args.seed, rows=n_rows,
            metrics=m)
    print(f"spans written to {path}", file=sys.stderr)
    return m


def metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(os.path.dirname(BENCH_DIR),
                           "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


if __name__ == "__main__":
    sys.exit(main())
