"""Seeded workload inputs and their ground truth.

Each workload's input is a tokens table ``(doc_id, tokens, n_tok, source)``
written as parquet part files, plus a ``truth.json`` the output checks
compare against.  The truth is computed here, from the lines decoded back
out of those files, by the independent scalar oracle of the grammar
(``tests/oracle_scalar.py``, transcribed from the reference parser),
never by the code under test.  The jobs receive only the parquet files.

Inputs are cached under the benchmark's work directory, keyed by
workload, seed, row count and generator version; a cache hit is
validated against the stored file digests before use.  The truth is a
separate step (ensure_truth), so a run can time input generation
without the oracle.

``dedup_corpus`` writes the documents and embeddings of the dedup probe,
with the truth that follows from how they are built.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
TRUTH_PROCS = min(4, os.cpu_count() or 1)

# Hostile mix (row shares); the remainder are clean synth_lines rows.
HOSTILE_MALFORMED = 0.15
HOSTILE_QUIRK = 0.15
HOSTILE_NON_ASCII = 0.10
HOSTILE_LONG = 0.10

NON_ASCII_SUFFIX = " naïve café ✓ 日本語 ≠ Ω"

# Valid lines the fast path rejects by shape, so they take the grammar's
# slow path: NIL timestamp, empty tag, a tag longer than the 32-char
# window, a `.Z` fraction, and a header with no content.
QUIRK_TEMPLATES = [
    "<{p}>1 - {host} app{app} {i} ID{mid} - hello {i}",
    "<{p}>Oct {d:02d} {h:02d}:{m:02d}:{s:02d} {host} : msg {i}",
    "<{p}>Oct {d:02d} {h:02d}:{m:02d}:{s:02d} {host} {longtag}: msg {i}",
    "<{p}>1 2025-10-{d:02d}T{h:02d}:{m:02d}:{s:02d}.Z {host} app{app} - - - m{i}",
    "<{p}>Oct {d:02d} {h:02d}:{m:02d}:{s:02d} {host}",
]

SEVERITY_CLASS = ["crit", "crit", "crit", "crit", "warn", "warn",
                  "info", "info"]


def _hostile_lines(n: int, seed: int) -> tuple[list, list, list]:
    from sparklog.fixtures import GOLDEN_ERRORS, synth_lines

    base = synth_lines(n, seed=seed)
    raw = base["raw"].tolist()
    rng = np.random.default_rng(seed + 7919)
    kind = rng.choice(5, size=n, p=[
        HOSTILE_MALFORMED, HOSTILE_QUIRK, HOSTILE_NON_ASCII, HOSTILE_LONG,
        1 - HOSTILE_MALFORMED - HOSTILE_QUIRK - HOSTILE_NON_ASCII
        - HOSTILE_LONG])
    errs = [g["raw"] for g in GOLDEN_ERRORS]
    pri = rng.integers(0, 192, n)
    tmpl = rng.integers(0, len(QUIRK_TEMPLATES), n)
    long_len = rng.integers(2100, 3100, n)
    for i in np.flatnonzero(kind == 0):
        raw[i] = errs[i % len(errs)]
    for i in np.flatnonzero(kind == 1):
        sec = (int(i) * 7) % (48 * 3600)
        raw[i] = QUIRK_TEMPLATES[tmpl[i]].format(
            p=pri[i], i=i, app=i % 50, mid=i % 97,
            d=11 + sec // 86400, h=(sec // 3600) % 24, m=(sec // 60) % 60,
            s=sec % 60, host=f"host{i % 1000}",
            longtag="t" * (33 + i % 16))
    for i in np.flatnonzero(kind == 2):
        raw[i] = raw[i] + NON_ASCII_SUFFIX
    for i in np.flatnonzero(kind == 3):
        pad = int(long_len[i]) - len(raw[i]) - 1
        raw[i] = raw[i] + " " + ("lorem ipsum " * (pad // 12 + 1))[:pad]
    return base["doc_id"].tolist(), raw, base["source"].tolist()


def lines(workload: str, n: int, seed: int) -> tuple[list, list, list]:
    """(doc_ids, raw lines, sources) for a workload."""
    from sparklog.fixtures import synth_lines

    if workload == "batch_hostile":
        return _hostile_lines(n, seed)
    base = synth_lines(n, seed=seed)
    return (base["doc_id"].tolist(), base["raw"].tolist(),
            base["source"].tolist())


def _truth_counts(raw: list[str]) -> tuple[Counter, Counter, Counter]:
    """(dead rows per code, rows per rfc/sink, hourly rows) from the
    scalar oracle applied row by row."""
    from tests.oracle_scalar import (
        detect_scalar,
        parse_rfc3164_scalar,
        parse_rfc5424_scalar,
    )

    dead_by_code: Counter = Counter()
    by_rfc_sink: Counter = Counter()
    hourly: Counter = Counter()
    for line in raw:
        rfc = detect_scalar(line)
        if rfc == 1:
            row = parse_rfc3164_scalar(line)
        elif rfc == 2:
            row = parse_rfc5424_scalar(line)
        else:
            row = {"parse_error": "DetectFailed"}
        err = row.get("parse_error")
        if err is not None:
            dead_by_code[err] += 1
            by_rfc_sink[f"{rfc}/dead"] += 1
            continue
        sink = SEVERITY_CLASS[row["severity"]]
        by_rfc_sink[f"{rfc}/{sink}"] += 1
        ts = row.get("ts")
        hour = ts.strftime("%Y-%m-%d %H") if ts is not None else "null"
        hourly[f"{rfc}|{sink}|{row['facility']}|{row['severity']}|{hour}"] += 1
    return dead_by_code, by_rfc_sink, hourly


def truth(raw: list[str]) -> dict:
    """Expected job outputs for ``raw``, split over TRUTH_PROCS forked
    processes (the oracle is pure Python, about 40 us a line)."""
    import multiprocessing

    step = -(-len(raw) // (4 * TRUTH_PROCS))
    chunks = [raw[i:i + step] for i in range(0, len(raw), step)]
    with multiprocessing.get_context("fork").Pool(TRUTH_PROCS) as pool:
        parts = pool.map(_truth_counts, chunks)
        pool.close()
        pool.join()
    total = [Counter(), Counter(), Counter()]
    for part in parts:
        for acc, c in zip(total, part):
            acc.update(c)
    dead_by_code, by_rfc_sink, hourly = total
    return {"rows": len(raw), "dead_by_code": dict(dead_by_code),
            "rows_by_rfc_sink": dict(by_rfc_sink), "hourly": dict(hourly)}


def _lines_of(src_dir: str) -> list[str]:
    """The raw lines back from a tokens parquet directory (one token per
    code point), decoded here without the program's codec."""
    t = pq.read_table(src_dir, columns=["tokens"]).column("tokens")
    out = []
    for chunk in t.chunks:
        flat = chunk.values.to_numpy(zero_copy_only=False).astype("<i4")
        offs = chunk.offsets.to_numpy()
        buf = flat.tobytes()
        out += [buf[4 * a:4 * b].decode("utf-32-le")
                for a, b in zip(offs[:-1], offs[1:])]
    return out


def _tokens_table(doc_ids: list, raw: list, sources: list) -> pa.Table:
    """Code points of each line as list<int32> (the tokens table the
    pipeline reads; the codec is one token per Unicode code point)."""
    lens = np.fromiter((len(s) for s in raw), dtype=np.int64,
                       count=len(raw))
    flat = np.frombuffer("".join(raw).encode("utf-32-le"), dtype=np.int32)
    offsets = np.zeros(len(raw) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "tokens": tokens,
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(sources, pa.string()),
    })


# ------------------------------------------------------- dedup corpus ---

DEDUP_VOCAB = 20_000   # words drawn uniformly, so unrelated texts share
                       # no 20-word window and almost no 3-gram shingle
DEDUP_BLOCK = 40       # words of a planted shared block; longer than the
                       # substring kernel's 20-word window


def dedup_corpus(out_dir: str, n_docs: int, replicas: int,
                 seed: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` for
    ``run_dedup`` and return the corpus's truth.

    ``n_docs`` distinct texts of 30-120 random words, each stored
    ``replicas`` times under the ids ``r * n_docs + base``.  Every
    twentieth pair of base texts ``(2j, 2j + 1)`` shares one planted
    block of DEDUP_BLOCK words: appended to the first text, prepended to
    the second, so the pair has exactly one maximal shared run.  Replicas
    are exact duplicates and must share a component; a planted pair may
    or may not become a near-duplicate candidate (their shingle Jaccard
    is about 0.2), and no other pair may."""
    rng = np.random.default_rng(seed + 104729)
    vocab = np.array([f"w{i}" for i in range(DEDUP_VOCAB)])
    texts = [" ".join(vocab[rng.integers(0, DEDUP_VOCAB,
                                         int(rng.integers(30, 121)))])
             for _ in range(n_docs)]
    planted = [(2 * j, 2 * j + 1) for j in range(n_docs // 20)]
    for a, b in planted:
        block = " ".join(vocab[rng.integers(0, DEDUP_VOCAB, DEDUP_BLOCK)])
        texts[a] = texts[a] + " " + block
        texts[b] = block + " " + texts[b]
    ids = np.concatenate([np.arange(n_docs, dtype=np.int64) + r * n_docs
                          for r in range(replicas)])
    all_texts = texts * replicas
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": ids,
        "text": pa.array(all_texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array(["web"] * len(ids), pa.string()),
        "n_chars": pa.array([len(t) for t in all_texts], pa.int32()),
    }), os.path.join(out_dir, "documents.parquet"))
    emb = np.tile(rng.standard_normal((n_docs, 64)).astype(np.float32),
                  (replicas, 1))
    pq.write_table(pa.table({
        "vec_id": ids,
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, emb.size + 1, 64, dtype=np.int32)),
            pa.array(emb.ravel())),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"n_docs": n_docs, "replicas": replicas, "planted": planted,
            "block_words": DEDUP_BLOCK}


def _digest(src_dir: str) -> dict:
    out = {}
    for fn in sorted(os.listdir(src_dir)):
        with open(os.path.join(src_dir, fn), "rb") as f:
            out[fn] = hashlib.sha256(f.read()).hexdigest()
    return out


def _key_dir(cache_root: str, workload: str, n: int, seed: int,
             n_files: int) -> str:
    return os.path.join(
        cache_root, f"{workload}-s{seed}-n{n}-f{n_files}-v{GEN_VERSION}")


def ensure_input(cache_root: str, workload: str, n: int, seed: int,
                 n_files: int) -> str:
    """Return the tokens parquet directory of a workload's input,
    generating it on a cache miss and checking the stored file digests
    on a hit."""
    d = _key_dir(cache_root, workload, n, seed, n_files)
    src = os.path.join(d, "src")
    digest_path = os.path.join(d, "digest.json")
    if os.path.exists(digest_path):
        with open(digest_path) as f:
            if json.load(f) == _digest(src):
                return src
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "src"))
    table = _tokens_table(*lines(workload, n, seed))
    step = -(-n // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(tmp, "src", f"part-{k:05d}.parquet"))
    with open(os.path.join(tmp, "digest.json"), "w") as f:
        json.dump(_digest(os.path.join(tmp, "src")), f)
    os.replace(tmp, d)
    return src


def ensure_truth(src_dir: str) -> dict:
    """The truth of the input in ``src_dir`` (as ensure_input returned
    it), computed from the files the jobs read and stored beside them."""
    path = os.path.join(os.path.dirname(src_dir), "truth.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    t = truth(_lines_of(src_dir))
    with open(path + ".tmp", "w") as f:
        json.dump(t, f)
    os.replace(path + ".tmp", path)
    return t
