"""Differential guards for the exact-collapse-first dedup rewrites
(round 3): the driver's parity corpus (sf0.01) contains almost no exact
full-text duplicates, so the collapse -> signature-on-uniques -> pair
re-expansion path is barely exercised there.  These tests build a
DUPLICATION-HEAVY corpus (groups of 1..50 copies, a >=0.8-Jaccard
near-dup family, cross-lang copies, shingle-less short texts) and check
the Spark results pair-for-pair against the same DuckDB brute-force
oracles the parity gate uses.  The vector paths get the same treatment:
copies, zero vectors, and a bucket over the cap only because of copies.
"""

import duckdb
import pandas as pd
import pytest

from sparklog.queries import (
    LSH_BUCKET_CAP,
    REGISTRY,
    SQL_ANN_LSH_NEAR_PAIRS,
    SQL_DEDUP_EMBEDDING_COSINE,
    SQL_DEDUP_MINHASH_LSH,
    SQL_DEDUP_NGRAM_JACCARD,
)

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango "
         "uniform victor whiskey xray yankee zulu one two three four five "
         "six seven eight nine ten eleven twelve thirteen fourteen").split()


def _mk_text(seed: int, n: int = 40) -> str:
    return " ".join(WORDS[(seed * 7 + i * 3) % len(WORDS)] for i in range(n))


@pytest.fixture(scope="module")
def dup_docs_dir(spark, tmp_path_factory):
    rows = []
    doc_id = 1000
    # ten distinct texts with copy counts 1..50 (several exact-dup groups)
    for seed, copies in enumerate([1, 2, 3, 5, 8, 13, 1, 1, 30, 50]):
        text = _mk_text(seed)
        for _ in range(copies):
            rows.append((doc_id, text, "en", "web"))
            doc_id += 7  # non-contiguous ids so rep=min is non-trivial
    # near-dup family: last word changed -> 3 of 41 distinct shingles
    # differ, J = 35/41 ~ 0.854 >= 0.8; 4 copies of the variant
    variant = _mk_text(0).rsplit(" ", 1)[0] + " zulu"
    for _ in range(4):
        rows.append((doc_id, variant, "en", "web"))
        doc_id += 7
    # same text, different lang: ngram blocks on (lang, source) so no
    # cross-lang pair; minhash groups on text alone so pairs DO form
    rows.append((doc_id, _mk_text(1), "fr", "web")); doc_id += 7
    rows.append((doc_id, _mk_text(1), "fr", "web")); doc_id += 7
    # shingle-less short texts (three identical copies): excluded
    # everywhere (oracle len(words) >= 3 / union > 0 guards)
    for _ in range(3):
        rows.append((doc_id, "too short", "en", "web"))
        doc_id += 7
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int32")
    d = str(tmp_path_factory.mktemp("dupcorpus"))
    spark.createDataFrame(pdf).coalesce(2).write.parquet(
        f"{d}/documents.parquet")
    return d


def _oracle(sf_dir: str, table: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    # Spark writes a DIRECTORY of part files; duckdb needs the glob form
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{table}.parquet/*.parquet')")
    return con.execute(sql).df()


def _pairs(df: pd.DataFrame) -> set:
    cols = list(df.columns)
    return {tuple(round(v, 4) if isinstance(v, float) else int(v)
                  for v in row)
            for row in df[cols].itertuples(index=False)}


def test_ngram_collapse_matches_bruteforce_on_dup_heavy(spark,
                                                        dup_docs_dir):
    got = REGISTRY["dedup_ngram_jaccard"][0](spark, dup_docs_dir).toPandas()
    want = _oracle(dup_docs_dir, "documents", SQL_DEDUP_NGRAM_JACCARD)
    assert _pairs(got) == _pairs(want)
    # the corpus really exercises the paths: big within-group families,
    # plus cross-GROUP near-dup pairs between base and variant copies
    assert len(want) > 50 * 49 // 2
    assert (want["jaccard"] < 1.0).any(), "no cross-group near-dup pairs"


def test_minhash_collapse_matches_bruteforce_on_dup_heavy(spark,
                                                          dup_docs_dir):
    got = REGISTRY["dedup_minhash_lsh"][0](spark, dup_docs_dir).toPandas()
    want = _oracle(dup_docs_dir, "documents", SQL_DEDUP_MINHASH_LSH)
    assert _pairs(got) == _pairs(want)
    assert len(want) > 50 * 49 // 2


@pytest.fixture(scope="module")
def dup_embeddings_dir(spark, tmp_path_factory):
    rows = []
    vec_id = 100
    for seed, copies in enumerate([1, 2, 5, 30, 1, 1, 8]):
        vec = [((seed * 31 + j * 17) % 97 - 48) / 7.0 for j in range(64)]
        for _ in range(copies):
            rows.append((vec_id, vec))
            vec_id += 3
    # zero vectors: NULL cosine in the oracles (0/0), so never a pair
    for _ in range(3):
        rows.append((vec_id, [0.0] * 64))
        vec_id += 3
    return _write_embeddings(spark, str(tmp_path_factory.mktemp("dupvecs")),
                             rows)


def _write_embeddings(spark, d: str, rows: list) -> str:
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    spark.createDataFrame(pdf, schema).coalesce(2).write.parquet(
        f"{d}/embeddings.parquet")
    return d


@pytest.fixture(scope="module")
def overcap_docs_dir(spark, tmp_path_factory):
    """A 120-copy exact-duplicate family — far above the test cap of 16 —
    plus a >=0.8-Jaccard near-dup variant bridging into it, a second
    10-copy family, singletons, and shingle-less short docs."""
    rows = []
    doc_id = 5000
    fam_a = _mk_text(3)
    for _ in range(120):
        rows.append((doc_id, fam_a, "en", "web")); doc_id += 7
    variant = fam_a.rsplit(" ", 1)[0] + " zulu"
    for _ in range(3):
        rows.append((doc_id, variant, "en", "web")); doc_id += 7
    for _ in range(10):
        rows.append((doc_id, _mk_text(5), "en", "web")); doc_id += 7
    for i in range(5):
        rows.append((doc_id, _mk_text(10 + i), "en", "web")); doc_id += 7
    for _ in range(3):
        rows.append((doc_id, "too short", "en", "web")); doc_id += 7
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int32")
    d = str(tmp_path_factory.mktemp("overcap"))
    spark.createDataFrame(pdf).coalesce(2).write.parquet(
        f"{d}/documents.parquet")
    return d


def test_overcap_group_pairs_bounded_but_component_complete(
        spark, overcap_docs_dir):
    """The documented >cap semantics (ADVICE r3): an exact-duplicate group
    larger than the cap keeps only within-split pairs (bounded fan-out,
    every member still paired), and the component partition is STILL exact
    — dedup_connected_components matches the uncapped recursive-CTE oracle
    bit-for-bit because within-group connectivity flows through the linear
    membership edges, not the capped pair set."""
    from sparklog.queries import (
        SQL_DEDUP_CONNECTED_COMPONENTS,
        dedup_connected_components,
        dedup_minhash_lsh,
    )

    cap = 16
    pairs = dedup_minhash_lsh(spark, overcap_docs_dir,
                              bucket_cap=cap).toPandas()
    clique = 120 * 119 // 2
    assert len(pairs) < clique, "cap did not bound the pair fan-out"
    # every member of the over-cap family still appears in >= 1 pair
    fam_a_ids = set(range(5000, 5000 + 120 * 7, 7))
    touched = set(pairs.doc_a) | set(pairs.doc_b)
    assert fam_a_ids <= touched, sorted(fam_a_ids - touched)[:5]

    got = (dedup_connected_components(spark, overcap_docs_dir,
                                      bucket_cap=cap)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    want = (_oracle(overcap_docs_dir, "documents",
                    SQL_DEDUP_CONNECTED_COMPONENTS)
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))
    # the family + its near-dup variant collapse to ONE component
    comp = dict(zip(got.doc_id, got.component_rep))
    variant_ids = set(range(5000 + 120 * 7, 5000 + 123 * 7, 7))
    assert {comp[i] for i in fam_a_ids | variant_ids} == {5000}


def test_release_caches_leaves_no_persistent_rdds(spark, dup_docs_dir):
    """The membership persist() inside the collapse-first dedups is
    registry-scoped: after the harness materializes a query and calls
    release_caches(), NO cached RDD may remain pinned (round-3 judge item:
    unmanaged persists accumulated executor storage across the 37-query
    bench session)."""
    from sparklog.queries import REGISTRY, release_caches

    def persistent_ids():
        it = (spark.sparkContext._jsc.getPersistentRDDs()
              .keySet().iterator())
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    release_caches()  # drop anything earlier tests in this session left
    # compare SETS, not counts: the async ContextCleaner may collect other
    # tests' localCheckpoint RDDs between the two snapshots
    before = persistent_ids()
    got = REGISTRY["dedup_minhash_lsh"][0](spark, dup_docs_dir)
    got.write.format("noop").mode("overwrite").save()
    assert release_caches() >= 1  # the membership cache was tracked
    leaked = persistent_ids() - before
    assert not leaked, leaked


def _vector_parity(spark, d: str, name: str, sql: str) -> pd.DataFrame:
    got = REGISTRY[name][0](spark, d).toPandas()
    want = _oracle(d, "embeddings", sql)
    assert _pairs(got) == _pairs(want)
    return want


def test_embedding_collapse_matches_bruteforce_on_dup_heavy(
        spark, dup_embeddings_dir):
    want = _vector_parity(spark, dup_embeddings_dir,
                          "dedup_embedding_cosine",
                          SQL_DEDUP_EMBEDDING_COSINE)
    # the 30-copy group alone (x2 with planted duplicates) dominates
    assert len(want) >= 60 * 59 // 2


def test_ann_lsh_near_pairs_collapse_matches_bruteforce_on_dup_heavy(
        spark, dup_embeddings_dir):
    """The same corpus through ann_lsh_near_pairs (threshold 0.25, no
    planted duplicates): zero vectors must not pair (the id-level
    candidate path emitted NaN-cosine pairs for them)."""
    want = _vector_parity(spark, dup_embeddings_dir, "ann_lsh_near_pairs",
                          SQL_ANN_LSH_NEAR_PAIRS)
    assert len(want) >= 30 * 29 // 2


def test_ann_lsh_near_pairs_bucket_over_cap_only_by_copies(spark,
                                                           tmp_path):
    """1,000 copies of one vector plus 30 distinct neighbours that share
    its 8-bit bucket but not its full 32-bit signature: 1,030 ids in one
    bucket (over LSH_BUCKET_CAP) but 31 distinct vectors (under it).  The
    bucket cap counts distinct vectors, so every copy-neighbour pair the
    oracle's bucket self-join finds must survive; the id-level cascade
    refined the bucket and lost them."""
    import numpy as np

    from sparklog.queries import _fold_dots, ann_lsh_buckets

    # _lsh_signatures' integer-derived hyperplanes; bit = acc >= 0
    kk = np.arange(32, dtype=np.int64)[:, None]
    ii = np.arange(64, dtype=np.int64)[None, :]
    planes = (((kk * 73856093 + ii * 19349663) % 2001) - 1000) / 1000.0

    def sig(v):
        return tuple(_fold_dots(np.asarray(v, np.float64)[None, :],
                                planes)[0] >= 0)

    rng = np.random.default_rng(11)
    base = rng.standard_normal(64).astype(np.float32)
    neighbours = []
    while len(neighbours) < 30:
        v = (base + 0.3 * rng.standard_normal(64)).astype(np.float32)
        if sig(v)[:8] == sig(base)[:8] and sig(v) != sig(base):
            neighbours.append(v)
    rows = ([(i, base.tolist()) for i in range(1000)]
            + [(1000 + j, v.tolist()) for j, v in enumerate(neighbours)])
    d = _write_embeddings(spark, str(tmp_path), rows)

    [bucket] = ann_lsh_buckets(spark, d).collect()
    assert bucket.n_vecs == 1030 > LSH_BUCKET_CAP
    want = _vector_parity(spark, d, "ann_lsh_near_pairs",
                          SQL_ANN_LSH_NEAR_PAIRS)
    # every pair in the one bucket passes 0.25 (neighbours are close)
    assert len(want) == 1030 * 1029 // 2


def test_ngram_null_blocking_fields_never_pair(spark, tmp_path):
    """Round-4 advisor: concat_ws skips NULLs, so (NULL,'x',text) and
    ('x',NULL,text) used to collapse into one chimera group and pair at
    J=1.0 — while the oracle's NULL-rejecting equi-join produces no such
    pair.  NULL-bearing rows must now produce NO pairs in either engine,
    and identical non-NULL rows still pair."""
    text = _mk_text(3)
    pdf = pd.DataFrame(
        [(1, text, None, "web"),
         (2, text, "en", None),
         (3, text, "en", "web"),
         (4, text, "en", "web")],
        columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int32")
    d = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{d}/documents.parquet")

    spark_fn = REGISTRY["dedup_ngram_jaccard"][0]
    got = _pairs(spark_fn(spark, d).toPandas())
    want = _pairs(_oracle(d, "documents", SQL_DEDUP_NGRAM_JACCARD))
    assert got == want == {(3, 4, 1.0)}


def test_dedup_incremental_planted_flags(spark, tmp_path):
    """Hand-computed verdicts for the batch-vs-corpus job: batch = min
    source ('aa').  Covers exact-in-corpus, near-not-exact-in-corpus
    (equal shingle SETS but different texts -> identical signature),
    fresh doc, <3-word doc (no bands: only the exact path can flag it),
    NULL text (all false, keep false), within-batch exact + near +
    short-exact dups (keep-first by doc_id), and a NULL-text corpus row
    (inert).  The DuckDB oracle must agree row-for-row."""
    import duckdb
    import pandas as pd

    from sparklog.queries import SQL_DEDUP_INCREMENTAL, dedup_incremental

    batch = {
        10: "alpha beta gamma delta",            # exact dup of corpus 100
        11: "p q r p q r",                       # near dup of corpus 101
        12: "unique text number twelve entirely fresh",
        13: "hi there",                          # <3 words, fresh
        14: None,
        15: "alpha beta gamma delta",            # dup of corpus AND of 10
        16: "m n o m n o",                       # fresh; 17's near-twin
        17: "m n o m n o m",                     # near dup of 16 in batch
        18: "hi there",                          # exact dup of 13 in batch
    }
    corpus = {100: "alpha beta gamma delta",
              101: "p q r p q r p",
              102: "completely different corpus text here",
              103: None}
    rows = ([(i, t, "en", "aa") for i, t in batch.items()]
            + [(i, t, "en", "zz") for i, t in corpus.items()])
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().fillna(0).astype("int32")
    d = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{d}/documents.parquet")

    expect = {  # (exact_dup_corpus, near_dup_corpus, dup_in_batch, keep)
        10: (True, True, False, False),
        11: (False, True, False, False),
        12: (False, False, False, True),
        13: (False, False, False, True),
        14: (False, False, False, False),
        15: (True, True, True, False),
        16: (False, False, False, True),
        17: (False, False, True, False),
        18: (False, False, True, False),
    }
    got = {r.doc_id: (r.exact_dup_corpus, r.near_dup_corpus,
                      r.dup_in_batch, r.keep)
           for r in dedup_incremental(spark, d).collect()}
    assert got == expect

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet/*.parquet')")
    odf = con.execute(SQL_DEDUP_INCREMENTAL).df()
    o = {int(r.doc_id): (bool(r.exact_dup_corpus), bool(r.near_dup_corpus),
                         bool(r.dup_in_batch), bool(r.keep))
         for _, r in odf.iterrows()}
    assert o == expect


def test_dedup_incremental_differential_random(spark, tmp_path):
    """Randomized differential: an INDEPENDENT pure-Python recomputation
    (hashlib shingle min-hash, 2x2 banding, set logic — no Spark, no
    DuckDB) of all four flags on a seeded random corpus with planted
    duplicate structure (exact copies, single-word mutations, NULL
    texts, short docs, multi-space runs).  The registry gate already
    pins Spark==DuckDB; this pins both against a third implementation."""
    import hashlib
    import random

    import pandas as pd

    from sparklog.queries import dedup_incremental

    rng = random.Random(406)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "x", "y"]

    def make_text():
        n = rng.randint(0, 12)
        sep = "  " if rng.random() < 0.1 else " "
        return sep.join(rng.choice(vocab) for _ in range(n))

    docs, pool = [], []
    for did in range(120):
        r = rng.random()
        if r < 0.25 and pool:
            t = rng.choice(pool)
        elif r < 0.35 and pool:
            t = " ".join(rng.choice(pool).split(" ") + [rng.choice(vocab)])
        elif r < 0.40:
            t = None
        else:
            t = make_text()
            pool.append(t)
        src = "aa" if rng.random() < 0.3 else rng.choice(["mm", "zz"])
        docs.append((did, t, "en", src))
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().fillna(0).astype("int32")
    d = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{d}/documents.parquet")

    def bands(t):
        w = t.split(" ")
        sh = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        if not sh:
            return set()
        hs = [hashlib.md5(s.encode()).hexdigest() for s in sh]
        h = [min(x[8 * k:8 * k + 8] for x in hs) for k in range(4)]
        return {f"b0:{h[0]}|{h[1]}", f"b1:{h[2]}|{h[3]}"}

    b = [(i, t) for i, t, _l, s in docs if s == "aa"]
    c_texts = {t for i, t, _l, s in docs if s != "aa" and t is not None}
    c_bands = set().union(*(bands(t) for t in c_texts)) if c_texts else set()
    expect = {}
    for i, t in b:
        if t is None:
            expect[i] = (False, False, False, False)
            continue
        ex = t in c_texts
        nb = bands(t)
        near = bool(nb & c_bands)
        dupb = any(j < i and u is not None and (u == t or (bands(u) & nb))
                   for j, u in b)
        expect[i] = (ex, near, dupb, not (ex or near or dupb))

    got = {r.doc_id: (r.exact_dup_corpus, r.near_dup_corpus,
                      r.dup_in_batch, r.keep)
           for r in dedup_incremental(spark, d).collect()}
    assert got == expect
    # the random corpus must actually exercise every channel
    cols = list(zip(*expect.values()))
    assert all(any(c) and not all(c) for c in cols), cols
    assert any(t is None for _i, t in b)


def test_dedup_incremental_gate_off_same_flags(spark, monkeypatch):
    """The batch-side broadcast gate is a pure strategy choice: forcing
    it shut (max bytes = 0, so the hints are dropped and AQE picks the
    join strategy) must produce byte-identical flags.  This exercises
    the over-gate branch that real data never reaches at test scale."""
    import sparklog.queries as Q

    sf = "/root/testdata/sf0.001"

    def snap():
        return {r.doc_id: (r.exact_dup_corpus, r.near_dup_corpus,
                           r.dup_in_batch, r.keep)
                for r in Q.dedup_incremental(spark, sf).collect()}

    base = snap()
    monkeypatch.setattr(Q, "_OVERCAP_BCAST_MAX_BYTES", 0)
    assert snap() == base
    assert any(v[3] for v in base.values())   # the corpus isn't degenerate
