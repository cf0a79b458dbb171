"""Kernel-equivalence guards for the numpy cosine kernels: the shared
_pair_cosine Arrow kernel replaced the interpreted aggregate(zip_with(...))
Catalyst fold in ann_ivf_topk probe scoring and in the rep-pair verify of
dedup_embedding_cosine and ann_lsh_near_pairs.  These tests pin (a) value
equality with the interpreted fold it replaced (same left-to-right IEEE
fold, NULL for zero-norm pairs), (b) the DuckDB oracle's rounding — ties
away from zero, which every numpy kernel shares through _round_half_away
— (c) the row-local property of _ivf_two that lets the query side
score only the probe vectors, and (d) that every kernel reading vectors
through _arrow_matrix rejects ragged input."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def _interpreted_cosine(df):
    """The exact Catalyst fold _pair_cosine replaced."""
    dot = F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, "
                 "(acc, x) -> acc + x)")
    na = F.expr("sqrt(aggregate(transform(va, x -> x * x), 0D, "
                "(acc, x) -> acc + x))")
    nb = F.expr("sqrt(aggregate(transform(vb, x -> x * x), 0D, "
                "(acc, x) -> acc + x))")
    return df.select("a", "b", F.round(dot / (na * nb), 4).alias("cosine"))


def test_pair_cosine_matches_interpreted_fold(spark):
    """Value equality on non-zero-norm pairs (zero-norm pairs: see
    test_pair_cosine_zero_norm_is_null)."""
    from sparklog.queries import _pair_cosine

    data = [
        (1, 2, [1.0, 2.0, 3.0, 4.0], [4.0, 5.0, 6.0, 7.0]),
        (5, 6, [-1.5, 2.25, 0.5, -8.0], [3.0, -0.125, 7.0, 0.25]),
        (7, 8, [1e-8, 1e8, -1e-8, 2.0], [1e8, 1e-8, 1e8, -3.0]),
        (9, 10, [1.0, 1.0, 1.0, 1.0], [1.0, 1.0, 1.0, 1.0]),  # exactly 1
        (11, 12, [2.0, -2.0, 2.0, -2.0], [-1.0, 1.0, -1.0, 1.0]),  # -1
    ]
    df = spark.createDataFrame(
        data, "a bigint, b bigint, va array<double>, vb array<double>")
    got = {(r.a, r.b): r.cosine
           for r in _pair_cosine(df, "a", "b", "va", "vb", 4).collect()}
    exp = {(r.a, r.b): r.cosine for r in _interpreted_cosine(df).collect()}
    assert got == exp


def test_pair_cosine_zero_norm_is_null(spark):
    """A zero-norm pair's cosine is NULL, the oracles' x/0.  The
    interpreted fold's double division raises DIVIDE_BY_ZERO under ANSI
    mode (the Spark 4 default) and is NULL with ANSI off."""
    from pyspark.errors import ArithmeticException

    from sparklog.queries import _pair_cosine

    df = spark.range(1).selectExpr("3L AS a", "4L AS b",
                                   "array(0D * id, 0D) AS va",
                                   "array(1D, 1D) AS vb")
    [r] = _pair_cosine(df, "a", "b", "va", "vb", 4).collect()
    assert r.cosine is None
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            _interpreted_cosine(df).collect()
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert _interpreted_cosine(df).collect()[0].cosine is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_pair_cosine_rounds_ties_like_duckdb(spark):
    """cos((1,0,0,0,0), (1,31,7,3,2)) is exactly 1/32 (|b| = 32), so its
    4-dp rounding is a tie: DuckDB's round gives 0.0313 and -0.0313 for
    the negation, where np.round's half-to-even gave 0.0312.  Five-dim
    rows in their own frame: the kernel takes one dimension per batch."""
    import duckdb
    import numpy as np

    from sparklog.queries import _pair_cosine, _round_half_away

    b = [1.0, 31.0, 7.0, 3.0, 2.0]
    df = spark.createDataFrame(
        [(1, 2, [1.0, 0.0, 0.0, 0.0, 0.0], b),
         (3, 4, [-1.0, 0.0, 0.0, 0.0, 0.0], b)],
        "a bigint, b bigint, va array<double>, vb array<double>")
    got = {(r.a, r.b): r.cosine
           for r in _pair_cosine(df.coalesce(1), "a", "b", "va", "vb",
                                 4).collect()}
    # the oracles' cosine expression, verbatim
    oracle = duckdb.connect().execute(
        "SELECT round(list_sum(list_transform(generate_series(1, len(a)),"
        " i -> a[i] * b[i])) / (sqrt(list_sum(list_transform(a, x -> x*x)))"
        " * sqrt(list_sum(list_transform(b, x -> x*x)))), 4) FROM (VALUES"
        " ([1.0, 0, 0, 0, 0]::DOUBLE[], [1.0, 31, 7, 3, 2]::DOUBLE[]),"
        " ([-1.0, 0, 0, 0, 0]::DOUBLE[], [1.0, 31, 7, 3, 2]::DOUBLE[]))"
        " t(a, b)").fetchall()
    assert [c for (c,) in oracle] == [0.0313, -0.0313]
    assert got == {(1, 2): 0.0313, (3, 4): -0.0313}
    # not floor(y + 0.5): the largest double below 0.5 rounds down
    assert list(_round_half_away(
        np.array([0.49999999999999994, 0.5, -0.5, 2.5, -2.5]), 0)) == [
        0.0, 1.0, -1.0, 3.0, -3.0]


def _vectors(spark, *dims):
    """One partition of (vec_id, v) rows, row i holding dims[i] ones."""
    return spark.createDataFrame(
        [(i, [1.0] * d) for i, d in enumerate(dims)],
        "vec_id bigint, v array<double>").coalesce(1)


@pytest.mark.parametrize("kernel", [
    "pair_cosine", "brute_topk", "ivf_two", "lsh_signatures_ragged",
    "lsh_signatures_63_wide"])
def test_pair_cosine_rejects_ragged_arrays(spark, kernel):
    """Every kernel reads its vectors through _arrow_matrix, which
    rejects a batch whose rows differ in length (or, for the 64-plane
    LSH signature, are not 64 wide)."""
    import numpy as np
    from pyspark.errors import PythonException

    from sparklog.queries import (_brute_topk, _ivf_two, _lsh_signatures,
                                  _pair_cosine)

    if kernel == "pair_cosine":
        df = spark.createDataFrame(
            [(1, 2, [1.0, 2.0], [1.0, 2.0]), (3, 4, [1.0], [1.0, 2.0])],
            "a bigint, b bigint, va array<double>, vb array<double>")
        out = _pair_cosine(df.coalesce(1), "a", "b", "va", "vb", 4)
    elif kernel == "brute_topk":
        q = _vectors(spark, 2).select(F.col("vec_id").alias("query_id"),
                                      F.col("v").alias("qv"))
        c = _vectors(spark, 2, 1).withColumnRenamed("vec_id", "neighbor_id")
        out = _brute_topk(q, c, 1)
    elif kernel == "ivf_two":
        out = _ivf_two(_vectors(spark, 2, 1), np.eye(2))
    elif kernel == "lsh_signatures_ragged":
        out = _lsh_signatures(_vectors(spark, 64, 63))
    else:
        out = _lsh_signatures(_vectors(spark, 63, 63))
    with pytest.raises(PythonException, match="ragged"):
        out.collect()


def test_ivf_two_is_row_local(spark):
    """Scoring a SUBSET of e must return exactly the full pass's rows for
    that subset (cell1/c1/cell2 are per-row functions of (v, W)) — the
    property ann_ivf_topk's query branch relies on to pre-filter
    vec_id < 20 below the kernel."""
    from sparklog.queries import _embeddings_v, _ivf_codebook, _ivf_two

    e = _embeddings_v(spark, SF)
    W = _ivf_codebook(e, 8)
    assert _ivf_two(e, W).columns == ["vec_id", "cell1", "c1", "cell2"]
    full = {r.vec_id: (r.cell1, r.c1, r.cell2)
            for r in _ivf_two(e, W).collect()}
    sub = {r.vec_id: (r.cell1, r.c1, r.cell2)
           for r in _ivf_two(e.where(F.col("vec_id") < 20), W).collect()}
    assert sub == {k: v for k, v in full.items() if k < 20}
    assert len(sub) == 20
