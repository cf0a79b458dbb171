"""Oracle parity of the six vector queries on a hostile embeddings table:
zero vectors on the query and the corpus side, a float32-subnormal
vector and a byte-identical group.  A zero-norm cosine is undefined, the
oracles' NULL (DuckDB's x/0), and must rank after every number."""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_parity import compare, duck_conn  # noqa: E402

ZERO_QUERY, ZERO_CORPUS, SUBNORMAL = 7, (30, 31), 40
COPIES = range(60, 66)   # byte-identical copies of vector 12


@pytest.fixture(scope="module")
def hostile_sf(tmp_path_factory):
    rng = np.random.default_rng(15)
    v = rng.standard_normal((150, 64)).astype(np.float32)
    v[[ZERO_QUERY, *ZERO_CORPUS]] = 0.0
    v[SUBNORMAL] = np.float32(1e-40) * np.where(np.arange(64) % 2, 1, -1)
    v[list(COPIES)] = v[12]
    sf = tmp_path_factory.mktemp("hostile_sf")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(150), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(np.zeros(150), pa.int32())}),
        sf / "embeddings.parquet")
    return str(sf)


@pytest.mark.parametrize("name", [
    "ann_cosine_topk", "ann_lsh_buckets", "ann_lsh_near_pairs",
    "dedup_embedding_cosine", "ann_ivf_topk", "ann_recall_report"])
def test_vector_query_oracle_parity(spark, hostile_sf, name):
    from sparklog.queries import REGISTRY, release_caches

    fn, sql = REGISTRY[name]
    got = fn(spark, hostile_sf)
    if name == "ann_cosine_topk":
        # NULL, never NaN; the zero query's NULLs rank by neighbor_id
        assert got.where(F.isnan("cosine")).count() == 0
        zq = got.where(F.col("query_id") == ZERO_QUERY).orderBy("rank")
        assert [(r.neighbor_id, r.cosine) for r in zq.collect()] == [
            (i, None) for i in range(10, 15)]
    sdf = got.toPandas()
    release_caches()
    odf = duck_conn(hostile_sf).execute(
        sql(hostile_sf) if callable(sql) else sql).df()
    assert compare(name, sdf, odf) == []
