"""Routing: severity-class fan-out with deterministic salted repartitioning
plus the token-array equality audit.

Hostname/source distributions are Zipf-skewed at scale; writing
``partitionBy(rfc, severity_class)`` without salting funnels hot sinks
through few tasks.  We salt with ``pmod(xxhash64(doc_id), S)`` —
deterministic (no rand()) so a resumed run reproduces byte-identical
partitioning, which keeps the manifest/resume layer idempotent.

The shuffle has no fixed partition count by default: AQE sizes it from
``spark.sql.shuffle.partitions`` and coalesces small partitions, so the
sink write gets as many tasks (and files per sink) as the data and the
cores warrant.  An explicit ``num_partitions`` pins the count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .enrich import SEVERITY_CLASS

DEAD_LETTER_CLASS = "dead"
# every value with_route_columns can give sink_class
SINK_CLASSES = (*dict.fromkeys(SEVERITY_CLASS), DEAD_LETTER_CLASS)


def with_route_columns(df: DataFrame) -> DataFrame:
    """sink key = (rfc, severity_class); parse failures route to 'dead'."""
    return df.withColumn(
        "sink_class",
        F.when(F.col("parse_error").isNotNull(), F.lit(DEAD_LETTER_CLASS))
         .otherwise(F.col("severity_class")),
    )


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       salt_buckets: int = 16) -> DataFrame:
    """Co-partition by sink key + deterministic salt to split hot sinks.
    ``num_partitions=None`` leaves the partition count to AQE."""
    key = (F.col("rfc"), F.col("sink_class"),
           F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)))
    if num_partitions is None:
        return df.repartition(*key)
    return df.repartition(num_partitions, *key)


def write_sinks(df: DataFrame, out_dir: str,
                num_partitions: int | None = None,
                salt_buckets: int = 16) -> None:
    """Single-pass fan-out: one write partitioned by sink key.

    At cluster scale this is one shuffle (the salted repartition) followed
    by a dynamic-partition write; no N-pass filtered rewrites of the fact
    table.
    """
    (salted_repartition(df, num_partitions, salt_buckets)
     .write.mode("overwrite")
     .partitionBy("rfc", "sink_class")
     .parquet(out_dir))


def audit_token_equality(routed: DataFrame, source: DataFrame) -> int:
    """North-rule invariant: every source row is routed exactly once, with
    its token array.  The routed side carries the decoded ``raw`` string
    (the token array never crosses the Arrow boundary outbound — see
    parse_stage); the source side is decoded by a string-only mapInArrow
    pass.  Because the token codec is bijective (codepoint<->int), string
    equality IS token-array equality.  One signed multiset count over
    (doc_id, raw), +1 per routed row and -1 per source row, must balance
    to 0 in every group.  Returns the violation count, the sum of
    |balance| (must be 0): a dropped or an extra (e.g. duplicated) row
    counts 1, and a mismatch counts its routed row and its source row."""
    from .udfs import DECODED_SCHEMA, make_decoder_fn

    r = routed.select("doc_id", "raw", F.lit(1).alias("d"))
    s = (source.select("doc_id", "tokens")
               .mapInArrow(make_decoder_fn(), DECODED_SCHEMA)
               .select("doc_id", "raw", F.lit(-1).alias("d")))
    balance = r.unionByName(s).groupBy("doc_id", "raw").agg(
        F.abs(F.sum("d")).alias("b"))
    return balance.agg(F.sum("b")).collect()[0][0] or 0
