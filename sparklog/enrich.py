"""Enrichment dimension tables + broadcast joins.

The reference has no joins; enrichment is the pipeline layer the north rule
adds: facility/severity name maps and a hostname geo/tier dim, all tiny →
broadcast hash joins (no shuffle of the fact side).

The dims are built from ``pyarrow`` tables, which Spark plans as a JVM-side
``LocalRelation``.  A list of Python tuples would plan as a ``LogicalRDD``
of pickled rows, and every query would then run one extra RDD job per dim
before broadcasting it.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FACILITY_NAMES = [
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clock",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7",
]

SEVERITY_NAMES = [
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug",
]

# severity class routing: 0-3 crit, 4-5 warn, 6-7 info (FIXTURES.md §2)
SEVERITY_CLASS = ["crit", "crit", "crit", "crit", "warn", "warn",
                  "info", "info"]

GEOS = ["us-east", "us-west", "eu-central", "ap-south"]
TIERS = ["edge", "core", "mgmt"]


def dim_facility(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        pa.table({"facility": range(len(FACILITY_NAMES)),
                  "facility_name": FACILITY_NAMES}),
        "facility int, facility_name string")


def dim_severity(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        pa.table({"severity": range(len(SEVERITY_NAMES)),
                  "severity_name": SEVERITY_NAMES,
                  "severity_class": SEVERITY_CLASS}),
        "severity int, severity_name string, severity_class string")


def dim_host(spark: SparkSession, n_hosts: int = 1000) -> DataFrame:
    """Deterministic host dim covering the synthetic host pool + fixture
    hostnames (unknown hosts keep null geo/tier through the left join)."""
    rows = [(f"host{i}", GEOS[i % len(GEOS)], TIERS[i % len(TIERS)])
            for i in range(n_hosts)]
    rows += [("mymachine", "us-east", "core"),
             ("localhost", "us-east", "edge"),
             ("mymachine.example.com", "eu-central", "core"),
             ("192.0.2.1", "ap-south", "edge")]
    return spark.createDataFrame(
        pa.table(dict(zip(("hostname", "geo", "tier"), zip(*rows)))),
        "hostname string, geo string, tier string")


def enrich(parsed: DataFrame, spark: SparkSession) -> DataFrame:
    """Left broadcast joins — dims are KBs, so the fact side never shuffles
    and Catalyst plans BroadcastHashJoinExec for all three."""
    return (
        parsed
        .join(F.broadcast(dim_facility(spark)), "facility", "left")
        .join(F.broadcast(dim_severity(spark)), "severity", "left")
        .join(F.broadcast(dim_host(spark)), "hostname", "left")
    )
