"""Snapshot/manifest layer: Iceberg-style commit + resume over Parquet.

The north rule targets Iceberg tables; no Iceberg jar ships with this
project (SURVEY.md §7.5), so the pipeline writes through a thin catalog
abstraction: ``run_pipeline(table_format='iceberg')`` reads its source
with Spark's iceberg data source (a missing runtime jar or a bad table
path raises; there is no parquet fallback), and snapshots are emulated
as versioned manifest JSON documents committed by atomic rename.

A snapshot records, per completed stage: row counts, parse metrics and
the sinks lineage (rows, parse failures and rows per sink class), each
observed on the write that produced the output rather than by reading it
back.  ``resume`` reads the last committed snapshot and skips completed
stages; stage writes are idempotent (deterministic salting, overwrite
mode), so a kill-and-rerun produces byte-identical output.
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .route import SINK_CLASSES


class Manifest:
    def __init__(self, out_dir: str):
        self.dir = os.path.join(out_dir, "_manifests")
        os.makedirs(self.dir, exist_ok=True)

    def _current_path(self) -> str:
        return os.path.join(self.dir, "CURRENT")

    def load(self) -> dict:
        cur = self._current_path()
        if not os.path.exists(cur):
            return {"snapshot_id": 0, "stages": {}}
        try:
            with open(cur) as f:
                name = f.read().strip()
            with open(os.path.join(self.dir, name)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            # dangling CURRENT or torn snapshot: the commit protocol is
            # atomic-rename, so a broken pointer means an interrupted or
            # tampered state — degrade to a full (idempotent) rerun
            return {"snapshot_id": 0, "stages": {}}

    def commit_stage(self, stage: str, info: dict) -> dict:
        """Record a completed stage in a new snapshot (atomic rename)."""
        state = self.load()
        state["snapshot_id"] += 1
        state["stages"][stage] = {"committed_at": time.time(), **info}
        name = f"snapshot-{state['snapshot_id']:06d}.json"
        tmp = os.path.join(self.dir, name + ".tmp")
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1, default=str)
        os.replace(tmp, os.path.join(self.dir, name))
        cur_tmp = self._current_path() + ".tmp"
        with open(cur_tmp, "w") as f:
            f.write(name)
        os.replace(cur_tmp, self._current_path())
        return state


class Meter:
    """Aggregates observed on the plan of the first action on a frame
    (see metered); ``get`` is the row of them once that action ran."""

    def __init__(self, obs: Observation, df: DataFrame,
                 aggs: tuple[Column, ...]):
        self._obs, self._df, self._aggs = obs, df, aggs

    @functools.cached_property
    def get(self) -> dict:
        if self._obs._jo.getRow().length():
            return self._obs.get
        # the action filled an empty row: AQE replaced the plan above a
        # shuffle stage that came out empty by an empty relation, the
        # observed node with it.  Observe the frame on its own, where the
        # node is the plan's root and no stage above can prune it.
        obs = Observation()
        (self._df.observe(obs, *self._aggs)
         .write.format("noop").mode("overwrite").save())
        return obs.get


def metered(df: DataFrame, *aggs: Column) -> tuple[DataFrame, Meter]:
    """(``df`` observing the aggregates ``aggs``, its meter): the one way
    sparklog counts rows on a plan.  Run the first action on the returned
    frame, then read ``meter.get``; the counts come from that action,
    unless a stage above the observed frame came out empty, which costs
    one more pass over ``df``."""
    obs = Observation()
    return df.observe(obs, *aggs), Meter(obs, df, aggs)


def count_map(col: Column, keys) -> Column:
    """Aggregate: each of the strings ``keys`` -> the rows whose ``col``
    equals it, zero counts included (a fixed-key map to observe)."""
    return F.create_map(*[x for k in keys
                          for x in (F.lit(k), F.count_if(col == k))])


def partition_lineage(df: DataFrame) -> tuple[DataFrame, Meter]:
    """Attach the sinks lineage counters to the routed ``df``: rows, parse
    failures and rows per ``sink_class``.  They are counted on the plan
    that writes ``df``; after that write, the returned meter's ``get`` is
    the sinks stage's manifest info."""
    return metered(df, F.count(F.lit(1)).alias("rows"),
                   F.count("parse_error").alias("n_failed"),
                   count_map(F.col("sink_class"),
                             SINK_CLASSES).alias("sink_rows"))
