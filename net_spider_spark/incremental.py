"""Batch-incremental maintenance of the latest-per-node state — the
materialized-view counterpart of ``streaming/ingest.stream_latest_per_node``
for deployments that land findings in periodic batches rather than a
stream.

The policyOverwrite reduction (``latest_findings_per_node``,
Spider.hs:273-281 latest-foundAt semantics) is associative: reducing
yesterday's reduced state unioned with today's batch equals reducing
the full history. So the maintained state stays one row per node —
reading it back and folding in a batch costs O(state + batch), never
O(history) — and a full recompute is always available as the audit
path.

At 100 TB this is the difference between touching the day's findings
plus a node-sized state table, and re-scanning years of history per
refresh. On a real deployment store the state in a table format with
atomic swap (Delta/Iceberg); the parquet temp-dir rename
(``ingest.swap_dir``) is the local stand-in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from net_spider_spark.findings import pair_link_samples
from net_spider_spark.ingest import swap_dir
from net_spider_spark.snapshot import (
    latest_findings_per_node,
    latest_sample_per_pair,
)


def fold_latest_nodes(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One incremental step: previous reduced state (or None on the
    first batch) + a new findings batch -> new reduced state. Both
    sides carry the findings schema; the result keeps exactly the
    winning finding row per subject.

    Idempotent under at-least-once delivery: a batch replayed after a
    crashed swap meets its own rows already in the state, and the
    argmax's semi-join keeps every row tied on (found_at, finding_id) —
    so identical observations are deduplicated by finding identity
    first, making fold(fold(s, b), b) == fold(s, b)."""
    combined = batch if state is None else state.unionByName(batch)
    combined = combined.dropDuplicates(["subject_node", "finding_id"])
    return latest_findings_per_node(combined)


def _fold_and_swap(
    spark: SparkSession, state_path: str, batch: DataFrame, fold
) -> DataFrame:
    """Fold ``batch`` into the parquet state at ``state_path`` (created
    on first call) through the crash-safe :func:`ingest.swap_dir`, and
    return the new state. The RETURNED DataFrame lazily reads the
    just-swapped files — consume it before the next update replaces
    them (snapshot isolation across updates is what Delta/Iceberg buy
    you in production)."""

    def write(tmp: str) -> None:
        state = None
        if os.path.exists(state_path):
            # the previous swap replaced the directory contents; drop any
            # cached file listing for the path or the read resolves to
            # deleted part files
            spark.catalog.refreshByPath(state_path)
            state = spark.read.parquet(state_path)
        fold(state, batch).write.mode("overwrite").parquet(tmp)

    swap_dir(state_path, write)
    return spark.read.parquet(state_path)


def update_latest_state(
    spark: SparkSession, state_path: str, batch: DataFrame
) -> DataFrame:
    """Crash-safe incremental update of the latest-per-NODE state (see
    :func:`_fold_and_swap` for the swap protocol)."""
    return _fold_and_swap(spark, state_path, batch, fold_latest_nodes)


def update_latest_links_state(
    spark: SparkSession, state_path: str, batch: DataFrame
) -> DataFrame:
    """Crash-safe incremental update of the per-pair latest-LINK state
    (the batch twin of ``stream_latest_link_per_pair`` persisted to
    parquet; ``fold_latest_links`` is an associative argmax, so the
    folded state always equals the full-history reduction and refolding
    a replayed batch is a no-op)."""
    return _fold_and_swap(spark, state_path, batch, fold_latest_links)


def fold_latest_links(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Links-side incremental step: previous per-pair winner state (or
    None) + a new findings batch -> new state holding each unordered
    pair's maximal sample under (found_at, finding_id, link_pos) — the
    batch twin of ``streaming/ingest.stream_latest_link_per_pair``.
    The argmax is associative, so the folded state always equals the
    full-history reduction."""
    samples = pair_link_samples(batch)
    combined = samples if state is None else state.unionByName(samples)
    return latest_sample_per_pair(combined)
