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

A refresh is cheap in Spark jobs as well as in rows: each fold is one
``max_by`` aggregate over the union of state and batch (one shuffle,
no join), written once. No schema-inference job runs around it: the
old state's schema comes from one footer read on the driver
(``ingest.read_parquet``), and the new state is read back with the
schema the fold just wrote.

At 100 TB this is the difference between touching the day's findings
plus a node-sized state table, and re-scanning years of history per
refresh. On a real deployment store the state in a table format with
atomic swap (Delta/Iceberg); the parquet temp-dir rename
(``ingest.swap_dir``) is the local stand-in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from net_spider_spark.findings import pair_link_samples
from net_spider_spark.ingest import read_parquet, swap_dir
from net_spider_spark.snapshot import latest_sample_per_pair


def fold_latest_nodes(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One incremental step: previous reduced state (or None on the
    first batch) + a new findings batch -> new reduced state. Both
    sides carry the findings schema; the result keeps exactly the
    winning finding row per subject.

    Shape: one ``groupBy(subject_node)`` with a ``max_by`` of the full
    row under (found_at, finding_id) — one shuffle and no join. The
    aggregate sorts the wide rows once, the same single sort a
    ``dropDuplicates`` of full rows costs; its input is the
    node-sized state plus one batch, never the history, which is why
    the full-history reduction keeps the narrow
    :func:`snapshot.keep_argmax` shape instead. A subject whose winning
    key has a null ``found_at`` or ``finding_id`` is dropped, filtered
    on the winner (not the input), so the fold keeps exactly the
    subjects ``latest_findings_per_node`` keeps, whose semi-join never
    matches a null key.

    Idempotent under at-least-once delivery: a batch replayed after a
    crashed swap meets its own rows already in the state, and rows
    tied on (found_at, finding_id) are the same finding, of which the
    aggregate keeps one — so fold(fold(s, b), b) == fold(s, b)."""
    combined = batch if state is None else state.unionByName(batch)
    won = combined.groupBy("subject_node").agg(
        F.max_by(
            F.struct(*combined.columns), F.struct("found_at", "finding_id")
        ).alias("_w")
    )
    return won.where(
        F.col("_w.found_at").isNotNull() & F.col("_w.finding_id").isNotNull()
    ).select("_w.*")


def _fold_and_swap(
    spark: SparkSession, state_path: str, batch: DataFrame, fold
) -> DataFrame:
    """Fold ``batch`` into the parquet state at ``state_path`` (created
    on first call) through the crash-safe :func:`ingest.swap_dir`, and
    return the new state. The RETURNED DataFrame lazily reads the
    just-swapped files with the schema the fold wrote, so building it
    runs no schema-inference job — consume it before the next update
    replaces them (snapshot isolation across updates is what
    Delta/Iceberg buy you in production). The previous state is read
    with the schema in its own footer (``ingest.read_parquet``, no
    Spark job), so a batch whose columns differ from it fails in
    ``unionByName`` before anything is swapped."""

    def write(tmp: str) -> StructType:
        state = None
        if os.path.exists(state_path):
            # the previous swap replaced the directory contents; drop any
            # cached file listing for the path or the read resolves to
            # deleted part files
            spark.catalog.refreshByPath(state_path)
            state = read_parquet(spark, state_path)
        folded = fold(state, batch)
        folded.write.mode("overwrite").parquet(tmp)
        return folded.schema

    schema = swap_dir(state_path, write)
    return spark.read.schema(schema).parquet(state_path)


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
