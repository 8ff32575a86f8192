"""Session-level reliability mode for mid-plan materialization.

Several engine calls materialize an intermediate table that more than
one downstream consumer re-reads (the overwrite policy's kept findings,
a traversal snapshot's link samples, BFS frontiers, parsed log
blocks). The default mechanism is
``localCheckpoint(eager=True)``: blocks are RDD-owned (freed by the
ContextCleaner when the caller drops the result — never a session
CacheManager entry, see tests/test_cache_hygiene.py), and lineage is
TRUNCATED, which is exactly what the iterative loops need. The
tradeoff: truncated lineage means a lost
executor cannot recompute its blocks — the downstream action fails
and the caller re-runs the whole operator. On a long-lived production
cluster with preemptible/spot executors that retry-the-operator
contract may be unacceptable for the expensive materializations
(a large history's policy pass, a long RPL log parse).

``reliability mode`` swaps the mechanism session-wide:

    spark.conf.set("spark.net_spider_spark.reliabilityMode", "reliable")
    spark.sparkContext.setCheckpointDir("hdfs://.../checkpoints")

In ``reliable`` mode every materialization point uses
``DataFrame.checkpoint(eager=True)`` instead: blocks are written to
the checkpoint directory on STABLE storage, so executor loss just
re-reads them — no recomputation, no failed action. Same
lineage-truncation semantics, same eager evaluation contract, still
no CacheManager entry (the hygiene test runs green in both modes).
Checkpoint files are reclaimed by the ContextCleaner when
``spark.cleaner.referenceTracking.cleanCheckpoints=true``, otherwise
at application end — on a shared checkpoint dir, set the cleaner conf.

Modes:

* ``local`` (default): ``localCheckpoint`` — fastest, blocks on
  executor local disk/memory, operator-level retry on executor loss.
* ``reliable``: ``checkpoint`` to the session's checkpoint dir —
  survives executor loss; requires ``setCheckpointDir`` first (a
  missing dir raises Spark's own clear error at the first call).

The conf is read PER CALL, so tests (and notebooks) can flip it
mid-session; invalid values raise immediately rather than silently
running in the wrong mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RELIABILITY_MODE_CONF = "spark.net_spider_spark.reliabilityMode"
_VALID = ("local", "reliable")


def reliability_mode(spark) -> str:
    """The session's current mode: 'local' (default) or 'reliable'."""
    mode = spark.conf.get(RELIABILITY_MODE_CONF, "local")
    if mode not in _VALID:
        raise ValueError(
            f"{RELIABILITY_MODE_CONF} must be one of {_VALID}, got "
            f"{mode!r}"
        )
    return mode


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` at this plan point under the session's
    reliability mode: ``localCheckpoint`` (default) or a reliable
    ``checkpoint`` to stable storage. Both truncate lineage and keep
    the session CacheManager empty; see the module docstring for the
    executor-loss contract each implies."""
    if reliability_mode(df.sparkSession) == "reliable":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """:func:`materialize` with ``eager=False`` — for loop bodies that
    mark a truncation point but defer evaluation to the loop's own
    action (chainable via ``df.transform(materialize_lazy)``)."""
    return materialize(df, eager=False)
