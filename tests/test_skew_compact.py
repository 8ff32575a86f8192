"""History storage: compaction and latest-state folds."""

import os

from pyspark.sql import functions as F

from net_spider_spark import ingest


def _count_files(path):
    return sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(path)
    )


def test_compact_history_reduces_files(spark, tmp_path):
    path = str(tmp_path / "hist")
    # 20 tiny appends -> many small files across 2 day partitions
    for i in range(20):
        findings = spark.createDataFrame(
            [(i * 10 + j, f"n{j}", 86_400_000 * (j % 2) + i, None, None,
              None, {}, []) for j in range(5)],
            "finding_id long, subject_node string, found_at long, "
            "tz_offset_min int, tz_summer_only boolean, tz_name string, "
            "node_attrs map<string,string>, "
            "neighbor_links array<struct<target_node:string,"
            "link_state:string,link_attrs:map<string,string>>>",
        )
        ingest.write_findings(findings, path)
    before = _count_files(path)
    df_before = ingest.read_findings(spark, path)
    rows_before = df_before.count()
    sum_before = df_before.agg(F.sum("finding_id")).first()[0]

    stats = ingest.compact_history(spark, path)
    assert stats["rows"] == rows_before == 100
    assert stats["files_before"] == before
    assert stats["files_after"] < before
    assert stats["files_after"] <= 2  # one per day partition

    df_after = ingest.read_findings(spark, path)
    assert df_after.count() == rows_before
    assert df_after.agg(F.sum("finding_id")).first()[0] == sum_before
    # interval pruning still works on the compacted layout
    from net_spider_spark.interval import Interval

    assert ingest.read_findings(
        spark, path, interval=Interval.since(86_400_000)
    ).count() == 40


def _unsorted_files(path):
    """The parquet files under ``path`` whose rows are not in
    ``subject_node`` order."""
    import pyarrow.parquet as pq

    bad = []
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                f = os.path.join(root, name)
                subjects = pq.read_table(f, columns=["subject_node"])
                subjects = subjects.column(0).to_pylist()
                if subjects != sorted(subjects):
                    bad.append(f)
    return bad


def test_history_files_are_sorted_by_subject(spark, tmp_path):
    # The layout promises each file clustered by subject (its min/max
    # stats prune point lookups): the append and the compaction both
    # keep that order through the write's own partition-column sort.
    path = str(tmp_path / "hist")
    for b in range(3):
        ingest.write_findings(spark.createDataFrame(
            [(i, f"n{(i * 7) % 13:02d}", 86_400_000 * (i % 4) + i, None,
              None, None, {}, []) for i in range(b * 70, b * 70 + 70)],
            "finding_id long, subject_node string, found_at long, "
            "tz_offset_min int, tz_summer_only boolean, tz_name string, "
            "node_attrs map<string,string>, "
            "neighbor_links array<struct<target_node:string,"
            "link_state:string,link_attrs:map<string,string>>>",
        ), path)
    assert _count_files(path) >= 4
    assert _unsorted_files(path) == []
    ingest.compact_history(spark, path)
    assert _count_files(path) == 4
    assert _unsorted_files(path) == []


def test_compaction_keeps_rows_without_a_day(spark, tmp_path):
    # A finding with no found_at lands in the null day partition. The
    # compaction's per-day file budget must not drop it: the budget is
    # a lookup that falls back to one file, not a join on the day.
    path = str(tmp_path / "hist")
    schema = (
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,"
        "link_state:string,link_attrs:map<string,string>>>"
    )
    ingest.write_findings(spark.createDataFrame(
        [(i, "a", None, None, None, None, {}, []) for i in range(3)], schema
    ), path)
    ingest.write_findings(spark.createDataFrame(
        [(9, "b", 5, None, None, None, {}, [])], schema
    ), path)
    assert ingest.compact_history(spark, path)["rows"] == 4
    assert sorted(
        r["finding_id"] for r in ingest.read_findings(spark, path).collect()
    ) == [0, 1, 2, 9]


def test_update_latest_state_parquet_fold(spark, tmp_path):
    from net_spider_spark.incremental import update_latest_state
    from net_spider_spark.snapshot import latest_findings_per_node

    schema = (
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,link_state:string,"
        "link_attrs:map<string,string>>>"
    )
    b1 = spark.createDataFrame(
        [(1, "a", 100, None, None, None, {"s": "old"}, []),
         (2, "b", 500, None, None, None, {}, [])], schema)
    b2 = spark.createDataFrame(
        [(3, "a", 300, None, None, None, {"s": "new"}, []),
         (4, "b", 400, None, None, None, {}, [])], schema)
    path = str(tmp_path / "state")
    update_latest_state(spark, path, b1)
    got = update_latest_state(spark, path, b2)
    rows = {r["subject_node"]: r for r in got.collect()}
    # a advanced to the batch-2 finding; b keeps batch-1's newer one
    assert rows["a"]["finding_id"] == 3 and rows["a"]["node_attrs"] == {"s": "new"}
    assert rows["b"]["finding_id"] == 2 and rows["b"]["found_at"] == 500
    # state on disk == full-history reduction (associativity)
    full = latest_findings_per_node(b1.unionByName(b2))
    assert sorted(
        (r["subject_node"], r["finding_id"]) for r in full.collect()
    ) == sorted((r["subject_node"], r["finding_id"]) for r in got.collect())


def test_fold_latest_nodes_null_keys_and_ties(spark):
    # A subject whose winning key has a null found_at or finding_id is
    # dropped (b, c) — filtered on the winner, not the input, so c's
    # older non-null finding does not win in its place; an exact
    # duplicate row folds to one (a); a found_at tie goes to the larger
    # finding_id (d). One fold or two, same as the recompute.
    from net_spider_spark.incremental import fold_latest_nodes
    from net_spider_spark.snapshot import latest_findings_per_node

    # nullable keys, as any parquet read of a history or state has them
    schema = (
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,link_state:string,"
        "link_attrs:map<string,string>>>"
    )

    def df(rows):
        return spark.createDataFrame(
            [(f, s, t, None, None, None, {}, []) for f, s, t in rows], schema)

    # d's larger finding_id comes first, so arrival order cannot
    # stand in for the finding_id tie-break
    first = [(1, "a", 100), (1, "a", 100), (2, "b", None), (3, "c", 50),
             (5, "d", 70)]
    rest = [(None, "c", 100), (4, "d", 70)]
    want = [("a", 1, 100), ("d", 5, 70)]

    def keys(out):
        return sorted((r["subject_node"], r["finding_id"], r["found_at"])
                      for r in out.collect())

    assert keys(fold_latest_nodes(None, df(first + rest))) == want
    assert keys(fold_latest_nodes(fold_latest_nodes(None, df(first)),
                                  df(rest))) == want
    assert sorted(set(keys(latest_findings_per_node(df(first + rest))))) == want


def test_update_latest_state_rejects_mismatched_batch(spark, tmp_path):
    # A batch whose columns differ from the stored state's fails in the
    # fold, before the swap: the state keeps its old rows and no aside
    # or temp copy is left behind.
    import pytest
    from pyspark.errors import AnalysisException

    from net_spider_spark.findings import FINDINGS_SCHEMA
    from net_spider_spark.incremental import update_latest_state

    sp = str(tmp_path / "state")
    update_latest_state(spark, sp, spark.createDataFrame(
        [(1, "a", 100, None, None, None, {}, [])], FINDINGS_SCHEMA))
    bad = spark.createDataFrame(
        [(2, "a", 900, None, None, None, {}, [])], FINDINGS_SCHEMA
    ).withColumn("extra", F.lit("x"))
    with pytest.raises(AnalysisException):
        update_latest_state(spark, sp, bad)
    spark.catalog.refreshByPath(sp)
    assert [(r["finding_id"], r["found_at"])
            for r in spark.read.parquet(sp).collect()] == [(1, 100)]
    assert not os.path.exists(sp + "._old")
    assert not os.path.exists(sp + "._tmp")


def _kill_after_rename_aside(monkeypatch, path, swap):
    """Run ``swap`` and kill it right after it renames ``path`` aside,
    before the new copy is renamed into place."""
    import pytest

    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        if src == path:  # just moved the live copy aside
            raise RuntimeError("killed mid-swap")

    monkeypatch.setattr(ingest.os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="killed mid-swap"):
        swap()
    monkeypatch.setattr(ingest.os, "rename", real_rename)
    # a complete copy survives aside
    assert os.path.exists(path + "._old") and not os.path.exists(path)


def _kill_before_delete_old(monkeypatch, path, swap):
    """Run ``swap`` and kill it after the new copy is in place, before
    the aside copy is deleted."""
    import shutil

    import pytest

    real_rmtree = shutil.rmtree

    def dying_rmtree(target, *a, **kw):
        if target == path + "._old":
            raise RuntimeError("killed before delete-old")
        return real_rmtree(target, *a, **kw)

    monkeypatch.setattr(ingest.shutil, "rmtree", dying_rmtree)
    with pytest.raises(RuntimeError, match="killed before delete-old"):
        swap()
    monkeypatch.setattr(ingest.shutil, "rmtree", real_rmtree)
    assert os.path.exists(path) and os.path.exists(path + "._old")


def test_update_latest_state_crash_windows(spark, tmp_path, monkeypatch):
    # The swap (ingest.swap_dir) is write-new -> rename-aside ->
    # rename-new -> delete-old, so a kill at ANY point leaves a complete
    # readable copy on disk (in place or at ._old) and the next call
    # recovers. Covered for the latest-state fold and for compaction.
    import net_spider_spark.incremental as inc

    schema = (
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,link_state:string,"
        "link_attrs:map<string,string>>>"
    )
    b1 = spark.createDataFrame(
        [(1, "a", 100, None, None, None, {}, [])], schema)
    b2 = spark.createDataFrame(
        [(2, "a", 900, None, None, None, {}, [])], schema)
    sp = str(tmp_path / "state")
    inc.update_latest_state(spark, sp, b1)

    # Kill in the window AFTER rename-aside, BEFORE rename-into-place —
    # the exact spot the old rmtree ordering left zero readable state.
    _kill_after_rename_aside(
        monkeypatch, sp, lambda: inc.update_latest_state(spark, sp, b2))
    got = inc.update_latest_state(spark, sp, b2)
    assert [r["found_at"] for r in got.collect()] == [900]
    assert not os.path.exists(sp + "._old")
    assert not os.path.exists(sp + "._tmp")

    # Kill AFTER rename-into-place, BEFORE delete-old: state_path wins,
    # the stale aside copy is cleaned on the next call.
    b3 = spark.createDataFrame(
        [(3, "a", 950, None, None, None, {}, [])], schema)
    _kill_before_delete_old(
        monkeypatch, sp, lambda: inc.update_latest_state(spark, sp, b3))
    got = inc.update_latest_state(spark, sp, b3)
    assert [r["found_at"] for r in got.collect()] == [950]
    assert not os.path.exists(sp + "._old")

    # The same two windows in compact_history: the next compaction
    # recovers every row of the history.
    hp = str(tmp_path / "hist")
    for i in range(3):
        ingest.write_findings(spark.createDataFrame(
            [(i * 10 + j, f"n{j}", 86_400_000 * (j % 2) + i, None, None,
              None, {}, []) for j in range(4)], schema), hp)
    hist = ingest.read_findings(spark, hp)
    want = (hist.count(), hist.agg(F.sum("finding_id")).first()[0])

    def rows():
        got = ingest.read_findings(spark, hp)
        return got.count(), got.agg(F.sum("finding_id")).first()[0]

    _kill_after_rename_aside(
        monkeypatch, hp, lambda: ingest.compact_history(spark, hp))
    assert ingest.compact_history(spark, hp)["rows"] == want[0]
    assert rows() == want
    assert not os.path.exists(hp + "._old")
    assert not os.path.exists(hp + "._tmp")

    _kill_before_delete_old(
        monkeypatch, hp, lambda: ingest.compact_history(spark, hp))
    assert ingest.compact_history(spark, hp)["rows"] == want[0]
    assert rows() == want
    assert not os.path.exists(hp + "._old")


def test_append_after_crashed_swap_keeps_history(spark, tmp_path, monkeypatch):
    # A crash between the swap's two renames leaves the history only at
    # ._old. An append before the next compaction must not re-create
    # the table with just its own batch (that compaction would then
    # delete ._old, the whole earlier history): reads, appends and
    # swaps all recover the aside copy first.
    schema = (
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,link_state:string,"
        "link_attrs:map<string,string>>>"
    )
    hp = str(tmp_path / "hist")
    ingest.write_findings(spark.createDataFrame(
        [(j, f"n{j}", 86_400_000 * (j % 2) + j, None, None, None, {}, [])
         for j in range(10)], schema), hp)
    _kill_after_rename_aside(
        monkeypatch, hp, lambda: ingest.compact_history(spark, hp))

    ingest.write_findings(spark.createDataFrame(
        [(10, "n10", 5, None, None, None, {}, [])], schema), hp)
    assert ingest.read_findings(spark, hp).count() == 11
    assert ingest.compact_history(spark, hp)["rows"] == 11
    assert ingest.read_findings(spark, hp).count() == 11
    assert not os.path.exists(hp + "._old")


def test_update_latest_links_state_fold(spark, tmp_path):
    # links-side persistent incremental state: fold == full-history
    # reduction, and refolding a replayed batch is a no-op (argmax
    # idempotence)
    from net_spider_spark.incremental import (
        fold_latest_links,
        update_latest_links_state,
    )

    schema = (
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,link_state:string,"
        "link_attrs:map<string,string>>>"
    )
    b1 = spark.createDataFrame(
        [(1, "a", 100, None, None, None, {}, [("b", "to_target", {"w": "1"})]),
         (2, "b", 300, None, None, None, {}, [("a", "to_subject", {"w": "2"})])],
        schema)
    b2 = spark.createDataFrame(
        [(3, "a", 200, None, None, None, {}, [("b", "to_target", {"w": "3"})]),
         (4, "c", 400, None, None, None, {}, [("b", "to_target", {"w": "4"})])],
        schema)
    sp = str(tmp_path / "lstate")
    update_latest_links_state(spark, sp, b1)
    got = update_latest_links_state(spark, sp, b2)
    rows = {(r["p1"], r["p2"]): (r["found_at"], r["link_attrs"]["w"])
            for r in got.collect()}
    # (a,b): b's 300 observation beats a's 100 and 200; (b,c): c's 400
    assert rows == {("a", "b"): (300, "2"), ("b", "c"): (400, "4")}
    # folded state == full-history reduction
    full = fold_latest_links(None, b1.unionByName(b2))
    assert sorted(
        (r["p1"], r["p2"], r["found_at"]) for r in full.collect()
    ) == sorted((r["p1"], r["p2"], r["found_at"]) for r in got.collect())
    # replaying b2 changes nothing (materialize `got` first: each
    # update swaps the state directory, invalidating earlier lazy
    # readers — the documented consume-before-next-update contract)
    got_rows = sorted(
        (r["p1"], r["p2"], r["found_at"]) for r in got.collect()
    )
    again = update_latest_links_state(spark, sp, b2)
    assert sorted(
        (r["p1"], r["p2"], r["found_at"]) for r in again.collect()
    ) == got_rows
