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


def test_update_latest_state_crash_windows(spark, tmp_path, monkeypatch):
    # VERDICT r4 #9: the swap is write-new -> rename-aside -> rename-new
    # -> delete-old, so a kill at ANY point leaves a complete readable
    # state on disk (in place or at ._old) and the next call recovers.
    import shutil as _shutil

    import pytest

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
    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        if src == sp:  # just moved the live state aside
            raise RuntimeError("killed mid-swap")

    monkeypatch.setattr(inc.os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="killed mid-swap"):
        inc.update_latest_state(spark, sp, b2)
    monkeypatch.setattr(inc.os, "rename", real_rename)
    # a complete state survives (aside), and recovery folds correctly
    assert os.path.exists(sp + "._old") and not os.path.exists(sp)
    got = inc.update_latest_state(spark, sp, b2)
    assert [r["found_at"] for r in got.collect()] == [900]
    assert not os.path.exists(sp + "._old")
    assert not os.path.exists(sp + "._tmp")

    # Kill AFTER rename-into-place, BEFORE delete-old: state_path wins,
    # the stale aside copy is cleaned on the next call.
    b3 = spark.createDataFrame(
        [(3, "a", 950, None, None, None, {}, [])], schema)
    real_rmtree = _shutil.rmtree

    def dying_rmtree(path, *a, **kw):
        if path == sp + "._old":
            raise RuntimeError("killed before delete-old")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(inc.shutil, "rmtree", dying_rmtree)
    with pytest.raises(RuntimeError, match="killed before delete-old"):
        inc.update_latest_state(spark, sp, b3)
    monkeypatch.setattr(inc.shutil, "rmtree", real_rmtree)
    assert os.path.exists(sp) and os.path.exists(sp + "._old")
    got = inc.update_latest_state(spark, sp, b3)
    assert [r["found_at"] for r in got.collect()] == [950]
    assert not os.path.exists(sp + "._old")


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
