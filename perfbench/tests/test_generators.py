"""Determinism and count tests for the benchmark's input generators.

Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in [ROOT, BENCH, os.environ.get("PYTHONPATH")] if p
)

import generators as G  # noqa: E402


def _ipc_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _batches(seed: int, n: int) -> list:
    mesh = G.RplMesh(seed)
    return [mesh.batch() for _ in range(n)]


def test_history_same_seed_same_bytes():
    assert _ipc_bytes(G.history_deep(7)) == _ipc_bytes(G.history_deep(7))
    assert _ipc_bytes(G.history_deep(7)) != _ipc_bytes(G.history_deep(8))


def test_history_shape():
    t = G.history_deep(3)
    assert t.num_rows == G.HISTORY_NODES * G.HISTORY_PER_NODE
    assert t.schema == G.FINDINGS_ARROW_SCHEMA
    states = set(
        t.column("neighbor_links").combine_chunks().flatten()
        .field("link_state").to_pylist()
    )
    assert states == set(G.LINK_STATES)


def test_syslog_same_seed_same_bytes():
    a, b, c = _batches(5, 3), _batches(5, 3), _batches(6, 3)
    assert [x.files for x in a] == [x.files for x in b]
    assert [x.files for x in a] != [x.files for x in c]


def test_corrupt_block_always_holds_a_foreign_line():
    # every batch's corrupt mote, whatever its children, gets a foreign
    # line between its round-0 DIO head and terminator
    for batch in _batches(11, G.RPL_MOTES):
        corrupt = 1 + (batch.index % (G.RPL_MOTES - 1))
        head = f"addr {G.mote_address(corrupt)}, DAG state"
        lines = batch.files[f"gw{corrupt % G.RPL_FILES}.log"].splitlines()
        start = next(i for i, l in enumerate(lines) if head in l)
        end = next(i for i in range(start, len(lines)) if "nbr: end of list" in lines[i])
        assert any("TSCH" in l for l in lines[start + 1:end])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path_factory.mktemp("wh")))
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def test_logs_parse_to_expected_counts(spark, tmp_path):
    from net_spider_spark.rpl.contiki import parse_contiki_logs

    for batch in _batches(2, 3):
        d = tmp_path / f"b{batch.index}"
        d.mkdir()
        for name, text in batch.files.items():
            (d / name).write_text(text)
        dio, dao = parse_contiki_logs(spark, str(d / "*.log"), year=G.SYSLOG_YEAR)
        assert dio.count() == batch.dio_findings
        assert dao.count() == batch.dao_findings
