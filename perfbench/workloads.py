"""The benchmark workloads.

Each workload is driven closed-loop by one client: the next operation
starts only after the previous one has returned. A workload has three
phases, all over inputs generated from the run's seed:

* ``prepare`` (timed as set-up): generate the inputs and land the
  initial history through ``ingest.write_findings`` and
  ``incremental.update_latest_state``;
* ``validate`` (timed as set-up): one warm-up query, checked;
* ``op`` (timed): one operation. Outside the clock its outputs are
  checked against an independent expectation (``pyweaver`` or the
  generator's known facts) and, for a repeated query, against the
  digest of its first, checked, result.

Snapshot results are materialized by an order-independent digest over
every column (a bare ``count()`` prunes the payload). Each operation
ends with an empty Spark cache, as a fresh CLI invocation has, so a
repeated query never reads a previous query's cached intermediates.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

import generators as G
from net_spider_spark import pyweaver
from net_spider_spark.findings import explode_link_samples
from net_spider_spark.graphml import write_graphml_to
from net_spider_spark.incremental import update_latest_state
from net_spider_spark.ingest import read_findings, write_findings
from net_spider_spark.interval import Interval
from net_spider_spark.model import FINDINGS_SCHEMA
from net_spider_spark.rpl.combined import combine_graphs
from net_spider_spark.rpl.contiki import parse_contiki_logs
from net_spider_spark.rpl.dao import dao_unifier_conf
from net_spider_spark.rpl.dio import dio_unifier_conf
from net_spider_spark.snapshot import (
    POLICY_APPEND,
    POLICY_OVERWRITE,
    Query,
    get_snapshot,
    latest_findings_per_node,
)
from net_spider_spark.traverse import reachable_nodes


class CheckFailed(Exception):
    """An output differs from what the workload expects."""


def digest(df) -> tuple[int, int]:
    """Order-independent digest of every column: (rows, xor of row
    hashes). ``sum(xxhash64)`` overflows under ANSI mode and map
    columns cannot be hashed directly, hence ``to_json``."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(to_json(struct(*))))").alias("x"),
    ).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


class ByteSink:
    """``write(str)`` target that keeps only sizes: UTF-8 bytes and the
    number of node and edge elements."""

    def __init__(self) -> None:
        self.bytes = self.nodes = self.edges = 0

    def write(self, text: str) -> None:
        self.bytes += len(text.encode("utf-8"))
        if text.startswith("  <node "):
            self.nodes += 1
        elif text.startswith("  <edge "):
            self.edges += 1


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _parquet_files(path))


class Workload:
    """Shared machinery: history landing, timing samples, trace extras."""

    name = ""

    def __init__(self, spark, seed: int, workdir: str, tracer) -> None:
        self.spark, self.seed, self.workdir, self.tr = spark, seed, workdir, tracer
        self.samples = {
            "snapshot": [], "export": [], "ingest_rate": [], "refresh": [],
        }
        self.layer: dict[str, list] = {}
        self.failed = self.attempted = 0

    # -- helpers -------------------------------------------------------
    def note(self, key: str, value) -> None:
        self.layer.setdefault(key, []).append(value)

    def land(self, df, n_findings: int, hist: str, state: str,
             lead_s: float = 0.0, landed=None) -> None:
        """Append ``df`` to the history, then fold the landed batch
        (``landed()``, default ``df``) into the latest state: the two
        write paths every workload exercises. The ingest rate counts
        ``lead_s`` (time already spent producing ``df``) plus the
        append, not the fold."""
        files0, bytes0 = len(_parquet_files(hist)), _dir_bytes(hist)
        with self.tr.span("ingest.write"):
            t0 = time.perf_counter()
            write_findings(df, hist, mode="append")
            dt = time.perf_counter() - t0
        self.samples["ingest_rate"].append(n_findings / (lead_s + dt))
        with self.tr.span("incremental.fold"):
            t0 = time.perf_counter()
            new_state = update_latest_state(
                self.spark, state, df if landed is None else landed()
            )
            self.samples["refresh"].append(time.perf_counter() - t0)
        if self.tr.enabled:
            self.note("incremental.fold_s", self.samples["refresh"][-1])
            self.note("ingest.write_s", dt)
            self.note("ingest.files_written", len(_parquet_files(hist)) - files0)
            self.note("ingest.bytes_per_finding", (_dir_bytes(hist) - bytes0) / n_findings)
            self.note("incremental.state_rows", new_state.count())

    def read(self, hist: str, interval=None):
        with self.tr.span("ingest.read"):
            t0 = time.perf_counter()
            f = read_findings(self.spark, hist, interval=interval)
            if self.tr.enabled:
                files = len(f.inputFiles())
                self.note("ingest.read_s", time.perf_counter() - t0)
                self.note("ingest.files_scanned", files)
        return f

    def snapshot_and_export(self, build):
        """Time ``build()`` (the get_snapshot call and whatever the
        workload composes around it) until both results are digested,
        then time the GraphML export of the same results. Returns
        (nodes, links, node digest, link digest, sink); the results stay
        cached until :meth:`end_op`."""
        with self.tr.span("snapshot"):
            t0 = time.perf_counter()
            with self.tr.span("snapshot.plan"):
                t_plan = time.perf_counter()
                nodes, links = build()
                plan_s = time.perf_counter() - t_plan
            nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
            links = links.persist(StorageLevel.MEMORY_AND_DISK)
            dn, dl = digest(nodes), digest(links)
            self.samples["snapshot"].append(time.perf_counter() - t0)
        sink = ByteSink()
        with self.tr.span("graphml.export"):
            t0 = time.perf_counter()
            write_graphml_to(nodes, links, sink.write)
            dt = time.perf_counter() - t0
        self.samples["export"].append(dt)
        if self.tr.enabled:
            self.note("snapshot.plan_s", plan_s)
            self.note("graphml.export_s", dt)
            self.note("graphml.bytes", sink.bytes)
            self.note("graphml.bytes_per_s", sink.bytes / dt)
        return nodes, links, dn, dl, sink

    def layer_steps(self, findings, query: Query, bfs_from=None) -> None:
        """Traced run only: time the policy and explode steps of
        ``query`` as separate calls, and a BFS from ``bfs_from`` over
        the exploded samples, and count what they produce."""
        kept = findings.filter(query.time_interval.predicate(F.col("found_at")))
        overwrite = query.found_node_policy == POLICY_OVERWRITE
        with self.tr.span("snapshot.policy"):
            t0 = time.perf_counter()
            pol = latest_findings_per_node(kept) if overwrite else kept
            pol = pol.persist(StorageLevel.MEMORY_AND_DISK)
            n_pol = digest(pol)[0]
            policy_s = time.perf_counter() - t0
        with self.tr.span("findings.explode"):
            t0 = time.perf_counter()
            samples = explode_link_samples(pol).persist(StorageLevel.MEMORY_AND_DISK)
            n_samples = digest(samples)[0]
            explode_s = time.perf_counter() - t0
        n_scanned = kept.count()
        n_pairs = (
            samples.select(
                F.least("subject_node", "target_node"),
                F.greatest("subject_node", "target_node"),
            ).distinct().count()
        )
        if bfs_from is not None:
            starts = self.spark.createDataFrame(
                [(s,) for s in bfs_from], "node_id string"
            )
            edges = samples.select(
                F.col("subject_node").alias("src"), F.col("target_node").alias("dst")
            )
            with self.tr.span("traverse.bfs") as sp:
                t0 = time.perf_counter()
                visited = reachable_nodes(edges, starts)
                n_visited = visited.count()
                bfs_s = time.perf_counter() - t0
            bfs = [d for d in sp.get("decisions", []) if d["tag"] == "bfs"]
            self.note("traverse.bfs_s", bfs_s)
            self.note("traverse.visited", n_visited)
            self.note("traverse.edges", bfs[-1]["n_rows"] if bfs else 0)
            self.note("traverse.local_path", int(bool(bfs and bfs[-1]["local"])))
        self.note("snapshot.policy_s", policy_s)
        self.note("snapshot.kept_ratio", n_pol / max(n_scanned, 1))
        self.note("findings.explode_s", explode_s)
        self.note("findings.samples", n_samples)
        self.note("unify.pairs", n_pairs)
        self.note("unify.samples_per_pair", n_samples / max(n_pairs, 1))
        self.note(
            "unify.merge_negate_s",
            self.samples["snapshot"][-1] - policy_s - explode_s,
        )
        pol.unpersist()
        samples.unpersist()

    def end_op(self) -> None:
        self.spark.catalog.clearCache()
        if self.tr.enabled:
            self.note("spark.spill_bytes", self.tr.op_counters())


# ---------------------------------------------------------------------------
# history_deep: read-only snapshot workload
# ---------------------------------------------------------------------------


def _py_findings(table) -> list:
    rows = table.select(
        ["finding_id", "subject_node", "found_at", "node_attrs", "neighbor_links"]
    ).to_pylist()
    return [
        pyweaver.PyFinding(
            r["finding_id"], r["subject_node"], r["found_at"],
            links=tuple(
                pyweaver.PyLink(l["target_node"], l["link_state"])
                for l in r["neighbor_links"]
            ),
            attrs=tuple(sorted(r["node_attrs"])),  # map key order is not semantic
        )
        for r in rows
    ]


class HistoryDeep(Workload):
    """Few nodes, long history: whole-graph snapshots alternating the
    overwrite and append policies, each at a seeded past upper bound."""

    name = "history_deep"

    def prepare(self) -> None:
        for d in ("staged", "hist", "state"):
            shutil.rmtree(os.path.join(self.workdir, d), ignore_errors=True)
        self.table = G.history_deep(self.seed)
        staged = os.path.join(self.workdir, "staged")
        os.makedirs(staged)
        pq.write_table(self.table, os.path.join(staged, "part-0.parquet"))
        df = self.spark.read.schema(FINDINGS_SCHEMA).parquet(staged)
        self.hist = os.path.join(self.workdir, "hist")
        self.land(df, self.table.num_rows, self.hist, os.path.join(self.workdir, "state"))
        self.expected: dict = {}
        self._py = None
        # bounds in the last fifth of the history: the scanned share
        # still varies with the seed, but not by enough to swamp the
        # run-to-run comparison
        rng = np.random.default_rng([5, self.seed])
        bounds = G.BASE_MS + (
            G.HISTORY_DAYS * G.DAY_MS * rng.uniform(0.8, 0.95, 2)
        ).astype(np.int64)
        # append first: the warm-up runs query 0, and the set-up's fold
        # has already run the overwrite policy's argmax
        self.queries = [
            Query(time_interval=Interval.until(int(b)), found_node_policy=p)
            for b, p in zip(bounds, (POLICY_APPEND, POLICY_OVERWRITE))
        ]
        self.cycle = len(self.queries)

    def check(self, qi: int, nodes, links, dn, dl, sink) -> None:
        """The first result of each distinct query is checked against
        ``pyweaver.snapshot`` and its digests and GraphML size become
        the expected ones; later results must repeat them."""
        if qi in self.expected:
            if (dn, dl, sink.bytes) != self.expected[qi]:
                raise CheckFailed(f"{self.name}: query {qi} digest differs from validated")
            return
        q = self.queries[qi]
        if self._py is None:
            self._py = _py_findings(self.table)
        want_nodes, want_links = pyweaver.snapshot(
            self._py, policy=q.found_node_policy, interval=q.time_interval,
        )
        got_nodes = {
            r["node_id"]: (r["is_on_boundary"], r["node_ts"],
                           tuple(sorted(r["node_attrs"].items())) if r["node_attrs"] else None)
            for r in nodes.collect()
        }
        got_links = {
            (r["source_node"], r["dest_node"], r["is_directed"], r["link_ts"])
            for r in links.collect()
        }
        if got_nodes != want_nodes or got_links != want_links:
            raise CheckFailed(f"{self.name}: engine disagrees with pyweaver on {q}")
        if (sink.nodes, sink.edges) != (len(want_nodes), len(want_links)):
            raise CheckFailed(f"{self.name}: GraphML element counts differ on {q}")
        self.expected[qi] = (dn, dl, sink.bytes)

    def validate(self) -> float:
        """Warm-up: the first query once, untimed, checked. Returns its
        seconds (get_snapshot call to digested results)."""
        f = read_findings(self.spark, self.hist)
        t0 = time.perf_counter()
        nodes, links = get_snapshot(f, self.queries[0])
        nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
        links = links.persist(StorageLevel.MEMORY_AND_DISK)
        dn, dl = digest(nodes), digest(links)
        warmup_s = time.perf_counter() - t0
        sink = ByteSink()
        write_graphml_to(nodes, links, sink.write)
        try:
            self.check(0, nodes, links, dn, dl, sink)
        finally:
            self.spark.catalog.clearCache()
        return warmup_s

    def op(self, i: int) -> None:
        qi = i % self.cycle
        q = self.queries[qi]
        try:
            with self.tr.span("op", qid=i):
                f = self.read(self.hist)
                nodes, links, dn, dl, sink = self.snapshot_and_export(
                    lambda: get_snapshot(f, q)
                )
                if self.tr.enabled:
                    self.layer_steps(f, q)
            self.check(qi, nodes, links, dn, dl, sink)
        finally:
            self.end_op()


# ---------------------------------------------------------------------------
# rpl_ingest: parse + append + fold + CLI-equivalent snapshot per batch
# ---------------------------------------------------------------------------


class RplIngest(Workload):
    """Daily batches of Contiki-NG syslog from a churning mote DODAG."""

    name = "rpl_ingest"
    cycle = 1

    def prepare(self) -> None:
        for d in ("logs", "hist", "state"):
            shutil.rmtree(os.path.join(self.workdir, d), ignore_errors=True)
        self.hist = os.path.join(self.workdir, "hist")
        self.state = os.path.join(self.workdir, "state")
        self.mesh = G.RplMesh(self.seed)
        self.subjects: set = set()
        self.batch = self.mesh.batch()
        self.ingest(self.batch)

    def ingest(self, batch) -> None:
        """Parse one batch, append it and fold it into the state."""
        d = os.path.join(self.workdir, "logs", f"b{batch.index:04d}")
        os.makedirs(d)
        for name, text in sorted(batch.files.items()):
            with open(os.path.join(d, name), "w", encoding="utf-8") as fh:
                fh.write(text)
        n = batch.dio_findings + batch.dao_findings
        t0 = time.perf_counter()
        with self.tr.span("rpl.parse"):
            dio, dao = parse_contiki_logs(
                self.spark, os.path.join(d, "*.log"), year=G.SYSLOG_YEAR
            )
            findings = dio.unionByName(dao)
        parse_s = time.perf_counter() - t0
        window = Interval(batch.window[0], batch.window[1], True, False)
        # fold the landed rows, not the parse plan: re-deriving the
        # batch would run the address-parsing UDFs a second time
        self.land(
            findings, n, self.hist, self.state, lead_s=parse_s,
            landed=lambda: read_findings(self.spark, self.hist, window),
        )
        if self.tr.enabled:
            self.note("rpl.parse_s", parse_s)
            self.note("rpl.lines_per_s", batch.lines / parse_s)
            self.note("rpl.findings_per_line", n / batch.lines)
        self.subjects |= {f"dio://[{m}]" for m in batch.motes}
        self.subjects |= {f"dao://[{p}]" for p, _ in batch.dao_links}

    def _snapshot(self, f, iv):
        """The CLI's whole-graph form (``cis``): per family, its subset
        of the findings and its unifier; then ``combine_graphs``."""
        def run(prefix: str, conf):
            subset = f.filter(F.col("subject_node").startswith(f"{prefix}://"))
            q = Query(time_interval=iv, found_node_policy=POLICY_OVERWRITE, unify=conf())
            return get_snapshot(subset, q)

        return combine_graphs(run("dio", dio_unifier_conf), run("dao", dao_unifier_conf))

    def check(self, batch, n_written: int, dn, dl, sink, nodes, links) -> None:
        if n_written != batch.dio_findings + batch.dao_findings:
            raise CheckFailed(f"batch {batch.index}: {n_written} findings landed")
        got_nodes = {r["node_id"] for r in nodes}
        got_dio = {(r["source_node"], r["dest_node"]) for r in links
                   if r["link_attrs"]["link_type"] == "dio"}
        got_dao = {(r["source_node"], r["dest_node"]) for r in links
                   if r["link_attrs"]["link_type"] == "dao"}
        if got_nodes != batch.motes or got_dio != batch.dio_links or got_dao != batch.dao_links:
            raise CheckFailed(f"batch {batch.index}: snapshot differs from the parent tree")
        want = (len(batch.motes), len(batch.dio_links) + len(batch.dao_links))
        if (dn[0], dl[0]) != want or (sink.nodes, sink.edges) != want:
            raise CheckFailed(f"batch {batch.index}: digest or GraphML counts differ")
        state_rows = self.spark.read.parquet(self.state).count()
        if state_rows != len(self.subjects):
            raise CheckFailed(f"batch {batch.index}: latest state has {state_rows} rows")

    def validate(self) -> float:
        """The prepared first batch against the generator's facts.
        Returns the seconds of its snapshot (the warm-up)."""
        return self.run_batch(self.batch, timed=False)

    def op(self, i: int) -> None:
        self.batch = self.mesh.batch()
        with self.tr.span("op", qid=i):
            self.ingest(self.batch)
            self.run_batch(self.batch, timed=True)

    def run_batch(self, batch, timed: bool) -> float:
        """Snapshot (and export) the batch's day, then check it; the
        untimed form is the set-up's warm-up and returns its seconds."""
        try:
            return self._run_batch(batch, timed)
        finally:
            self.end_op()

    def _run_batch(self, batch, timed: bool) -> float:
        window = Interval(batch.window[0], batch.window[1], True, False)
        f = self.read(self.hist, window)
        if timed:
            nodes, links, dn, dl, sink = self.snapshot_and_export(
                lambda: self._snapshot(f, window)
            )
            if self.tr.enabled:
                # the snapshot is whole-graph; the traverse layer is
                # timed on its own, from the DODAG root over the DIO
                # samples
                dio = f.filter(F.col("subject_node").startswith("dio://"))
                self.layer_steps(
                    dio, Query(time_interval=window),
                    bfs_from=[f"dio://[{G.mote_address(0)}]"],
                )
        else:
            t0 = time.perf_counter()
            nodes, links = self._snapshot(f, window)
            nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
            links = links.persist(StorageLevel.MEMORY_AND_DISK)
            dn, dl = digest(nodes), digest(links)
            warmup_s = time.perf_counter() - t0
            sink = ByteSink()
            write_graphml_to(nodes, links, sink.write)
        landed = read_findings(self.spark, self.hist, window).count()
        self.check(batch, landed, dn, dl, sink, nodes.collect(), links.collect())
        return None if timed else warmup_s
