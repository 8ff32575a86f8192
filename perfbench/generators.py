"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes (numpy
``default_rng``), so one seed always yields byte-identical inputs. The
engine only ever sees what these functions produce: findings tables
(Arrow, written to parquet by the workload) and Contiki-NG syslog text.
"""

from __future__ import annotations

import datetime as _dt
import ipaddress
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
SYSLOG_YEAR = 2024

# Workload sizes. Each is fixed so that one operation stays well under
# a second on a 4-core box and a timed run collects tens of samples;
# BENCHMARK.json records them and the measured times behind them.
HISTORY_NODES = 400
HISTORY_PER_NODE = 100  # findings per node: 40k findings, 160k link samples
HISTORY_DAYS = 28
HISTORY_DEGREE = 5  # fixed neighbours per node; each finding reports 4

RPL_MOTES = 48
RPL_LAYERS = 6
RPL_ROUNDS = 3  # DIO/DAO rounds per daily batch
RPL_CHURN = 0.25  # chance a mote switches preferred parent per round
RPL_FILES = 2  # gateway log files per batch

LINK_STATES = np.array(
    ["unused", "to_target", "to_subject", "bidirectional"], dtype=object
)

_ATTRS = pa.map_(pa.string(), pa.string())
_LINK = pa.struct(
    [
        pa.field("target_node", pa.string(), nullable=False),
        pa.field("link_state", pa.string(), nullable=False),
        pa.field("link_attrs", _ATTRS),
    ]
)
#: Arrow twin of ``net_spider_spark.model.FINDINGS_SCHEMA``.
FINDINGS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("finding_id", pa.int64(), nullable=False),
        pa.field("subject_node", pa.string(), nullable=False),
        pa.field("found_at", pa.int64(), nullable=False),
        pa.field("tz_offset_min", pa.int32()),
        pa.field("tz_summer_only", pa.bool_()),
        pa.field("tz_name", pa.string()),
        pa.field("node_attrs", _ATTRS),
        pa.field("neighbor_links", pa.list_(_LINK)),
    ]
)


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng(list(key))


def _str(ints) -> pa.Array:
    return pa.array(np.asarray(ints, dtype=np.int64)).cast(pa.string())


def _map_array(n: int, keys: list[str], values: list[pa.Array]) -> pa.MapArray:
    """``n`` maps holding ``keys`` in order; ``values[j]`` gives the
    j-th key's value for every row."""
    k = len(keys)
    offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
    key_arr = pa.array(np.tile(np.array(keys, dtype=object), n), pa.string())
    # row i, key j lives at j * n + i of the concatenated value arrays
    order = (np.arange(n)[:, None] + n * np.arange(k)[None, :]).ravel()
    items = pa.concat_arrays(values).take(pa.array(order))
    return pa.MapArray.from_arrays(offsets, key_arr, items)


def _findings_table(
    names, subject, found_at, node_attrs, link_offsets, link_target,
    link_state, link_attrs, tz_mask,
) -> pa.Table:
    n = len(subject)
    links = pa.ListArray.from_arrays(
        pa.array(np.asarray(link_offsets, dtype=np.int32)),
        pa.StructArray.from_arrays(
            [
                pa.array(names[link_target], pa.string()),
                pa.array(link_state, pa.string()),
                link_attrs,
            ],
            fields=list(_LINK),
        ),
    )
    no_tz = ~np.asarray(tz_mask, dtype=bool)
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(names[subject], pa.string()),
            pa.array(np.asarray(found_at, dtype=np.int64)),
            pa.array(np.full(n, 540, np.int32), mask=no_tz),
            pa.array(np.zeros(n, dtype=bool), mask=no_tz),
            pa.array(np.full(n, "JST", dtype=object), pa.string(), mask=no_tz),
            node_attrs,
            links,
        ],
        schema=FINDINGS_ARROW_SCHEMA,
    )


def history_deep(seed: int) -> pa.Table:
    """Few nodes, long history: ``HISTORY_PER_NODE`` findings per node
    spread over ``HISTORY_DAYS`` days, each reporting all but one of the
    node's ``HISTORY_DEGREE`` fixed neighbours in all four link states,
    with node and link attribute maps. Timestamps have second
    resolution, so same-time findings exercise the finding_id
    tie-break."""
    n_nodes, per_node = HISTORY_NODES, HISTORY_PER_NODE
    span_days, degree = HISTORY_DAYS, HISTORY_DEGREE
    rng = _rng(1, seed)
    n = n_nodes * per_node
    names = np.array([f"h{i:05d}" for i in range(n_nodes)], dtype=object)
    subject = np.tile(np.arange(n_nodes), per_node)
    rng.shuffle(subject)
    span_s = span_days * DAY_MS // 1000
    found_at = BASE_MS + np.sort(rng.integers(0, span_s, n)) * 1000
    # circulant neighbourhood: node i sees i + offsets[j] (mod n_nodes)
    offsets = rng.choice(np.arange(1, n_nodes), size=degree, replace=False)
    nbrs = (np.arange(n_nodes)[:, None] + offsets[None, :]) % n_nodes
    k = degree - 1
    drop = rng.integers(0, degree, n)
    keep = np.arange(degree)[None, :] != drop[:, None]
    target = nbrs[subject][keep]
    state = LINK_STATES[rng.choice(4, size=n * k, p=[0.1, 0.5, 0.2, 0.2])]
    link_attrs = _map_array(n * k, ["metric"], [_str(rng.integers(1, 1000, n * k))])
    kind = np.where(subject % 7 == 0, "router", "sensor").astype(object)
    node_attrs = _map_array(
        n,
        ["rank", "kind"],
        [_str(rng.integers(256, 4096, n)), pa.array(kind, pa.string())],
    )
    return _findings_table(
        names, subject, found_at, node_attrs, np.arange(0, n * k + 1, k),
        target, state, link_attrs, subject % 5 == 0,
    )


# ---------------------------------------------------------------------------
# Contiki-NG syslog (format of tests/data/syslog_sample.log)
# ---------------------------------------------------------------------------

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_FLAGS_PREFERRED = "  bafp"
_FLAGS_CANDIDATE = "   af "
_FLAGS_OTHER = "      "


def mote_address(i: int, link_local: bool = False) -> str:
    """Canonical address of mote ``i``: global ``fd00::`` or its
    link-local ``fe80::`` twin (same interface ID)."""
    prefix = 0xFE80 if link_local else 0xFD00
    return ipaddress.IPv6Address(
        (prefix << 112) | (0x0200 << 48) | (i + 1)
    ).compressed


@dataclass
class SyslogBatch:
    """One day of mote logs plus the facts the benchmark checks the
    engine's output against."""

    index: int
    files: dict  # file name -> text
    lines: int
    dio_findings: int
    dao_findings: int
    window: tuple  # [lo, hi) epoch ms of the batch's day
    dio_links: set  # (child, preferred parent) in the last round
    dao_links: set  # (parent, child) each parent last reported
    motes: set  # bare addresses


class RplMesh:
    """A mote DODAG whose preferred parents churn between rounds.

    Mote 0 is the root; the others sit in layers 1..RPL_LAYERS-1 and
    pick a preferred parent among the motes one layer up. Batch ``b`` is
    one day: ``RPL_ROUNDS`` rounds, each a DIO block per mote and one
    DAO block from the root, spread over ``RPL_FILES`` log files.
    Batches must be drawn in order; the sequence depends only on the
    seed."""

    def __init__(self, seed: int) -> None:
        motes, layers = RPL_MOTES, RPL_LAYERS
        self.seed, self.motes, self.rounds, self.files = seed, motes, RPL_ROUNDS, RPL_FILES
        self.churn = RPL_CHURN
        self.layer = np.array([0] + [1 + (i - 1) % (layers - 1) for i in range(1, motes)])
        self.upper = {
            i: np.flatnonzero(self.layer == self.layer[i] - 1)
            for i in range(1, motes)
        }
        rng = _rng(3, seed)
        self.parent = {i: int(rng.choice(self.upper[i])) for i in range(1, motes)}
        self.next_batch = 0

    def _head(self, t_ms: int, mote: int) -> str:
        t = _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=int(t_ms))
        return (
            f"{_MONTHS[t.month - 1]} {t.day:>2} {t:%H:%M:%S} gw{mote % self.files}"
            f" rpl-node[{100 + mote}]: [INFO: RPL       ] "
        )

    def _noise(self, t_ms: int, mote: int) -> str:
        return self._head(t_ms, mote).replace(
            f"rpl-node[{100 + mote}]: [INFO: RPL       ] ",
            f"tsch[{100 + mote}]: [INFO: TSCH      ] association done",
        )

    def _dio_block(self, t_ms, i, children, corrupt) -> list[str]:
        h = self._head(t_ms, i)
        rank = 128 * (self.layer[i] + 1)
        rows = []
        if i:
            rows.append((self.parent[i], _FLAGS_PREFERRED))
            others = [int(x) for x in self.upper[i] if x != self.parent[i]][:2]
            rows += [(x, _FLAGS_CANDIDATE) for x in others]
        rows += [(c, _FLAGS_OTHER) for c in children]
        out = [
            f"{h}nbr: own state, addr {mote_address(i)}, DAG state: reachable,"
            f" MOP 1 OCP 1 rank {rank} max-rank 65535, dioint 12,"
            f" nbr count {len(rows)} (Periodic)"
        ]
        for n, flags in rows:
            nrank = 128 * (self.layer[n] + 1)
            metric = 128 + 16 * ((n + i) % 8)
            out.append(
                f"{h}nbr: {mote_address(n, link_local=True)} {nrank:>5},"
                f" {metric:>5} => {nrank + metric:>5} -- {1 + (n % 16):>2}{flags}"
                "  (last tx 1 min ago)"
            )
        if corrupt:
            # a foreign line between head and terminator voids the block
            out.append(self._noise(t_ms, i))
        out.append(f"{h}nbr: end of list")
        return out

    def _dao_block(self, t_ms) -> list[str]:
        h = self._head(t_ms, 0)
        out = [
            f"{h}links: {self.motes - 1} routing links in total (Periodic)",
            f"{h}links: {mote_address(0)}  (DODAG root) (lifetime: infinite)",
        ]
        for c in range(1, self.motes):
            out.append(
                f"{h}links: {mote_address(c)}  to {mote_address(self.parent[c])}"
                f" (lifetime: {1800 + 60 * (c % 5)} seconds)"
            )
        out.append(f"{h}links: end of list")
        return out

    def batch(self) -> SyslogBatch:
        """The next day of logs."""
        b = self.next_batch
        self.next_batch += 1
        rng = _rng(4, self.seed, b)
        day = BASE_MS + b * DAY_MS
        per_file = {j: [] for j in range(self.files)}
        dio = dao = 0
        last_children: dict[int, list[int]] = {}
        for r in range(self.rounds):
            if r:
                for i in range(1, self.motes):
                    if rng.random() < self.churn and len(self.upper[i]) > 1:
                        self.parent[i] = int(
                            rng.choice([x for x in self.upper[i] if x != self.parent[i]])
                        )
            t0 = day + 8 * 3_600_000 + r * 600_000
            children: dict[int, list[int]] = {i: [] for i in range(self.motes)}
            for c in range(1, self.motes):
                children[self.parent[c]].append(c)
            # round 0 carries one block with a foreign line inside: the
            # parser must discard it (and only it)
            corrupt = 1 + (b % (self.motes - 1)) if r == 0 and self.rounds > 1 else -1
            for i in range(self.motes):
                t = t0 + 1000 * i
                per_file[i % self.files].append(self._noise(t - 500, i))
                per_file[i % self.files] += self._dio_block(t, i, children[i], i == corrupt)
                dio += i != corrupt
            per_file[0] += self._dao_block(t0 + 300_000)
            parents = {p for p, cs in children.items() if cs}
            dao += len(parents)
            for p in parents:
                last_children[p] = children[p]
        files = {
            f"gw{j}.log": "\n".join(lines) + "\n" for j, lines in per_file.items()
        }
        return SyslogBatch(
            index=b,
            files=files,
            lines=sum(len(lines) for lines in per_file.values()),
            dio_findings=dio,
            dao_findings=dao,
            window=(day, day + DAY_MS),
            dio_links={
                (mote_address(c), mote_address(self.parent[c]))
                for c in range(1, self.motes)
            },
            dao_links={
                (mote_address(p), mote_address(c))
                for p, cs in last_children.items()
                for c in cs
            },
            motes={mote_address(i) for i in range(self.motes)},
        )
