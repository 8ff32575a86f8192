"""Contiki-NG RPL log parsing: raw device logs -> DIO/DAO findings.

Parity target: ``net-spider-rpl/src/NetSpider/RPL/ContikiNG.hs`` — the
reference's conduit stream parser. Grammar (from the reference parsers
and its captured device logs):

* line head: Cooja ``MM:SS.mmm\\tID:n\\t`` (pCoojaLogHead, :455-470) or
  syslog ``Mmm dd hh:mm:ss host tag:`` with externally-supplied year
  (pSyslogHead, :478-521); then ``[LEVEL: MODULE ] `` (pLogHead).
* DIO block (pDIONode/:350-368, pDIONeighbor/:393-421): ``nbr: own
  state, addr A, DAG state: S, MOP m OCP o rank R max-rank X, dioint I``
  header; ``nbr: ADDR RANK, METRIC => RV -- FRESH [flags]`` neighbor
  rows where the flag field is five fixed positions ``[r][b][a][f][p]``
  ('p' => preferred parent, else 'a' => parent candidate, else other);
  ``nbr: end of list`` terminator.
* DAO block (pDAOLogHeader/pDAOLink/:445-451): ``links: N routing
  links in total``; ``links: CHILD  to PARENT (lifetime: L seconds)``
  rows; a row without `` to `` is the DODAG-root entry; ``links: end
  of list`` terminator. One finding per parent, all sharing the
  block's timestamp; route_num only on the root's finding.
* Error tolerance: any foreign line between a header and its
  terminator discards the whole block (handleBlockError, :186-196), and
  so does a new header or the end of the file before the terminator.
  Lines before a file's first header are ignored.

Spark design: the file is the unit of parallelism (device logs are
many small-to-medium files, and a block never spans two). One
``wholetext`` read hands each file to one ``mapInPandas`` call, where a
sequential line state machine — header, member rows, terminator —
transcribes ``ContikiNG.hs`` and resolves addresses with the scalar
``rpl/ipv6`` functions. At log scale the cost is Spark jobs, not
lines, so the parse is one job and nothing downstream re-runs it.
The map hands its rows to Spark as plain Python values (dicts for the
attribute maps, tuples for link structs), so no Arrow schema is built
by hand.

Evaluation contract: the parse runs eagerly at call time, once, through
``reliability.materialize`` (no CacheManager entry); both returned
frames read its output, so appending them is one more job. Under the
default ``local`` reliability mode the blocks are unreplicated:
executor loss fails downstream actions instead of recomputing —
re-call to recover. A head whose timestamp is out of range (``Feb 30``,
hour 24, a minute count past 64 bits) fails the parse, as Spark's ANSI
date and cast functions do.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta
from functools import partial
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from net_spider_spark.model import ATTRS_TYPE
from net_spider_spark.reliability import materialize as _materialize
from net_spider_spark.rpl import ipv6

COOJA_HEAD_RE = r"^(\d+):(\d+)\.(\d+)\s+ID:(\d+)\s+(.*)$"
SYSLOG_HEAD_RE = (
    r"^(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\s+(\d+)\s+"
    r"(\d+):(\d+):(\d+)\s+\S+\s+\S+\s+(.*)$"
)
LOG_MODULE_RE = r"^\[[^\]]*\]\s(.*)$"

DIO_HEAD_RE = (
    r"^nbr: own state, addr ([0-9a-fA-F:]+), DAG state: [^,]*, "
    r"MOP \d+ OCP \d+ rank (\d+) max-rank \d+, dioint (\d+)"
)
DIO_NBR_RE = r"^nbr: ([^,]+), +(\d+) => +\d+ -- *(\d+)(.*)$"
DIO_END_RE = r"^nbr: end of list"
DAO_HEAD_RE = r"^links: (\d+) routing links in total "
DAO_LINK_RE = (
    r"^links: ((?:6G-)?[0-9a-fA-F:]+)"
    r"(?:\s+to\s+((?:6G-)?[0-9a-fA-F:]+) \(lifetime: (\d+) seconds\))?"
)
DAO_END_RE = r"^links: end of list"

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

# The patterns keep their java.util.regex meaning, which the findings
# (and their finding_ids) were defined by: there `.` also stops at \r,
# \x85, \u2028 and \u2029, and `$` may stand before one such trailing
# character (a CRLF log's \r). Every `.` in them sits in a final
# `(.*)$`, rewritten to match so.
_EOL = "\r\x85\u2028\u2029"


def _compile(pattern: str) -> re.Pattern:
    return re.compile(
        pattern.replace("(.*)$", f"([^{_EOL}]*)[{_EOL}]?$"), re.ASCII
    )


_COOJA, _SYSLOG, _MODULE = map(
    _compile, (COOJA_HEAD_RE, SYSLOG_HEAD_RE, LOG_MODULE_RE)
)
_SPACES = re.compile(r"\s+", re.ASCII)
_INT64_MAX = (1 << 63) - 1

# (kind, pattern) in classification order; the first match wins.
_KINDS = [
    (kind, _compile(p))
    for kind, p in [
        ("dio_head", DIO_HEAD_RE), ("dio_end", DIO_END_RE),
        ("dio_nbr", DIO_NBR_RE), ("dao_head", DAO_HEAD_RE),
        ("dao_end", DAO_END_RE), ("dao_link", DAO_LINK_RE),
    ]
]
_MEMBER = {"dio": "dio_nbr", "dao": "dao_link"}
_END = {"dio": "dio_end", "dao": "dao_end"}

# A neighbor or DIO subject address outside the ipv6 grammar leaves
# its node ID null, so these node-ID columns are nullable.
_LINK_TYPE = T.StructType(
    [
        T.StructField("target_node", T.StringType()),
        T.StructField("link_state", T.StringType(), False),
        T.StructField("link_attrs", ATTRS_TYPE, False),
    ]
)
_PARSED_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("block_id", T.LongType()),
        T.StructField("family", T.StringType()),
        T.StructField("subject_node", T.StringType()),
        T.StructField("found_at", T.LongType()),
        T.StructField("node_attrs", ATTRS_TYPE, False),
        T.StructField("neighbor_links", T.ArrayType(_LINK_TYPE, False), False),
    ]
)


def _cooja_ms(m: re.Match) -> int:
    """``MM:SS.mmm`` simulator clock -> ms (the digits are plain
    integers: ``02.5`` is 2 s 5 ms)."""
    ms = (int(m[1]) * 60 + int(m[2])) * 1000 + int(m[3])
    if ms > _INT64_MAX:
        raise ValueError(f"cooja timestamp overflows 64 bits: {m[0]!r}")
    return ms


def _syslog_ms(year: int, tz_offset_min: Optional[int], m: re.Match) -> int:
    """``Mmm dd hh:mm:ss`` in ``year`` -> epoch ms, less the offset. A
    60th second is the next minute's 0th (Spark's make_timestamp)."""
    sec = int(m[5])
    try:
        t = datetime(year, _MONTHS.index(m[1]) + 1, int(m[2]), int(m[3]),
                     int(m[4]), 0 if sec == 60 else sec)
    except (ValueError, OverflowError) as e:
        raise ValueError(f"invalid syslog timestamp {m[0][:15]!r}: {e}")
    t += timedelta(minutes=sec == 60)
    epoch_s = (t - datetime(1970, 1, 1)) // timedelta(seconds=1)
    return (epoch_s - (tz_offset_min or 0) * 60) * 1000


def _classify(head: re.Pattern, stamp, line: str):
    """One log line -> (kind, timestamp ms, body match); kind is
    ``other`` for a line without a log head or a known body."""
    m = head.match(line)
    if m is None:
        return "other", None, None
    ts = stamp(m)
    body = _MODULE.match(m[m.re.groups])
    if body is not None:
        for kind, pattern in _KINDS:
            b = pattern.match(body[1])
            if b is not None:
                return kind, ts, b
    return "other", ts, None


def _dio_findings(head: re.Match, members) -> list:
    subject = ipv6.canonical(head[1])
    links = []
    for m in members:
        blob = m[1].strip(" ")
        parts = _SPACES.split(blob)
        if len(parts) >= 2:
            addr, rank = parts[0], parts[-1]
        else:
            # pNeighborAndRank's non_spaced case: a 5-digit rank glued
            # to the address.
            addr, rank = blob[: max(len(blob) - 5, 0)], blob[-5:]
        flags = m[4]
        kind = (
            "preferred_parent" if flags[5:6] == "p"
            else "parent_candidate" if flags[3:4] == "a"
            else "other_neighbor"
        )
        target = subject and ipv6.resolve_neighbor(subject, addr)
        links.append((
            target and f"dio://[{target}]",
            # dioLinkState (DIO.hs:202-206): only the preferred parent
            # is a live link; other rows carry attrs but state 'unused'.
            "to_target" if kind == "preferred_parent" else "unused",
            {"neighbor_type": kind, "neighbor_rank": rank, "metric": m[2]},
        ))
    attrs = {"rank": head[2], "dio_interval": head[3]}
    return [(subject and f"dio://[{subject}]", attrs, links)]


def _dao_findings(head: re.Match, members) -> list:
    rows = [
        (ipv6.canonical(m[1]), m[2] and ipv6.canonical(m[2]), m[3] or "")
        for m in members
    ]
    # Root entry = first row without a (parseable) parent; a block
    # lacking one yields nothing (rootAddressFailure).
    roots = [child for child, parent, _ in rows if parent is None]
    if not roots:
        return []
    by_parent: dict = {}
    for child, parent, lifetime in rows:
        if parent is not None:
            by_parent.setdefault(parent, []).append((
                child and f"dao://[{child}]", "to_target",
                {"path_lifetime_sec": lifetime},
            ))
    return [
        (
            f"dao://[{parent}]",
            # Non-root: `DAONode Nothing` (DAO.hs:55-61). The presence
            # marker (model.INTERNAL_ATTR_KEYS) keeps "DAONode with no
            # route count" distinguishable from "no DAONode" through
            # combine_nodes and the JSON wire; GraphML/pangraph drop it
            # like `toAttributes = []`.
            {"dao_route_num": head[1]} if parent == roots[0]
            else {"dao_present": "true"},
            links,
        )
        for parent, links in by_parent.items()
    ]


def _parse_file(head: re.Pattern, stamp, file: str, text: str):
    """Rows of ``_PARSED_SCHEMA`` for one file: the line state machine.
    ``block_id`` is the 1-based ordinal of the header in the file."""
    block_id, block = 0, None  # block: (family, ts, head match, members)
    for line in text.split("\n"):
        kind, ts, m = _classify(head, stamp, line)
        if kind in ("dio_head", "dao_head"):
            block_id += 1
            block = (kind[:3], ts, m, [])  # kind[:3]: "dio" or "dao"
        elif block is None:
            continue
        elif kind == _MEMBER[block[0]]:
            block[3].append(m)
        else:
            family, found_at, head_m, members = block
            block = None
            if kind == _END[family]:
                build = _dio_findings if family == "dio" else _dao_findings
                for subject, attrs, links in build(head_m, members):
                    yield (file, block_id, family, subject, found_at, attrs, links)


def _parse_frames(head: str, year, tz_offset_min, frames):
    """The ``mapInPandas`` body: (file, value) frames -> frames of
    ``_PARSED_SCHEMA`` rows."""
    import pandas as pd

    pattern, stamp = _head(head, year, tz_offset_min)
    for frame in frames:
        rows = [
            row
            for file, text in zip(frame["file"], frame["value"])
            for row in _parse_file(pattern, stamp, file, text)
        ]
        yield pd.DataFrame(rows, columns=_PARSED_SCHEMA.names)


def _head(head: str, year: Optional[int], tz_offset_min: Optional[int]):
    """(head pattern, timestamp function of its match) for a format."""
    if head == "cooja":
        return _COOJA, _cooja_ms
    if head == "syslog":
        if year is None:
            raise ValueError("syslog head needs an explicit year (format has none)")
        return _SYSLOG, partial(_syslog_ms, year, tz_offset_min)
    raise ValueError(f"unknown head format: {head}")


def parse_contiki_logs(
    spark: SparkSession,
    path,
    head: str = "syslog",
    year: Optional[int] = None,
    tz_offset_min: Optional[int] = None,
) -> tuple[DataFrame, DataFrame]:
    """Parse RPL logs -> (dio_findings, dao_findings), both in
    model.FINDINGS_SCHEMA with FindingID node IDs (``parseFile``).
    ``path``: a glob string or a list of paths.

    One job parses every file at call time; see the module docstring
    for the evaluation contract. ``finding_id`` is
    ``xxhash64(file, block_id, subject_node)``.
    """
    _head(head, year, tz_offset_min)  # reject a bad format at call time
    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value")
    )
    parsed = files.mapInPandas(
        partial(_parse_frames, head, year, tz_offset_min), _PARSED_SCHEMA
    )
    parsed = parsed.select(
        F.xxhash64("file", "block_id", "subject_node").alias("finding_id"),
        "family",
        "subject_node",
        "found_at",
        F.lit(None).cast("int").alias("tz_offset_min"),
        F.lit(None).cast("boolean").alias("tz_summer_only"),
        F.lit(None).cast("string").alias("tz_name"),
        "node_attrs",
        "neighbor_links",
    ).transform(_materialize)
    dio, dao = (
        parsed.where(F.col("family") == family).drop("family")
        for family in ("dio", "dao")
    )
    return dio, dao
