"""FoundNode / FoundLink value objects, DataFrame construction, JSON codecs.

Parity targets:

* model — ``net-spider/src/NetSpider/Found.hs:98-140``
* JSON wire format (snake_case, ``Attributes -> attrs`` renaming) —
  ``Found.hs:70-159`` and ``Timestamp.hs:72-101`` (timestamp object
  ``{"epoch_time": ms, "tz_offset_min": ...}``)

Ingest is a vectorized batch append — the reference inserts one
finding per Gremlin round-trip and warns it "might take a long time"
(``net-spider-rpl-cli/src/NetSpider/RPL/CLI.hs:86-88``); here a whole
batch lands as one Arrow-backed DataFrame write.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Iterable, Mapping, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from net_spider_spark.model import FINDINGS_SCHEMA, LinkState
from net_spider_spark.timestamp import Timestamp, to_epoch_ms


@dataclass(frozen=True)
class FoundLink:
    """One neighbor-link observation (Found.hs:98-104)."""

    target_node: str
    link_state: Union[LinkState, str] = LinkState.TO_TARGET
    link_attrs: Mapping[str, str] = field(default_factory=dict)

    @property
    def state_value(self) -> str:
        return (
            self.link_state.value
            if isinstance(self.link_state, LinkState)
            else str(self.link_state)
        )


@dataclass(frozen=True)
class FoundNode:
    """One local finding (Found.hs:133-140)."""

    subject_node: str
    found_at: Union[Timestamp, int, str]
    neighbor_links: Sequence[FoundLink] = ()
    node_attrs: Mapping[str, str] = field(default_factory=dict)

    @property
    def epoch_ms(self) -> int:
        return to_epoch_ms(self.found_at)


def findings_to_df(
    spark: SparkSession,
    findings: Iterable[FoundNode],
    start_finding_id: int = 0,
) -> DataFrame:
    """Build a findings DataFrame from FoundNode values (vectorized ingest).

    ``finding_id`` is assigned in input order — it is the deterministic
    tie-breaker standing in for the reference's insertion order
    (Weaver.hs:77-88 resolves equal-timestamp findings by arrival).
    """
    rows = []
    for i, fn in enumerate(findings):
        ts = fn.found_at if isinstance(fn.found_at, Timestamp) else None
        rows.append(
            (
                start_finding_id + i,
                fn.subject_node,
                fn.epoch_ms,
                ts.tz_offset_min if ts else None,
                ts.tz_summer_only if ts else None,
                ts.tz_name if ts else None,
                # Empty attrs stay {} (reference: Just () vs Nothing —
                # "observed with no attributes" != "never observed").
                dict(fn.node_attrs),
                [
                    (fl.target_node, fl.state_value, dict(fl.link_attrs))
                    for fl in fn.neighbor_links
                ],
            )
        )
    return spark.createDataFrame(rows, FINDINGS_SCHEMA)


def explode_link_samples(findings_df: DataFrame) -> DataFrame:
    """findings -> link_samples (one row per FoundLink; Unify.hs:66-78).

    ``posexplode`` keeps the within-finding link position as a
    deterministic tie-breaker. This projection is the graph's edge
    stream; Catalyst prunes unselected columns down to the scan.
    """
    return findings_df.selectExpr(
        "finding_id",
        "subject_node",
        "found_at",
        "posexplode(neighbor_links) AS (link_pos, nl)",
    ).selectExpr(
        "finding_id",
        "CAST(link_pos AS INT) AS link_pos",
        "subject_node",
        "nl.target_node AS target_node",
        "nl.link_state AS link_state",
        "found_at",
        "nl.link_attrs AS link_attrs",
    )


# Swap-insensitive link identity (Pair.hs:17-30): the unordered endpoint
# pair, the shuffle key of link unification and of the latest-link folds.
PAIR_KEY = (
    "least(subject_node, target_node) AS p1",
    "greatest(subject_node, target_node) AS p2",
)


def pair_link_samples(findings_df: DataFrame) -> DataFrame:
    """:func:`explode_link_samples` plus the pair key ``(p1, p2)``."""
    return explode_link_samples(findings_df).selectExpr("*", *PAIR_KEY)


# ---------------------------------------------------------------------------
# JSON wire codecs (Found.hs:70-159; FIXTURES.md §4)
# ---------------------------------------------------------------------------

def _timestamp_to_json(epoch_ms: int, tz_offset_min=None, tz_summer_only=None, tz_name=None):
    # Reference wire format (Timestamp.hs:89-100): FLAT
    # tz_offset_min/tz_summer_only/tz_name fields beside epoch_time.
    out: dict = {"epoch_time": epoch_ms}
    if tz_offset_min is not None:
        out["tz_offset_min"] = tz_offset_min
        out["tz_summer_only"] = bool(tz_summer_only)
        out["tz_name"] = tz_name or ""
    return out


def found_node_to_json(fn: FoundNode) -> str:
    ts = fn.found_at if isinstance(fn.found_at, Timestamp) else None
    doc = {
        "subject_node": fn.subject_node,
        "found_at": _timestamp_to_json(
            fn.epoch_ms,
            ts.tz_offset_min if ts else None,
            ts.tz_summer_only if ts else None,
            ts.tz_name if ts else None,
        ),
        "node_attrs": dict(fn.node_attrs),
        "neighbor_links": [
            {
                "target_node": fl.target_node,
                "link_state": fl.state_value,
                "link_attrs": dict(fl.link_attrs),
            }
            for fl in fn.neighbor_links
        ],
    }
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


def found_node_from_json(text: str) -> FoundNode:
    doc = json.loads(text)
    fa = doc["found_at"]
    if isinstance(fa, dict):
        # Flat tz fields (Timestamp.hs:80-85); the pre-0.2 nested
        # {"time_zone": {...}} form is still accepted for old files.
        legacy = fa.get("time_zone") or {}
        ts = Timestamp(
            int(fa["epoch_time"]),
            fa.get("tz_offset_min", legacy.get("offset_min")),
            fa.get("tz_summer_only", legacy.get("summer_only")),
            fa.get("tz_name", legacy.get("name")),
        )
    elif isinstance(fa, str):
        # The reference FromJSON also parses ISO-8601 strings
        # (Timestamp.hs:74-79 via parseTimestamp).
        from net_spider_spark.timestamp import parse_timestamp

        ts = parse_timestamp(fa)
    else:
        ts = Timestamp(int(fa))
    return FoundNode(
        subject_node=str(doc["subject_node"]),
        found_at=ts,
        node_attrs=doc.get("node_attrs") or {},
        neighbor_links=[
            FoundLink(
                target_node=str(nl["target_node"]),
                link_state=nl["link_state"],
                link_attrs=nl.get("link_attrs") or {},
            )
            for nl in doc.get("neighbor_links") or []
        ],
    )
