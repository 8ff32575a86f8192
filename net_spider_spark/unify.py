"""Link-sample unification: merging the two endpoints' observations of
one physical link.

Parity target: ``net-spider/src/NetSpider/Unify.hs``.

The standard unifier (``unifyStd``, Unify.hs:169-193) is, relationally:

1. group link samples by swap-insensitive node pair (``Pair``,
   Pair.hs:17-30 — here ``least/greatest`` of the two node IDs) and a
   user-defined *link sub-ID* (``makeLinkSubId``) distinguishing
   parallel physical links;
2. merge each group to <= 1 sample — default: the latest by timestamp
   (``latestLinkSample``, Unify.hs:195-200) — expressed as a map-side
   combinable ``max_by`` aggregate, NOT a window sort;
3. drop the merged sample if either endpoint *negates* it
   (``defNegatesLinkSample``, Unify.hs:213-217: endpoint has a newer
   node timestamp and is not the sample's subject).

The default path is pure Catalyst expressions (whole-stage codegen).
A merge that depends only on each endpoint's latest sample, like the
attribute-type-changing MergedDIOLink merge
(net-spider-rpl/src/NetSpider/RPL/DIO.hs:230-279), is a
``merge_sides`` column expression over the two side-latest samples and
stays in Catalyst too; a custom ``merge_samples`` drops to
Arrow-batched ``applyInPandas`` per pair-group only for merges that
need the whole group.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# A sub-ID expression builder: receives nothing and returns a Column over
# the link-sample columns (subject_node, target_node, link_state, found_at,
# link_attrs). Must be swap-insensitive if it involves the endpoints.
SubIdExpr = Callable[[], Column]

# Winner transform: Column-level rewrite of the merged sample's attrs,
# given the merged sample columns are in scope.
WinnerTransform = Callable[[], dict[str, Column]]

# Custom negation: (endpoint_node_id, endpoint_node_ts, sample cols in
# scope) -> boolean Column; True kills the link.
NegatesExpr = Callable[[Column, Column], Column]

# Two-sided merge: (l, r) -> the merged sample. ``l``/``r`` are the
# latest samples (structs over snapshot._SAMPLE_COLS, ordered by
# (found_at, finding_id, link_pos)) observed by the pair's lesser
# endpoint p1 and by the other endpoint; either may be null. Returns a
# struct with the same fields.
MergeSidesExpr = Callable[[Column, Column], Column]


def default_negates(node_id: Column, node_ts: Column) -> Column:
    """``defNegatesLinkSample`` (Unify.hs:213-217): node has a timestamp,
    it is strictly newer than the link's, and the sample's subject is a
    different node (i.e. the node had a fresher observation and did not
    report this link)."""
    return (
        node_ts.isNotNull()
        & (F.col("found_at") < node_ts)
        & (F.col("subject_node") != node_id)
    )


def no_negation(node_id: Column, node_ts: Column) -> Column:
    return F.lit(False)


def sub_id_by_attrs(*attr_keys: str) -> SubIdExpr:
    """Swap-insensitive sub-ID from (endpoint, attr) pairs — the APorts
    pattern (``subIdWithAPorts``, net-spider/test/TestCommon.hs:100-105):
    ``Pair((subject, attrs[k1]), (target, attrs[k2]))`` sorted.

    With keys ("subject_port", "target_port"), two observations of the
    same physical link from opposite ends get the same sub-ID.
    """
    if len(attr_keys) != 2:
        raise ValueError("sub_id_by_attrs expects (subject_side_key, target_side_key)")
    k_sub, k_tgt = attr_keys

    def build() -> Column:
        a = F.struct(
            F.col("subject_node").alias("n"),
            F.col("link_attrs").getItem(k_sub).alias("p"),
        )
        b = F.struct(
            F.col("target_node").alias("n"),
            F.col("link_attrs").getItem(k_tgt).alias("p"),
        )
        return F.to_json(F.array_sort(F.array(a, b)))

    return build


def sub_id_by_subject() -> Column:
    """Sub-ID = the observing subject node (used by the reference's
    policy tests, ServerTest/Snapshot.hs:225): each endpoint's
    observations form their own physical link."""
    return F.col("subject_node")


def align_attrs_to_direction(*attr_keys: str) -> WinnerTransform:
    """``alignAPortsToLinkDirection`` (TestCommon.hs:109-115): when the
    winning sample's state is ``to_subject`` (so source/dest are swapped
    relative to subject/target), swap the two attribute values so they
    read as (source-side, dest-side)."""
    if len(attr_keys) != 2:
        raise ValueError("align_attrs_to_direction expects two attr keys")
    k1, k2 = attr_keys

    def build() -> dict[str, Column]:
        swapped = F.map_from_arrays(
            F.array(F.lit(k1), F.lit(k2)),
            F.array(F.col("link_attrs").getItem(k2), F.col("link_attrs").getItem(k1)),
        )
        return {
            "link_attrs": F.when(F.col("link_state") == "to_subject", swapped).otherwise(
                F.col("link_attrs")
            )
        }

    return build


@dataclass
class UnifyConfig:
    """Engine form of ``UnifyStdConfig`` (Unify.hs:127-157).

    ``sub_id``: expression builder partitioning a node-pair's samples
    into physical links (default: single group).
    ``merge_sides``: a Column-level merge of each endpoint's latest
    sample (``MergeSidesExpr``), run as one aggregate (pure SQL); it
    takes precedence over ``merge_samples``.
    ``merge_samples``: a pandas grouped-map function
    ``(pandas.DataFrame) -> pandas.DataFrame`` returning <= 1 row per
    group with ``merge_output_schema``. With neither, the merge is the
    latest-by-timestamp ``max_by`` (pure SQL).
    ``winner_transform``: Column rewrites applied to the merged sample
    (e.g. port alignment).
    ``negates``: negation predicate builder; ``default_negates`` or
    ``no_negation`` or custom.
    """

    sub_id: Optional[SubIdExpr] = None
    merge_sides: Optional[MergeSidesExpr] = None
    merge_samples: Optional[Callable] = None
    merge_output_schema: Optional[T.StructType] = None
    winner_transform: Optional[WinnerTransform] = None
    negates: NegatesExpr = field(default=default_negates)


def unify_to_one() -> UnifyConfig:
    """``unifyToOne`` (Unify.hs:112-113): at most one physical link per
    node pair; latest sample wins; default negation."""
    return UnifyConfig()


def unify_to_many(sub_id: SubIdExpr) -> UnifyConfig:
    """``unifyToMany`` (Unify.hs:119-124): partition by link sub-ID."""
    return UnifyConfig(sub_id=sub_id)
