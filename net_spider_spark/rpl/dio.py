"""RPL DIO typed layer: the shipped unifier that merges BOTH endpoints'
DIO observations of a link into one ``MergedDIOLink``-shaped sample.

Parity target: ``net-spider-rpl/src/NetSpider/RPL/DIO.hs``:

* ``NeighborType`` enum + ordering (DIO.hs:110-123): ``preferred_parent
  < parent_candidate < other_neighbor`` — "more parent-ish" compares
  smaller and wins the merge.
* ``dioLinkState`` (DIO.hs:205-209): a DIO link is ``to_target`` iff
  the neighbor is the preferred parent, else ``unused`` (dropped from
  the snapshot after unification).
* ``dioUnifierConf`` (DIO.hs:254-279): per physical link, take each
  endpoint's LATEST sample; the sample whose neighbor type is most
  parent-ish becomes the base (its subject/target/state/timestamp
  survive); attributes become ``source_``-prefixed winner attrs plus
  ``dest_``-prefixed loser attrs (``withKeyPrefix``, DIO.hs:238-243 +
  GraphML.ToAttributes MergedDIOLink, DIO.hs:281-288). Negation is
  disabled (``negatesLinkSample = \\_ _ -> False``).
* ``dioDefQuery`` (DIO.hs:246-252): default query wiring the unifier.

The merge is one ``merge_sides`` column expression over the two
endpoints' latest samples (``unify.UnifyConfig``), so the snapshot's
unify step is one Catalyst aggregate and the streaming view
(``streaming.ingest.stream_unified_link_per_pair``) applies the same
column to its two state slots.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from net_spider_spark.snapshot import Query
from net_spider_spark.unify import UnifyConfig, no_negation


def dio_link_state(neighbor_type: str) -> str:
    """``dioLinkState`` (DIO.hs:205-209)."""
    return "to_target" if neighbor_type == "preferred_parent" else "unused"


def _rank(side: Column) -> Column:
    """``NeighborType`` merge precedence (DIO.hs:110-123, derive Ord):
    the more parent-ish type compares smaller; a missing or unknown
    type ranks last."""
    nt = side["link_attrs"]["neighbor_type"]
    return F.coalesce(
        F.when(nt == "preferred_parent", 0)
        .when(nt == "parent_candidate", 1)
        .when(nt == "other_neighbor", 2),
        F.lit(3),
    )


def _prefixed(prefix: str, side: Column) -> Column:
    """``withKeyPrefix`` (DIO.hs:238-243). The map encoding writes
    absent ``Maybe`` fields as empty strings; drop those so the merged
    attrs mirror ``GraphML.toAttributes`` omitting Nothing metrics."""
    attrs = F.coalesce(side["link_attrs"], F.create_map().cast("map<string,string>"))
    kept = F.map_filter(attrs, lambda _, v: v.isNotNull() & (v != ""))
    return F.transform_keys(kept, lambda k, _: F.concat(F.lit(prefix), k))


def dio_merge_sides(l: Column, r: Column) -> Column:
    """``mergeSamples`` of ``dioUnifierConf`` (DIO.hs:254-279) over
    each endpoint's latest sample: ``l`` from the pair's lesser node ID
    (the order ``unifyStd`` sees endpoints in), ``r`` from the other.
    The more parent-ish side is the base; equal neighbor types keep
    ``l``, matching ``neighborType main_ll <= neighborType sub_ll``
    with main = left. Attrs become the base's ``source_``-prefixed
    attrs plus the other side's ``dest_``-prefixed ones."""
    swap = l.isNull() | (_rank(l) > _rank(r))
    main = F.when(swap, r).otherwise(l)
    other = F.when(swap, l).otherwise(r)
    return main.withField(
        "link_attrs",
        F.map_concat(_prefixed("source_", main), _prefixed("dest_", other)),
    )


def dio_unifier_conf() -> UnifyConfig:
    """``dioUnifierConf`` (DIO.hs:254-258)."""
    return UnifyConfig(merge_sides=dio_merge_sides, negates=no_negation)


def dio_def_query(starts_from=None, **kwargs) -> Query:
    """``dioDefQuery`` (DIO.hs:246-252): the default DIO snapshot query
    with the two-endpoint merge unifier. Extra keyword arguments pass
    through to :class:`Query` (interval, policy, max_hops, ...)."""
    return Query(starts_from=starts_from, unify=dio_unifier_conf(), **kwargs)
