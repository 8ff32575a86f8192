"""net_spider_spark — a PySpark-native time-varying-graph analytics engine.

A from-scratch reimplementation of the query and data-processing
capabilities of debug-ito/net-spider (Haskell / Gremlin middleware for
time-varying graphs), re-expressed Spark-first:

* The *history graph* is an append-only ``findings`` DataFrame/Parquet
  table (the reference's property-graph encoding is a Gremlin storage
  artifact; ``net-spider/src/NetSpider/Weaver.hs:57-65`` proves a
  findings table keyed by subject node is the complete state).
* The *snapshot query* (reference ``NetSpider/Spider.hs:175-185`` /
  ``NetSpider/Weaver.hs:156-203``) is a pure DataFrame pipeline:
  time-filter -> found-node policy -> reachability -> link unification
  -> negation -> direction resolution.  No RDDs, no row-at-a-time UDFs
  on the default path.

Public API mirrors the reference surface (Query / get_snapshot /
Weaver / GraphML + JSON writers), plus the Parquet history store
(``ingest``), incremental latest-state folds (``incremental``) and the
Contiki-NG RPL log layer (``rpl``). Corpus operators outside the
snapshot engine (dedup, similarity search, text analysis) live in
``pipeline``.
"""

from net_spider_spark.model import (
    LinkState,
    FINDINGS_SCHEMA,
    LINK_SAMPLE_SCHEMA,
    SNAPSHOT_NODE_SCHEMA,
    SNAPSHOT_LINK_SCHEMA,
)
from net_spider_spark.timestamp import Timestamp, parse_timestamp, format_timestamp
from net_spider_spark.interval import Interval, NEG_INF, POS_INF
from net_spider_spark.findings import FoundNode, FoundLink, findings_to_df
from net_spider_spark.unify import UnifyConfig, unify_to_one, unify_to_many
from net_spider_spark.attributes import (
    typed_findings_schema,
    typed_findings_to_df,
)
from net_spider_spark.snapshot import (
    Query,
    get_snapshot,
    get_snapshot_logged,
    get_snapshot_simple,
    graph_timestamp,
    negate_and_resolve,
    snapshot_from_json,
    snapshot_to_json,
)
from net_spider_spark.weaver import Weaver
from net_spider_spark.graphml import to_node_id, write_graphml, write_graphml_file
from net_spider_spark.pangraph import write_pangraph, write_pangraph_file
from net_spider_spark.ingest import (
    clear_all,
    compact_history,
    read_findings,
    write_findings,
    write_findings_bucketed,
)
from net_spider_spark.incremental import (
    fold_latest_links,
    fold_latest_nodes,
    update_latest_state,
)

__all__ = [
    "LinkState",
    "FINDINGS_SCHEMA",
    "LINK_SAMPLE_SCHEMA",
    "SNAPSHOT_NODE_SCHEMA",
    "SNAPSHOT_LINK_SCHEMA",
    "Timestamp",
    "parse_timestamp",
    "format_timestamp",
    "Interval",
    "NEG_INF",
    "POS_INF",
    "FoundNode",
    "FoundLink",
    "findings_to_df",
    "UnifyConfig",
    "unify_to_one",
    "unify_to_many",
    "typed_findings_schema",
    "typed_findings_to_df",
    "Query",
    "get_snapshot",
    "get_snapshot_logged",
    "get_snapshot_simple",
    "graph_timestamp",
    "negate_and_resolve",
    "snapshot_from_json",
    "snapshot_to_json",
    "Weaver",
    "to_node_id",
    "write_graphml",
    "write_graphml_file",
    "write_pangraph",
    "write_pangraph_file",
    "clear_all",
    "compact_history",
    "read_findings",
    "write_findings",
    "write_findings_bucketed",
    "fold_latest_links",
    "fold_latest_nodes",
    "update_latest_state",
]

__version__ = "0.1.0"
