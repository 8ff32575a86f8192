"""Pangraph-model export: the reference's alternate GraphML serializer.

Parity target: ``net-spider-pangraph/src/NetSpider/Pangraph.hs:60-141``
— snapshot elements convert to pangraph vertices/edges whose attributes
are (key, ByteString-value) pairs: node/link timestamps become a
``@timestamp`` attribute in ms decimal text (makeVertex/makeEdge), all
attribute values stringify, and edges are emitted subject->target. The
pangraph library then writes GraphML; here the conversion yields plain
DataFrames (vertex/edge tables) plus a writer reusing graphml.py, so
the "pangraph model" is inspectable and joinable instead of opaque.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from net_spider_spark.graphml import rows_of, write_file_atomically


def _empty_map():
    return F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )


def _show_bool(col) -> F.Column:
    # toAtom Bool is Haskell `show`: "True"/"False" (PangraphSpec.hs:38)
    return F.when(col, F.lit("True")).otherwise(F.lit("False"))


def _tz_attr_map(df: DataFrame):
    """``timestampAttributes``' tz tail (Pangraph.hs:60-69): emitted
    only when the frame carries a zone."""
    if "tz_offset_min" not in df.columns:
        return _empty_map()
    return F.when(
        F.col("tz_offset_min").isNotNull(),
        F.create_map(
            F.lit("@tz_offset_min"), F.col("tz_offset_min").cast("string"),
            F.lit("@tz_summer_only"), _show_bool(F.col("tz_summer_only")),
            F.lit("@tz_name"), F.coalesce(F.col("tz_name"), F.lit("")),
        ),
    ).otherwise(_empty_map())


def make_vertices(nodes: DataFrame) -> DataFrame:
    """``makeVertex`` (Pangraph.hs:75-88): (vertex_id, attributes) with
    ``@timestamp`` (+ tz attrs) when observed, ``@is_on_boundary``
    always, then the node attributes. Nodes without a timestamp get no
    @timestamp attribute."""
    base = F.when(
        F.col("node_ts").isNotNull(),
        F.map_concat(
            F.create_map(
                F.lit("@timestamp"), F.col("node_ts").cast("string")
            ),
            _tz_attr_map(nodes),
        ),
    ).otherwise(_empty_map())
    from net_spider_spark.model import INTERNAL_ATTR_KEYS

    public_attrs = F.map_filter(
        F.coalesce(F.col("node_attrs"), _empty_map()),
        # presence markers never render: `toAttributes (DAONode
        # Nothing) = []` (DAO.hs:71-75)
        lambda k, _: ~k.isin(*INTERNAL_ATTR_KEYS),
    )
    attrs = F.map_concat(
        base,
        F.create_map(
            F.lit("@is_on_boundary"), _show_bool(F.col("is_on_boundary"))
        ),
        public_attrs,
    )
    return nodes.select(
        F.col("node_id").alias("vertex_id"), attrs.alias("attributes")
    )


def make_edges(links: DataFrame) -> DataFrame:
    """``makeEdge`` (Pangraph.hs:90-103): (source, target, attributes)
    with ``@timestamp`` (+ tz attrs when carried), ``@is_directed``,
    then the link attributes."""
    attrs = F.map_concat(
        F.create_map(F.lit("@timestamp"), F.col("link_ts").cast("string")),
        _tz_attr_map(links),
        F.create_map(
            F.lit("@is_directed"), _show_bool(F.col("is_directed"))
        ),
        F.coalesce(F.col("link_attrs"), _empty_map()),
    )
    return links.select(
        F.col("source_node").alias("source"),
        F.col("dest_node").alias("target"),
        F.col("is_directed"),
        attrs.alias("attributes"),
    )


def _emit_pangraph(verts: DataFrame, edges: DataFrame, write, rows) -> None:
    """Two-pass emitter (same structure as ``graphml._emit_graphml``):
    pass 1 registers keys in first-seen order (O(keys) memory), pass 2
    writes elements through ``write``. ``rows(df)`` (from
    ``graphml.rows_of``) supplies the row iterable and is called once
    per pass per side."""
    keys: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()
    for domain, df in (("node", verts), ("edge", edges)):
        for row in rows(df):
            for k in row["attributes"]:
                dk = (domain, k)
                if dk not in seen:
                    seen.add(dk)
                    keys.append(dk)
    key_id = {dk: f"d{i}" for i, dk in enumerate(keys)}
    write('<?xml version="1.0" encoding="UTF-8"?>\n')
    write('<graphml xmlns="http://graphml.graphdrawing.org/xmlns">\n')
    for domain, name in keys:
        write(
            f'<key id="{key_id[(domain, name)]}" for="{domain}"'
            f' attr.name="{_esc(name)}" attr.type="string"/>\n'
        )
    write('<graph edgedefault="directed">\n')
    for row in rows(verts):
        write(f'  <node id="{_esc(row["vertex_id"])}">\n')
        for k in sorted(row["attributes"]):
            write(
                f'    <data key="{key_id[("node", k)]}">'
                f'{_esc(row["attributes"][k])}</data>\n'
            )
        write("  </node>\n")
    for row in rows(edges):
        write(
            f'  <edge source="{_esc(row["source"])}" target="{_esc(row["target"])}">\n'
        )
        for k in sorted(row["attributes"]):
            write(
                f'    <data key="{key_id[("edge", k)]}">'
                f'{_esc(row["attributes"][k])}</data>\n'
            )
        write("  </edge>\n")
    write("</graph>\n</graphml>\n")


def _write_pangraph_to(nodes: DataFrame, links: DataFrame, write) -> None:
    verts, edges = make_vertices(nodes), make_edges(links)
    with rows_of((verts, edges), "pangraph", sized=(nodes, links)) as rows:
        _emit_pangraph(verts, edges, write, rows)


def write_pangraph(nodes: DataFrame, links: DataFrame) -> str:
    """``writePangraph``: GraphML text via the pangraph-model tables.

    Attribute typing in this path is all-string (pangraph stores
    ByteStrings), unlike graphml.write_graphml's inferred types. Rows
    come from ``graphml.rows_of``: each side is collected once under
    the driver budget and streamed through ``toLocalIterator`` above
    it, with the same bytes either way. The vertex and edge tables
    project the inputs row for row, so the inputs' cache entries size
    the export: on inputs already built in the cache it runs two Spark
    jobs, the two collects."""
    import io

    buf = io.StringIO()
    _write_pangraph_to(nodes, links, buf.write)
    return buf.getvalue()


def write_pangraph_file(nodes: DataFrame, links: DataFrame, output_path: str) -> None:
    """:func:`write_pangraph` straight into ``output_path`` for exports
    too large for one driver string, through a temp file and rename
    (``graphml.write_file_atomically``) so a failure never leaves a
    truncated export."""
    write_file_atomically(
        output_path, lambda write: _write_pangraph_to(nodes, links, write)
    )


def _esc(text) -> str:
    return (
        str(text)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )
