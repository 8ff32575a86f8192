"""GraphML serialization of a snapshot graph.

Parity target: ``net-spider/src/NetSpider/GraphML/Writer.hs:301-349``:
``<key>`` declarations collected across all elements (ids ``d0, d1,
...`` in first-seen order), per-node ``@timestamp``/``@tz_*``/
``@is_on_boundary`` data, per-edge explicit ``directed`` attribute,
``edgedefault`` option, XML escaping (Writer.hs:354-366). Attribute
typing follows the reference's typed scalars (GraphML/Attribute.hs:
29-35): per key the narrowest of boolean/long/double/string that fits
every observed value.

There is one writer, :func:`write_graphml_to`; :func:`write_graphml`
(a string) and :func:`write_graphml_file` (an atomic file) wrap it. It
makes two passes per side (keys, then elements) over rows from
:func:`rows_of`, which decides once per export from the driver budget
(``sizing.DRIVER_LOCAL_MAX_BYTES``) whether to collect each side once
or to stream it through ``toLocalIterator``. The decision reads the
sizes the Spark cache recorded while it built the persisted sides, so
it costs no job on sides that are already built. A snapshot graph is
the small end product of the query, so the collect is the usual path;
the stream keeps driver memory flat for snapshots that are not small.
"""

from __future__ import annotations

import io
import os
from contextlib import contextmanager
from typing import Iterable, Optional

from pyspark.sql import DataFrame


def haskell_show_real(x, single: bool = False) -> str:
    """Haskell's ``show`` for Double/Float (``nodeIDByShow``,
    GraphML/Writer.hs:73-74): shortest round-tripping digits, fixed
    notation for 0.1 <= |x| < 10^7, otherwise ``d.ddde±n`` scientific
    (no ``+`` sign, e.g. ``1.0e-2`` / ``1.2345678e7``). ``single``
    renders 32-bit float semantics (shortest digits for the float32
    value, like ``show (x :: Float)``)."""
    import math

    if x is None:
        return None
    x = float(x)
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "-Infinity" if x < 0 else "Infinity"
    if x == 0.0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    neg = x < 0
    a = abs(x)
    if single:
        import numpy as np

        rep = np.format_float_scientific(
            np.float32(a), unique=True, trim="-"
        )
    else:
        rep = repr(a)
    # shortest digits D and exponent E with value == 0.D * 10^E
    mant, _, e_part = rep.partition("e")
    e = int(e_part) if e_part else 0
    ip, _, fp = mant.partition(".")
    alldig = ip + fp
    stripped = alldig.lstrip("0")
    exp10 = len(ip) + e - (len(alldig) - len(stripped))
    digits = stripped.rstrip("0") or "0"
    if 0.1 <= a < 1e7:
        if exp10 >= len(digits):
            whole, frac = digits + "0" * (exp10 - len(digits)), ""
        elif exp10 > 0:
            whole, frac = digits[:exp10], digits[exp10:]
        else:
            whole, frac = "", "0" * (-exp10) + digits
        body = (whole or "0") + "." + (frac or "0")
    else:
        body = digits[0] + "." + (digits[1:] or "0") + "e" + str(exp10 - 1)
    return ("-" if neg else "") + body


def to_node_id(df: DataFrame, column: str):
    """``ToNodeID`` (GraphML/Writer.hs:66-124): adapt a typed node-ID
    column to the GraphML NodeID text the reference renders — identity
    for strings, decimal for the integral instances (``nodeIDByShow``),
    lowercase ``true``/``false`` for Bool (its special instance, NOT
    Haskell ``show``), and Haskell-``show`` notation for Float/Double.
    Returns a string Column; apply before ``write_graphml`` when node
    IDs are not already strings."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dtype = df.schema[column].dataType
    col = F.col(column)
    if isinstance(dtype, T.StringType):
        return col
    if isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return col.cast("string")
    if isinstance(dtype, T.BooleanType):
        return (
            F.when(col.isNull(), F.lit(None).cast("string"))
            .when(col, "true")
            .otherwise("false")
        )
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        single = isinstance(dtype, T.FloatType)

        @F.pandas_udf(T.StringType())
        def show_real(v):
            return v.map(lambda x: haskell_show_real(x, single=single))

        # null propagates (a null double arrives in pandas as NaN,
        # indistinguishable from a real NaN value — gate on the Column)
        return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
            show_real(col)
        )
    raise TypeError(
        f"no ToNodeID rendering for column {column!r} of type {dtype}"
    )


def _escape(text: str) -> str:
    out = []
    for c in str(text):
        if c == "&":
            out.append("&amp;")
        elif c == "<":
            out.append("&lt;")
        elif c == ">":
            out.append("&gt;")
        elif c == '"':
            out.append("&quot;")
        elif c == "'":
            out.append("&apos;")
        elif c == "\n":
            out.append("&#x0a;")
        elif c == "\r":
            out.append("&#x0d;")
        else:
            out.append(c)
    return "".join(out)


def _narrow(possible: set, v: str) -> set:
    """Intersect a running type-possibility set with the types one
    value satisfies."""
    if not possible:
        return possible
    sat = set()
    if v in ("true", "false"):
        sat.add("boolean")
    try:
        int(v)
        sat.add("long")
    except ValueError:
        pass
    try:
        float(v)
        sat.add("double")
    except ValueError:
        pass
    return possible & sat


def _pick(possible: set) -> str:
    for t in ("boolean", "long", "double"):
        if t in possible:
            return t
    return "string"


def _infer_type(values: Iterable[str]) -> str:
    """Narrowest GraphML attr.type valid for EVERY value: the running
    set of types each value satisfies is intersected, so mixed inputs
    like ["true", "5"] fall back to string instead of declaring a type
    one of the data values violates."""
    possible = {"boolean", "long", "double"}
    for v in values:
        if v is not None:
            possible = _narrow(possible, v)
    return _pick(possible)


class _KeyStore:
    """First-seen-ordered key registry (Writer.hs:207-246). Holds only
    the per-key type-possibility set, never the values — O(keys)
    driver memory however many elements stream through."""

    def __init__(self) -> None:
        self._order: list[tuple[str, str]] = []  # (domain, name)
        self._index: dict[tuple[str, str], int] = {}
        self._possible: dict[tuple[str, str], set] = {}

    def add(self, domain: str, name: str, value) -> None:
        key = (domain, name)
        if key not in self._index:
            self._index[key] = len(self._order)
            self._order.append(key)
            self._possible[key] = {"boolean", "long", "double"}
        if value is not None:
            self._possible[key] = _narrow(self._possible[key], str(value))

    def key_id(self, domain: str, name: str) -> str:
        return f"d{self._index[(domain, name)]}"

    def declarations(
        self,
        forced_types: dict[str, str],
        schema_types: Optional[dict[tuple[str, str], str]] = None,
    ) -> str:
        """``forced_types``: engine meta-keys (both domains);
        ``schema_types``: per-(domain, name) types read from struct
        attr schemas — authoritative, no data inference needed."""
        out = []
        for domain, name in self._order:
            atype = (
                forced_types.get(name)
                or (schema_types or {}).get((domain, name))
                or _pick(self._possible[(domain, name)])
            )
            out.append(
                f'<key id="{self.key_id(domain, name)}" for="{domain}"'
                f' attr.name="{_escape(name)}" attr.type="{atype}"/>\n'
            )
        return "".join(out)


_FORCED_TYPES = {
    "@timestamp": "long",
    "@timestamp_str": "string",
    "@tz_offset_min": "int",
    "@tz_summer_only": "boolean",
    "@tz_name": "string",
    "@is_on_boundary": "boolean",
}


def _bool_str(v) -> str:
    return "true" if v else "false"


def _attr_items(value) -> list[tuple[str, str]]:
    """Attr column cell -> sorted (key, formatted-string) pairs.
    Accepts a map (dict) or a struct (Row); a None field in a struct is
    ``Maybe`` Nothing — omitted, matching the reference's toAttributes
    dropping Nothing fields (e.g. DIO.hs:215-222)."""
    from net_spider_spark.model import INTERNAL_ATTR_KEYS

    if value is None:
        return []
    if hasattr(value, "asDict"):
        # struct attrs: keep schema field order, like the reference's
        # per-type toAttributes ordering (WriterSpec.hs:180-220 goldens)
        d = value.asDict()
        keys = list(d)
    else:
        d = dict(value)
        keys = sorted(d)
    out = []
    for k in keys:
        v = d[k]
        if v is None or k in INTERNAL_ATTR_KEYS:
            # presence markers never render: `toAttributes (DAONode
            # Nothing) = []` (DAO.hs:71-75)
            continue
        if isinstance(v, bool):
            v = _bool_str(v)
        out.append((k, str(v)))
    return out


def _ts_str(epoch_ms, row, fields) -> str:
    # @timestamp_str: the reference's ISO rendering of the element
    # timestamp (Timestamp.hs:105-111 ToAttributes -> showTimestamp),
    # in the display zone when the row carries one.
    from net_spider_spark.timestamp import Timestamp, format_timestamp

    tz_off = row["tz_offset_min"] if "tz_offset_min" in fields else None
    return format_timestamp(
        Timestamp(
            int(epoch_ms),
            tz_off,
            row["tz_summer_only"] if tz_off is not None else None,
            row["tz_name"] if tz_off is not None else None,
        )
    )


def _tz_items(row, fields) -> list[tuple[str, str]]:
    # tz meta-properties ride with the timestamp
    # (GraphML/Writer.hs:252-259 / Graph/Internal.hs:84-98); an empty
    # tz name still emits (as an empty <data>), matching the
    # reference's golden output (WriterSpec.hs:129).
    if "tz_offset_min" not in fields or row["tz_offset_min"] is None:
        return []
    data = [
        ("@tz_offset_min", str(row["tz_offset_min"])),
        ("@tz_summer_only", _bool_str(bool(row["tz_summer_only"]))),
    ]
    if "tz_name" in fields and row["tz_name"] is not None:
        data.append(("@tz_name", row["tz_name"]))
    return data


def _node_data(row) -> list[tuple[str, str]]:
    data = []
    fields = row.__fields__
    if row["node_ts"] is not None:
        data.append(("@timestamp", str(row["node_ts"])))
        data.append(("@timestamp_str", _ts_str(row["node_ts"], row, fields)))
        data.extend(_tz_items(row, fields))
    data.append(("@is_on_boundary", _bool_str(row["is_on_boundary"])))
    data.extend(_attr_items(row["node_attrs"]))
    return data


def _link_data(row) -> list[tuple[str, str]]:
    fields = row.__fields__
    data = [
        ("@timestamp", str(row["link_ts"])),
        ("@timestamp_str", _ts_str(row["link_ts"], row, fields)),
    ]
    # The engine's SNAPSHOT_LINK_SCHEMA carries no zone, but the
    # reference's SnapshotLink timestamp can (WriterSpec.hs:136-141);
    # an extended links frame with tz columns round-trips them.
    data.extend(_tz_items(row, fields))
    data.extend(_attr_items(row["link_attrs"]))
    return data


def _emit_graphml(nodes, links, write, rows, default_directed: bool) -> None:
    """Two-pass emitter: pass 1 registers keys (first-seen order +
    incremental type narrowing, O(keys) memory), pass 2 writes elements
    through ``write``. ``rows(df)`` (from :func:`rows_of`) supplies the
    row iterable and is called once per pass per side."""
    from net_spider_spark.attributes import struct_attr_types

    schema_types: dict[tuple[str, str], str] = {}
    for domain, df, col in (
        ("node", nodes, "node_attrs"),
        ("edge", links, "link_attrs"),
    ):
        declared = struct_attr_types(df, col)
        if declared:
            schema_types.update({(domain, k): t for k, t in declared.items()})

    store = _KeyStore()
    for row in rows(nodes):
        for k, v in _node_data(row):
            store.add("node", k, v)
    for row in rows(links):
        for k, v in _link_data(row):
            store.add("edge", k, v)

    write('<?xml version="1.0" encoding="UTF-8"?>\n')
    write('<graphml xmlns="http://graphml.graphdrawing.org/xmlns"\n')
    write(' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"\n')
    write(
        ' xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns'
        ' http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd">\n'
    )
    write(store.declarations(_FORCED_TYPES, schema_types))
    write(
        f'<graph edgedefault="{"directed" if default_directed else "undirected"}">\n'
    )
    for row in rows(nodes):
        write(f'  <node id="{_escape(row["node_id"])}">\n')
        for k, v in _node_data(row):
            write(
                f'    <data key="{store.key_id("node", k)}">{_escape(v)}</data>\n'
            )
        write("  </node>\n")
    for row in rows(links):
        write(
            f'  <edge source="{_escape(row["source_node"])}"'
            f' target="{_escape(row["dest_node"])}"'
            f' directed="{_bool_str(row["is_directed"])}">\n'
        )
        for k, v in _link_data(row):
            write(
                f'    <data key="{store.key_id("edge", k)}">{_escape(v)}</data>\n'
            )
        write("  </edge>\n")
    write("</graph>\n</graphml>\n")


@contextmanager
def rows_of(frames, tag: str, sized=None):
    """Row source shared by the GraphML and pangraph emitters: yields
    ``rows(df)``, the rows of one of ``frames`` in partition order,
    for as many passes as the emitter makes.

    The path is decided once, by :func:`sizing.frames_fit` over the
    ``sized`` frames (default ``frames``; the pangraph writer passes
    the inputs its vertex and edge tables project row for row) with
    one ``DECISION_LOG`` entry tagged ``tag``. It reads the row counts
    and byte sizes of their cache entries: no job when every frame is
    already built, one job that builds the rest otherwise. Under the
    driver budget each frame is collected once and
    every pass reads those rows. Above it every pass streams through
    ``toLocalIterator``, so driver memory stays at one partition plus
    the emitter's key registry.

    Unpersisted ``sized`` frames are persisted for the duration (and
    unpersisted after), so the sizing step builds them once; on the
    streamed path so are unpersisted ``frames``, so that with a
    nondeterministic upstream (shuffle/sample) every pass reads the
    same rows and the element pass never meets a key the key pass did
    not register."""
    from pyspark import StorageLevel

    from net_spider_spark import sizing

    sized = frames if sized is None else sized
    persisted = []

    def persist(dfs) -> None:
        for df in dfs:
            if df.storageLevel == StorageLevel.NONE:
                df.persist()
                persisted.append(df)

    try:
        persist(sized)
        if sizing.frames_fit(sized, tag=tag):
            collected = {id(df): df.collect() for df in frames}
            yield lambda df: collected[id(df)]
        else:
            persist(frames)
            yield lambda df: df.toLocalIterator()
    finally:
        # reverse order: unpersisting a sized frame first would re-plan
        # the cache of a frame that projects it
        for df in reversed(persisted):
            df.unpersist()


def write_graphml_to(
    nodes: DataFrame,
    links: DataFrame,
    write,
    default_directed: bool = True,
) -> None:
    """Serialize (snapshot_nodes, snapshot_links) DataFrames as one
    GraphML document (``writeGraphMLWith``) to any ``write(str)``
    callable: a file, ``sys.stdout.write``, a socket, a buffer.
    Struct-typed attr columns declare their ``attr.type`` straight from
    the schema (typed scalars, GraphML/Attribute.hs:29-35); map attrs
    fall back to inference.

    This is the one writer. :func:`rows_of` picks its path: a snapshot
    under the driver budget costs one collect per side (two Spark jobs
    on inputs already built in the cache, plus one job that builds
    them otherwise); a larger one streams twice per side through
    ``toLocalIterator``, one job per partition each time. Both paths
    read rows in partition order, so the bytes are the same."""
    with rows_of((nodes, links), "graphml") as rows:
        _emit_graphml(nodes, links, write, rows, default_directed)


def write_graphml(
    nodes: DataFrame,
    links: DataFrame,
    default_directed: bool = True,
) -> str:
    """:func:`write_graphml_to` into a string. The string itself is
    driver-sized; for snapshots where even the document does not fit,
    use :func:`write_graphml_file`."""
    buf = io.StringIO()
    write_graphml_to(nodes, links, buf.write, default_directed)
    return buf.getvalue()


def write_file_atomically(output_path: str, emit) -> None:
    """Run ``emit(write)`` into a sibling temp file and rename it to
    ``output_path``, so a failure mid-document never leaves a truncated
    file at ``output_path``."""
    tmp = output_path + ".tmp"
    try:
        with open(tmp, "w", encoding="utf-8") as f:
            emit(f.write)
        os.replace(tmp, output_path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def write_graphml_file(
    nodes: DataFrame,
    links: DataFrame,
    output_path: str,
    default_directed: bool = True,
) -> None:
    """:func:`write_graphml_to` into ``output_path`` (atomically). This
    is how to export snapshots too large for one driver string
    (reference S10 is inherently driver-side single-document output;
    this is the scale-respecting extension)."""
    write_file_atomically(
        output_path,
        lambda write: write_graphml_to(nodes, links, write, default_directed),
    )
