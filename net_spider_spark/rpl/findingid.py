"""FindingID: the RPL layer's node-ID type.

Parity target: ``net-spider-rpl/src/NetSpider/RPL/FindingID.hs:81-102``
— node ID = finding type (dio|dao) x IPv6 address, rendered
``"dio://[fd00::1]"``. The engine keeps node IDs as strings, so the
rendered form IS the ID (the log parser renders it, ``rpl/contiki.py``);
the helper here strips it to the bare address (used by the Combined
layer, Combined.hs:43-48).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def address_of(col: Column) -> Column:
    """Bare IPv6 address from a FindingID column (``ipv6Only``)."""
    return F.regexp_extract(col, r"^(?:dio|dao)://\[([^\]]+)\]$", 1)

