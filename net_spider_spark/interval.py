"""Time intervals with open/closed/infinite endpoints.

Parity target: ``net-spider/src/NetSpider/Interval.hs`` — intervals
over ``Timestamp`` with ``Extended`` bounds (``NegInf | Finite a |
PosInf``) and per-end inclusivity, plus the textual builders with
``i``/``x`` inclusivity prefixes and ``±inf`` (``Interval.hs:77-185``).

The engine compiles an interval straight into a Catalyst predicate on
the ``found_at`` epoch-ms column — the reference hand-pushes the same
range predicate into its Gremlin traversal
(``NetSpider/Spider/Internal/Graph.hs:157-172``); here predicate
pushdown + Parquet partition pruning come from Catalyst for free.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from net_spider_spark.timestamp import Timestamp, to_epoch_ms


class _NegInf:
    def __repr__(self) -> str:
        return "-inf"


class _PosInf:
    def __repr__(self) -> str:
        return "+inf"


NEG_INF = _NegInf()
POS_INF = _PosInf()

BoundValue = Union[_NegInf, _PosInf, Timestamp, int, str]


@dataclass(frozen=True)
class Interval:
    """``Interval Timestamp`` with inclusive/exclusive finite ends."""

    lower: BoundValue = NEG_INF
    upper: BoundValue = POS_INF
    lower_inclusive: bool = True
    upper_inclusive: bool = True

    @staticmethod
    def always() -> "Interval":
        """The whole universe (default query interval, Query.hs:64)."""
        return Interval()

    @staticmethod
    def sec_up_to(upper, seconds: float) -> "Interval":
        """``secUpTo``: interval of given length ending (inclusive) at upper."""
        hi = to_epoch_ms(upper)
        return Interval(hi - int(seconds * 1000), hi, True, True)

    @staticmethod
    def since(lower, inclusive: bool = True) -> "Interval":
        return Interval(lower, POS_INF, inclusive, True)

    @staticmethod
    def until(upper, inclusive: bool = True) -> "Interval":
        return Interval(NEG_INF, upper, True, inclusive)

    @staticmethod
    def empty() -> "Interval":
        """Interval containing no timestamp (``Interval.empty`` — what
        ``secSince``/``secUntil`` return for infinite anchors)."""
        return Interval(0, 0, False, False)

    @staticmethod
    def sec_since(lower, seconds: float, inclusive: bool = True) -> "Interval":
        """``secSince`` (Interval.hs:148-165): length-``seconds``
        interval from ``lower``. The far end's inclusivity is the
        NEGATION of the anchor's — an inclusive start yields
        ``[lo, lo+s)`` so back-to-back windows tile without overlap.
        Infinite anchors yield the empty interval."""
        if isinstance(lower, (_NegInf, _PosInf)):
            return Interval.empty()
        lo = to_epoch_ms(lower)
        return Interval(lo, lo + int(seconds * 1000), inclusive, not inclusive)

    @staticmethod
    def sec_until(upper, seconds: float, inclusive: bool = True) -> "Interval":
        """``secUntil`` (Interval.hs:167-184): length-``seconds``
        interval up to ``upper``; the start's inclusivity is the
        negation of the anchor's (``(hi-s, hi]`` by default). NOT an
        alias of ``sec_up_to``, which is inclusive on both ends."""
        if isinstance(upper, (_NegInf, _PosInf)):
            return Interval.empty()
        hi = to_epoch_ms(upper)
        return Interval(hi - int(seconds * 1000), hi, not inclusive, inclusive)

    @staticmethod
    def parse_end(text: str):
        """Parse one interval end: optional ``i``/``x`` inclusivity prefix +
        (timestamp | ``+inf`` | ``-inf``)  (``parseIntervalEnd``,
        Interval.hs:108-136). Returns (value, inclusive)."""
        inclusive = True
        body = text
        if text[:1] == "i":
            body = text[1:]
        elif text[:1] == "x":
            inclusive = False
            body = text[1:]
        if body in ("+inf", "inf"):
            return POS_INF, inclusive
        if body == "-inf":
            return NEG_INF, inclusive
        return to_epoch_ms(body), inclusive

    def predicate(self, col: Optional[Column] = None) -> Column:
        """Compile to a Catalyst boolean Column over epoch-ms ``found_at``."""
        c = col if col is not None else F.col("found_at")
        pred = F.lit(True)
        if not isinstance(self.lower, _NegInf):
            lo = F.lit(to_epoch_ms(self.lower))
            pred = pred & (c >= lo if self.lower_inclusive else c > lo)
        if not isinstance(self.upper, _PosInf):
            hi = F.lit(to_epoch_ms(self.upper))
            pred = pred & (c <= hi if self.upper_inclusive else c < hi)
        return pred

    def contains(self, value) -> bool:
        v = to_epoch_ms(value)
        if not isinstance(self.lower, _NegInf):
            lo = to_epoch_ms(self.lower)
            if v < lo or (v == lo and not self.lower_inclusive):
                return False
        if not isinstance(self.upper, _PosInf):
            hi = to_epoch_ms(self.upper)
            if v > hi or (v == hi and not self.upper_inclusive):
                return False
        return True
