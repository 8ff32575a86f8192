"""Timestamp model: epoch milliseconds plus an optional display timezone.

Parity target: ``net-spider/src/NetSpider/Timestamp.hs`` — the
reference timestamp is ``epochTime :: Int64`` (ms since the POSIX
epoch) plus ``Maybe TimeZone`` (offset-minutes, summer-only flag,
name), where ordering compares ``epochTime`` only (``Timestamp.hs:57-69``).

Spark's ``TimestampType`` is a UTC instant and cannot round-trip the
optional display-only zone, so the engine carries timestamps as
``found_at: LongType`` (epoch ms) with side columns ``tz_offset_min``
/ ``tz_summer_only`` / ``tz_name`` (see FIXTURES.md §1).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Optional


@dataclass(frozen=True)
class Timestamp:
    """Epoch milliseconds + optional display timezone."""

    epoch_ms: int
    tz_offset_min: Optional[int] = None
    tz_summer_only: Optional[bool] = None
    tz_name: Optional[str] = None

    def __lt__(self, other: "Timestamp") -> bool:
        # Ordering ignores the timezone, like the reference (Timestamp.hs:57-69).
        return self.epoch_ms < other.epoch_ms

    def __le__(self, other: "Timestamp") -> bool:
        return self.epoch_ms <= other.epoch_ms


# Relaxed ISO-8601-ish grammar (Timestamp.hs:247-321): date with -/./ or /
# separators, optional time separated by 'T' or space, optional seconds and
# fractional seconds, optional zone Z or +-HH[:]MM.
_TS_RE = re.compile(
    r"""^\s*
    (?P<y>\d{4})[-./](?P<mo>\d{1,2})[-./](?P<d>\d{1,2})
    (?:[T ]
       (?P<h>\d{1,2}):(?P<mi>\d{1,2})
       (?::(?P<s>\d{1,2})(?:\.(?P<frac>\d{1,9}))?)?
       (?P<zone>Z|[+-]\d{1,2}:?\d{2})?
    )?
    \s*$""",
    re.VERBOSE,
)


def parse_timestamp(text: str) -> Timestamp:
    """Parse a relaxed ISO-8601 string; mirrors ``fromS``/``parseTimestamp``.

    >>> parse_timestamp("2018-12-01T10:00").epoch_ms
    1543658400000
    >>> parse_timestamp("2018/12/01 10:00:30.123+09:00").tz_offset_min
    540
    """
    m = _TS_RE.match(text)
    if not m:
        raise ValueError(f"cannot parse timestamp: {text!r}")
    y, mo, d = int(m.group("y")), int(m.group("mo")), int(m.group("d"))
    h = int(m.group("h") or 0)
    mi = int(m.group("mi") or 0)
    s = int(m.group("s") or 0)
    frac = m.group("frac") or ""
    ms = int((frac + "000")[:3]) if frac else 0

    zone = m.group("zone")
    tz_offset_min: Optional[int] = None
    if zone == "Z":
        tz_offset_min = 0
    elif zone:
        sign = 1 if zone[0] == "+" else -1
        digits = zone[1:].replace(":", "")
        tz_offset_min = sign * (int(digits[:-2]) * 60 + int(digits[-2:]))

    base = datetime(y, mo, d, h, mi, s, tzinfo=timezone.utc)
    epoch_ms = int(base.timestamp() * 1000) + ms
    if tz_offset_min is not None:
        epoch_ms -= tz_offset_min * 60_000
        # zone name mirrors Data.Time's parser via the reference
        # (TimestampSpec.hs:23-27): a literal Z names the zone "UTC",
        # a numeric offset leaves the name empty.
        tz_name = "UTC" if zone == "Z" else ""
        return Timestamp(epoch_ms, tz_offset_min, False, tz_name)
    return Timestamp(epoch_ms)


def from_epoch_ms(ms: int) -> Timestamp:
    return Timestamp(int(ms))


def add_sec(ts: Timestamp, seconds: float) -> Timestamp:
    """``addSec`` (Timestamp.hs): shift by seconds, keep the zone."""
    return Timestamp(
        ts.epoch_ms + int(round(seconds * 1000)),
        ts.tz_offset_min,
        ts.tz_summer_only,
        ts.tz_name,
    )


def format_timestamp(ts: Timestamp) -> str:
    """Render as ISO-8601; with the display zone when present
    (``showTimestamp``, Timestamp.hs:120-151). Zone suffix branches on
    the zone NAME like the reference's ``formatZone``: an empty name
    renders the numeric offset (``+00:00`` included — what a literal
    ``+00:00`` input parses to), the exact UTC zone (name ``UTC``,
    offset 0, not summer-only) renders ``Z``, and any other named zone
    renders its name (``%Z``). Milliseconds always print."""
    if ts.tz_offset_min is not None:
        tz = timezone(timedelta(minutes=ts.tz_offset_min))
        dt = datetime.fromtimestamp(ts.epoch_ms / 1000.0, tz)
        base = dt.strftime("%Y-%m-%dT%H:%M:%S")
        base += f".{ts.epoch_ms % 1000:03d}"
        off = ts.tz_offset_min
        name = ts.tz_name or ""
        if name == "":
            sign = "+" if off >= 0 else "-"
            return f"{base}{sign}{abs(off) // 60:02d}:{abs(off) % 60:02d}"
        if name == "UTC" and off == 0 and not ts.tz_summer_only:
            return base + "Z"
        return base + name
    dt = datetime.fromtimestamp(ts.epoch_ms / 1000.0, timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{ts.epoch_ms % 1000:03d}"


def to_epoch_ms(value) -> int:
    """Coerce Timestamp | int epoch-ms | parseable str to epoch-ms."""
    if isinstance(value, Timestamp):
        return value.epoch_ms
    if isinstance(value, int):
        return value
    if isinstance(value, str):
        return parse_timestamp(value).epoch_ms
    raise TypeError(f"cannot interpret as timestamp: {value!r}")
