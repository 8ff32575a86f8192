"""IPv6 helpers for the RPL layer.

Parity targets: ``net-spider-rpl/src/NetSpider/RPL/IPv6.hs`` (prefix /
interface-ID halves, link-local test) and the compact-address decoding
of ``net-spider-rpl/src/NetSpider/RPL/ContikiNG.hs:301-341``
(Contiki-NG's log compression prints neighbor addresses as ``6G-nnn``
node IDs or 4-hex-digit suffixes).

Addresses are 128-bit Python ints here and canonical RFC 5952 strings
everywhere else (stable, joinable). The log parser calls these scalar
functions once per address inside its per-file pass
(``rpl/contiki.py``), and the CLI uses them to canonicalize start
nodes; snapshot queries never touch them.

Grammar (the reference's log grammar, checked before any conversion):
a ``6G-`` body is exactly 3 ASCII decimal digits or 4 ASCII hex digits
(the prefix is case-sensitive, the hex is not), and a full address is
ASCII hex digits and colons only -- no zone ID and no dotted-quad IPv4
tail, which Python's ``ipaddress`` would otherwise accept.
"""

from __future__ import annotations

import ipaddress
import re
from typing import Optional

LINK_LOCAL_PREFIX = 0xFE80 >> 6  # top 10 bits fe80::/10

_COMPACT_RE = re.compile(r"6G-(?:([0-9]{3})|([0-9a-fA-F]{4}))")
_FULL_RE = re.compile(r"[0-9a-fA-F:]+")


def parse_ipv6(text: str) -> int:
    """Parse an IPv6 address (full or Contiki compact form) to a
    128-bit int; ValueError outside the module's grammar.

    Compact forms (``6G-`` prefix): 3 decimal digits = simulator node
    ID in the low 32 bits; 4 hex digits = low 16 bits
    (ContikiNG.hs:304-341).
    """
    text = text.strip()
    if text.startswith("6G-"):
        m = _COMPACT_RE.fullmatch(text)
        if m is None:
            raise ValueError(f"invalid compact address: {text!r}")
        if m.group(1) is not None:
            return int(m.group(1))  # fromWord32s 0 0 0 nid
        return int(m.group(2), 16)  # fromWord16s 0..0 addr
    if not _FULL_RE.fullmatch(text):
        raise ValueError(f"invalid IPv6 address: {text!r}")
    return int(ipaddress.IPv6Address(text))


def format_ipv6(value: int) -> str:
    """Canonical RFC 5952 text (lowercase, ``::`` compression)."""
    return ipaddress.IPv6Address(value).compressed


def is_link_local(value: int) -> bool:
    """``isLinkLocal``: top 10 bits == fe80::/10 (IPv6.hs:26-31)."""
    return (value >> 118) == LINK_LOCAL_PREFIX


def get_prefix(value: int) -> int:
    """High 64 bits (IPv6.hs:33-36)."""
    return value >> 64


def get_interface_id(value: int) -> int:
    """Low 64 bits (IPv6.hs:45-48)."""
    return value & ((1 << 64) - 1)


def set_prefix(prefix: int, value: int) -> int:
    """Replace the high 64 bits (IPv6.hs:38-43)."""
    return (prefix << 64) | get_interface_id(value)


def set_non_local_prefix(subject: int, neighbor: int) -> int:
    """Rewrite a link-local neighbor address with the subject's global
    prefix (``setNonLocalPrefix``, ContikiNG.hs:239-243): RPL logs
    print neighbors by their link-local address; the physical node's
    global address shares the interface ID."""
    if is_link_local(neighbor):
        return set_prefix(get_prefix(subject), neighbor)
    return neighbor


def canonical(text: str) -> Optional[str]:
    """Canonical text of an address, or None outside the grammar."""
    try:
        return format_ipv6(parse_ipv6(text))
    except ValueError:
        return None


def resolve_neighbor(subject_text: str, neighbor_text: str) -> Optional[str]:
    """Full neighbor resolution: parse (incl. compact), substitute the
    subject's prefix for link-local, canonicalize. None on bad input."""
    try:
        subject = parse_ipv6(subject_text)
        neighbor = parse_ipv6(neighbor_text)
    except ValueError:
        return None
    return format_ipv6(set_non_local_prefix(subject, neighbor))
