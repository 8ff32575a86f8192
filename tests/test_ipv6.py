"""Scalar IPv6 path of the RPL layer (rpl/ipv6.py): parse vs
`ipaddress`, RFC 5952 formatting, the compact ``6G-`` grammar, and the
shapes the log grammar rejects even where `ipaddress` accepts them."""

import ipaddress
import random

import pytest

from net_spider_spark.rpl import ipv6


def _random_addresses(rng, n, choices):
    out = []
    for _ in range(n):
        v = 0
        for _ in range(8):
            v = (v << 16) | rng.choice(choices())
        out.append(v)
    return out


def test_parse_matches_ipaddress():
    rng = random.Random(7)
    vals = _random_addresses(
        rng, 2000, lambda: [0, 0, 0, 1, 0xFE80, rng.randrange(1 << 16)]
    )
    addrs = [ipaddress.IPv6Address(v) for v in vals]
    texts = [a.compressed for a in addrs]
    texts += [a.exploded for a in addrs[:300]]  # uncompressed forms too
    texts += [a.compressed.upper() for a in addrs[:300]]  # hex is caseless
    texts += ["::", "::1", "fe80::1", "0:0:0:0:0:0:0:0", "2001:db8::", " ::1 "]
    for t in texts:
        assert ipv6.parse_ipv6(t) == int(ipaddress.IPv6Address(t.strip())), t

    assert ipv6.parse_ipv6("6G-042") == 42
    assert ipv6.parse_ipv6("6G-999") == 999
    assert ipv6.parse_ipv6("6G-a0f2") == 0xA0F2
    assert ipv6.parse_ipv6("6G-0000") == 0


@pytest.mark.parametrize(
    "text",
    [
        "", "garbage", "1:2:3", ":::1", "1::2::3", "12345::1",
        "1:2:3:4:5:6:7:8:9", ":1:2:3:4:5:6:7", "6G-12", "6G-abcde",
        # `int(body, 16)`, `str.isdigit` and `ipaddress` accept these;
        # the log grammar does not: a 6G- body is 3 ASCII decimal or 4
        # ASCII hex digits, and a full address has no zone ID and no
        # dotted-quad tail.
        "6G-0x1f", "6G-+a0f", "6G-a_0f", "6G-١٢٣",
        "fe80::1%eth0", "::ffff:1.2.3.4",
    ],
)
def test_invalid_shapes_are_rejected(text):
    with pytest.raises(ValueError):
        ipv6.parse_ipv6(text)
    assert ipv6.canonical(text) is None
    assert ipv6.resolve_neighbor("fd00::1", text) is None
    assert ipv6.resolve_neighbor(text, "fe80::1") is None


def test_format_is_rfc5952_canonical():
    rng = random.Random(3)
    vals = _random_addresses(rng, 2000, lambda: [0, 0, 0, rng.randrange(1 << 16)])
    vals += [0, 1, (1 << 128) - 1, 0xFE80 << 112, 1 << 64]
    for v in vals:
        text = ipv6.format_ipv6(v)
        assert text == ipaddress.IPv6Address(v).compressed, hex(v)
        assert ipv6.parse_ipv6(text) == v
    # longest zero run compressed, the leftmost on a tie, a lone zero
    # group never, lowercase, no leading zeros
    for text, want in [
        ("2001:0:0:1:0:0:0:1", "2001:0:0:1::1"),
        ("2001:db8:0:0:1:0:0:1", "2001:db8::1:0:0:1"),
        ("2001:db8:0:1:1:1:1:1", "2001:db8:0:1:1:1:1:1"),
        ("FD00:0000:0000:0000:0212:EEAA:0077:2F9C", "fd00::212:eeaa:77:2f9c"),
        ("0:0:0:0:0:0:0:0", "::"),
    ]:
        assert ipv6.canonical(text) == want


def test_high_bit_addresses_and_neighbor_resolution():
    # ff00::/8 sets the top bit of the high half; low bits stay exact.
    assert ipv6.canonical("ffff:ffff:ffff:ffff:ffff:ffff:ffff:fff7") == (
        "ffff:ffff:ffff:ffff:ffff:ffff:ffff:fff7"
    )
    assert ipv6.canonical("fd00::aaa:1:2:3") == "fd00::aaa:1:2:3"
    assert ipv6.canonical("not-an-address") is None
    pairs = [
        ("fd00::aaa:1:2:3", "fe80::bbb:4:5:6", "fd00::bbb:4:5:6"),  # link-local -> subject prefix
        ("fd00::aaa:1:2:3", "fd01::c:d:e:f", "fd01::c:d:e:f"),      # global stays
        ("fd00::aaa:1:2:3", "6G-042", "::2a"),                      # compact decimal node id 42
        ("ffff:ffff:ffff:ffff::1", "fe80::ffff:ffff:ffff:fff7",
         "ffff:ffff:ffff:ffff:ffff:ffff:ffff:fff7"),
        ("bad", "fe80::1", None),                                    # invalid subject
    ]
    for subject, neighbor, want in pairs:
        assert ipv6.resolve_neighbor(subject, neighbor) == want


def test_compact_prefix_case_sensitive():
    # "6G-" is case-sensitive in the reference grammar (P.string,
    # ContikiNG.hs:332-334); the hex body is not.
    assert ipv6.canonical("6g-042") is None
    assert ipv6.canonical("6G-042") == "::2a"
    assert ipv6.canonical("6g-a0f2") is None
    assert ipv6.canonical("6G-A0F2") == "::a0f2"
    assert ipv6.canonical("6G-101") == "::65"  # 3 digits: decimal
    assert ipv6.canonical("6G-0101") == "::101"  # 4 digits: hex
