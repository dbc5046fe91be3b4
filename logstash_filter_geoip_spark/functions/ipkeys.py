"""IP key encoding: dotted-quad <-> uint32 Column expressions, CIDR range
expansion, /16 bucket replication, and the IPv6 128-bit (hi, lo) pandas UDFs.

Design (SURVEY.md §2.3 J1, §7.5): the reference's longest-prefix-match mmdb
trie walk (GeoIPFilter.java:173-197) becomes a broadcast *bucketed* range
join. CIDRs expand to disjoint inclusive [net_start, net_end] uint32 ranges;
each dimension row is replicated once per /16 bucket it covers, so the probe
side joins on an equi-key (ip_u32 >> 16) and Catalyst plans a
BroadcastHashJoin instead of a BroadcastNestedLoopJoin. All hot-path
expressions are built-in Column functions (whole-stage codegen); the only
Python is Arrow-vectorized.

IPv6 literals are parsed in exactly one place, `_v6_keys`, inside the one
Arrow key UDF `ipv6_key_lpm_udf` (with a range index on enrich's index leg,
parse-only with `None` on the bucket leg and with no v6 dim). It hands
every textual form to `ipaddress`, as the reference hands every form to
InetAddress.getByName (GeoIPFilter.java:172).
"""

from __future__ import annotations

import ipaddress
from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_BITS = 16
BUCKET_SIZE = 1 << BUCKET_BITS  # 65536


def ipv4_to_uint32(ip: Column) -> Column:
    """Dotted-quad string -> uint32 as LongType; null for invalid octets.

    Pure Column arithmetic (no UDF). Assumes `ip` matches the IPv4 regex
    (digits and dots only) — octet range is validated here, so '999.0.0.1'
    yields null (the reference's InetAddress parse failure,
    GeoIPFilter.java:172,198-199).
    """
    parts = F.split(ip, r"\.")
    # F.get (not getItem): under ANSI, getItem throws on short arrays —
    # '1.2.3' must yield null, not an exception (found by property test).
    # try_cast: ANSI cast throws on non-numeric segments ('a.b.c.d').
    octets = [F.get(parts, i).try_cast("long") for i in range(4)]
    valid = (F.size(parts) == 4)
    for o in octets:
        valid = valid & o.isNotNull() & (o >= 0) & (o <= 255)
    value = (octets[0] * F.lit(16777216) + octets[1] * F.lit(65536)
             + octets[2] * F.lit(256) + octets[3])
    return F.when(ip.isNotNull() & valid, value)


def uint32_to_ipv4(u: Column) -> Column:
    """uint32 -> canonical dotted-quad string (F5 normalization,
    GeoIPFilter.java:296 — `ipAddress.getHostAddress()`)."""
    return F.concat_ws(
        ".",
        (u / F.lit(16777216)).cast("long") % 256,
        (u / F.lit(65536)).cast("long") % 256,
        (u / F.lit(256)).cast("long") % 256,
        u % 256,
    )


def bucket_of(ip_u32: Column) -> Column:
    """Fixed-prefix bucket for the equi-join key: ip_u32 >> 16."""
    return F.shiftrightunsigned(ip_u32.cast("long"), BUCKET_BITS)


def cidr_to_range(network: str) -> tuple[int, int]:
    """'12.81.92.0/22' -> inclusive (net_start, net_end) uint32 bounds.

    Driver-side dimension prep (runs once over thousands-of-rows dim data,
    never on the fact table)."""
    net = ipaddress.ip_network(network, strict=False)
    if net.version != 4:
        raise ValueError(f"ipv4 CIDR expected, got {network}")
    return int(net.network_address), int(net.broadcast_address)


def _u64_to_signed(v: int) -> int:
    """Unsigned 64-bit → signed long with flipped sign bit, so signed
    ordering matches unsigned (same transform as _v6_keys)."""
    return (v & 0xFFFFFFFFFFFFFFFF) - (1 << 63)


def cidr_v6_to_range(network: str) -> tuple[int, int, int, int]:
    """IPv6 CIDR -> (start_hi, start_lo, end_hi, end_lo) signed-64 pairs,
    lexicographically comparable against ipv6_key_lpm_udf keys."""
    net = ipaddress.ip_network(network, strict=False)
    if net.version != 6:
        raise ValueError(f"ipv6 CIDR expected, got {network}")
    s, e = int(net.network_address), int(net.broadcast_address)
    return (_u64_to_signed(s >> 64), _u64_to_signed(s),
            _u64_to_signed(e >> 64), _u64_to_signed(e))


def explode_buckets(dim):
    """Replicate each dimension row once per /16 bucket its range covers.

    A /8 covers 256 buckets; a /24 covers 1. Ranges are disjoint (mmdb trie
    property after expansion), so a probe-side IP matches at most one row.
    """
    return dim.withColumn(
        "prefix_bucket",
        F.explode(F.sequence(
            F.shiftrightunsigned(F.col("net_start"), BUCKET_BITS),
            F.shiftrightunsigned(F.col("net_end"), BUCKET_BITS),
        )),
    )


def _v6_keys(ip: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one IPv6 literal parser: (hi, lo, ok) int64/int64/bool arrays.

    `ipaddress` accepts exactly Java InetAddress's textual grammar: '::'
    compression, embedded dotted quads ('::ffff:1.2.3.4', NAT64,
    uncompressed), mapped spellings — and rejects the same malformed forms
    (leading-zero octets included). 128-bit keys don't fit LongType
    (SURVEY.md §7.4.3), so each address splits into two longs with the sign
    bit flipped: signed (hi, lo) order == unsigned 128-bit order. Where
    `ok` is False (invalid literal, None) hi/lo hold 0 and must be masked.
    """
    n = len(ip)
    hi = np.zeros(n, np.int64)
    lo = np.zeros(n, np.int64)
    ok = np.zeros(n, bool)
    for i, v in enumerate(ip):
        try:
            x = int(ipaddress.IPv6Address(v))
            hi[i] = ((x >> 64) & 0xFFFFFFFFFFFFFFFF) - (1 << 63)
            lo[i] = (x & 0xFFFFFFFFFFFFFFFF) - (1 << 63)
            ok[i] = True
        except (ipaddress.AddressValueError, ValueError, TypeError):
            pass
    return hi, lo, ok


# the index of no ranges, in the broadcast's shape: ipv6_key_lpm_udf(None)
# parses only
_NO_RANGES = SimpleNamespace(value={
    k: np.zeros(0, np.int64)
    for k in ("start_hi", "start_lo", "end_hi", "end_lo")})


def ipv6_key_lpm_udf(bc):
    """Factory: Arrow UDF that parses an IPv6 literal into the (hi, lo)
    signed-64 key AND resolves its longest-prefix-match dimension row index
    in the same vectorized pass — the v6 ``index`` lookup mode of
    ``operators.enrich.enrich`` (the scale path for DENSE dims).

    Why: the bucketed range join's probe cost is linear in rows-per-bucket.
    The vendored test .mmdb dims already put 200 (City) to 1,914 (ISP) rows
    in one hi-word /16 bucket — every probe in that hextet evaluates that
    many (hi, lo) residuals inside the BroadcastHashJoin; a full production
    GeoLite2 (millions of networks) makes the hot-bucket scan the dominant
    enrich cost. Here the match is a binary search (np.searchsorted,
    O(log n)) over the broadcast sorted range arrays, inside the
    ArrowEvalPython barrier the plan already pays for key parsing — the
    join then probes on the exact row index (tiny non-replicated build
    side, zero residual). This is the honest Spark form of the reference's
    RAM-resident mmdb binary tree (GeoIPFilter.java:173-197: every worker
    walks an in-memory trie).

    ``bc`` is a SparkContext.broadcast of dict(start_hi, start_lo, end_hi,
    end_lo) int64 numpy arrays sorted lexicographically by (start_hi,
    start_lo) — the sign-flipped encoding (_v6_keys') makes signed
    int64 order == unsigned 128-bit order, so numpy comparisons are exact.
    ``bc=None`` is the parse-only form (the bucket leg, and a v6-capable
    source with no v6 dim): the (hi, lo) key alone, every dim_idx NULL.
    Ranges must be DISJOINT (the mmdb trie property; validate_dim enforces
    well-formedness) — LPM then reduces to "last start <= probe, probe <=
    its end". The back-walk over equal-``hi`` starts is vectorized and
    bounded by the largest same-hi group (ranges narrower than /64 sharing
    a hi word — rare in real files). Invalid literals and non-matches
    yield NULL dim_idx (a NULL equi-key never matches in the hash join).
    """
    if bc is None:
        bc = _NO_RANGES

    @F.pandas_udf(T.StructType([
        T.StructField("ip_hi", T.LongType()),
        T.StructField("ip_lo", T.LongType()),
        T.StructField("dim_idx", T.LongType()),
    ]))
    def ipv6_key_lpm(ip: pd.Series) -> pd.DataFrame:
        n = len(ip)
        hi, lo, ok = _v6_keys(ip)
        d = bc.value
        s_hi, s_lo = d["start_hi"], d["start_lo"]
        e_hi, e_lo = d["end_hi"], d["end_lo"]
        match = np.zeros(n, bool)
        pos = np.full(n, -1, np.int64)
        if len(s_hi) and ok.any():
            # candidate = last range whose (start_hi, start_lo) <= (hi, lo):
            # searchsorted on hi lands after the equal-hi block; walk back
            # while the candidate's start_lo exceeds the probe's lo. The
            # (pos >= 0) conjunct masks the wrapped s_hi[-1] read so pos
            # never decrements past -1.
            pos = np.searchsorted(s_hi, hi, side="right") - 1
            pos[~ok] = -1
            while True:
                m = (pos >= 0) & (s_hi[pos] == hi) & (s_lo[pos] > lo)
                if not m.any():
                    break
                pos = np.where(m, pos - 1, pos)
            valid = (pos >= 0) & ok
            pv = np.clip(pos, 0, None)
            match = valid & ((hi < e_hi[pv])
                             | ((hi == e_hi[pv]) & (lo <= e_lo[pv])))
        # nullable Int64 via explicit mask, NEVER the default dtype: a batch
        # mixing ints and None would coerce to float64 and silently round
        # 64-bit keys to 53-bit mantissa precision (observed: low 16 bits of
        # every key zeroed on full-table batches while filtered all-valid
        # batches stayed exact)
        return pd.DataFrame({
            "ip_hi": pd.arrays.IntegerArray(hi, mask=~ok),
            "ip_lo": pd.arrays.IntegerArray(lo, mask=~ok),
            "dim_idx": pd.arrays.IntegerArray(pos, mask=~match),
        })

    return ipv6_key_lpm


_SIGN_BIT = -(1 << 63)  # long with only the sign bit set


def ipv4_mapped_u32(hi: Column, lo: Column) -> Column:
    """uint32 of an IPv4-mapped address from its signed-64 (hi, lo) key;
    null for any non-mapped key. Mapped means bytes ::ffff:a.b.c.d — Java's
    InetAddress applies convertFromIPv4MappedAddress on the PARSED bytes, so
    every textual spelling ('::ffff:1.2.3.4', '0:0::ffff:1.2.3.4', the hex
    form '::ffff:102:304', …) coerces to Inet4Address and must take the v4
    trie (GeoIPFilter.java:172). Detecting on the key instead of the string
    inherits that spelling-universality for free."""
    lo_u = lo.bitwiseXOR(F.lit(_SIGN_BIT))  # unsigned bit pattern
    mapped = (hi == F.lit(_SIGN_BIT)) & \
        (F.shiftrightunsigned(lo_u, 32) == F.lit(0xFFFF))
    return F.when(mapped, lo_u.bitwiseAND(F.lit(0xFFFFFFFF)))


def v6_bucket_of(hi: Column) -> Column:
    """Equi-join bucket for the v6 range join: top 16 bits of the UNSIGNED
    hi word, recovered from the sign-flipped long (XOR restores the original
    bit pattern; shiftrightunsigned then reads it as unsigned)."""
    return F.shiftrightunsigned(hi.bitwiseXOR(F.lit(_SIGN_BIT)), 48)


def ipv6_canonical_from_key(hi: Column, lo: Column) -> Column:
    """Canonical (exploded, no zero-compression) IPv6 string from the
    (hi, lo) signed-64 key — parity with Java getHostAddress
    (spec/filters/geoip_ecs_spec.rb:144-159), e.g. '2607:f0d0:1002:51::4' →
    '2607:f0d0:1002:51:0:0:0:4'. Pure Column expressions (conv/concat_ws),
    whole-stage codegen — no Python in the enrich hot path."""
    def groups(word: Column) -> list[Column]:
        u = word.bitwiseXOR(F.lit(_SIGN_BIT))
        # hex() not conv(): conv's shared converter buffer produced
        # cross-row corruption under whole-stage codegen in wide projections
        # (observed on Spark 4.1: group values bled between rows)
        return [
            F.lower(F.hex(
                F.shiftrightunsigned(u, 48 - 16 * i).bitwiseAND(F.lit(0xFFFF))))
            for i in range(4)
        ]
    return F.concat_ws(":", *groups(hi), *groups(lo))

