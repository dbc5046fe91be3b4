"""Seeded input generator for the benchmark workloads.

Every random choice is a seed-keyed hash of a row id (splitmix64 over
``id * phi + key(seed, tag)``), so one seed gives byte-identical parquet
files and the same ground truth, independent of generation order. The
generator plants every IP itself and therefore knows, per turn, which
dimension row (if any) the engine must match. The truth sidecar
(``truth.json``) is aggregated from those planted labels; the engine's
parse/enrich/aggregate code is never run to produce it.

Generation is NumPy + pyarrow in the benchmark process, not Spark: it needs
no JVM, so the time a run spends before set-up stays small.

Layout written under ``out_dir``::

    transcripts/part-NNNNN.parquet   the timed batch input (TRANSCRIPT_SCHEMA)
    warmup/part-00000.parquet        a smaller slice of the same generator
    stream/part-NNNNN.parquet        small files for the micro-batch path
    dim4/part-00000.parquet          City v4 dim (CITY_SCHEMA)
    dim6/part-00000.parquet          City v6 dim (SCHEMAS_V6["City"])
    truth.json                       expected outputs
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["search", "bash", "geoip", "browser", "python"]
# iso, country, continent code, continent, timezone
COUNTRIES = [
    ("US", "United States", "NA", "North America", "America/Chicago"),
    ("CA", "Canada", "NA", "North America", "America/Toronto"),
    ("MX", "Mexico", "NA", "North America", "America/Mexico_City"),
    ("BR", "Brazil", "SA", "South America", "America/Sao_Paulo"),
    ("AR", "Argentina", "SA", "South America", "America/Buenos_Aires"),
    ("DE", "Germany", "EU", "Europe", "Europe/Berlin"),
    ("FR", "France", "EU", "Europe", "Europe/Paris"),
    ("ES", "Spain", "EU", "Europe", "Europe/Madrid"),
    ("GB", "United Kingdom", "EU", "Europe", "Europe/London"),
    ("PL", "Poland", "EU", "Europe", "Europe/Warsaw"),
    ("JP", "Japan", "AS", "Asia", "Asia/Tokyo"),
    ("IN", "India", "AS", "Asia", "Asia/Kolkata"),
    ("KR", "South Korea", "AS", "Asia", "Asia/Seoul"),
    ("SG", "Singapore", "AS", "Asia", "Asia/Singapore"),
    ("AU", "Australia", "OC", "Oceania", "Australia/Sydney"),
    ("NZ", "New Zealand", "OC", "Oceania", "Pacific/Auckland"),
    ("ZA", "South Africa", "AF", "Africa", "Africa/Johannesburg"),
    ("NG", "Nigeria", "AF", "Africa", "Africa/Lagos"),
    ("EG", "Egypt", "AF", "Africa", "Africa/Cairo"),
    ("KE", "Kenya", "AF", "Africa", "Africa/Nairobi"),
]
# Prose: sentences of letters and punctuation only, so no sentence can look
# like an IP literal. "note:"/"status:" put colons in the text without a hex
# group before them, which makes the v6 regex scan run and find nothing.
SENTENCES = [
    "the user asked why the dashboard was slow this morning.",
    "assistant replied that the network latency from that region spiked.",
    "then the tool output showed the request failed and a retry succeeded later.",
    "please check the logs again because the error rate rose near midnight.",
    "note: traffic stayed flat overall while the cache hit rate dropped.",
    "status: the session token was refreshed before the stream window closed.",
    "the search query returned a result page with the country and city fields.",
    "a browser client reported a timeout when the server was under load.",
    "the python job wrote its output and the bash wrapper exited cleanly.",
    "geoip lookup for the client address was requested by the support team.",
    "the auditor wanted a summary of which hosts were seen during the incident.",
    "after the deploy the error E500 appeared twice and then went away.",
    "the proxy answered with E403 for a few requests from an unknown host.",
    "the assistant suggested comparing the latency per region per hour.",
    "done. the user thanked the assistant and closed the conversation.",
    "an operator asked to keep the raw transcripts for another week.",
]

HOURS = 48
TS_BASE = 1_700_006_400  # an hour boundary (UTC)
ABORT_EVERY = 50          # dim rows r with r % 50 == 49 have no lat/lon
V4_SLOTS = 1 << 24        # /24 networks in IPv4
V4_MULT = 0x9E3779        # odd: r -> (r * V4_MULT + off) mod 2^24 is a bijection
V6_TOP = 0x2400           # v6 dim networks live under 2400::/13
V6_NOTDB_TOP = 0x3000     # no dim network lives under 3000::/8
MAX_SENTENCES = 4          # per prose segment; a turn has three segments
N_WARMUP = 2_000           # turns of the warm-up slice
HOT_CONV_EVERY = 13        # one turn in 13 is on the hot conv_id
# shares of turns per miss class: no IP, IP not in the dim, invalid octet,
# City abort (a dim row without a location)
MISS_SHARES = (0.04, 0.04, 0.03, 0.03)
LONG_MIN = -(1 << 63)
LONG_MAX = (1 << 63) - 1

_PHI = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
_CITY_ATTRS = [
    ("city_name", pa.string()), ("continent_code", pa.string()),
    ("continent_name", pa.string()), ("country_name", pa.string()),
    ("country_iso_code", pa.string()), ("postal_code", pa.string()),
    ("dma_code", pa.int64()), ("region_name", pa.string()),
    ("region_code", pa.string()), ("timezone", pa.string()),
    ("latitude", pa.float64()), ("longitude", pa.float64()),
]
DIM4_ARROW = pa.schema([("network", pa.string()), ("net_start", pa.int64()),
                        ("net_end", pa.int64())] + _CITY_ATTRS)
DIM6_ARROW = pa.schema([("network", pa.string()), ("start_hi", pa.int64()),
                        ("start_lo", pa.int64()), ("end_hi", pa.int64()),
                        ("end_lo", pa.int64())] + _CITY_ATTRS)


@dataclass(frozen=True)
class GenSpec:
    """Input properties of one workload. Shares are fractions of turns."""
    n_turns: int
    n_files: int
    sentences_min: int   # prose length, in sentences of ~60 characters
    sentences_max: int
    n_dim4: int
    n_dim6: int
    v6_share: float       # of turns carrying an address, how many are v6
    multi: float          # turns with a second (decoy) address after the first
    n_stream: int = 0     # turns of the micro-batch input ...
    stream_files: int = 0  # ... split into this many files
    hot_rows: int = 0     # >0: hits use only this many dim rows


def _key(seed: int, tag: str) -> np.uint64:
    digest = hashlib.blake2b(f"{seed}/{tag}".encode(), digest_size=8).digest()
    return np.uint64(int.from_bytes(digest, "little"))


def _u(seed: int, tag: str, m: int, x: np.ndarray) -> np.ndarray:
    """Uniform integers in [0, m) keyed by (seed, tag, x)."""
    h = x.astype(np.uint64) * _PHI + _key(seed, tag)
    h = (h ^ (h >> np.uint64(30))) * _M1
    h = (h ^ (h >> np.uint64(27))) * _M2
    h ^= h >> np.uint64(31)
    return (h % np.uint64(m)).astype(np.int64)


def _v4_slot(seed: int, r: np.ndarray) -> np.ndarray:
    """/24 slot of dim row r (or of a not-in-dim index >= n_dim4)."""
    off = int(_u(seed, "v4off", V4_SLOTS, np.zeros(1, np.int64))[0])
    return (r * V4_MULT + off) % V4_SLOTS


def _v4_text(slot: np.ndarray, host: np.ndarray) -> list[str]:
    return [f"{s >> 16}.{(s >> 8) & 255}.{s & 255}.{h}"
            for s, h in zip(slot.tolist(), host.tolist())]


def _hex_join(hextets: list[np.ndarray]) -> list[str]:
    return [":".join(format(h, "x") for h in row)
            for row in zip(*[h.tolist() for h in hextets])]


def _v6_prefix(seed: int, r: np.ndarray) -> list[np.ndarray]:
    """The four hextets of dim6 row r's /64 (unique per r < 8 * 65536)."""
    return [V6_TOP + r % 8, (r >> 3) % 65536,
            _u(seed, "v6h2", 65536, r), _u(seed, "v6h3", 65536, r)]


def _city_attrs(seed: int, tag: str, r: np.ndarray) -> dict:
    """CITY_SCHEMA attribute columns (after the key columns) for rows r."""
    ci = _u(seed, tag, len(COUNTRIES), r).tolist()
    country = [COUNTRIES[i] for i in ci]
    rl = r.tolist()
    abort = (r % ABORT_EVERY) == ABORT_EVERY - 1
    lat = (_u(seed, tag + "lat", 18000, r) - 9000) / 100.0
    lon = (_u(seed, tag + "lon", 36000, r) - 18000) / 100.0
    return {
        "city_name": [f"City{x}" for x in rl],
        "continent_code": [c[2] for c in country],
        "continent_name": [c[3] for c in country],
        "country_name": [c[1] for c in country],
        "country_iso_code": [c[0] for c in country],
        "postal_code": [f"{z:05d}" for z in _u(seed, tag + "zip", 99999, r).tolist()],
        "dma_code": [500 + x % 300 if x % 3 == 0 else None for x in rl],
        "region_name": [f"Region{x % 50}" for x in rl],
        "region_code": [f"R{x % 50}" for x in rl],
        "timezone": [c[4] for c in country],
        "latitude": pa.array(lat, mask=abort),
        "longitude": pa.array(lon, mask=abort),
    }


def dim4_table(seed: int, n: int) -> pa.Table:
    r = np.arange(n, dtype=np.int64)
    slot = _v4_slot(seed, r)
    cols = {"network": [t + "/24" for t in _v4_text(slot, np.zeros(n, np.int64))],
            "net_start": slot << 8, "net_end": (slot << 8) + 255}
    return pa.table({**cols, **_city_attrs(seed, "c4", r)}, schema=DIM4_ARROW)


def dim6_table(seed: int, n: int) -> pa.Table:
    if n > 8 * 65536:
        raise ValueError("v6 dim generator is capped at 524288 /64 networks")
    r = np.arange(n, dtype=np.int64)
    hx = _v6_prefix(seed, r)
    # hi < 2^63 (V6_TOP < 0x8000), so the sign-bit flip of cidr_v6_to_range
    # is a plain subtraction that stays inside int64
    start_hi = (hx[0] << 48) + (hx[1] << 32) + (hx[2] << 16) + hx[3] + LONG_MIN
    cols = {"network": [t + "::/64" for t in _hex_join(hx)],
            "start_hi": start_hi, "start_lo": np.full(n, LONG_MIN, np.int64),
            "end_hi": start_hi, "end_lo": np.full(n, LONG_MAX, np.int64)}
    return pa.table({**cols, **_city_attrs(seed, "c6", r)}, schema=DIM6_ARROW)


def _prose(seed: int, tag: str, ids: np.ndarray, n: np.ndarray) -> list[str]:
    """n[i] sentences (at most MAX_SENTENCES) picked by seeded hashes."""
    picks = list(zip(*[_u(seed, f"{tag}{k}", len(SENTENCES), ids).tolist()
                       for k in range(MAX_SENTENCES)]))
    return [" ".join(SENTENCES[p] for p in row[:k]) for row, k in zip(picks, n.tolist())]


def _hit_row(seed: int, tag: str, spec: GenSpec, n_dim: int, ids: np.ndarray,
             abort: np.ndarray) -> np.ndarray:
    """Dim row planted by a hit, or by a City-abort turn where ``abort``."""
    if spec.hot_rows:
        ok = _u(seed, tag + "hot", spec.hot_rows, ids)
        bad = np.full(len(ids), ABORT_EVERY - 1)
    else:
        blk = _u(seed, tag + "blk", max(n_dim // ABORT_EVERY, 1), ids)
        ok = blk * ABORT_EVERY + _u(seed, tag + "off", ABORT_EVERY - 1, ids)
        bad = blk * ABORT_EVERY + (ABORT_EVERY - 1)
    return np.where(abort, bad, ok)


def turns(seed: int, spec: GenSpec, start: int, n: int) -> tuple[pa.Table, dict]:
    """Transcript rows ``start .. start + n`` and their planted labels
    (``country``: expected ISO code or None; ``fail``: expected miss)."""
    for n_dim in (spec.n_dim4, spec.n_dim6):
        if n_dim and n_dim < ABORT_EVERY:
            raise ValueError(f"dims need at least {ABORT_EVERY} rows")
    ids = np.arange(start, start + n, dtype=np.int64)
    c = _u(seed, "cls", 10_000, ids)
    cut = np.cumsum([int(10_000 * x) for x in MISS_SHARES])
    absent = c < cut[0]
    notdb = (c >= cut[0]) & (c < cut[1])
    invalid = (c >= cut[1]) & (c < cut[2])
    abort = (c >= cut[2]) & (c < cut[3])
    fam6 = ~invalid & (_u(seed, "fam", 10_000, ids) < int(10_000 * spec.v6_share))

    # v4 primary: a dim /24 (hit/abort) or a slot no dim row maps to
    r4 = _hit_row(seed, "r4", spec, spec.n_dim4, ids, abort)
    miss4 = spec.n_dim4 + _u(seed, "miss4", V4_SLOTS - spec.n_dim4, ids)
    host = 1 + _u(seed, "host", 4 if spec.hot_rows else 254, ids)
    ip4 = _v4_text(_v4_slot(seed, np.where(notdb, miss4, r4)), host)
    # an octet of 256..299: extracted by the v4 regex, rejected as an address
    bad4 = [f"{a}.{b}.{c_}.{d}" for a, b, c_, d in zip(
        (256 + _u(seed, "bad", 44, ids)).tolist(), _u(seed, "b1", 256, ids).tolist(),
        _u(seed, "b2", 256, ids).tolist(), _u(seed, "b3", 256, ids).tolist())]
    # v6 primary: a dim /64 (hit/abort) or one under 3000::/8, plus an iid
    r6 = (_hit_row(seed, "r6", spec, spec.n_dim6, ids, abort) if spec.n_dim6
          else np.zeros(n, np.int64))
    pre6 = _v6_prefix(seed, r6)
    miss6 = [V6_NOTDB_TOP + _u(seed, "m0", 256, ids), _u(seed, "m1", 65536, ids),
             _u(seed, "m2", 65536, ids), _u(seed, "m3", 65536, ids)]
    hx = [np.where(notdb, m, p) for m, p in zip(miss6, pre6)]
    ip6 = _hex_join(hx + [_u(seed, f"iid{k}", 65536, ids) for k in range(4)])

    # decoy: a later address of a family that cannot displace the primary
    # (the first match wins within a family; a v6 decoy never ends in a
    # dotted quad, so a v4 primary still wins over it)
    decoy4 = _v4_text(_v4_slot(seed, _u(seed, "dr4", max(spec.n_dim4, 1), ids)),
                      1 + _u(seed, "dh", 254, ids))
    decoy6 = _hex_join([V6_TOP + _u(seed, "d60", 8, ids)]
                       + [_u(seed, f"d6{k}", 65536, ids) for k in range(1, 8)])
    has_decoy = ~absent & (_u(seed, "multi", 10_000, ids) < int(10_000 * spec.multi))
    decoy_is6 = fam6 | (_u(seed, "df", 2, ids) == 0)

    ns = spec.sentences_min + _u(seed, "ns", spec.sentences_max - spec.sentences_min + 1, ids)
    n1 = ns // 3
    s1, s2 = _prose(seed, "s1", ids, n1), _prose(seed, "s2", ids, n1)
    s3 = _prose(seed, "s3", ids, ns - 2 * n1)
    text = []
    for i in range(n):
        primary = (None if absent[i] else bad4[i] if invalid[i]
                   else ip6[i] if fam6[i] else ip4[i])
        decoy = (decoy6[i] if decoy_is6[i] else decoy4[i]) if has_decoy[i] else None
        text.append(" ".join(p for p in (s1[i], primary, s2[i], decoy, s3[i]) if p))

    conv = _u(seed, "conv", 50_000, ids).tolist()
    hot = (_u(seed, "hotconv", HOT_CONV_EVERY, ids) == 0).tolist()
    fail = absent | notdb | invalid | abort
    ci = np.where(fam6, _u(seed, "c6", len(COUNTRIES), r6),
                  _u(seed, "c4", len(COUNTRIES), r4))
    ts = TS_BASE + _u(seed, "ts", HOURS * 3600, ids)
    table = pa.table({
        "conv_id": ["conv-hot" if h else f"conv-{k}" for h, k in zip(hot, conv)],
        "turn_idx": ids.astype(np.int32),
        "role": [ROLES[i] for i in _u(seed, "role", len(ROLES), ids).tolist()],
        "text": text,
        "tool": [TOOLS[i] for i in _u(seed, "tool", len(TOOLS), ids).tolist()],
        "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
    }, schema=TRANSCRIPT_ARROW)
    labels = {"country": [None if f else COUNTRIES[i][0]
                          for f, i in zip(fail.tolist(), ci.tolist())],
              "fail": fail.tolist(), "window": (ts - ts % 3600).tolist()}
    return table, labels


def truth_of(table: pa.Table, labels: dict) -> dict:
    """Expected outputs, aggregated from the planted labels only."""
    geo: Counter = Counter()
    geo_f: Counter = Counter()
    sink: Counter = Counter()
    sink_f: Counter = Counter()
    for w, c, f, role, tool in zip(labels["window"], labels["country"], labels["fail"],
                                   table["role"].to_pylist(), table["tool"].to_pylist()):
        geo[(w, c)] += 1
        geo_f[(w, c)] += f
        sink[(role, tool)] += 1
        sink_f[(role, tool)] += f
    return {
        "n_turns": table.num_rows,
        "geo_window": sorted(([w, c, n, geo_f[(w, c)]] for (w, c), n in geo.items()),
                             key=lambda g: (g[0], g[1] or "")),
        "failures_per_sink": sorted([r, t, n, sink_f[(r, t)]]
                                    for (r, t), n in sink.items()),
        "routed_rows": {f"{r}|{t}": n for (r, t), n in sink.items()},
    }


def _write(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def stream_truth(table: pa.Table, labels: dict) -> dict:
    """role -> [rows, failures] expected in the micro-batch sink."""
    out: dict = {}
    for role, f in zip(table["role"].to_pylist(), labels["fail"]):
        n, nf = out.get(role, (0, 0))
        out[role] = [n + 1, nf + f]
    return out


def generate(seed: int, spec: GenSpec, out_dir: str) -> dict:
    """Write every input of one workload; return the truth (also on disk).
    Each input is its own id range, so no turn appears twice."""
    table, labels = turns(seed, spec, 0, spec.n_turns)
    _write(table, os.path.join(out_dir, "transcripts"), spec.n_files)
    start = spec.n_turns
    warm, _ = turns(seed, spec, start, N_WARMUP)
    _write(warm, os.path.join(out_dir, "warmup"), 1)
    start += N_WARMUP
    extra = {}
    if spec.n_stream:
        stream, stream_labels = turns(seed, spec, start, spec.n_stream)
        _write(stream, os.path.join(out_dir, "stream"), spec.stream_files)
        extra["stream_roles"] = stream_truth(stream, stream_labels)
    _write(dim4_table(seed, spec.n_dim4), os.path.join(out_dir, "dim4"), 1)
    if spec.n_dim6:
        _write(dim6_table(seed, spec.n_dim6), os.path.join(out_dir, "dim6"), 1)
    truth = {**truth_of(table, labels), **extra, "seed": seed, "spec": asdict(spec)}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
