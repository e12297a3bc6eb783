"""Seeded CloudFront realtime-log wire generator and its expected-result model.

Every line carries the 40 fields of ``schema.CF_FIELDS`` in wire order,
tab-separated, with ``-`` for an absent value (FIXTURES.md F1/F2):
about 30 edge locations, about 1% duplicate request ids (an exact
redelivery of a recent line), about 2% late events (event time more than
24 h behind arrival) and a small share of lines truncated at a field
boundary.

The model is computed here in plain Python while the lines are made, so
it is independent of the Spark parser: the rows that survive dedup by
request id (lines without an id pass through) and ``sum(sc_bytes)`` per
(edge location, hour).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from aws_cloudfront_realtime_monitoring_spark.schema import CF_FIELDS

FIELD_NAMES = [name for name, _ in CF_FIELDS]
IDX = {name: i for i, name in enumerate(FIELD_NAMES)}
#: the head fields are rendered per record; the rest come from a tail pool
TAIL_START = IDX["x-host-header"]
#: typed fields the generator always writes a value for (the others may
#: be ``-``); a line is clean when the parser gives all of these a value
ALWAYS_WRITTEN_TYPED = [
    name for name, typ in CF_FIELDS if typ != "str"
    and name not in ("sc-content-len", "sc-range-start", "sc-range-end")]

HOUR_MS = 3_600_000
#: event span of the backlog and of the live run's history
SPAN_MS = 48 * HOUR_MS
DUP_SHARE = 0.01
LATE_SHARE = 0.02
TRUNC_SHARE = 0.003
#: a truncated line keeps at least this many fields, so its timestamp
#: and sc_bytes always survive and its edge location or id may not
MIN_KEPT_FIELDS = IDX["sc-bytes"] + 1
#: backlog epoch (2024-01-05 00:00 UTC): the backfill is a replay, so
#: its event times are fixed and do not depend on the wall clock
BACKLOG_END_MS = 1_704_412_800_000 + SPAN_MS

EDGES = [f"{city}{n}-{kind}" for city, n, kind in (
    ("IAD", 66, "C1"), ("IAD", 89, "P2"), ("FRA", 56, "P2"), ("FRA", 60, "C1"),
    ("LHR", 61, "C1"), ("LHR", 5, "P3"), ("NRT", 12, "C2"), ("NRT", 57, "P1"),
    ("SIN", 2, "P2"), ("SYD", 62, "P1"), ("GRU", 3, "C1"), ("CDG", 50, "C1"),
    ("AMS", 1, "C1"), ("DFW", 55, "C2"), ("SEA", 19, "C3"), ("ORD", 52, "C1"),
    ("LAX", 50, "C1"), ("MIA", 3, "C2"), ("JFK", 51, "C1"), ("ICN", 54, "C1"),
    ("BOM", 78, "P4"), ("DEL", 54, "C3"), ("MAD", 50, "C2"), ("MXP", 64, "P1"),
    ("ARN", 1, "C1"), ("HKG", 62, "C1"), ("TPE", 52, "C1"), ("YUL", 62, "C1"),
    ("JNB", 1, "C1"), ("DUB", 2, "C1"))]
STATUS = (["200"] * 80 + ["304"] * 8 + ["404"] * 5 + ["403"] * 3
          + ["500"] * 2 + ["206"] * 2)
METHODS = ["GET"] * 8 + ["HEAD", "POST", "OPTIONS"]
PROTOCOLS = ["https"] * 6 + ["http", "ws", "wss"]
HOSTS = [f"d{n}abc.cloudfront.net" for n in (11, 23, 37, 41, 59)]


@dataclass
class Model:
    """Expected results of one generated corpus."""

    lines: int = 0
    duplicates: int = 0
    late: int = 0
    truncated: int = 0
    #: distinct request ids written (each expected once in the sink)
    ids: set = field(default_factory=set)
    #: rows without a request id (truncated before it); all pass dedup
    no_id_rows: int = 0
    #: (edge location or None, hour start in epoch s) -> sum(sc_bytes)
    bytes_by_edge_hour: dict = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return len(self.ids) + self.no_id_rows

    @property
    def clean_lines(self) -> int:
        return self.lines - self.truncated


def _tail_pool(rng: random.Random, n: int = 512) -> list[str]:
    """Pre-rendered fields x-host-header .. cs-headers-count."""
    agents = [f"Mozilla/5.0%20(X11;%20Linux)%20Gecko/{v}" for v in range(20)] + [
        f"curl/7.{v}.1" for v in range(20)] + [
        f"Googlebot/2.{v}" for v in range(10)]
    countries = ["US", "DE", "GB", "JP", "SG", "AU", "BR", "FR", "NL", "IN",
                 "ES", "IT", "SE", "HK", "TW", "CA", "ZA", "IE", "KR", "MX"]
    results = ["Hit", "Miss", "RefreshHit", "Error", "Redirect"]
    out = []
    for _ in range(n):
        ttfb = rng.lognormvariate(-4.0, 1.2)
        content_len = rng.randint(50, 2_000_000)
        ranged = rng.random() < 0.05
        start = rng.randint(0, 1_000_000) if ranged else None
        n_hdr = rng.randint(3, 12)
        names = [f"h{j}" for j in range(n_hdr)]
        tls = rng.random() < 0.9
        vals = {
            "x-host-header": rng.choice(HOSTS),
            "time-taken": f"{ttfb + rng.random() * 0.5:.3f}",
            "cs-protocol-version": rng.choice(["HTTP/2.0", "HTTP/1.1", "HTTP/3.0"]),
            "c-ip-version": rng.choice(["IPv4", "IPv6"]),
            "cs-user-agent": rng.choice(agents),
            "cs-referer": (f"https://example.com/p{rng.randint(0, 99)}"
                           if rng.random() < 0.4 else None),
            "cs-cookie": f"s={rng.getrandbits(32):08x}" if rng.random() < 0.3 else None,
            "cs-uri-query": f"k={rng.randint(0, 999)}&v=2" if rng.random() < 0.5 else None,
            "x-edge-response-result-type": rng.choice(results),
            "x-forwarded-for": (f"10.0.{rng.randint(0, 255)}.{rng.randint(0, 255)}"
                                if rng.random() < 0.1 else None),
            "ssl-protocol": rng.choice(["TLSv1.2", "TLSv1.3"]) if tls else None,
            "ssl-cipher": "ECDHE-RSA-AES128-GCM-SHA256" if tls else None,
            "x-edge-result-type": rng.choice(results),
            "fle-encrypted-fields": None,
            "fle-status": None,
            "sc-content-type": rng.choice(
                ["image/jpeg", "text/html", "application/json", "video/mp4"]),
            "sc-content-len": str(content_len) if rng.random() < 0.9 else None,
            "sc-range-start": str(start) if ranged else None,
            "sc-range-end": str(start + rng.randint(1, 100_000)) if ranged else None,
            "c-port": str(rng.randint(1024, 65535)),
            "x-edge-detailed-result-type": rng.choice(results),
            "c-country": rng.choice(countries),
            "cs-accept-encoding": "gzip,%20br" if rng.random() < 0.7 else None,
            "cs-accept": "*/*" if rng.random() < 0.8 else None,
            "cache-behavior-path-pattern": rng.choice(["*", "/api/*", "/static/*"]),
            "cs-headers": "%0A".join(f"{h}%3Av{rng.randint(0, 9)}" for h in names),
            "cs-header-names": "%0A".join(names),
            "cs-headers-count": str(n_hdr),
        }
        out.append("\t".join(
            "-" if vals[name] is None else vals[name]
            for name in FIELD_NAMES[TAIL_START:]))
    return out


class WireGenerator:
    """Makes wire lines from one seed; the same seed gives the same lines.

    ``line(arrival_ms)`` makes one line, with the duplicate, late and
    truncated shares, and adds it to ``model``.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        rng = self.rng
        self.tails = _tail_pool(rng)
        self.ips = [f"{rng.randint(1, 223)}.{rng.randint(0, 255)}."
                    f"{rng.randint(0, 255)}.{rng.randint(1, 254)}"
                    for _ in range(5000)]
        self.stems = [f"/{rng.choice(['img', 'api/v1', 'static', 'video'])}/"
                      f"{rng.getrandbits(24):06x}.{rng.choice(['jpg', 'json', 'js', 'mp4'])}"
                      for _ in range(500)]
        self.salt = "".join(rng.choice(
            "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789")
            for _ in range(10))
        self.next_id = 0
        self.late_share = LATE_SHARE
        self.model = Model()
        self._recent: list[str] = []

    def go_live(self) -> None:
        """From now on, no late events (a live record is stamped with its
        file's due time) and redeliveries only of live records."""
        self.late_share = 0.0
        self._recent.clear()

    def _record(self, ts_ms: int) -> tuple[str, str, str, int]:
        """(line, request id, edge location, sc_bytes) of a new record."""
        rng = self.rng
        rid = f"{self.salt}{self.next_id:010X}=="
        self.next_id += 1
        edge = rng.choice(EDGES)
        sc_bytes = int(rng.lognormvariate(9.0, 2.0)) + 59
        head = (
            f"{ts_ms // 1000}.{ts_ms % 1000:03d}", rng.choice(self.ips),
            f"{rng.lognormvariate(-5.0, 1.0):.3f}", rng.choice(STATUS),
            str(sc_bytes), rng.choice(METHODS), rng.choice(PROTOCOLS),
            rng.choice(HOSTS), rng.choice(self.stems),
            str(rng.randint(20, 5000)), edge, rid,
        )
        return "\t".join(head) + "\t" + rng.choice(self.tails), rid, edge, sc_bytes

    def _count(self, ts_ms: int, rid: str | None, edge: str | None,
               sc_bytes: int) -> None:
        m = self.model
        if rid is None:
            m.no_id_rows += 1
        else:
            m.ids.add(rid)
        key = (edge, ts_ms // HOUR_MS * 3600)
        m.bytes_by_edge_hour[key] = m.bytes_by_edge_hour.get(key, 0) + sc_bytes

    def line(self, arrival_ms: int) -> str:
        """One wire line arriving at ``arrival_ms``: a redelivered recent
        line, or a new record (sometimes late, sometimes truncated)."""
        rng = self.rng
        m = self.model
        m.lines += 1
        r = rng.random()
        if r < DUP_SHARE and self._recent:
            m.duplicates += 1
            return rng.choice(self._recent)
        ts_ms = arrival_ms
        if r < DUP_SHARE + self.late_share:
            m.late += 1
            ts_ms -= 24 * HOUR_MS + rng.randrange(6 * HOUR_MS)
        text, rid, edge, sc_bytes = self._record(ts_ms)
        if r > 1.0 - TRUNC_SHARE:
            m.truncated += 1
            keep = rng.randint(MIN_KEPT_FIELDS, len(FIELD_NAMES) - 1)
            text = "\t".join(text.split("\t")[:keep])
            self._count(ts_ms, rid if keep > IDX["x-edge-request-id"] else None,
                        edge if keep > IDX["x-edge-location"] else None, sc_bytes)
            return text
        self._count(ts_ms, rid, edge, sc_bytes)
        self._recent.append(text)
        if len(self._recent) > 1000:
            del self._recent[:500]
        return text

    def span_lines(self, n: int, end_ms: int, span_ms: int = SPAN_MS) -> list[str]:
        """``n`` lines whose arrivals are spread evenly over the span that
        ends at ``end_ms``, in arrival order."""
        start = end_ms - span_ms
        return [self.line(start + span_ms * i // n) for i in range(n)]


def write_files(lines: list[str], out_dir: str, n_files: int,
                prefix: str = "part") -> dict[str, int]:
    """Split ``lines`` in order into ``n_files`` text files; returns each
    file's path and line count. File mtimes ascend in the same order,
    which is the order the file source reads."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    step = -(-len(lines) // n_files)
    for k in range(n_files):
        chunk = lines[k * step:(k + 1) * step]
        if not chunk:
            break
        path = os.path.join(out_dir, f"{prefix}-{k:05d}.txt")
        with open(path, "w") as f:
            f.write("\n".join(chunk) + "\n")
        out[path] = len(chunk)
    return out
