"""Seeded WildWeb feed generator for the ``feed`` workload.

Writes one HTTP response body per dispatch center, as the source would
return it, and derives the pipeline's expected output from those bodies
in plain Python (no Spark), so the benchmark can check every pass.

Center sizes follow a Zipf law fixed by rank, so every seed carries the
same amount of work; the seed picks names, values and which records
carry which planted defect.  Planted shares are exact: a share ``s`` of
``n`` items is ``round(s * n)`` items.

Size: one run of the reference polls tens of dispatch centers and sees
at most about 10^3 incidents (SURVEY.md §6, "per-run data volume"), so
the feed is 40 centers and 1000 incidents.  The reference publishes no
per-center sizes or error rates, so the Zipf exponent and the defect
shares below are choices, not measurements:

* ``ZIPF_S = 1.1`` puts 29% of the incidents (292) on the largest center
  and 4-5 on the smallest, so the largest stays within "hundreds per
  center" and one task carries it;
* each share is large enough that every error path occurs in every pass
  (at least one center, at least 20 incidents) and small enough that
  most incidents reach the sink, as on a feed that mostly works.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

#: The run's fixed "now" and the IncidentRange the pipeline filters with.
NOW = datetime(2026, 8, 15, 12, 0, 0)
INCIDENT_RANGE = "1 Week"
WINDOW = timedelta(days=7)

N_CENTERS = 40
N_INCIDENTS = 1000
ZIPF_S = 1.1

#: Center-level defects, as shares of all centers.  They are planted on
#: the smallest centers so the incident volume is the same for every seed.
CENTER_SHARES = {
    "http_not_ok": 0.05,
    "invalid_json": 0.03,
    "cardinality": 0.03,
    "null_data": 0.03,
}

#: Incident-level defects, as shares of the incidents inside well-formed
#: envelopes.  Each incident carries at most one.
INCIDENT_SHARES = {
    "out_of_window": 0.10,
    "unparsable_date": 0.03,
    "falsy_coord": 0.03,
    "zero_coord": 0.02,
    "nonnumeric_coord": 0.02,
    "padded_coord": 0.03,
    "iso_millis_date": 0.05,
}

_BAD_DATES = ("n/a", "unknown", "TBD")
_FALSY = ("", None)
_ZERO = ("0", "0.0", "0.00")
_NONNUMERIC = ("abc", "N/A", "12,5")
_TYPES = ("Wildfire", "Smoke Check", "False Alarm", "Prescribed Fire")
_FUELS = ("grass", "timber", "brush", None)


@dataclass
class Feed:
    """Generated bodies plus the generator's own record of what it planted."""

    seed: int
    rows: list[tuple[str, str, bool, int]]  # (center, payload, http_ok, status)
    sizes: dict[str, int]
    center_kind: dict[str, str] = field(default_factory=dict)
    incident_kind: dict[str, str] = field(default_factory=dict)  # uuid -> kind

    @property
    def n_incidents(self) -> int:
        """Incidents inside well-formed envelopes: the pipeline's input."""
        return sum(
            n for c, n in self.sizes.items() if self.center_kind[c] == "ok"
        )


def zipf_sizes(n_centers: int = N_CENTERS, total: int = N_INCIDENTS) -> list[int]:
    """Incident count per center rank, largest first, summing to ``total``."""
    w = [1.0 / (r + 1) ** ZIPF_S for r in range(n_centers)]
    sizes = [max(1, int(total * x / sum(w))) for x in w]
    sizes[0] += total - sum(sizes)
    return sizes


def _exact(rng: random.Random, items: list, shares: dict[str, float], base: int) -> dict:
    """Assign kinds to ``items`` so each kind gets round(share * base) of them."""
    order = list(items)
    rng.shuffle(order)
    kinds, i = {}, 0
    for kind, share in shares.items():
        k = round(share * base)
        for it in order[i : i + k]:
            kinds[it] = kind
        i += k
    return kinds


def _fmt(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def _incident(rng: random.Random, center: str, kind: str) -> dict:
    uuid = "%032x" % rng.getrandbits(128)
    if kind == "out_of_window":
        date = _fmt(NOW - timedelta(days=8, seconds=rng.randrange(50 * 86400)))
    elif kind == "unparsable_date":
        date = rng.choice(_BAD_DATES)
    else:
        ts = NOW - timedelta(hours=1, seconds=rng.randrange(6 * 86400))
        if kind == "iso_millis_date":
            date = ts.strftime("%Y-%m-%dT%H:%M:%S") + ".%03dZ" % rng.randrange(1000)
        else:
            date = _fmt(ts)
    lat = "%.5f" % rng.uniform(36.0, 41.0)
    lon = "%.5f" % rng.uniform(102.0, 109.0)
    if kind == "falsy_coord":
        lon = rng.choice(_FALSY)
    elif kind == "zero_coord":
        lat = rng.choice(_ZERO)
    elif kind == "nonnumeric_coord":
        lon = rng.choice(_NONNUMERIC)
    elif kind == "padded_coord":
        lon = " %s " % lon
    return {
        "ic": None,
        "date": date,
        "name": f"{center} Fire {rng.randrange(10_000)}",
        "type": rng.choice(_TYPES),
        "uuid": uuid,
        "acres": "%.1f" % rng.uniform(0.1, 5000.0),
        "fuels": rng.choice(_FUELS),
        "inc_num": str(rng.randrange(100_000)),
        "fire_num": None,
        "latitude": lat,
        "location": f"{rng.randrange(1, 99)} mi N of {center}",
        "longitude": lon,
        "resources": [{"res": f"E-{rng.randrange(100)}"}] * rng.randrange(3),
        "webComment": None,
        "fire_status": rng.choice(("Active", "Contained", "Out")),
        "fiscal_data": "",
    }


def generate(seed: int, n_centers: int = N_CENTERS, total: int = N_INCIDENTS) -> Feed:
    rng = random.Random(seed)
    names: list[str] = []
    while len(names) < n_centers:
        name = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(5))
        if name not in names:
            names.append(name)
    sizes = dict(zip(names, zipf_sizes(n_centers, total)))
    # defects on the smallest centers, so the incident volume is seed-independent
    n_bad = sum(round(share * n_centers) for share in CENTER_SHARES.values())
    tail = names[n_centers - n_bad :]
    center_kind = {c: "ok" for c in names}
    center_kind.update(_exact(rng, tail, CENTER_SHARES, n_centers))
    retrieved = NOW.strftime("%Y-%m-%dT%H:%M:%SZ")
    feed = Feed(seed, [], sizes, center_kind)

    ok_slots = [(c, i) for c in names if center_kind[c] == "ok" for i in range(sizes[c])]
    slot_kind = _exact(rng, ok_slots, INCIDENT_SHARES, len(ok_slots))
    for c in names:
        kind = center_kind[c]
        if kind == "http_not_ok":
            feed.rows.append((c, '{"message": "internal error"}', False, 503))
            continue
        if kind == "invalid_json":
            feed.rows.append((c, "<html><body>Bad Gateway</body></html>", True, 200))
            continue
        if kind == "null_data":
            body = [{"retrieved": retrieved, "data": None}]
        elif kind == "cardinality":
            body = [{"retrieved": retrieved, "data": []}] * 2
        else:
            data = []
            for i in range(sizes[c]):
                ik = slot_kind.get((c, i), "clean")
                inc = _incident(rng, c, ik)
                feed.incident_kind[inc["uuid"]] = ik
                data.append(inc)
            body = [{"retrieved": retrieved, "data": data}]
        feed.rows.append((c, json.dumps(body, separators=(",", ":")), True, 200))
    return feed


# ------------------------------------------------- expected output

def _js_number(v) -> float | None:
    """JS Number() restricted to what the pipeline keeps (js_compat):
    None/''/garbage -> None, surrounding whitespace tolerated."""
    if v is None:
        return None
    try:
        return float(v.strip()) if v.strip() else None
    except ValueError:
        return None


def _parse_date(s: str) -> datetime | None:
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            pass
    return None


def expected(rows: list[tuple[str, str, bool, int]]) -> tuple[list[str], dict]:
    """Feature ids (sorted) and error counts per (stage, reason) that the
    pipeline must produce from ``rows`` under INCIDENT_RANGE at NOW,
    derived from the bodies alone with the reference's semantics."""
    ids: list[str] = []
    errors: dict[tuple[str, str], int] = {}

    def err(stage: str, reason: str) -> None:
        errors[(stage, reason)] = errors.get((stage, reason), 0) + 1

    for _center, payload, http_ok, _status in rows:
        if not http_ok:
            err("fetch", "http_not_ok")
            continue
        try:
            env = json.loads(payload)
        except ValueError:
            err("decode", "invalid_json")
            continue
        if len(env) != 1:
            err("envelope", f"cardinality_{len(env)}")
            continue
        for inc in env[0]["data"] or []:
            ts = _parse_date(inc["date"])
            if ts is not None and ts < NOW - WINDOW:
                continue  # time filter
            if ts is None:
                err("normalize_date", "unparsable_date")
                continue
            lon, lat = _js_number(inc["longitude"]), _js_number(inc["latitude"])
            if not lon or not lat:  # None or 0.0: falsy in JS
                continue
            ids.append("wildweb-" + inc["uuid"])
    return sorted(ids), errors


def write_parquet(feed: Feed, path: str) -> None:
    """One row group per center, so Spark can split centers across tasks
    while the largest center still lands in one task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*feed.rows))
    table = pa.table(
        {
            "center": pa.array(cols[0], pa.string()),
            "payload": pa.array(cols[1], pa.string()),
            "http_ok": pa.array(cols[2], pa.bool_()),
            "status": pa.array(cols[3], pa.int32()),
        }
    )
    pq.write_table(table, path, row_group_size=1)
