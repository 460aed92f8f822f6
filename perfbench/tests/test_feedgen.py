"""The seeded feed generator: determinism, planted shares, and an
expected output derived without Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import feedgen  # noqa: E402


@pytest.fixture(scope="module")
def feed():
    return feedgen.generate(7)


def test_same_seed_gives_byte_identical_payloads(feed, tmp_path):
    again = feedgen.generate(7)
    assert again.rows == feed.rows
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    feedgen.write_parquet(feed, str(a))
    feedgen.write_parquet(again, str(b))
    assert a.read_bytes() == b.read_bytes()
    assert feedgen.generate(8).rows != feed.rows


def test_volume_is_seed_independent_and_skewed():
    sizes = feedgen.zipf_sizes()
    assert sum(sizes) == feedgen.N_INCIDENTS
    assert sizes[0] > 0.2 * feedgen.N_INCIDENTS  # one center loads one task
    assert {feedgen.generate(s).n_incidents for s in (1, 2, 3)} == {feedgen.generate(1).n_incidents}


def _classify_center(payload: str, http_ok: bool) -> str:
    if not http_ok:
        return "http_not_ok"
    try:
        env = json.loads(payload)
    except ValueError:
        return "invalid_json"
    if len(env) != 1:
        return "cardinality"
    return "null_data" if env[0]["data"] is None else "ok"


def _classify_incident(inc: dict) -> str:
    lon, lat, date = inc["longitude"], inc["latitude"], inc["date"]
    ts = feedgen._parse_date(date)
    if ts is None:
        return "unparsable_date"
    if ts < feedgen.NOW - feedgen.WINDOW:
        return "out_of_window"
    if lon in ("", None):
        return "falsy_coord"
    if lat in ("0", "0.0", "0.00"):
        return "zero_coord"
    if lon != lon.strip():
        return "padded_coord"
    try:
        float(lon)
    except ValueError:
        return "nonnumeric_coord"
    return "iso_millis_date" if "T" in date else "clean"


def test_planted_shares_match_stated_values(feed):
    """Shares are re-derived from the bodies, not from the generator's
    own bookkeeping, and must equal round(share * base) exactly."""
    centers = Counter(_classify_center(p, ok) for _c, p, ok, _s in feed.rows)
    for kind, share in feedgen.CENTER_SHARES.items():
        assert centers[kind] == round(share * feedgen.N_CENTERS), kind
    incidents = [
        inc
        for _c, p, ok, _s in feed.rows
        if _classify_center(p, ok) == "ok"
        for inc in json.loads(p)[0]["data"]
    ]
    assert len(incidents) == feed.n_incidents
    kinds = Counter(_classify_incident(i) for i in incidents)
    for kind, share in feedgen.INCIDENT_SHARES.items():
        assert kinds[kind] == round(share * feed.n_incidents), kind
    assert kinds == Counter(feed.incident_kind.values())


def test_expected_output_on_hand_built_rows():
    ok = lambda incs: json.dumps([{"retrieved": "x", "data": incs}])  # noqa: E731
    base = {"date": "2026-08-14 10:30:00", "latitude": "38.1", "longitude": "105.2"}
    rows = [
        ("A", '{"message": "x"}', False, 500),
        ("B", "<html>", True, 200),
        ("C", json.dumps([{"retrieved": "x", "data": []}] * 2), True, 200),
        ("D", json.dumps([{"retrieved": "x", "data": None}]), True, 200),
        ("E", ok([
            {**base, "uuid": "keep"},
            {**base, "uuid": "pad", "longitude": " 105.2 "},
            {**base, "uuid": "iso", "date": "2026-08-14T10:30:59.999Z"},
            {**base, "uuid": "old", "date": "2026-08-01 00:00:00"},
            {**base, "uuid": "bad", "date": "n/a"},
            {**base, "uuid": "zero", "latitude": "0.0"},
            {**base, "uuid": "empty", "longitude": ""},
            {**base, "uuid": "null", "longitude": None},
            {**base, "uuid": "abc", "longitude": "abc"},
        ]), True, 200),
    ]
    ids, errors = feedgen.expected(rows)
    assert ids == ["wildweb-iso", "wildweb-keep", "wildweb-pad"]
    assert errors == {
        ("fetch", "http_not_ok"): 1,
        ("decode", "invalid_json"): 1,
        ("envelope", "cardinality_2"): 1,
        ("normalize_date", "unparsable_date"): 1,
    }


def test_expected_output_is_derived_without_spark(feed):
    """Generation and the expected output run with pyspark unimportable."""
    code = (
        "import sys; sys.modules['pyspark'] = None; sys.path.insert(0, %r)\n"
        "from perfbench import feedgen\n"
        "ids, errors = feedgen.expected(feedgen.generate(7).rows)\n"
        "print(len(ids), sum(errors.values()))\n" % ROOT
    )
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode == 0, proc.stderr
    out = proc.stdout.split()
    ids, errors = feedgen.expected(feed.rows)
    assert [int(x) for x in out] == [len(ids), sum(errors.values())]
    assert 0 < len(ids) < feed.n_incidents
