"""BENCHMARK.json and the benchmark code name the same workloads and
metrics; the measurement helpers compute what they claim.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_code():
    from perfbench.workloads import WORKLOADS

    spec = _spec()
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        n: WORKLOADS[n]().why for n in WORKLOADS
    }
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        n: (u, b) for n, (u, b, _target) in metrics.PER_LAYER.items()
    }
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert max(bounds.values()) <= 0.25
    assert bounds["setup_s"] == max(bounds.values())


def test_percentile_estimates_and_refuses_empty():
    import random

    assert abs(metrics.percentile([1, 2, 3, 4, 5], 50) - 3) < 1e-6
    assert abs(metrics.percentile(list(range(101)), 90) - 90) < 0.5
    assert metrics.percentile([7.0], 90) == 7.0
    rng = random.Random(1)
    big = [rng.random() for _ in range(20_000)]
    assert abs(metrics.percentile(big, 90) - 0.9) < 0.01
    # a rank swap in the middle moves the estimate a little, not by a gap
    a = [1, 2, 3, 4, 10, 11, 20, 21, 22, 23]
    b = [1, 2, 3, 4, 11, 10.5, 20, 21, 22, 23]
    assert abs(metrics.percentile(a, 50) - metrics.percentile(b, 50)) < 0.5
    try:
        metrics.percentile([], 50)
    except ValueError:
        pass
    else:
        raise AssertionError("empty sample must raise")


def test_result_line_refuses_a_missing_metric():
    try:
        metrics.result_line({"setup_s": 1.0}, metrics.END_TO_END, True, 1, 0)
    except KeyError as e:
        assert "wall_s" in str(e)
    else:
        raise AssertionError("a missing metric must raise")


def test_union_of_intervals():
    from perfbench.layers import union_s

    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert union_s([], 0, 1) == 0


def test_stream_centers_fix_the_fake_transport_volume():
    from etl_wildweb_spark.sources.http import fake_transport
    from perfbench.workloads import STREAM_CENTERS, stream_centers

    centers = stream_centers(3)
    assert centers == stream_centers(3) != stream_centers(4)
    counts = []
    for c in centers:
        _status, body = fake_transport("", c)
        env = json.loads(body) if body.startswith("[") else None
        if env and len(env) == 1 and env[0]["data"]:
            counts.append(len(env[0]["data"]))
    assert len(counts) == STREAM_CENTERS
    assert sum(counts) == sum(1 + i % 4 for i in range(STREAM_CENTERS))
