"""The benchmark's metrics: names, units, direction, and for each
per-layer metric the end-to-end metric and workload it should move.
``BENCHMARK.json`` lists the same names (pinned by perfbench/tests/test_contract.py).
"""

from __future__ import annotations

import numpy as np

#: name -> (unit, better).  Reported with tracing off.  Every workload
#: reports all of them:
#:   records_per_s  input records per second: incidents per pass on feed,
#:                  incidents per run_stream_pipeline call on stream (the
#:                  b180 join in the same pass is left out), rows of the
#:                  workload's tables per pass on tpch/corpus;
#:   op_p50/p90_ms  latency of one operation: a micro-batch epoch
#:                  (triggerExecution) on stream, a pass (one poll
#:                  generation) on feed, one query on tpch and corpus;
#:   peak_rss_mb    VmHWM of the driver JVM plus the driver Python process
#:                  (the latter from after input generation).
#:
#: Some of them restate wall_s and are no separate evidence there:
#:   records_per_s  on feed, tpch and corpus: a fixed count / pass time;
#:   op_p50_ms      on feed: the median pass time, as wall_s (op_p90_ms is
#:                  the tail of the same pass times).
#: Independent of wall_s are op_p50/p90_ms on tpch and corpus (single
#: queries), and records_per_s and op_p50/p90_ms on stream.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "records_per_s": ("1/s", "higher"),
    "op_p50_ms": ("ms", "lower"),
    "op_p90_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

#: name -> (unit, better, "end-to-end metric it moves @ workload").
#: Reported by the traced run; per-pass means unless the name says epoch.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s @ all"),
    "registry.load_all_s": ("s", "lower", "setup_s @ all"),
    "registry.build_s": ("s", "lower", "wall_s @ corpus; ~0 @ tpch"),
    "registry.build_jobs": ("count", "lower", "wall_s @ corpus; ~0 @ tpch"),
    "scheduler.jobs": ("count", "lower", "wall_s @ corpus; flat @ feed"),
    "scheduler.stages": ("count", "lower", "wall_s @ corpus; flat @ feed"),
    "scheduler.stages_skipped": ("count", "lower", "wall_s @ corpus; flat @ feed"),
    "scheduler.tasks": ("count", "lower", "wall_s @ corpus; flat @ feed"),
    "scheduler.stage_active_s": ("s", "lower", "wall_s @ all (stage_active_s + driver_gap_s = trace.wall_s)"),
    "scheduler.driver_gap_s": ("s", "lower", "wall_s @ corpus; op_p50_ms @ stream"),
    "executor.run_s": ("s", "lower", "wall_s @ tpch"),
    "executor.cpu_s": ("s", "lower", "wall_s @ tpch"),
    "executor.gc_s": ("s", "lower", "wall_s @ tpch"),
    "executor.noncpu_s": ("s", "lower", "wall_s @ corpus; records_per_s @ feed"),
    "executor.deserialize_s": ("s", "lower", "wall_s @ corpus; records_per_s @ feed"),
    "executor.spill_bytes": ("bytes", "lower", "peak_rss_mb @ corpus"),
    "executor.result_bytes": ("bytes", "lower", "peak_rss_mb @ corpus"),
    "executor.failed_tasks": ("count", "lower", "failed @ all"),
    "shuffle.write_bytes": ("bytes", "lower", "wall_s @ tpch; 0 @ feed"),
    "shuffle.read_bytes": ("bytes", "lower", "wall_s @ tpch; 0 @ feed"),
    "shuffle.fetch_wait_s": ("s", "lower", "wall_s @ tpch; 0 @ feed"),
    "shuffle.write_s": ("s", "lower", "wall_s @ tpch; 0 @ feed"),
    "io.input_bytes": ("bytes", "lower", "wall_s @ tpch"),
    "io.input_rows": ("count", "lower", "wall_s @ tpch"),
    "ingest.decode_s": ("s", "lower", "records_per_s @ feed"),
    "ingest.transform_s": ("s", "lower", "records_per_s @ feed"),
    "ingest.kept_ratio": ("ratio", "higher", "records_per_s @ feed"),
    "sinks.serialize_s": ("s", "lower", "records_per_s @ feed"),
    "sinks.deliver_s": ("s", "lower", "records_per_s @ feed"),
    "sinks.chunks": ("count", "lower", "records_per_s @ feed"),
    "sinks.failed_chunks": ("count", "lower", "failed @ feed, stream"),
    "sources.latest_offset_ms": ("ms", "lower", "op_p50_ms @ stream (epoch median)"),
    "sources.get_batch_ms": ("ms", "lower", "op_p50_ms @ stream (epoch median)"),
    "streaming.add_batch_ms": ("ms", "lower", "op_p50_ms @ stream (epoch median)"),
    "streaming.planning_ms": ("ms", "lower", "op_p50_ms @ stream (epoch median)"),
    "streaming.wal_commit_ms": ("ms", "lower", "op_p50_ms @ stream (epoch median)"),
    "streaming.commit_offsets_ms": ("ms", "lower", "op_p50_ms @ stream (epoch median)"),
    "streaming.state_rows": ("count", "lower", "op_p90_ms @ stream (peak per pass)"),
    "streaming.state_commit_ms": ("ms", "lower", "op_p90_ms @ stream (stateful-epoch median)"),
    "streaming.epochs": ("count", "lower", "op_p90_ms @ stream"),
    "trace.wall_s": ("s", "lower", "wall_s @ all, traced"),
    "trace.overhead_s": ("s", "lower", "traced minus untraced wall_s @ all"),
    "failed_frac": ("ratio", "lower", "failed / attempted @ all"),
}

#: Listener duration key -> per-layer metric (medians over epochs).
EPOCH_DURATIONS = {
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


_GRID = 20_000  # integration points for the Beta weights


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile (q in 0..100): a mean
    of all order statistics weighted by a Beta((n+1)p, (n+1)(1-p)) law.
    On a few samples of unlike sizes (ten queries of a pass) it moves
    smoothly when two samples swap ranks, where a single order statistic
    jumps from one query's time to another's.  On five corpus runs (seeds
    11-15, 4 cores) the p50 spread (IQR / median) was 5.3% with this
    estimator and 25.0% with np.percentile on the same samples: b176's
    time moves by +-18% and sits at the middle rank of seven."""
    if not values:
        raise ValueError("percentile of no samples")
    s = np.sort(np.asarray(values, dtype=float))
    n, p = len(s), q / 100
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    x = (np.arange(_GRID) + 0.5) / _GRID
    log_pdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, np.linspace(0, 1, _GRID + 1), cdf))
    return float(weights @ s)


def result_line(values: dict[str, float], names: dict, correct: bool,
                attempted: int, failed: int) -> dict:
    """The last stdout line: every metric in ``names`` with its unit."""
    missing = [n for n in names if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": names[n][0]} for n in names},
    }
