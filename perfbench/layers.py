"""Readers for the engine's layers, all from outside the engine.

* ``StatusStore`` reads Spark's status store per job group, after the
  timer stops.
* ``EpochListener`` records micro-batch progress from a
  ``StreamingQueryListener``.
* ``Tracer`` keeps spans in memory and writes them out with self times.

Every reader fails loudly: an empty job group, a missing stage or a
stream run with no progress events raises ``MeasurementError``; none of
them yields ``nan`` or a silent zero.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


class MeasurementError(RuntimeError):
    """A layer reader could not produce the number it was asked for."""


#: StageData field -> (per-layer counter, scale to the counter's unit).
STAGE_FIELDS = {
    "executorRunTime": ("executor.run_s", 1e-3),
    "executorCpuTime": ("executor.cpu_s", 1e-9),
    "jvmGcTime": ("executor.gc_s", 1e-3),
    "executorDeserializeTime": ("executor.deserialize_s", 1e-3),
    "resultSize": ("executor.result_bytes", 1),
    "memoryBytesSpilled": ("executor.spill_bytes", 1),
    "diskBytesSpilled": ("executor.spill_bytes", 1),
    "numFailedTasks": ("executor.failed_tasks", 1),
    "numTasks": ("scheduler.tasks", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle.fetch_wait_s", 1e-3),
    "shuffleWriteTime": ("shuffle.write_s", 1e-9),
    "inputBytes": ("io.input_bytes", 1),
    "inputRecords": ("io.input_rows", 1),
}


def _opt_ms(opt) -> int | None:
    """A Scala Option[java.util.Date] as epoch milliseconds."""
    return opt.get().getTime() if opt.isDefined() else None


class StatusStore:
    """Jobs and stages of one job group, read from the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    @contextmanager
    def group(self, group: str):
        """Run the body's Spark jobs under job group ``group``."""
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until every posted event reached the status store and the
        listeners, so a read after an action sees all of its jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str, required: bool = True) -> tuple[int, list[dict]]:
        """(job count, stage records) of one job group.  Raises if a
        required group holds no job, or if a job's stage is missing."""
        jobs = self.job_ids(group)
        if required and not jobs:
            raise MeasurementError(f"job group {group!r} is empty")
        seen: dict[int, dict] = {}
        for jid in jobs:
            try:
                job = self._store.job(jid)
            except Exception as e:  # py4j wraps NoSuchElementException
                raise MeasurementError(f"job {jid} missing from status store: {e}") from e
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid not in seen:
                    seen[sid] = self._stage(sid, jid)
        return len(jobs), list(seen.values())

    def _stage(self, sid: int, jid: int) -> dict:
        try:
            s = self._store.lastStageAttempt(sid)
        except Exception as e:
            raise MeasurementError(
                f"stage {sid} of job {jid} missing from status store: {e}"
            ) from e
        rec = {
            "stage": sid,
            "status": s.status().toString(),
            "start_ms": _opt_ms(s.submissionTime()),
            "end_ms": _opt_ms(s.completionTime()),
        }
        for fld in STAGE_FIELDS:
            rec[fld] = getattr(s, fld)()
        if rec["status"] not in ("COMPLETE", "SKIPPED"):
            raise MeasurementError(f"stage {sid} ended {rec['status']}")
        if rec["status"] == "COMPLETE" and None in (rec["start_ms"], rec["end_ms"]):
            raise MeasurementError(f"stage {sid} has no submission/completion time")
        return rec


def layer_totals(stages: list[dict]) -> dict[str, float]:
    """Sum stage metrics into per-layer counters (skipped stages count
    only toward ``scheduler.stages_skipped``)."""
    out = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
    out["scheduler.stages"] = out["scheduler.stages_skipped"] = 0
    for s in stages:
        if s["status"] == "SKIPPED":
            out["scheduler.stages_skipped"] += 1
            continue
        out["scheduler.stages"] += 1
        for fld, (name, scale) in STAGE_FIELDS.items():
            out[name] += s[fld] * scale
    out["executor.noncpu_s"] = (
        out["executor.run_s"] - out["executor.cpu_s"] - out["executor.gc_s"]
    )
    return out


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class EpochListener(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session."""

    def __init__(self) -> None:
        self.started: list[str] = []
        self.epochs: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = dict(p.durationMs)
        if "addBatch" not in d:
            return  # an idle trigger that ran no batch
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        self.epochs.append({
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start_s": start.replace(tzinfo=timezone.utc).timestamp(),
            "ms": d,
            "rows": p.numInputRows,
            "stateful": bool(p.stateOperators),
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            "state_commit_ms": sum(op.commitTimeMs for op in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def mark(self) -> tuple[int, int]:
        return len(self.started), len(self.epochs)

    def since(self, mark: tuple[int, int]) -> tuple[list[str], list[dict]]:
        """Runs started and epochs completed after ``mark``; raises if a run
        reported no epoch.  Call after ``StatusStore.drain``."""
        runs = self.started[mark[0]:]
        epochs = self.epochs[mark[1]:]
        silent = [r for r in runs if not any(e["run_id"] == r for e in epochs)]
        if silent:
            raise MeasurementError(f"streaming runs {silent} reported no progress events")
        return runs, epochs


class Tracer:
    """In-memory spans: name, start, end, parent and one trace id per pass.
    Disabled, it records nothing and costs one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, parent: int | None = None) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": start,
            "end": end,
            "parent": parent if parent is not None else (self._stack[-1] if self._stack else None),
            "trace": self.trace_id,
        }
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            s["self_s"] = (s["end"] - s["start"]) - union_s(kids, s["start"], s["end"])
        with open(path, "w") as f:
            json.dump(self.spans, f)
