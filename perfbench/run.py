"""Benchmark command.

    python3 perfbench/run.py --workload {feed,tpch,corpus,stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Generates the workload's inputs from the
seed, starts the session itself, times set-up (session + registry + one
compiling pass), then runs closed-loop passes for ``--seconds``, checks
every output outside the timed regions, and prints one JSON line last:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (untraced and traced passes alternate, so the traced run
also reports its own overhead).  Exits 1 if any output was wrong or any
operation raised.

Full results and spans go to ``.perfbench_out/<workload>_s<seed>_c<cores>_*``
next to the repository root, never to ``bench_detail.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


class Ctx:
    """What a workload may touch: the session, its inputs, and wrappers
    that time, group and trace each call into the engine, and count
    attempted and failed operations."""

    def __init__(self, seed: int, data_dir: str, run_dir: str, tracer) -> None:
        self.seed, self.data_dir, self.run_dir, self.tracer = seed, data_dir, run_dir, tracer
        self.spark = self.store = None
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.calls: list[dict] = []
        self.last_s: dict[str, float] = {}

    def fail(self, name: str, msg: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {msg}"[:2000])
        log(f"FAILED {name}: {msg}"[:2000])

    def check(self, name: str, fn):
        """Run a check; an exception marks an output wrong."""
        from perfbench.layers import MeasurementError

        try:
            return fn()
        except MeasurementError:
            raise
        except Exception as e:  # a wrong output or a failed query: reported, run goes on
            self.fail(name, f"{type(e).__name__}: {e}")
            return None

    def attempt(self, name: str, fn):
        """Run one operation; it counts as attempted, and as failed if it raises."""
        self.attempted += 1
        return self.check(name, fn)

    def call(self, name: str, kind: str, fn, required: bool = True):
        """One call into the engine.  Traced, it runs under its own job
        group, read from the status store after the pass."""
        group = f"{self.tracer.trace_id}/{name}/{kind}"
        t = time.perf_counter()
        with self.tracer.span(kind) as span:
            if self.tracer.enabled:
                with self.store.group(group):
                    out = fn()
            else:
                out = fn()
        self.last_s[name] = time.perf_counter() - t
        if self.tracer.enabled:
            self.calls.append({"group": group, "kind": kind, "required": required,
                               "span": span, "s": self.last_s[name]})
        return out

    def query(self, name: str, action) -> float:
        """Build registered query ``name`` and run ``action`` on it; returns ms."""
        from etl_wildweb_spark.registry import QUERIES

        def run():
            df = self.call(name, "build", lambda: QUERIES[name](self.spark, self.data_dir),
                           required=False)
            self.call(name, "execute", lambda: action(df))

        t = time.perf_counter()
        with self.tracer.span(f"query.{name}"):
            self.attempt(name, run)
        return (time.perf_counter() - t) * 1000


def _owner(calls: list[dict], t: float, default: int) -> int:
    """Id of the call span whose interval holds time ``t``."""
    for c in calls:
        if c["span"]["start"] <= t <= c["span"]["end"]:
            return c["span"]["id"]
    return default


class Bench:
    def __init__(self, args, run_dir: str, settings: dict) -> None:
        from perfbench.layers import Tracer

        self.args, self.run_dir, self.settings = args, run_dir, settings
        self.tracer = Tracer(bool(args.trace))
        self.ctx = Ctx(args.seed, os.path.join(run_dir, "data"), run_dir, self.tracer)

    def run(self) -> dict:
        from perfbench import env
        from perfbench.workloads import WORKLOADS

        wl = WORKLOADS[self.args.workload]()
        t = time.perf_counter()
        inputs = wl.prepare(self.ctx)  # untimed
        log(f"inputs took {time.perf_counter() - t:.1f}s: {inputs}")
        env.reset_peak_rss()  # peak_rss_mb covers set-up and passes, not input generation
        spark = None
        try:
            spark, setup = self.setup(wl)
            passes = self.timed_passes(wl)
            peak = env.peak_rss_mb(spark)
            t = time.perf_counter()
            self.tracer.enabled, self.tracer.trace_id = bool(self.args.trace), "check"
            with self.tracer.span("check"):
                wl.check(self.ctx)
                for p in passes:
                    wl.check_pass(self.ctx, p)
            log(f"checks took {time.perf_counter() - t:.1f}s")
            record = env.record(spark, self.settings)
        finally:
            if spark is not None:
                t = time.perf_counter()
                env.stop(spark)
                log(f"stop took {time.perf_counter() - t:.1f}s")
        return self.report(wl, inputs, setup, passes, peak, record)

    def setup(self, wl):
        from perfbench.layers import EpochListener, StatusStore

        tr, ctx = self.tracer, self.ctx
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.get_spark"):
                from etl_wildweb_spark.session import get_spark, prepare

                spark = prepare(get_spark("perfbench"))
            t1 = time.perf_counter()
            with tr.span("registry.load_all"):
                from etl_wildweb_spark import registry

                registry.load_all()
            t2 = time.perf_counter()
            ctx.spark, ctx.store = spark, StatusStore(spark)
            self.listener = EpochListener()
            spark.streams.addListener(self.listener)
            with tr.span("pass"):
                wl.first_pass(ctx)
        setup = {"setup_s": time.perf_counter() - t0,
                 "session.get_spark_s": t1 - t0, "registry.load_all_s": t2 - t1}
        ctx.store.drain()
        self.listener.since((0, 0))  # loud if a set-up stream reported nothing
        log(f"setup {setup}")
        return spark, setup

    def timed_passes(self, wl) -> list[dict]:
        """Closed loop: each pass starts when the previous one completed.
        A workload with short passes first runs ``wl.warmup`` untimed ones
        (checked, not measured) and times at least ``wl.min_passes``.  With
        tracing, untraced and traced passes alternate as U T T U U T.., so
        a warm-up trend does not bias the overhead estimate."""
        warm = [self.one_pass(wl, i, False) for i in range(getattr(wl, "warmup", 0))]
        for p in warm:
            p["warmup"] = True
        passes: list[dict] = []
        t0 = time.perf_counter()
        while True:
            traced = bool(self.args.trace) and len(passes) % 4 in (1, 2)
            passes.append(self.one_pass(wl, len(warm) + len(passes), traced))
            done = (time.perf_counter() - t0 >= self.args.seconds
                    and len(passes) >= getattr(wl, "min_passes", 1))
            if done and (not self.args.trace or len(passes) >= 2):
                return warm + passes

    def one_pass(self, wl, i: int, traced: bool) -> dict:
        ctx, tr = self.ctx, self.tracer
        tr.enabled, tr.trace_id, ctx.calls = traced, f"pass{i}", []
        mark = self.listener.mark()
        w0, p0 = time.time(), time.perf_counter()
        with tr.span("pass") as span:
            out = wl.timed_pass(ctx)
        out["wall_s"] = time.perf_counter() - p0
        w1 = time.time()
        ctx.store.drain()
        runs, epochs = self.listener.since(mark)
        if out["ops_ms"] is None:
            out["ops_ms"] = [e["ms"]["triggerExecution"] for e in epochs]
        out["traced"] = traced
        if traced:
            out["layers"] = self.layers(wl, out, runs, epochs, w0, w1, span["id"])
        log(f"pass {i} traced={traced} wall={out['wall_s']:.3f}s ops={len(out['ops_ms'])}")
        return out

    def layers(self, wl, out, runs, epochs, w0, w1, pass_span) -> dict:
        from perfbench.layers import layer_totals, union_s
        from statistics import median

        from perfbench.metrics import EPOCH_DURATIONS

        store, tr, calls = self.ctx.store, self.tracer, self.ctx.calls
        stages: dict[int, dict] = {}
        jobs = build_jobs = 0

        def take(group, required, parent) -> int:
            n, recs = store.stages(group, required)
            for s in recs:
                if s["stage"] not in stages and s["status"] == "COMPLETE":
                    tr.add(f"stage.{s['stage']}", s["start_ms"] / 1e3, s["end_ms"] / 1e3, parent)
                stages.setdefault(s["stage"], s)
            return n

        for c in calls:
            n = take(c["group"], c["required"], c["span"]["id"])
            jobs += n
            build_jobs += n if c["kind"] == "build" else 0
        for r in runs:
            first = min(e["start_s"] for e in epochs if e["run_id"] == r)
            jobs += take(r, True, _owner(calls, first, pass_span))
        for e in epochs:
            tr.add(f"epoch.{e['batch_id']}", e["start_s"],
                   e["start_s"] + e["ms"]["triggerExecution"] / 1e3,
                   _owner(calls, e["start_s"], pass_span))
        done = [s for s in stages.values() if s["status"] == "COMPLETE"]
        active = union_s([(s["start_ms"] / 1e3, s["end_ms"] / 1e3) for s in done], w0, w1)
        tot = layer_totals(list(stages.values()))
        tot.update({
            "scheduler.jobs": jobs,
            "scheduler.stage_active_s": active,
            "scheduler.driver_gap_s": (w1 - w0) - active,
            "registry.build_s": sum(c["s"] for c in calls if c["kind"] == "build"),
            "registry.build_jobs": build_jobs,
            "trace.wall_s": w1 - w0,
        })
        if epochs:
            for key, name in EPOCH_DURATIONS.items():
                tot[name] = median([e["ms"].get(key, 0) for e in epochs])
            tot["streaming.epochs"] = len(epochs)
            tot["streaming.state_rows"] = max(e["state_rows"] for e in epochs)
            commits = [e["state_commit_ms"] for e in epochs if e["stateful"]]
            tot["streaming.state_commit_ms"] = median(commits) if commits else 0.0
        if hasattr(wl, "trace_extras"):
            tot.update(wl.trace_extras(self.ctx, out))
        return tot

    def report(self, wl, inputs, setup, passes, peak, record) -> dict:
        from statistics import median

        from perfbench.metrics import END_TO_END, PER_LAYER, percentile, result_line

        ctx = self.ctx
        plain = [p for p in passes if not p["traced"] and not p.get("warmup")]
        ops = [x for p in plain for x in p["ops_ms"]]
        e2e = {
            "setup_s": setup["setup_s"],
            "wall_s": median([p["wall_s"] for p in plain]),
            "records_per_s": median([p["records"] / (p.get("records_s") or p["wall_s"])
                                     for p in plain]),
            "op_p50_ms": percentile(ops, 50),
            "op_p90_ms": percentile(ops, 90),
            "peak_rss_mb": sum(peak.values()),
        }
        failed = min(ctx.failed, ctx.attempted)
        per_layer = {}
        traced = [p for p in passes if p["traced"]]
        if traced:
            per_layer = {n: 0.0 for n in PER_LAYER}  # a layer the workload does not use reads 0
            for n in {k for p in traced for k in p["layers"]}:
                per_layer[n] = sum(p["layers"].get(n, 0.0) for p in traced) / len(traced)
            per_layer.update({
                "session.get_spark_s": setup["session.get_spark_s"],
                "registry.load_all_s": setup["registry.load_all_s"],
                "trace.overhead_s": median([p["wall_s"] for p in traced]) - e2e["wall_s"],
                "failed_frac": failed / ctx.attempted,
            })
        names = PER_LAYER if self.args.trace else END_TO_END
        line = result_line(per_layer if self.args.trace else e2e, names,
                           failed == 0, ctx.attempted, failed)
        detail = {
            "workload": wl.name, "why": wl.why, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "loop": "closed: one driver, next pass starts when the previous completes",
            "inputs": inputs, "env": record, "setup": setup, "peak_rss_mb": peak,
            "end_to_end": e2e, "per_layer": per_layer,
            "samples": {"passes": len(plain), "ops": len(ops), "traced_passes": len(traced)},
            "passes": [{k: v for k, v in p.items()
                        if k in ("wall_s", "traced", "warmup", "records", "layers")}
                       | {"ops_ms": p["ops_ms"]} for p in passes],
            "failures": ctx.failures,
            "result": line,
        }
        os.makedirs(OUT_DIR, exist_ok=True)
        tag = f"{wl.name}_s{self.args.seed}_c{record['cores']}"
        with open(os.path.join(OUT_DIR, f"{tag}_trace{self.args.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        if self.args.trace:
            self.tracer.write(os.path.join(OUT_DIR, f"{tag}.spans.json"))
        return line


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["feed", "tpch", "corpus", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("etl_wildweb_spark", "bench.py", "tests/oracle_utils.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"perfbench: {ROOT} is not a checkout of the engine (missing {missing})")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import env

    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}_s{args.seed}_{os.getpid()}"
    )
    settings = env.pin(ROOT, run_dir)
    try:
        line = Bench(args, run_dir, settings).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
