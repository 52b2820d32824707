"""One workload, one process: start the session, set up, warm up, run the
closed loop for the measured window, check every output, and write the
result JSON. Started by ``perfbench/run.py``, which prepares the
environment; run directly only with that environment in place:

    python3 -m perfbench.bench --workload viewer_reads --seed 1 \
        --seconds 10 --trace 0 --work DIR --out result.json
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import sys
import time
import traceback

from perfbench.harness import (
    Op,
    cause,
    SparkCounters,
    Tracer,
    halves,
    median,
    retained_mb,
    tail,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# span layer -> self-time metric
SELF_LAYER = {
    "client": "self.client_ms",
    "driver": "self.driver_ms",
    "api": "self.api_ms",
    "operators.timeseries": "self.timeseries_ms",
    "operators.cull": "self.cull_ms",
    "operators.related": "self.related_search_ms",
    "operators.search": "self.related_search_ms",
    "corpus": "self.corpus_ms",
    "operators.dedup": "self.dedup_ms",
    "operators.curation": "self.curation_ms",
    "streaming.ingest": "self.ingest_ms",
    "spark": "self.spark_ms",
}


class Ctx:
    def __init__(self, spark, seed: int, work: str, trace: bool) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.trace = trace
        self.tracer = Tracer()
        self.counters = SparkCounters(spark)


class Runner:
    """The closed-loop client: one operation at a time, each phase in its
    own job group."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    @contextlib.contextmanager
    def phase(self, op: Op, name: str):
        self.ctx.counters.set_phase(op.op_id, name)
        op.counters[f"{name}_start"] = time.time()
        t = time.perf_counter()
        try:
            with self.ctx.tracer.span(name, "driver"):
                yield
        finally:
            if name == "construct":
                op.construct_s += time.perf_counter() - t

    def one(self, workload, op_id, traced: bool, read_counters: bool) -> Op:
        ctx = self.ctx
        op = Op(op_id=op_id, kind="", latency_s=None, traced=traced)
        ctx.tracer.begin_op(op_id, traced)
        wrappers = workload.trace_wrappers() if traced else []
        scan_metrics = read_counters and getattr(workload, "scan_metrics", False)
        first_exec = ctx.counters.last_execution_id() if scan_metrics else None
        with contextlib.ExitStack() as stack:
            for w in wrappers:
                stack.enter_context(w)
            op.start = time.time()
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(workload.name, "client"):
                    workload.run_op(op, self)
                op.latency_s = time.perf_counter() - t0
            except Exception as exc:  # a worker or engine failure fails the op
                op.latency_s = time.perf_counter() - t0
                op.error = f"{type(exc).__name__}: {cause(exc)}"
                op.result = None
            finally:
                ctx.counters.clear()
        if read_counters:
            t_read = time.perf_counter()
            execs = (first_exec, ctx.counters.last_execution_id()) if scan_metrics else None
            c = ctx.counters.read_op(op_id, ("construct", "action"), op.start,
                                     op.start + op.latency_s, executions=execs)
            op.counters.update(c)
            if traced:
                ctx.tracer.add_jobs(c["job_list"], op_id=op_id)
            op.counters["read_s"] = time.perf_counter() - t_read
        return op

    def closed_loop(self, workload, seconds: float) -> tuple[list[Op], float]:
        """Run operations back to back. Reading an operation's counters
        happens between operations and is left out of the window's clock,
        so a traced run measures as many operations as an untraced one."""
        ops: list[Op] = []
        t_start = time.perf_counter()
        paused = 0.0
        i = 0
        seen: dict[str, int] = {}
        while time.perf_counter() - t_start - paused < seconds:
            # each kind alternates traced and untraced, first one traced,
            # so every kind gets spans and a traced-vs-untraced comparison
            kind = workload.kind_of(i)
            seen[kind] = seen.get(kind, 0) + 1
            traced = self.ctx.trace and seen[kind] % 2 == 1
            op = self.one(workload, i, traced, read_counters=self.ctx.trace)
            paused += op.counters.pop("read_s", 0.0)
            ops.append(op)
            i += 1
        return ops, time.perf_counter() - t_start - paused

    def warm_up(self, workload, n_ops: int) -> list[Op]:
        """Unmeasured operations, the same closed loop, no counters."""
        return [self.one(workload, f"w{i}", False, False) for i in range(n_ops)]


def _workload(name: str, ctx: Ctx):
    if name == "viewer_reads":
        from perfbench.viewer import ViewerReads

        return ViewerReads(ctx)
    if name == "archiver_ingest":
        from perfbench.ingest import ArchiverIngest

        return ArchiverIngest(ctx)
    if name == "corpus_release":
        from perfbench.corpus import CorpusRelease

        return CorpusRelease(ctx)
    raise SystemExit(f"unknown workload {name!r}")


def spark_layer(ops: list[Op]) -> dict:
    counted = [o for o in ops if "jobs" in o.counters]
    if not counted:
        return {}

    def med(key, scale=1.0):
        return median(o.counters[key] * scale for o in counted)

    def spread(key):
        """Largest max - min of a count among operations of one kind (same
        plan shape, so a spread is the adaptive planner's doing)."""
        by_kind: dict[str, list[float]] = {}
        for o in counted:
            by_kind.setdefault(o.kind, []).append(o.counters[key])
        return float(max(max(v) - min(v) for v in by_kind.values()))

    return {
        "spark.jobs_per_op": med("jobs"),
        "spark.jobs_per_op_range": spread("jobs"),
        "spark.stages_per_op": med("stages"),
        "spark.tasks_per_op": med("tasks"),
        "spark.tasks_per_op_range": spread("tasks"),
        "spark.executor_run_ms_per_op": med("run_ms"),
        "spark.executor_cpu_ms_per_op": med("cpu_ms"),
        "spark.python_gap_ms_per_op": median(
            o.counters["run_ms"] - o.counters["cpu_ms"] for o in counted
        ),
        "spark.gc_ms_per_op": med("gc_ms"),
        "spark.shuffle_mb_per_op": med("shuffle_bytes", 1e-6),
        "spark.spill_mb_per_op": med("spill_bytes", 1e-6),
        "spark.driver_only_ms_per_op": med("driver_only_ms"),
        "spark.persisted_rdds_after_op": float(counted[-1].counters["persisted_rdds"]),
    }


def trace_overhead(ops: list[Op]) -> float:
    """Median over request kinds of (median traced - median untraced
    latency), in seconds; kinds differ in cost, so they are compared
    within themselves."""
    diffs = []
    for kind in {o.kind for o in ops}:
        lat = [(o.traced, o.latency_s) for o in ops if o.kind == kind and o.latency_s is not None]
        on = [v for t, v in lat if t]
        off = [v for t, v in lat if not t]
        if on and off:
            diffs.append(median(on) - median(off))
    return median(diffs)


def self_times(tracer: Tracer, n_traced: int) -> dict:
    out = {m: 0.0 for m in set(SELF_LAYER.values())}
    if n_traced == 0:
        return out
    for layer, secs in tracer.self_times().items():
        key = SELF_LAYER.get(layer)
        if key is not None:
            out[key] += 1000.0 * secs / n_traced
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    end_to_end, per_layer = metric_units()

    from epicsarchiver_spark.session import get_spark

    t_setup = time.perf_counter()
    wall0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_setup
    try:
        ctx = Ctx(spark, args.seed, args.work, bool(args.trace))
        ctx.tracer.add("session.get_spark", "session", wall0, wall0 + session_s, None,
                       op_id="setup")
        runner = Runner(ctx)
        wl = _workload(args.workload, ctx)
        setup_info = wl.setup()
        if hasattr(wl, "warm_up"):
            wl.warm_up()
        else:
            warm = runner.warm_up(wl, wl.warmup_ops())
            bad = [o for o in warm if o.error]
            if bad:
                print(f"warm-up failures: {len(bad)}; first: {bad[0].error}", file=sys.stderr)
        setup_s = time.perf_counter() - t_setup

        if hasattr(wl, "measure"):
            ops, window_s = wl.measure(args.seconds, lambda i: Op(op_id=i, kind="",
                                                                  latency_s=None))
        else:
            ops, window_s = runner.closed_loop(wl, seconds=args.seconds)
        # outside the window: what the process tree still holds, e.g. the
        # cached blocks no operator released
        gc.collect()
        retained = retained_mb(spark)

        if hasattr(wl, "check_all"):
            wl.check_all(ops)
        else:
            for op in ops:
                if op.error is None:
                    try:
                        wl.check(op)
                    except Exception as exc:
                        op.ok = False
                        op.error = f"check failed: {type(exc).__name__}: {exc}"
        stored_bpp = wl.stored_bytes_per_point()

        lat = [o.latency_s for o in ops if o.latency_s is not None]
        ok_ops = [o for o in ops if o.ok]
        tail_v, tail_pct, beyond = tail(lat)
        first, second = halves(lat)
        attempted = len(ops)
        e2e = {
            "latency_p50_ms": 1000.0 * median(lat),
            "latency_tail_ms": 1000.0 * tail_v,
            "throughput_per_s": sum(o.units for o in ok_ops) / window_s if window_s else 0.0,
            "ok_rate": len(ok_ops) / attempted if attempted else 0.0,
            "retained_mb": retained,
            "setup_s": setup_s,
            "stored_bytes_per_point": stored_bpp,
        }
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": attempted,
            "window_s": window_s,
            "tail_percentile": tail_pct,
            "tail_samples_beyond": beyond,
            "first_half_p50_ms": 1000.0 * first,
            "second_half_p50_ms": 1000.0 * second,
            "session_start_s": session_s,
            "setup": setup_info,
            "failures": [f"op {o.op_id} ({o.kind}): {o.error}" for o in ops if not o.ok][:10],
            "latencies_ms": [(o.kind, round(1000.0 * o.latency_s, 1)) for o in ops
                             if o.latency_s is not None],
            "throughput_unit": f"{wl.unit_name}/s",
        }
        if not args.trace:
            metrics = {k: {"value": v, "unit": end_to_end[k]} for k, v in e2e.items()}
        else:
            if hasattr(wl, "measure"):
                wl.trace(ops)
            layer = {k: 0.0 for k in per_layer}
            layer["session.start_s"] = session_s
            for k, v in setup_info.items():
                if k in layer:
                    layer[k] = v
            layer.update(spark_layer(ops))
            layer.update(wl.layer_metrics(ops, [o for o in ops if "jobs" in o.counters]))
            if hasattr(wl, "measure"):
                # batches are traced after the window from progress events
                # and the status store, so a batch never runs under tracing
                n_traced = sum(1 for o in ops if o.latency_s is not None)
                layer["trace.overhead_ms"] = 0.0
            else:
                n_traced = sum(1 for o in ops if o.traced)
                layer["trace.overhead_ms"] = 1000.0 * trace_overhead(ops)
            layer.update(self_times(ctx.tracer, n_traced))
            layer["window.first_half_p50_ms"] = 1000.0 * first
            layer["window.second_half_p50_ms"] = 1000.0 * second
            layer["latency.tail_percentile"] = tail_pct
            layer["latency.ops"] = float(attempted)
            ctx.tracer.dump(os.path.join(args.work, "spans.jsonl"))
            info["spans"] = len(ctx.tracer.spans)
            metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in per_layer.items()}
        result = {
            "correct": attempted > 0 and len(ok_ops) == attempted,
            "attempted": attempted,
            "failed": attempted - len(ok_ops),
            "metrics": metrics,
        }
        with open(args.out, "w") as f:
            json.dump({"result": result, "info": info, "e2e": e2e}, f)
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
