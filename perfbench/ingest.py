"""archiver_ingest: ``streaming.ingest.compressed_stream`` ->
``archive_query`` over time-ordered parquet event files, one file per
micro-batch, on the session from ``ingest_session``. One operation is
one micro-batch; its latency and phase breakdown come from the query's
progress events (``StreamingQuery.recentProgress``).

The check: after the window, a sentinel file with one far-future event
per series flushes every pending limbo entry (the sentinel-tail
convention of tests/test_streaming.py); the stored points must then
equal ``operators.deadband.compress_reference`` over the same events."""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

from perfbench.harness import cause

SERIES = 400
FILE_SPAN_S = 30.0  # event time covered by one file
POOL_FILES = 48  # staged for the measured stream; the window ends if it runs dry
WARMUP_FILES = 1  # the warm-up stream: own source, checkpoint and output
QUEUE_AHEAD = 2  # files waiting in the source beyond the running batch
BUCKETS = 32  # same store layout as viewer_reads
T0 = 1_700_000_000.0
POLL_S = 0.05


def _config_defaults() -> tuple[float, float]:
    from epicsarchiver_spark.config import CONFIG_KEYS

    return float(CONFIG_KEYS["deadtime"][0]), float(CONFIG_KEYS["deadband"][0])


class EventGen:
    """Seeded event files. Series classes: bursty (mostly dropped by
    deadtime), repeating (one value held, collapsed in limbo), slow
    (every event kept) and silent-then-resuming; event counts per series
    are Zipf-skewed within the bursty class."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.names = np.array([f"IOC{i % 16:02d}:pv{i:04d}" for i in range(SERIES)], dtype=object)
        kinds = np.array(["bursty"] * 160 + ["repeating"] * 80 + ["slow"] * 80 + ["silent"] * 80)
        self.kind = kinds[self.rng.permutation(SERIES)]
        bursty = np.flatnonzero(self.kind == "bursty")
        w = 1.0 / np.arange(1, bursty.size + 1) ** 1.1
        self.burst_weight = np.zeros(SERIES)
        self.burst_weight[bursty] = w[self.rng.permutation(bursty.size)] / w.sum()
        self.level = self.rng.normal(0, 10, SERIES).round(2)
        self.silent_phase = self.rng.integers(0, 6, SERIES)

    def file(self, f: int) -> pd.DataFrame:
        rng = self.rng
        t0 = T0 + f * FILE_SPAN_S
        keys, times, vals = [], [], []
        # bursty: 200 bursts of ~12 events within 1 s, keys Zipf-skewed
        n_bursts = 200
        owners = rng.choice(SERIES, n_bursts, p=self.burst_weight)
        starts = rng.uniform(t0, t0 + FILE_SPAN_S - 1.0, n_bursts)
        for k, s in zip(owners, starts):
            m = 12
            keys.append(np.full(m, k))
            times.append(s + np.sort(rng.uniform(0, 1.0, m)))
            vals.append(self.level[k] + rng.normal(0, 1, m).round(3))
        # repeating: one event per second, value changes once per file
        rep = np.flatnonzero(self.kind == "repeating")
        for k in rep:
            ts = t0 + np.arange(0, FILE_SPAN_S, 1.0) + rng.uniform(0, 0.5)
            keys.append(np.full(ts.size, k))
            times.append(ts)
            v = np.full(ts.size, self.level[k])
            v[ts.size // 2:] += 0.5
            vals.append(v)
            self.level[k] = v[-1]
        # slow: every ~7.5 s (beyond the 5 s deadtime), always moving
        slow = np.flatnonzero(self.kind == "slow")
        for k in slow:
            ts = t0 + np.arange(0.0, FILE_SPAN_S, 7.5) + rng.uniform(0, 0.4)
            keys.append(np.full(ts.size, k))
            times.append(ts)
            vals.append(self.level[k] + np.cumsum(rng.uniform(0.1, 1.0, ts.size)).round(3))
            self.level[k] = vals[-1][-1]
        # silent-then-resuming: active one file in six, slow cadence
        sil = np.flatnonzero((self.kind == "silent") & ((f + self.silent_phase) % 6 == 0))
        for k in sil:
            ts = t0 + np.arange(0.0, FILE_SPAN_S, 6.0) + rng.uniform(0, 0.4)
            keys.append(np.full(ts.size, k))
            times.append(ts)
            vals.append(self.level[k] + rng.normal(0, 2, ts.size).round(3))
        keys = np.concatenate(keys)
        times = np.concatenate(times)
        vals = np.concatenate(vals)
        order = np.argsort(times, kind="stable")
        return pd.DataFrame(
            {"pvname": self.names[keys[order]], "time": times[order], "value": vals[order]}
        )

    def sentinel(self, f: int) -> pd.DataFrame:
        """One event per series far past every deadtime window."""
        t = T0 + f * FILE_SPAN_S + 3600.0
        return pd.DataFrame(
            {"pvname": self.names, "time": np.full(SERIES, t), "value": np.full(SERIES, -1e9)}
        )


def _stage(frame: pd.DataFrame, path: str, mtime: float) -> None:
    """Write one event file and pin its modification time, which fixes
    the order in which the file source picks files up."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    frame.to_parquet(tmp, index=False)
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def _sink_log(out: str) -> dict[int, list[str]]:
    """File-sink metadata log: committed files added by each batch."""
    log_dir = os.path.join(out, "_spark_metadata")
    entries: dict[int, set[str]] = {}
    if not os.path.isdir(log_dir):
        return {}
    for name in os.listdir(log_dir):
        base = name.split(".")[0]
        if not base.isdigit() or name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()[1:]
        entries[int(base)] = {json.loads(line)["path"] for line in lines if line.strip()}
    out_map: dict[int, list[str]] = {}
    seen: set[str] = set()
    for b in sorted(entries):
        new = entries[b] - seen  # a compaction file repeats earlier batches
        seen |= entries[b]
        out_map[b] = sorted(p.replace("file://", "", 1) for p in new)
    return out_map


class ArchiverIngest:
    name = "archiver_ingest"
    unit_name = "events"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.deadtime, self.deadband = _config_defaults()

    # --- set-up ----------------------------------------------------------
    def setup(self) -> dict:
        t = time.perf_counter()
        w = self.ctx.work
        self.stage_dir = f"{w}/staged"
        os.makedirs(self.stage_dir, exist_ok=True)
        gen = EventGen(self.ctx.seed)
        self.files: list[str] = []
        self.events: list[pd.DataFrame] = []
        for f in range(POOL_FILES):
            ev = gen.file(f)
            path = f"{self.stage_dir}/ev{f:05d}.parquet"
            ev.to_parquet(path, index=False)
            self.files.append(path)
            self.events.append(ev)
        self.sentinel = gen.sentinel(POOL_FILES)
        warm_gen = EventGen(self.ctx.seed + 7919)
        self.warm_events = [warm_gen.file(f) for f in range(WARMUP_FILES)]
        gen_s = time.perf_counter() - t
        self.input_bytes = sum(os.path.getsize(p) for p in self.files)
        return {"gen_s": gen_s, "build_s": 0.0}

    def _start(self, name: str, available_now: bool):
        from epicsarchiver_spark.streaming.ingest import (
            EVENT_SCHEMA,
            archive_query,
            compressed_stream,
            ingest_session,
        )

        base = f"{self.ctx.work}/{name}"
        session = ingest_session(self.ctx.spark, self.input_bytes)
        stream = (
            session.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/src")
        )
        writer = archive_query(
            compressed_stream(stream, deadtime=self.deadtime, deadband=self.deadband,
                              flush_ms=None),
            f"{base}/out", f"{base}/ckpt", buckets=BUCKETS,
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def warm_up(self) -> None:
        """A whole stream of its own: source, checkpoint and output."""
        src = f"{self.ctx.work}/warm/src"
        os.makedirs(src, exist_ok=True)
        for f, ev in enumerate(self.warm_events):
            _stage(ev, f"{src}/ev{f:05d}.parquet", 1e9 + f)
        q = self._start("warm", available_now=True)
        try:
            q.awaitTermination(60)
        except Exception as exc:  # noqa: BLE001 - the measured stream counts it
            print(f"warm-up stream failed: {cause(exc)}", file=sys.stderr)
        if q.isActive:
            q.stop()
            print("warm-up stream did not finish", file=sys.stderr)

    def warmup_ops(self) -> int:
        return WARMUP_FILES

    # --- the measured window ----------------------------------------------
    def measure(self, seconds: float, ops_factory) -> tuple[list, float]:
        """Keep QUEUE_AHEAD files queued behind the running batch, stop the
        query at the deadline, then drain the interrupted batch plus the
        sentinel outside the window."""
        src = f"{self.ctx.work}/main/src"
        os.makedirs(src, exist_ok=True)
        staged = 0

        def stage_next() -> None:
            nonlocal staged
            os.link(self.files[staged], f"{src}/ev{staged:05d}.parquet.tmp")
            os.utime(f"{src}/ev{staged:05d}.parquet.tmp", (2e9 + staged, 2e9 + staged))
            os.rename(f"{src}/ev{staged:05d}.parquet.tmp", f"{src}/ev{staged:05d}.parquet")
            staged += 1

        for _ in range(1 + QUEUE_AHEAD):
            stage_next()
        t_start = time.perf_counter()
        wall0 = time.time()
        q = self._start("main", available_now=False)
        self.run_id = str(q.runId)
        deadline = t_start + seconds
        error = None
        done = 0
        while time.perf_counter() < deadline:
            if q.exception() is not None or not q.isActive:
                error = cause(q.exception() or "query stopped")
                break
            prog = q.lastProgress
            if prog is not None:
                done = max(done, int(prog["batchId"]) + 1)
            while staged < min(len(self.files), done + 1 + QUEUE_AHEAD):
                stage_next()
            time.sleep(POLL_S)
        window_s = time.perf_counter() - t_start
        wall1 = wall0 + window_s
        progress = list(q.recentProgress) if error is None else []
        q.stop()
        # batches that finished inside the window are the operations; the
        # window is cut where the last of them ended, so the batch the
        # deadline interrupted counts neither as events nor as time
        ops = []
        last_end = wall0
        for p in progress:
            if p["numInputRows"] <= 0:
                continue
            start = _epoch(p["timestamp"])
            lat = p["durationMs"]["triggerExecution"] / 1000.0
            if start + lat > wall1:
                continue
            last_end = max(last_end, start + lat)
            op = ops_factory(int(p["batchId"]))
            op.kind = "micro_batch"
            op.latency_s = lat
            op.start = start
            op.units = float(p["numInputRows"])
            ops.append(op)
        if error is None and not ops:
            error = "no micro-batch completed within the window"
        if error is not None:
            op = ops_factory(len(ops))
            op.kind = "micro_batch"
            op.error = f"stream failed: {error}"
            ops.append(op)
        else:
            window_s = last_end - wall0
        self.progress = progress
        # files the stopped query never planned into a batch leave the
        # source; the drain reruns the interrupted batch, if any, then the
        # sentinel, outside the window
        offsets = f"{self.ctx.work}/main/ckpt/offsets"
        planned = [int(n) for n in os.listdir(offsets) if n.isdigit()] if os.path.isdir(
            offsets) else []
        self.staged = max(planned) + 1 if planned else 0
        for f in range(self.staged, staged):
            os.unlink(f"{src}/ev{f:05d}.parquet")
        if error is None:
            _stage(self.sentinel, f"{src}/zz_sentinel.parquet", 2e9 + POOL_FILES + 10)
            q2 = self._start("main", available_now=True)
            self.drain_error = None
            try:
                q2.awaitTermination(120)
            except Exception as exc:  # noqa: BLE001 - fails every batch in check_all
                self.drain_error = cause(exc)
            if q2.isActive:
                q2.stop()
                self.drain_error = "drain did not finish"
        else:
            self.drain_error = error
        return ops, window_s

    # --- checks -------------------------------------------------------------
    def check_all(self, ops) -> None:
        """Stored points vs compress_reference over every staged event plus
        the sentinel. A mismatch is charged to the file (= batch) whose
        event produced the point."""
        import pyarrow.dataset as ds

        from epicsarchiver_spark.operators.deadband import compress_reference

        log = _sink_log(f"{self.ctx.work}/main/out")
        self.sink_log = log
        if self.drain_error is not None:
            for op in ops:
                op.ok = False
                op.error = op.error or f"drain failed: {self.drain_error}"
            return
        files = [p for b in sorted(log) for p in log[b]]
        got = ds.dataset(files, format="parquet").to_table(columns=["pvname", "time", "value"])
        got = got.to_pandas()
        events = pd.concat(self.events[: self.staged] + [self.sentinel], ignore_index=True)
        want_rows = []
        for pv, grp in events.groupby("pvname", sort=False):
            grp = grp.sort_values("time", kind="stable")
            kept = compress_reference(
                list(zip(grp["time"].tolist(), grp["value"].tolist())),
                self.deadtime, self.deadband,
            )
            want_rows += [(pv, t, v) for t, v in kept]
        want = set(want_rows)
        have = list(zip(got["pvname"], got["time"], got["value"]))
        bad_files: set[int] = set()
        extra = set(have) - want
        missing = want - set(have)
        dup = len(have) - len(set(have))
        for _, t, _ in extra | missing:
            bad_files.add(int((t - T0) // FILE_SPAN_S))
        # the interrupted batch, files planned after it and the sentinel
        # have no operation of their own: a mismatch there fails the last
        # measured batch
        unmatched = sorted(bad_files - {op.op_id for op in ops})
        last = max((op.op_id for op in ops if op.error is None), default=None)
        for op in ops:
            if op.error is not None:
                op.ok = False
                continue
            f = op.op_id  # batch b processed staged file b
            drained = unmatched if f == last else []
            op.ok = f not in bad_files and not drained and dup == 0
            if not op.ok:
                after = f"; files drained after the window: {drained}" if drained else ""
                op.error = (
                    f"batch {f}: stored points differ from compress_reference "
                    f"({len(extra)} extra, {len(missing)} missing, {dup} duplicated in the run)"
                    f"{after}"
                )

    def stored_bytes_per_point(self) -> float:
        import pyarrow.parquet as pq

        files = [p for b in sorted(self.sink_log) for p in self.sink_log[b]]
        nbytes = sum(os.path.getsize(p) for p in files)
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
        self.rows_per_batch = {
            b: sum(pq.ParquetFile(p).metadata.num_rows for p in fl)
            for b, fl in self.sink_log.items()
        }
        return nbytes / rows if rows else 0.0

    # --- traced run -------------------------------------------------------------
    def trace(self, ops) -> None:
        """Micro-batch spans from progress events (phases laid out in the
        order a trigger runs them) and Spark job spans from the status
        store; counters per batch from the jobs the batch submitted (the
        query's job group is its run id, each job's description names its
        batch)."""
        from perfbench.harness import driver_only_ms

        counters = self.ctx.counters
        tr = self.ctx.tracer
        prog = {int(p["batchId"]): p for p in self.progress}
        ids = self.ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(self.run_id)
        by_batch: dict[int, list[dict]] = {}
        for j in counters.jobs([("stream", j) for j in ids]):
            marker = j["desc"].rsplit("batch = ", 1)
            if len(marker) == 2 and marker[1].strip().isdigit():
                by_batch.setdefault(int(marker[1].strip()), []).append(j)
        for op in ops:
            p = prog.get(op.op_id)
            if p is None or op.latency_s is None:
                continue
            jobs = by_batch.get(op.op_id, [])
            start = _epoch(p["timestamp"])
            c = counters.totals(jobs)
            c["jobs"] = len(jobs)
            c["driver_only_ms"] = driver_only_ms(jobs, start, start + op.latency_s)
            c["persisted_rdds"] = counters.persisted_rdds()
            op.counters.update(c)
            tr.begin_op(op.op_id, True)
            root = tr.add(f"batch {op.op_id}", "streaming.ingest", start,
                          start + op.latency_s, None)
            t = start
            for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                          "walCommit", "commitOffsets"):
                d = p["durationMs"].get(phase, 0) / 1000.0
                tr.add(phase, "streaming.ingest", t, t + d, root)
                t += d
            tr.add_jobs(jobs, op_id=op.op_id)

    # --- per-layer metrics ----------------------------------------------------
    def layer_metrics(self, ops, counted) -> dict:
        from perfbench.harness import median

        prog = {int(p["batchId"]): p for p in self.progress}
        rows = [prog[o.op_id] for o in ops if o.latency_s is not None and o.op_id in prog]

        def dur(key):
            return median(p["durationMs"].get(key, 0) for p in rows)

        def state(key):
            return median(
                sum(s.get(key, 0) for s in p["stateOperators"]) for p in rows
            )

        ev_in = sum(p["numInputRows"] for p in rows)
        pts_out = sum(self.rows_per_batch.get(int(p["batchId"]), 0) for p in rows)
        return {
            "ingest.batch_ms": dur("triggerExecution"),
            "ingest.add_batch_ms": dur("addBatch"),
            "ingest.get_batch_ms": dur("getBatch"),
            "ingest.query_planning_ms": dur("queryPlanning"),
            "ingest.wal_commit_ms": dur("walCommit"),
            "ingest.keep_ratio": pts_out / ev_in if ev_in else 0.0,
            "ingest.state_rows": state("numRowsTotal"),
            "ingest.state_mb": state("memoryUsedBytes") / 1e6,
            "ingest.state_partitions": state("numShufflePartitions"),
            "ingest.files_per_batch": median(
                len(self.sink_log.get(int(p["batchId"]), [])) for p in rows
            ),
        }


def _epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC ('2026-10-17T12:00:00.123Z')."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
