"""viewer_reads: the web viewer's request mix against a points store
built once in setup with ``sources.points_store.write_points`` and served
through ``api.PVArchEngine``.

Every expected answer is computed from the generator's own numpy arrays,
never from the engine."""

from __future__ import annotations

import re
import time

import numpy as np
import pandas as pd

T_END = 1_700_000_000.0  # newest point of the generated history
HISTORY_S = 30 * 86400.0
SERIES = 200
POINTS = 600  # per series: one point per ~72 min, far inside the 1 d heartbeat
BUCKETS = 32
PARTNERS = 8  # related-pairs edges per series
LOOKBACK = 2 * 86400.0  # the facade's "auto" lookback (2 x 86400 s heartbeat)
PLOT_POINTS = 100  # plot width: the 7 d window (~140 points) needs one cull pass
LATEST_AGE_S = 600.0
WARMUP_REQUESTS = 10

# The request kinds cycle through this fixed order, so every run sees the
# same mix in the same order (the seed picks data, series and windows).
# get_data is 11 of 20, so the median falls inside that class.
DECK = (
    "get_data_1h", "value_at", "get_data_1d", "plot", "get_data_7d", "related",
    "get_data_1h", "search", "get_data_1d", "latest", "get_data_7d", "value_at",
    "get_data_1h", "plot", "get_data_1d", "related", "get_data_7d", "search",
    "get_data_1h", "get_data_1d",
)
WINDOW_S = {"get_data_1h": 3600.0, "get_data_1d": 86400.0, "get_data_7d": 7 * 86400.0,
            "plot": 7 * 86400.0}
API_METRIC = {"get_data_1h": "get_data", "get_data_1d": "get_data",
              "get_data_7d": "get_data", "value_at": "value_at", "related": "related",
              "search": "search", "plot": "plot", "latest": "latest"}


def series_names(n: int) -> list[str]:
    sig = ("VAL", "RBV", "TEMP", "PRES")
    return [f"BL{i % 12:02d}:dev{i:03d}:{sig[i % 4]}" for i in range(n)]


def generate(seed: int) -> dict:
    """Points (pvname, time, value), related pairs (pv1, pv2, score) and
    the per-series arrays the checks use."""
    rng = np.random.default_rng(seed)
    names = series_names(SERIES)
    times = np.sort(rng.uniform(T_END - HISTORY_S, T_END, (SERIES, POINTS)), axis=1)
    times[:, -1] = T_END - rng.uniform(0, 3600.0, SERIES)  # recent activity
    times.sort(axis=1)
    values = np.round(np.cumsum(rng.normal(0, 1, (SERIES, POINTS)), axis=1), 3)
    points = pd.DataFrame(
        {
            "pvname": np.repeat(np.array(names, dtype=object), POINTS),
            "time": times.ravel(),
            "value": values.ravel(),
        }
    )
    a = np.repeat(np.arange(SERIES), PARTNERS)
    b = (a + rng.integers(1, SERIES, a.size)) % SERIES
    score = rng.integers(1, 50, a.size)
    pairs = pd.DataFrame(
        {
            "pv1": np.array(names, dtype=object)[a],
            "pv2": np.array(names, dtype=object)[b],
            "score": score.astype("int64"),
        }
    )
    return {"names": names, "times": times, "values": values, "points": points, "pairs": pairs}


# ----------------------------------------------------------- expectations


def expect_get_data(data, i: int, t0: float, t1: float) -> list[tuple]:
    t, v = data["times"][i], data["values"][i]
    lo, hi = np.searchsorted(t, t0, "left"), np.searchsorted(t, t1, "right")
    rows = list(zip(t[lo:hi].tolist(), v[lo:hi].tolist()))
    if lo > 0 and t[lo - 1] >= t0 - LOOKBACK:
        rows.insert(0, (float(t[lo - 1]), float(v[lo - 1])))
    return rows


def expect_value_at(data, i: int, at: float):
    t, v = data["times"][i], data["values"][i]
    k = np.searchsorted(t, at + 1e-4, "left") - 1
    if k < 0 or t[k] < at - LOOKBACK:
        return None
    return float(t[k]), float(v[k])


def expect_cull(rows: list[tuple], max_points: int) -> set[tuple]:
    """The reference cull (every 3rd point before the last, plus values
    outside the [15, 85] percentile band), repeated until small enough."""
    rows = sorted(rows)
    for _ in range(16):
        if len(rows) <= max_points:
            break
        vals = np.array([r[1] for r in rows])
        lo, hi = np.percentile(vals, 15), np.percentile(vals, 85)
        n = len(rows)
        rows = [
            r for k, r in enumerate(rows)
            if (k % 3 == 0 and k < n - 1) or r[1] < lo or r[1] > hi
        ]
    return set(rows)


def expect_related(data, name: str, k: int = 20) -> list[tuple]:
    p = data["pairs"]
    fwd = p[p.pv1 == name][["pv2", "score"]].rename(columns={"pv2": "pvname"})
    rev = p[p.pv2 == name][["pv1", "score"]].rename(columns={"pv1": "pvname"})
    nb = pd.concat([fwd, rev]).groupby("pvname", as_index=False)["score"].max()
    nb = nb.sort_values(["score", "pvname"], ascending=[False, True]).head(k)
    return [(r.pvname, int(r.score)) for r in nb.itertuples()]


def like_regex(pattern: str) -> re.Pattern:
    like = pattern.replace("*", "%")
    body = "".join(".*" if c == "%" else "." if c == "_" else re.escape(c) for c in like)
    return re.compile(f"^{body}$", re.S)


def expect_search(data, pattern: str) -> list[str]:
    rx = like_regex(pattern)
    return sorted(n for n in data["names"] if rx.match(n))


def expect_latest(data, now: float, age: float) -> set[tuple]:
    t, v = data["times"][:, -1], data["values"][:, -1]
    return {
        (data["names"][i], float(t[i]), float(v[i]))
        for i in range(SERIES) if t[i] > now - age
    }


# ---------------------------------------------------------------- workload


class ViewerReads:
    name = "viewer_reads"
    unit_name = "requests"
    scan_metrics = True  # read 'number of files read' from the SQL status store

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed + 1)
        # Zipf popularity over a seeded permutation of the series
        self.perm = np.random.default_rng(ctx.seed + 2).permutation(SERIES)
        self.cull_in: list[int] = []
        self.cull_out: list[int] = []

    def setup(self) -> dict:
        from epicsarchiver_spark.api import PVArchEngine
        from epicsarchiver_spark.sources import points_store

        from perfbench.harness import dir_bytes

        spark = self.ctx.spark
        t = time.perf_counter()
        self.data = generate(self.ctx.seed)
        store = f"{self.ctx.work}/points"
        # the generated points reach Spark as one parquet file rather than
        # a 120k-row createDataFrame, which ships them inside one task
        raw = f"{self.ctx.work}/points_in.parquet"
        self.data["points"].to_parquet(raw, index=False)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wall = time.time()
        points_store.write_points(
            spark.read.parquet(raw), store, run="run_001", n_buckets=BUCKETS, mode="overwrite",
        )
        write_s = time.perf_counter() - t
        self.ctx.tracer.add("points_store.write_points", "sources.points_store", wall,
                            wall + write_s, None, op_id="setup")
        pairs_path = f"{self.ctx.work}/pairs"
        spark.createDataFrame(self.data["pairs"]).write.mode("overwrite").parquet(pairs_path)
        self.engine = PVArchEngine(
            spark, points_store.read_points(spark, store), pairs=spark.read.parquet(pairs_path)
        )
        nbytes, nfiles = dir_bytes(store)
        self.stored_bpp = nbytes / float(SERIES * POINTS)
        self.store_files = nfiles
        return {"gen_s": gen_s, "build_s": write_s, "points_store.write_s": write_s}

    def warmup_ops(self) -> int:
        return WARMUP_REQUESTS

    # --- one request ---------------------------------------------------
    def kind_of(self, op_id) -> str:
        """The request kind of an operation: warm-up request ``w<i>`` and
        window request ``i`` both take deck position ``i``, so the window
        starts at the head of the deck whatever the warm-up length."""
        return DECK[int(str(op_id).lstrip("w")) % len(DECK)]

    def _pick(self, op_id):
        kind = self.kind_of(op_id)
        rank = min(int(self.rng.zipf(1.3)), SERIES) - 1
        age = min(self.rng.exponential(86400.0), 20 * 86400.0)
        return kind, int(self.perm[rank]), T_END - age

    def run_op(self, op, runner) -> None:
        """Execute one request: construct phase (facade call), action
        phase (collect). Stores what the check needs on ``op.result``."""
        kind, i, t1 = self._pick(op.op_id)
        op.kind = kind
        eng = self.engine
        name = self.data["names"][i]
        if kind in WINDOW_S:
            t0 = t1 - WINDOW_S[kind]
            with runner.phase(op, "construct"):
                frame = eng.get_data(name, t0, t1)
                if kind == "plot":
                    t = time.perf_counter()
                    frame = eng.cull_for_plot(frame, max_points=PLOT_POINTS)
                    op.counters["cull_s"] = time.perf_counter() - t
            with runner.phase(op, "action"):
                rows = frame.collect()
            op.result = (kind, i, t0, t1, [(r.time, r.value) for r in rows])
        elif kind == "value_at":
            with runner.phase(op, "action"):
                got = eng.get_value_at_time(name, t1)
            op.result = (kind, i, t1, got)
        elif kind == "related":
            with runner.phase(op, "construct"):
                frame = eng.get_related_pvs(name, limit=20)
            with runner.phase(op, "action"):
                rows = frame.collect()
            op.result = (kind, name, [(r.pvname, int(r.score)) for r in rows])
        elif kind == "search":
            pattern = f"*:dev{i // 10:02d}*"
            with runner.phase(op, "construct"):
                frame = eng.search_names(pattern)
            with runner.phase(op, "action"):
                rows = frame.collect()
            op.result = (kind, pattern, [r.pvname for r in rows])
        else:  # latest: fleet-wide values newer than now - age
            with runner.phase(op, "construct"):
                frame = eng.get_values(time_ago=LATEST_AGE_S, now=T_END)
            with runner.phase(op, "action"):
                rows = frame.collect()
            op.result = (kind, [(r.pvname, r.time, r.value) for r in rows])

    def trace_wrappers(self):
        """Engine entry points the traced requests wrap in spans."""
        from epicsarchiver_spark import api
        from epicsarchiver_spark.operators import cull, related, search, timeseries

        tr = self.ctx.tracer
        return [
            tr.wrap(timeseries, "get_data", "operators.timeseries"),
            tr.wrap(timeseries, "value_at_time", "operators.timeseries"),
            tr.wrap(timeseries, "latest_per_key", "operators.timeseries"),
            tr.wrap(cull, "cull_data", "operators.cull"),
            tr.wrap(related, "related_topk", "operators.related"),
            tr.wrap(search, "wildcard_search", "operators.search"),
            tr.wrap(api.PVArchEngine, "get_data", "api"),
            tr.wrap(api.PVArchEngine, "get_value_at_time", "api"),
            tr.wrap(api.PVArchEngine, "get_related_pvs", "api"),
            tr.wrap(api.PVArchEngine, "search_names", "api"),
            tr.wrap(api.PVArchEngine, "cull_for_plot", "api"),
            tr.wrap(api.PVArchEngine, "get_values", "api"),
        ]

    # --- checks ---------------------------------------------------------
    def check(self, op) -> None:
        r = op.result
        kind = r[0]
        if kind in WINDOW_S:
            _, i, t0, t1, got = r
            want = expect_get_data(self.data, i, t0, t1)
            if kind == "plot":
                want_set = expect_cull(want, PLOT_POINTS)
                self.cull_in.append(len(want))
                self.cull_out.append(len(got))
                ok = set(got) == want_set and len(got) == len(want_set)
            else:
                ok = got == want  # time-ordered, early point first
            op.counters["rows_out"] = len(got)
        elif kind == "value_at":
            _, i, t1, got = r
            want = expect_value_at(self.data, i, t1)
            ok = (None if got is None else (float(got[0]), float(got[1]))) == want
        elif kind == "related":
            _, name, got = r
            ok = got == expect_related(self.data, name)
        elif kind == "search":
            _, pattern, got = r
            want = expect_search(self.data, pattern)
            ok = got == want and len(want) > 0
        else:
            _, got = r
            ok = set(got) == expect_latest(self.data, T_END, LATEST_AGE_S) and len(got) > 0
        op.ok = bool(ok)
        if not ok:
            op.error = f"{kind}: output differs from the generator's expected rows"
        op.result = None

    # --- metrics ----------------------------------------------------------
    def stored_bytes_per_point(self) -> float:
        return self.stored_bpp

    def layer_metrics(self, ops, counted) -> dict:
        from perfbench.harness import median

        m: dict[str, float] = {
            "points_store.files": float(self.store_files),
            "points_store.bytes_per_point": self.stored_bpp,
        }
        for api_name in set(API_METRIC.values()):
            lat = [o.latency_s for o in ops if API_METRIC.get(o.kind) == api_name]
            m[f"api.{api_name}_ms"] = 1000.0 * median(lat)
        m["api.construct_ms"] = 1000.0 * median(
            o.construct_s for o in ops if o.kind not in ("value_at",)
        )
        if counted:
            m["points_store.input_mb_per_request"] = median(
                o.counters["input_bytes"] / 1e6 for o in counted
            )
            m["points_store.files_scanned_per_request"] = median(
                o.counters["files_read"] for o in counted
            )
            gd = [o for o in counted if o.kind.startswith("get_data") and "rows_out" in o.counters]
            rows_in = sum(o.counters["input_records"] for o in gd)
            rows_out = sum(o.counters["rows_out"] for o in gd)
            m["timeseries.rows_examined_per_row"] = rows_in / rows_out if rows_out else 0.0
        m["cull.ms"] = 1000.0 * median(o.counters["cull_s"] for o in ops if o.kind == "plot")
        m["cull.points_in"] = median(self.cull_in)
        m["cull.points_out"] = median(self.cull_out)
        return m
