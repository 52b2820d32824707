"""Measurement plumbing shared by the workloads: operation records and
their statistics, process-tree RSS, Spark counters read from the
status store by job group, and an in-memory span tracer.

Nothing here runs inside the engine's code: job groups are set on the
benchmark's own thread, counters come from Spark's ``AppStatusStore``
and SQL status store, and spans wrap the calls the benchmark makes."""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------- stats


@dataclass
class Op:
    """One closed-loop operation. ``latency_s`` is None when it failed
    before producing a timing; ``ok`` is set by the output check."""

    op_id: int
    kind: str
    latency_s: float | None
    units: float = 1.0
    ok: bool = False
    error: str | None = None
    traced: bool = False
    start: float = 0.0
    construct_s: float = 0.0
    result: object = None
    counters: dict = field(default_factory=dict)


def cause(exc) -> str:
    """One line naming why an operation failed: the innermost
    'SomethingError: message' line of a (possibly Python-worker)
    traceback carried in the exception text, else its first line."""
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    named = [ln for ln in lines if re.match(r"^[\w.]+(Error|Exception): ", ln)]
    return ((named or lines or [type(exc).__name__])[-1 if named else 0])[:300]


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0)


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest of p99, p95,
    p90 and p75 that has at least ten samples beyond it; p75 when none
    has (fewer than 40 samples). Percentiles interpolate linearly between
    order statistics. A rank picked by the sample count alone (the
    eleventh-highest) falls below the median under 21 samples and jumps
    from maximum to minimum between 10 and 11; this moves smoothly."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    pct = next((p for p in TAIL_PERCENTILES if n * (1.0 - p / 100.0) >= 10.0),
               TAIL_PERCENTILES[-1])
    rank = pct / 100.0 * (n - 1)
    lo = int(rank)
    value = v[lo] + (v[min(lo + 1, n - 1)] - v[lo]) * (rank - lo)
    return float(value), pct, sum(1 for x in v if x > value)


def halves(values) -> tuple[float, float]:
    """Medians of the first and second half of the measured window."""
    values = list(values)
    h = len(values) // 2
    if h == 0:
        m = median(values)
        return m, m
    return median(values[:h]), median(values[h:])


# ----------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().split(b"\0", 1)[0].endswith(b"/java")
    except OSError:
        return False


def retained_mb(spark) -> float:
    """Memory the process tree still holds, in MB: for the driver JVM, heap
    in use after a full collection plus non-heap (metaspace, code cache)
    plus direct buffers; for the driver Python and the Python workers,
    their proportional set size (resident pages, a page shared between
    forked workers split among its sharers). The JVM's own resident size
    is not used: it follows the collector's heap sizing, not what the
    program keeps."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    jvm.java.lang.System.gc()
    mem = mf.getMemoryMXBean()
    jvm_bytes = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    pool_cls = jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")
    jvm_bytes += sum(p.getMemoryUsed() for p in mf.getPlatformMXBeans(pool_cls))
    kids = _children()
    py_kb = 0
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        stack.extend(kids.get(p, []))
        if not _is_jvm(p):
            py_kb += _pss_kb(p)
    return jvm_bytes / 2**20 + py_kb / 1024.0


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` (Spark's part files
    and plain parquet; checksum and metadata files excluded)."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


# --------------------------------------------------------- spark counters


def _num(text: str) -> float:
    """A SQL metric value as the status store renders it ('1,234')."""
    head = str(text).split("\n", 1)[0].split(" ", 1)[0].replace(",", "")
    try:
        return float(head)
    except ValueError:
        return 0.0


class SparkCounters:
    """Per-operation Spark counters, read from the status store by job
    group. Each operation phase gets its own group
    (``pb:<op>:<phase>``); read them right after the operation, before
    the store's retention limits can evict its jobs and stages."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    @staticmethod
    def group(op_id, phase: str) -> str:
        return f"pb:{op_id}:{phase}"

    def set_phase(self, op_id, phase: str) -> None:
        self.sc.setJobGroup(self.group(op_id, phase), phase)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def job_ids(self, op_id, phases) -> list[tuple[str, int]]:
        tracker = self.sc.statusTracker()
        out = []
        for ph in phases:
            out += [(ph, j) for j in tracker.getJobIdsForGroup(self.group(op_id, ph))]
        return out

    def jobs(self, tagged_ids) -> list[dict]:
        """Job records: phase, id, description, submit/complete epoch ms,
        stage ids."""
        out = []
        for phase, jid in tagged_ids:
            try:
                j = self._store.job(int(jid))
            except Exception:  # evicted or still unknown to the store
                continue
            sub = j.submissionTime()
            done = j.completionTime()
            desc = j.description()
            out.append(
                {
                    "phase": phase,
                    "id": int(jid),
                    "desc": desc.get() if desc.isDefined() else "",
                    "start_ms": sub.get().getTime() if sub.isDefined() else None,
                    "end_ms": done.get().getTime() if done.isDefined() else None,
                    "stages": [int(s) for s in self._list(j.stageIds())],
                }
            )
        return out

    def totals(self, jobs: list[dict], since_ms: float | None = None) -> dict:
        """Summed stage metrics of the completed stages the jobs ran.
        A stage listed by several jobs (or skipped because an earlier
        job already wrote its shuffle) is counted once; stages that
        started before ``since_ms`` belong to an earlier operation."""
        seen: set[int] = set()
        t = dict(stages=0, tasks=0, run_ms=0.0, cpu_ms=0.0, gc_ms=0.0,
                 shuffle_bytes=0.0, spill_bytes=0.0, input_bytes=0.0,
                 input_records=0.0)
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self._list(
                        self._store.stageData(sid, False, None, False, None)
                    )
                except Exception:
                    continue
                for sd in attempts:
                    if sd.status().toString() != "COMPLETE":
                        continue
                    sub = sd.submissionTime()
                    if since_ms is not None and sub.isDefined() and sub.get().getTime() < since_ms:
                        continue
                    t["stages"] += 1
                    t["tasks"] += sd.numCompleteTasks()
                    t["run_ms"] += sd.executorRunTime()
                    t["cpu_ms"] += sd.executorCpuTime() / 1e6
                    t["gc_ms"] += sd.jvmGcTime()
                    t["shuffle_bytes"] += sd.shuffleWriteBytes()
                    t["spill_bytes"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
                    t["input_bytes"] += sd.inputBytes()
                    t["input_records"] += sd.inputRecords()
        return t

    def last_execution_id(self) -> int:
        """Id of the newest SQL execution in the store (-1 if none)."""
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._list(self._sql.executionsList(n - 1, 1))[0].executionId())

    def sql_metric(self, first_id: int, last_id: int, name: str) -> float:
        """Sum of one SQL plan metric (e.g. 'number of files read') over
        the SQL executions with ids in (first_id, last_id]."""
        total = 0.0
        for eid in range(first_id + 1, last_id + 1):
            e = self._sql.execution(eid)
            if not e.isDefined():
                continue
            # an adaptive re-plan lists a node's accumulators again
            ids = {m.accumulatorId() for m in self._list(e.get().metrics()) if m.name() == name}
            if not ids:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            total += sum(_num(values.get(i)) for i in ids if values.get(i) is not None)
        return total

    def persisted_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def read_op(self, op_id, phases, t0: float, t1: float,
                executions: tuple[int, int] | None = None) -> dict:
        """All counters of one operation that ran in [t0, t1] (epoch s);
        ``executions`` = the (exclusive, inclusive) SQL execution id range
        it ran, when its scan metrics are wanted."""
        jobs = self.jobs(self.job_ids(op_id, phases))
        tot = self.totals(jobs, since_ms=t0 * 1000.0 - 1.0)
        tot["jobs"] = len(jobs)
        tot["job_list"] = jobs
        tot["driver_only_ms"] = driver_only_ms(jobs, t0, t1)
        if executions is not None:
            tot["files_read"] = self.sql_metric(*executions, "number of files read")
        tot["persisted_rdds"] = self.persisted_rdds()
        return tot


def driver_only_ms(jobs: list[dict], t0: float, t1: float) -> float:
    """Wall time of [t0, t1] (epoch s) during which no job of the
    operation was running."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    spans = sorted(
        (max(lo, j["start_ms"]), min(hi, j["end_ms"]))
        for j in jobs
        if j["start_ms"] is not None and j["end_ms"] is not None
    )
    busy = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return max(0.0, (hi - lo) - busy)


# ----------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    layer: str
    op_id: object
    start: float
    end: float
    parent: int | None
    sid: int


class Tracer:
    """In-memory spans (epoch seconds), written out once at the end.
    ``enabled`` is toggled per operation so a traced run can alternate
    traced and untraced operations."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._op = None

    def begin_op(self, op_id, enabled: bool) -> None:
        self.enabled = enabled
        self._op = op_id
        self._stack = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, op_id=None) -> int:
        sid = len(self.spans)
        self.spans.append(
            Span(name, layer, self._op if op_id is None else op_id, start, end, parent, sid)
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, layer, time.time(), 0.0, parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def wrap(self, module, attr: str, layer: str):
        """Context manager: while active, calls to ``module.attr`` made
        by the engine run inside a span of ``layer``."""
        tracer = self
        fn = getattr(module, attr)

        def traced(*a, **kw):
            with tracer.span(f"{layer}.{attr}", layer):
                return fn(*a, **kw)

        @contextlib.contextmanager
        def patch():
            setattr(module, attr, traced)
            try:
                yield
            finally:
                setattr(module, attr, fn)

        return patch()

    def add_jobs(self, jobs: list[dict], op_id=None) -> None:
        """Spark jobs become child spans of the deepest span of the same
        operation that was open at their submission."""
        for j in jobs:
            if j["start_ms"] is None or j["end_ms"] is None:
                continue
            s, e = j["start_ms"] / 1000.0, j["end_ms"] / 1000.0
            parent = None
            best = None
            for sp in self.spans:
                if sp.op_id != (self._op if op_id is None else op_id) or sp.layer == "spark":
                    continue
                if sp.start <= s <= sp.end and (best is None or sp.start >= best.start):
                    best = sp
            if best is not None:
                parent = best.sid
            self.add(f"job {j['id']}", "spark", s, e, parent, op_id=op_id)

    def self_times(self) -> dict[str, float]:
        """Per layer: total span time minus the part covered by child
        spans, in seconds."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = _union_len(
                [(max(sp.start, c.start), min(sp.end, c.end)) for c in kids.get(sp.sid, [])]
            )
            out[sp.layer] = out.get(sp.layer, 0.0) + max(0.0, (sp.end - sp.start) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__, default=str) + "\n")


def _union_len(intervals) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
