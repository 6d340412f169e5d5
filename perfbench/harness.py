"""Measurement plumbing shared by the perfbench workloads.

Everything here observes the program from outside: operations are
timed around calls into the library's public functions, Spark job,
stage and task counts come from ``SparkContext.statusTracker()``
deltas, memory from ``/proc``, and (traced runs only) per-stage and
per-SQL-node metrics from Spark's REST API.  Nothing in
``adscrawler_spark`` is edited or imported for measurement's sake.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import traceback
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime


# --------------------------------------------------------------- spans
class Tracer:
    """In-memory spans around calls into the program's modules.

    ``wrap`` swaps a module or class attribute for a timing wrapper;
    ``restore`` puts every original back.  Spans carry the enclosing
    span (per thread, so calls made from the program's own thread
    pools attach to the operation that launched them) and the
    operation id, and are written out once the run ends.  A disabled
    tracer wraps nothing, so untraced runs execute the program as is.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._local = threading.local()
        self.op_id: int | None = None
        self.op_span: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        prev = getattr(self._local, "current", None)
        parent = self.op_span if prev is None else prev
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "op": self.op_id, "start": time.time(), "end": None,
                   "ok": True, **attrs}
            self.spans.append(rec)
        self._local.current = sid
        try:
            yield rec
        except BaseException:
            rec["ok"] = False
            raise
        finally:
            rec["end"] = time.time()
            self._local.current = prev

    def wrap(self, owner: object, attr: str, name: str, describe=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``describe(args, kwargs, result)`` may add
        attributes to the span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if describe is not None:
                    rec.update(describe(args, kwargs, out))
                return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]


def span_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


# ------------------------------------------------- Spark status counts
class StatusCounters:
    """Jobs, stages and tasks that ran between two points, from the
    status tracker.  Operations run one after another, so the job ids
    created between two snapshots belong to the operation in between,
    whichever of the program's threads submitted them."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def mark(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def between(self, before: int, after: int) -> dict:
        stage_ids: set[int] = set()
        for jid in range(before + 1, after + 1):
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for sid in stage_ids:
            st = self.tracker.getStageInfo(sid)
            if st is None:
                continue
            # skipped stages (reused shuffle output) ran no task
            if st.numCompletedTasks or st.numFailedTasks:
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": after - before, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


# -------------------------------------------------------------- memory
def _pss_kib(pid: int) -> int:
    """Proportional set size of one process: each page shared by n
    processes counts 1/n, so workers forked from the Python daemon do
    not count the daemon's preloaded modules once each.  Falls back to
    RSS where smaps_rollup is missing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for ln in f:
                if ln.startswith("Pss:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
    except OSError:
        return 0


def _tree_pss_bytes(root: int) -> int:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren
        fields = stat[stat.rindex(")") + 2:].split()
        children[int(fields[1])].append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_kib(pid) * 1024
        todo.extend(children.get(pid, ()))
    return total


class PssSampler:
    """Peak proportional set size of this process and all its
    descendants (the driver JVM, the Python daemon and the workers it
    forks), sampled from /proc every ``interval`` seconds on a
    background thread.  Reading the JVM's smaps_rollup costs about
    20 ms of kernel time, hence the interval."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(root))
            self._stop.wait(self.interval)

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
        return self.peak / 2**20


# -------------------------------------------------------- stolen time
def cpu_ticks() -> tuple[int, int]:
    """Busy and stolen clock ticks, summed over every CPU, from the
    first line of /proc/stat; (0, 0) where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        user, nice, system, _idle, _iowait, irq, softirq, steal = v
    except (OSError, ValueError):
        return 0, 0
    return user + nice + system + irq + softirq, steal


def steal_share(before, after) -> float:
    """Share of the CPU time this VM's runnable CPUs wanted between two
    ``cpu_ticks()`` readings that the hypervisor gave to other guests."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def unstolen_s(wall_s: float, before, after) -> float:
    """Wall time less its stolen share: how long the interval would
    have taken had the vCPUs run whenever they were runnable."""
    return wall_s * (1.0 - steal_share(before, after))


# ----------------------------------------------------------- operations
WARMUP = "warmup."


class Recorder:
    """Times a workload's operations one after another (a closed loop:
    the next call starts when the previous one returned) and counts
    the ones attempted and failed.  A failed operation is recorded
    with its exception text and does not stop the run.

    Each operation keeps its wall time (``wall_s``), the share of CPU
    time stolen by the hypervisor meanwhile (``steal_share``) and
    ``secs``, the wall time less that share, which the metrics use.
    Operations whose kind starts with ``warmup.`` are untimed warm-up:
    they count as attempted (and failed) but feed no metric."""

    def __init__(self, counters: StatusCounters, tracer: Tracer):
        self.counters = counters
        self.tracer = tracer
        self.ops: list[dict] = []

    def run(self, kind: str, fn, *args, **kwargs):
        before = self.counters.mark()
        op = {"id": len(self.ops), "kind": kind, "ok": True, "error": None}
        self.ops.append(op)
        self.tracer.op_id = op["id"]
        result = None
        with self.tracer.span(f"op.{kind}") as rec:
            if rec is not None:
                self.tracer.op_span = rec["id"]
            op["ticks"] = cpu_ticks()
            op["start"] = time.time()
            try:
                result = fn(*args, **kwargs)
            except Exception as exc:  # the workload goes on; record it
                op["ok"] = False
                op["error"] = f"{type(exc).__name__}: {exc}".splitlines()[0]
                op["traceback"] = traceback.format_exc(limit=4)
            op["end"] = time.time()
            ticks = cpu_ticks()
        self.tracer.op_id = self.tracer.op_span = None
        op["wall_s"] = op["end"] - op["start"]
        op["steal_share"] = steal_share(op["ticks"], ticks)
        op["secs"] = unstolen_s(op["wall_s"], op["ticks"], ticks)
        op["spark"] = self.counters.between(before, self.counters.mark())
        return result

    def of(self, kind: str) -> list[dict]:
        """The operations of one kind that succeeded."""
        return [o for o in self.ops if o["kind"] == kind and o["ok"]]

    @property
    def timed(self) -> list[dict]:
        """Every operation but the warm-up."""
        return [o for o in self.ops if not o["kind"].startswith(WARMUP)]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o["ok"] for o in self.ops)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ------------------------------------------------ REST (traced runs)
_NUM_UNIT = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)?")
_TIME_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
           "min": 60.0, "h": 3600.0}


def parse_metric_value(value: str) -> tuple[float, str] | None:
    """Leading total of a Spark SQL metric string, as (number, unit).

    Aggregated metrics read ``total (min, med, max (stageId: taskId))``
    on a header line, then ``2.0 s (1.0 s, 1.2 s, 1.4 s (stage 3.0:
    task 5))``; plain ones read ``345 ms`` or ``100,000``.  The total
    is the first number on the value line; a header-only or empty
    string gives ``None``."""
    lines = [ln for ln in str(value).strip().splitlines() if ln.strip()]
    if not lines:
        return None
    line = lines[-1] if lines[0].lstrip().startswith("total") else lines[0]
    m = _NUM_UNIT.match(line.strip())
    if not m:
        return None
    return float(m.group(1).replace(",", "")), m.group(2) or ""


def metric_seconds(value: str) -> float | None:
    parsed = parse_metric_value(value)
    if parsed is None or parsed[1] not in _TIME_S:
        return None
    return parsed[0] * _TIME_S[parsed[1]]


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


PY_EVAL_METRIC = "time to run Python workers"


def rest_metrics(sc) -> tuple[list[dict], list[dict]]:
    """Completed stages and SQL executions of this application, from
    the live UI's REST API (the UI is on only in traced runs)."""
    ui = sc.uiWebUrl
    base = f"{ui}/api/v1/applications/{sc.applicationId}"
    stages = []
    for st in _get(f"{base}/stages"):
        stages.append({
            "end": _rest_time(st.get("completionTime")),
            "executor_run_s": st.get("executorRunTime", 0) / 1e3,
            "executor_cpu_s": st.get("executorCpuTime", 0) / 1e9,
            "shuffle_read_bytes": st.get("shuffleReadBytes", 0),
            "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
            "spill_bytes": st.get("diskBytesSpilled", 0),
        })
    sqls = []
    for ex in _get(f"{base}/sql?details=true&planDescription=false"
                   "&offset=0&length=1000000"):
        py = 0.0
        for node in ex.get("nodes") or []:
            for mt in node.get("metrics") or []:
                if mt.get("name") == PY_EVAL_METRIC:
                    py += metric_seconds(mt.get("value", "")) or 0.0
        start = _rest_time(ex.get("submissionTime"))
        sqls.append({"python_eval_s": py,
                     "end": start + ex.get("duration", 0) / 1e3
                     if start is not None else None})
    return stages, sqls


def attribute(ops: list[dict], items: list[dict]) -> dict[int, list[dict]]:
    """Assign each stage / SQL execution to the operation whose time
    window contains its completion (operations do not overlap).  REST
    times have millisecond resolution, hence the small slack."""
    out: dict[int, list[dict]] = defaultdict(list)
    for it in items:
        end = it.get("end")
        if end is None:
            continue
        for op in ops:
            if op["start"] <= end <= op["end"] + 0.05:
                out[op["id"]].append(it)
                break
    return out


# -------------------------------------------------------- filesystem
def parquet_sizes(root: str) -> list[int]:
    """Size of every parquet data file under ``root``."""
    return [
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _dirs, files in os.walk(root)
        for f in files if f.endswith(".parquet")
    ]
