"""Spans, counts and Spark-side readers for the traced run.

Everything here lives outside the package under test: spans are
recorded by wrapping calls into each jvst_spark module's public
functions (``instrument``) and around the benchmark's own actions, and
the executor side is read back from Spark's status stores (jobs and
stages, SQL executions) and the streaming progress handles.

Span tree of one job:  job -> layer call (possibly nested) -> action.
Every span that runs Spark work sets the job group ``pb:<span id>``
while it is open, so each Spark job (and its stages) is attributed to
the innermost span that launched it.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterable, List, Optional, Tuple

GROUP_PREFIX = "pb:"


@dataclass
class Span:
    id: str
    job: int
    layer: str
    name: str
    parent: Optional[str]
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv: Tuple[float, float], lo: float, hi: float) -> Tuple[float, float]:
    return (min(max(iv[0], lo), hi), max(min(iv[1], hi), lo))


def self_times(spans: List[Span]) -> Dict[str, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: Dict[str, List[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.wall
        - union_length(
            clip((c.start, c.end), s.start, s.end) for c in kids.get(s.id, [])
        )
        for s in spans
    }


class NullTracer:
    """Tracing off: the same interface, no recording, no job groups."""

    recording = False

    def begin_job(self, job: int) -> None:
        pass

    def end_job(self) -> None:
        pass

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        yield None

    def action(self, name: str, df):
        return df.collect()

    def count(self, name: str, n: float = 1, job: Optional[int] = None) -> None:
        pass


class Tracer(NullTracer):
    """Records spans and counts in memory while ``recording`` is set.

    ``sc`` is the SparkContext whose job group is switched at every
    span boundary; ``recording`` can be flipped between jobs so that a
    traced run interleaves traced and untraced jobs."""

    def __init__(self, sc):
        self.sc = sc
        self.recording = False
        self.spans: List[Span] = []
        self.counts: Dict[int, Dict[str, float]] = {}
        self.group_alias: Dict[str, str] = {}  # foreign job group -> span id
        self.spec_io: Dict[int, list] = {}  # job -> translate / compile outputs
        self.job: Optional[int] = None  # the open job
        self._stack: List[Span] = []
        self._n = 0

    # -- spans -----------------------------------------------------------
    def _open(self, layer: str, name: str) -> Span:
        self._n += 1
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"{self.job}.{self._n}", self.job, layer, name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(GROUP_PREFIX + s.id, f"{layer}.{name}")
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(GROUP_PREFIX + self._stack[-1].id, "")
        else:
            self.sc._jsc.clearJobGroup()

    def begin_job(self, job: int) -> None:
        if not self.recording:
            return
        self.job = job
        self.counts[job] = {}
        self._open("bench", "job")

    def end_job(self) -> None:
        if self.recording and self._stack:
            self._close(self._stack[0])
        self.job = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.recording or self.job is None:
            yield None
            return
        s = self._open(layer, name)
        try:
            yield s
        finally:
            self._close(s)

    def current_layer(self) -> Optional[str]:
        return self._stack[-1].layer if self._stack else None

    def action(self, name: str, df):
        """Run ``df.collect()`` as an exec span."""
        with self.span("exec", name):
            return df.collect()

    def count(self, name: str, n: float = 1, job: Optional[int] = None) -> None:
        """Add ``n`` to a per-job count (the open job unless ``job``)."""
        job = self.job if job is None else job
        if self.recording and job in self.counts:
            c = self.counts[job]
            c[name] = c.get(name, 0) + n


def instrument(tracer: Tracer, targets: List[Tuple[object, str, str]]) -> Callable[[], None]:
    """Wrap ``owner.attr`` for each (owner, attr, layer) so every call
    runs inside ``tracer.span(layer, attr)``. Returns the undo."""
    saved = []
    for owner, attr, layer in targets:
        orig = owner.__dict__[attr]

        def make(fn, layer=layer, attr=attr):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with tracer.span(layer, attr):
                    return fn(*a, **kw)

            return wrapper

        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo


def count_py4j(tracer: Tracer, layer: str) -> Callable[[], None]:
    """Count py4j commands sent while the innermost open span belongs to
    ``layer`` (as ``<layer>.py4j_calls``). Returns the undo."""
    client = tracer.sc._gateway._gateway_client
    send = client.send_command
    key = f"{layer}.py4j_calls"

    def counted(*a, **kw):
        if tracer.current_layer() == layer:
            tracer.count(key)
        return send(*a, **kw)

    client.send_command = counted

    def undo():
        del client.send_command

    return undo


# -- Spark-side readers ----------------------------------------------------


def _opt_ms(opt) -> Optional[float]:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class StageRec:
    span: str
    job_id: int
    tasks: int
    start: float
    end: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    input: int
    output: int


@dataclass
class SparkJobRec:
    span: str
    job_id: int
    stages: List[StageRec] = field(default_factory=list)


def read_status_store(sc, alias: Dict[str, str]) -> List[SparkJobRec]:
    """Spark jobs (with their completed stages) whose job group names a
    span, directly or through ``alias`` (foreign job group -> span id).

    Uses the status store's 5-argument ``stageList`` with an empty
    ``double[]`` of quantiles; it works with the UI disabled."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    jobs = store.jobsList(None)
    out: List[SparkJobRec] = []
    want: Dict[int, SparkJobRec] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        group = g.get() if g.isDefined() else ""
        span = (
            group[len(GROUP_PREFIX):]
            if group.startswith(GROUP_PREFIX)
            else alias.get(group)
        )
        if span is None:
            continue
        rec = SparkJobRec(span, j.jobId())
        out.append(rec)
        ids = j.stageIds()
        for k in range(ids.size()):
            want[ids.apply(k)] = rec
    if not want:
        return out
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    claimed = set()
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        rec = want.get(sid)
        if rec is None or str(s.status()) != "COMPLETE" or (sid, s.attemptId()) in claimed:
            continue
        claimed.add((sid, s.attemptId()))
        rec.stages.append(
            StageRec(
                rec.span, rec.job_id, s.numTasks(),
                _opt_ms(s.submissionTime()), _opt_ms(s.completionTime()),
                s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9,
                s.jvmGcTime() / 1e3, s.shuffleWriteBytes(),
                s.shuffleReadBytes(), s.diskBytesSpilled(), s.inputBytes(),
                s.outputBytes(),
            )
        )
    return out


# the SQL status store names a metric by its description
PYTHON_METRICS = {
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_TOTAL = re.compile(r"([0-9][0-9.,]*) (ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def metric_total(text: str) -> float:
    """The total of a SQL metric as the SQL status store formats it, in
    seconds or bytes: the first value on the line after the
    ``total (min, med, max ...)`` header, or the bare value."""
    m = _TOTAL.search(text.split("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def python_sql_metrics(spark, job_ids: set) -> Dict[str, float]:
    """Python SQL metrics (seconds, bytes) summed over every SQL
    execution - the benchmark's own actions, the program's internal
    ones and streaming micro-batches alike - that ran one of the Spark
    jobs in ``job_ids``. Read from the SQL status store, which works with
    the UI disabled."""
    out = {k: 0.0 for k in PYTHON_METRICS.values()}
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        jobs = ex.jobs().keys().toSeq()
        if not any(jobs.apply(k) in job_ids for k in range(jobs.size())):
            continue
        metrics = ex.metrics()
        wanted = {}  # accumulator id -> metric name
        for k in range(metrics.size()):
            m = metrics.apply(k)
            if m.name() in PYTHON_METRICS:
                wanted[m.accumulatorId()] = PYTHON_METRICS[m.name()]
        if not wanted:
            continue
        # iterate the JVM map: a lookup by a py4j int would box it as an
        # Integer and never match the map's Long keys
        values = store.executionMetrics(ex.executionId()).toSeq()
        for k in range(values.size()):
            kv = values.apply(k)
            name = wanted.get(kv._1())
            if name is not None:
                out[name] += metric_total(kv._2())
    return out


def streaming_progress(progress: List[dict]) -> Dict[str, float]:
    """Per-query totals from ``StreamingQuery.recentProgress`` (each
    progress as the dict its JSON parses to): batches that read input,
    addBatch time, trigger overhead beyond addBatch, final state rows /
    memory and state commit time."""
    batches = [p for p in progress if p["numInputRows"] > 0]

    def dur(p: dict, k: str) -> float:
        return p["durationMs"].get(k, 0) / 1e3

    state = [op for p in batches for op in p["stateOperators"]]
    last = batches[-1]["stateOperators"] if batches else []
    return {
        "streaming.batches": len(batches),
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in batches),
        "streaming.overhead_s": sum(
            dur(p, "triggerExecution") - dur(p, "addBatch") for p in batches
        ),
        "streaming.state_rows": sum(op["numRowsTotal"] for op in last),
        "streaming.state_mb": sum(op["memoryUsedBytes"] for op in last) / 1e6,
        "streaming.state_commit_s": sum(op["commitTimeMs"] for op in state) / 1e3,
    }


def count_nodes(roots) -> int:
    """Distinct constraint nodes reachable from ``roots`` (a DAG may
    share subtrees; each node object counts once)."""
    seen, todo = set(), list(roots)
    while todo:
        n = todo.pop()
        if id(n) in seen:
            continue
        seen.add(id(n))
        todo.extend(n.children())
    return len(seen)


LAYERS = ("bench", "spec", "compiler", "exec", "io", "table_checks", "ops", "streaming")


def _subtree(spans: List[Span], root: Span) -> List[Span]:
    kids: Dict[str, List[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def job_metrics(spans: List[Span], jobs: List[SparkJobRec], counts: Dict[str, float], cores: int) -> Dict[str, float]:
    """Per-layer metrics of one traced job from its spans (the first is
    the job span), the Spark jobs attributed to them and its counts."""
    root = spans[0]
    wall = root.wall
    selfs = self_times(spans)
    stages = [st for j in jobs for st in j.stages if st.start is not None and st.end is not None]

    def walls(layer: str, *names: str) -> List[float]:
        return [s.wall for s in spans if s.layer == layer and s.name in names]

    def under(layer: str, name: str) -> set:
        """Ids of the spans ``layer.name`` and of every span below them."""
        return {t.id for s in spans if s.layer == layer and s.name == name for t in _subtree(spans, s)}

    io_runs = walls("io", "run")
    run_s = sum(st.run_s for st in stages)
    suite, components = under("table_checks", "suite"), under("ops", "near_dup_components")
    m = {
        "spec.compile_s": sum(walls("spec", "compile_schema")),
        "compiler.plan_build_s": sum(walls("compiler", "apply_typed")),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(st.tasks for st in stages),
        "exec.run_s": run_s,
        "exec.cpu_s": sum(st.cpu_s for st in stages),
        "exec.gc_s": sum(st.gc_s for st in stages),
        "exec.shuffle_write_mb": sum(st.shuffle_write for st in stages) / 1e6,
        "exec.shuffle_read_mb": sum(st.shuffle_read for st in stages) / 1e6,
        "exec.spill_mb": sum(st.spill for st in stages) / 1e6,
        "exec.input_mb": sum(st.input for st in stages) / 1e6,
        "exec.output_mb": sum(st.output for st in stages) / 1e6,
        "exec.busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "exec.driver_gap_s": wall
        - union_length(clip((st.start, st.end), root.start, root.end) for st in stages),
        "io.checkpoint_s": io_runs[0] if io_runs else 0.0,
        "io.resume_s": io_runs[1] if len(io_runs) > 1 else 0.0,
        "table_checks.suite_s": sum(walls("table_checks", "suite")),
        "table_checks.shuffle_mb": sum(
            st.shuffle_write + st.shuffle_read for st in stages if st.span in suite
        ) / 1e6,
        "ops.lsh_s": sum(walls("ops", "minhash_lsh_dedup")),
        "ops.components_s": sum(walls("ops", "near_dup_components")),
        "ops.components_jobs": sum(1 for j in jobs if j.span in components),
        "trace.job_s": wall,
    }
    # the self times partition the job span: they sum to its wall exactly
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(selfs[s.id] for s in spans if s.layer == layer)
    m.update(counts)
    return m
