"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload typed_batch --seed 1 --seconds 9 --trace 0

Run from the root of a checkout of the repository. The run

1. generates the workload's inputs from ``--seed`` into ``.perfbench/``
   (once per seed; reported as ``gen_s``, never timed as set-up);
2. sets up - starts the JVM and a Spark session and runs the workload's
   untimed, checked warm-up jobs (cold codegen, UDF shipping, JIT) - and
   reports that time as ``setup_s``;
3. runs jobs back to back (a closed loop, one job in flight) until
   ``--seconds`` have passed, checking every job's output against the
   workload's oracle.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` calls into the package are wrapped in spans, jobs
alternate between traced and untraced, and the metrics are the
per-layer ones (medians over the traced jobs) plus the tracing
overhead. The last line of standard output is one JSON object; the
exit code is 0 only when every job's output was correct.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

JOB_TIMEOUT_S = 120
RSS_PERIOD_S = 0.1

END_TO_END = {
    "setup_s": "s",
    "job_s_p50": "s",
    "docs_per_s": "docs/s",
}

PER_LAYER = {
    "spec.compile_s": "s",
    "spec.nodes_in": "count",
    "spec.nodes_out": "count",
    "compiler.plan_build_s": "s",
    "compiler.py4j_calls": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "exec.output_mb": "MB",
    "exec.busy_frac": "ratio",
    "exec.driver_gap_s": "s",
    "exec.python_run_s": "s",
    "exec.python_boot_s": "s",
    "exec.python_data_mb": "MB",
    "io.checkpoint_s": "s",
    "io.resume_s": "s",
    "io.written_mb": "MB",
    "io.files_written": "count",
    "table_checks.suite_s": "s",
    "table_checks.shuffle_mb": "MB",
    "ops.lsh_s": "s",
    "ops.components_s": "s",
    "ops.components_jobs": "count",
    "ops.pairs": "count",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_commit_s": "s",
    "self.bench_s": "s",
    "self.spec_s": "s",
    "self.compiler_s": "s",
    "self.exec_s": "s",
    "self.io_s": "s",
    "self.table_checks_s": "s",
    "self.ops_s": "s",
    "self.streaming_s": "s",
    "trace.job_s_p50": "s",
    "trace.untraced_job_s_p50": "s",
    "trace.overhead_s": "s",
    "trace.jobs": "count",
    "bench.gen_s": "s",
    "bench.peak_rss_mb": "MB",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail_percentile(xs, q: float = 0.9, min_beyond: int = 10):
    """The nearest-rank q-quantile of ``xs``, or None unless at least
    ``min_beyond`` samples lie above it."""
    if not xs:
        return None
    s = sorted(xs)
    k = max(0, math.ceil(round(q * len(s), 9)) - 1)
    return s[k] if len(s) - (k + 1) >= min_beyond else None


def descendants(root: int) -> set:
    """Pids of every live descendant of ``root``, read from /proc."""
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        kids.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(pid))
    out, frontier = set(), [root]
    while frontier:
        for k in kids.get(frontier.pop(), []):
            out.add(k)
            frontier.append(k)
    return out


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (the
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, period: float = RSS_PERIOD_S):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        total = 0
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def run(self):
        while not self._stop_event.wait(self.period):
            self.peak = max(self.peak, self.tree_rss())

    def stop(self):
        self._stop_event.set()
        self.join()


def prepare_environment(cache: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from the checkout root."""
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM of spark-submit would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def new_session(cache: str):
    """The benchmark's session: local[<cores>], one shuffle partition per
    core, AQE on, 2 GiB pinned driver heap, UI off."""
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(cache, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(cache, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(cache, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Runs checked jobs and counts the attempted and failed ones."""

    def __init__(self, workload, inp: dict):
        self.wl = workload
        self.inp = inp
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    def run_job(self, spark, tr, i: int):
        """One checked job; returns (wall seconds, docs) or None if it
        raised or produced a wrong result."""
        self.attempted += 1
        sc = spark.sparkContext
        watchdog = threading.Timer(JOB_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        tr.begin_job(i)
        t0 = time.perf_counter()
        try:
            docs, bad = self.wl.job(spark, self.inp, tr, i)
        except Exception as e:  # a failed job is counted, never fatal
            docs, bad = 0, [f"raised {type(e).__name__}: {e}"]
        wall = time.perf_counter() - t0
        tr.end_job()
        watchdog.cancel()
        try:
            self.wl.after_job(spark, self.inp, tr, i)
        except Exception as e:
            bad = bad + [f"cleanup raised {type(e).__name__}: {e}"]
        if bad:
            self.failed += 1
            self.errors += [f"job {i}: {b}" for b in bad[:5]]
            return None
        return wall, docs


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer_metrics(tracer, spark, traced: dict, untraced: list, gen_s: float, rss_mb: float) -> dict:
    """Medians over the traced jobs of every per-layer metric."""
    from perfbench.trace import count_nodes, job_metrics, python_sql_metrics, read_status_store

    sc = spark.sparkContext
    spark_jobs = read_status_store(sc, tracer.group_alias)
    per_job = []
    for i in traced:
        spans = [s for s in tracer.spans if s.job == i]
        ids = {s.id for s in spans}
        jobs = [j for j in spark_jobs if j.span in ids]
        counts = dict(tracer.counts.get(i, {}))
        py = python_sql_metrics(spark, {j.job_id for j in jobs})
        counts["exec.python_run_s"] = py["pythonTotalTime"]
        counts["exec.python_boot_s"] = py["pythonBootTime"]
        counts["exec.python_data_mb"] = (py["pythonDataSent"] + py["pythonDataReceived"]) / 1e6
        specs = tracer.spec_io.get(i, [])
        counts["spec.nodes_in"] = sum(count_nodes([r, *d.values()]) for r, d in specs[0::2])
        counts["spec.nodes_out"] = sum(count_nodes([c.root, *c.defs.values()]) for c in specs[1::2])
        per_job.append(job_metrics(spans, jobs, counts, cores()))

    def med(key):
        return median([m.get(key, 0.0) for m in per_job])

    out = {k: med(k) for k in PER_LAYER}
    out["trace.job_s_p50"] = med("trace.job_s")
    out["trace.untraced_job_s_p50"] = median(untraced)
    out["trace.overhead_s"] = out["trace.job_s_p50"] - out["trace.untraced_job_s_p50"]
    out["trace.jobs"] = len(per_job)
    out["bench.gen_s"] = gen_s
    out["bench.peak_rss_mb"] = rss_mb
    return out


def install_tracing(tracer) -> list:
    """Wrap the package's public entry points (and the translate step
    inside compile_schema) so the tracer sees every call."""
    import jvst_spark.compiler.plan as plan_mod
    from perfbench.trace import count_py4j, instrument
    from perfbench.workloads import TRACED

    undo = [instrument(tracer, TRACED), count_py4j(tracer, "compiler")]
    translate = plan_mod.translate_with_defs
    compile_schema = plan_mod.compile_schema

    def keep(fn):
        def wrapper(*a, **kw):
            out = fn(*a, **kw)
            if tracer.recording and tracer.job is not None:
                tracer.spec_io.setdefault(tracer.job, []).append(out)
            return out

        return wrapper

    plan_mod.translate_with_defs = keep(translate)
    plan_mod.compile_schema = keep(compile_schema)

    def restore():
        plan_mod.translate_with_defs = translate
        plan_mod.compile_schema = compile_schema

    return undo + [restore]


def shutdown(spark, timeout: float = 30.0) -> None:
    """Stop the session and the JVM, then wait for every process this
    run started (JVM, Python workers) to end; kill what outlives the
    timeout."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import jvst_spark  # noqa: F401  the program under test
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    cache = os.path.join(ROOT, ".perfbench")
    prepare_environment(cache)

    t0 = time.perf_counter()
    inp = wl.prepare(args.seed, cache)
    gen_s = time.perf_counter() - t0
    inp["work"] = os.path.join(cache, "work")
    shutil.rmtree(inp["work"], ignore_errors=True)
    runner = Runner(wl, inp)

    from perfbench.trace import NullTracer, Tracer

    rss = RssSampler()
    rss.start()
    null = NullTracer()
    t0 = time.perf_counter()
    spark = new_session(cache)
    for k in range(wl.WARMUP_JOBS):
        runner.run_job(spark, null, -1 - k)
    setup_s = time.perf_counter() - t0

    tracer = Tracer(spark.sparkContext) if args.trace else null
    undo = install_tracing(tracer) if args.trace else []
    walls, traced, untraced, docs = [], {}, [], 0
    t_start = time.perf_counter()
    i = 0
    min_jobs = 2 if args.trace else 1  # the traced run needs an untraced job to compare
    while i < min_jobs or time.perf_counter() - t_start < args.seconds:
        tracer.recording = bool(args.trace) and i % 2 == 0
        r = runner.run_job(spark, tracer, i)
        if r is not None:
            walls.append(r[0])
            docs += r[1]
            if tracer.recording:
                traced[i] = r[0]
            else:
                untraced.append(r[0])
        i += 1
    tracer.recording = False
    rss.stop()

    if args.trace:
        metrics = per_layer_metrics(tracer, spark, traced, untraced, gen_s, rss.peak / 1e6)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s_p50": median(walls),
            "docs_per_s": docs / sum(walls) if walls else 0.0,
        }
        units = END_TO_END
    for u in undo:
        u()
    shutdown(spark)
    shutil.rmtree(inp["work"], ignore_errors=True)

    p90 = tail_percentile(walls)
    print(f"workload {wl.name}  seed {args.seed}  jobs {len(walls)} timed, "
          f"{runner.attempted} attempted, {runner.failed} failed  "
          f"(failed_frac {runner.failed / runner.attempted:.4f})")
    print(f"  gen_s {gen_s:.4f} s (not gated)  setup {setup_s:.3f} s  peak_rss {rss.peak / 1e6:.0f} MB")
    print(f"  job walls (s): {' '.join('%.3f' % w for w in walls)}")
    print(f"  job_s_p90 {'%.4f s' % p90 if p90 is not None else 'not reported: fewer than 10 jobs beyond it'}")
    for k, v in metrics.items():
        print(f"  {k} {v:.6g} {units[k]}")
    for e in runner.errors:
        print(f"  FAILED {e}")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
