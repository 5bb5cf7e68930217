"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, run  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    metric_total,
    SparkJobRec,
    StageRec,
    count_nodes,
    job_metrics,
    self_times,
    streaming_progress,
    union_length,
)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_and_workload_names_are_well_formed():
    from perfbench.workloads import WORKLOADS

    names = list(run.END_TO_END) + list(run.PER_LAYER) + list(WORKLOADS)
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_runner():
    from perfbench.workloads import WORKLOADS

    b = bench_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"]) <= 0.25


def test_p90_needs_ten_samples_beyond_it():
    assert run.tail_percentile([1.0] * 99) is None
    xs = [float(i) for i in range(100)]
    assert run.tail_percentile(xs) == 89.0  # 10 samples (90..99) lie above
    assert run.tail_percentile(xs[:50]) is None
    assert run.tail_percentile([]) is None


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]) == pytest.approx(4.0)


def test_self_time_of_nested_spans():
    spans = [
        Span("1", 0, "bench", "job", None, 0.0, 10.0),
        Span("2", 0, "io", "run", "1", 1.0, 4.0),
        Span("3", 0, "compiler", "apply_typed", "2", 2.0, 3.0),
        Span("4", 0, "table_checks", "suite", "1", 5.0, 9.0),
        Span("5", 0, "exec", "suite", "4", 5.0, 6.0),
        Span("6", 0, "exec", "more", "4", 6.0, 7.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"1": 3.0, "2": 2.0, "3": 1.0, "4": 2.0, "5": 1.0, "6": 1.0})
    assert sum(st.values()) == pytest.approx(10.0)  # self times partition the job


def _stage(span, start, end, run_s=1.0, shuffle=0):
    return StageRec(span, 0, 4, start, end, run_s, run_s / 2, 0.0, shuffle, shuffle, 0, 0, 0)


def test_job_metrics_reconcile_with_wall_time():
    spans = [
        Span("0.1", 0, "bench", "job", None, 100.0, 110.0),
        Span("0.2", 0, "table_checks", "suite", "0.1", 101.0, 105.0),
        Span("0.3", 0, "exec", "suite", "0.2", 102.0, 105.0),
        Span("0.4", 0, "io", "run", "0.1", 106.0, 109.0),
    ]
    jobs = [
        SparkJobRec("0.3", 0, [_stage("0.3", 102.0, 104.0, shuffle=2_000_000)]),
        SparkJobRec("0.4", 1, [_stage("0.4", 107.0, 108.5), _stage("0.4", 108.0, 109.0)]),
    ]
    m = job_metrics(spans, jobs, {"io.files_written": 3}, cores=4)
    assert m["exec.jobs"] == 2 and m["exec.stages"] == 3 and m["exec.tasks"] == 12
    assert m["exec.driver_gap_s"] == pytest.approx(10.0 - 4.0)
    assert m["exec.busy_frac"] == pytest.approx(3.0 / 40.0)
    assert m["table_checks.suite_s"] == pytest.approx(4.0)
    assert m["table_checks.shuffle_mb"] == pytest.approx(4.0)
    assert m["io.checkpoint_s"] == pytest.approx(3.0) and m["io.resume_s"] == 0.0
    assert m["io.files_written"] == 3
    total = sum(v for k, v in m.items() if k.startswith("self."))
    assert total == pytest.approx(m["trace.job_s"])


def test_comparator_flags_an_off_by_one_count():
    exp = {"totals": [10000, 8234, 1838], "suite": {"psi_halves": [0.00137, True]}}
    assert oracle.compare("x", exp, json.loads(json.dumps(exp))) == []
    off = {"totals": [10000, 8235, 1838], "suite": {"psi_halves": [0.00137, True]}}
    msgs = oracle.compare("x", exp, off)
    assert len(msgs) == 1 and "8234" in msgs[0] and "8235" in msgs[0]
    assert oracle.compare("n", 5, 6) and oracle.compare("d", {"a": 1}, {"a": 1, "b": 2})
    assert oracle.compare("f", [0.1234561], [0.1234569]) == []  # within FLOAT_TOL
    assert oracle.compare("f", [0.123456], [0.123459])


def test_streaming_progress_totals():
    def batch(rows, add, trig, state_rows, mem, commit):
        return {
            "numInputRows": rows,
            "durationMs": {"addBatch": add, "triggerExecution": trig},
            "stateOperators": [
                {"numRowsTotal": state_rows, "memoryUsedBytes": mem, "commitTimeMs": commit}
            ],
        }

    prog = [batch(10, 100, 150, 10, 1_000_000, 5), batch(12, 200, 260, 20, 2_000_000, 7),
            batch(0, 0, 3, 20, 2_000_000, 0)]
    m = streaming_progress(prog)
    assert m["streaming.batches"] == 2
    assert m["streaming.add_batch_s"] == pytest.approx(0.3)
    assert m["streaming.overhead_s"] == pytest.approx(0.11)
    assert m["streaming.state_rows"] == 20 and m["streaming.state_mb"] == pytest.approx(2.0)
    assert m["streaming.state_commit_s"] == pytest.approx(0.012)


def test_sql_metric_totals_parse_the_status_store_format():
    head = "total (min, med, max (stageId: taskId))\n"
    assert metric_total(head + "3.2 s (0 ms, 1.1 s, 2.0 s (stage 3.0: task 7))") == pytest.approx(3.2)
    assert metric_total(head + "2.0 KiB (1 B, 2 B, 3 B (stage 1.0: task 2))") == 2048.0
    assert metric_total(head + "1.5 m (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == pytest.approx(90.0)
    assert metric_total("512 ms") == pytest.approx(0.512)
    assert metric_total("") == 0.0


def test_count_nodes_counts_shared_subtrees_once():
    from jvst_spark.spec.nodes import And, NumRange, Valid

    leaf = NumRange(lo=0)
    assert count_nodes([And((leaf, leaf))]) == 2
    assert count_nodes([And((leaf, Valid())), leaf]) == 3


def test_inputs_are_a_function_of_the_seed():
    a, b = gen.documents(5, 200), gen.documents(5, 200)
    assert a.equals(b)
    assert not a.equals(gen.documents(6, 200))
    ids = np.arange(1000, 1300)
    parts = gen.arrivals(5, ids, 4)
    assert len(parts) == 4
    log = [int(x) for p in parts for x in p.column("doc_id").to_pylist()]
    assert len(log) == len(ids) + (ids % 17 == 0).sum() + (ids % 51 == 0).sum()
    assert sorted(set(log)) == list(ids)
    assert [p.equals(q) for p, q in zip(parts, gen.arrivals(5, ids, 4))] == [True] * 4
