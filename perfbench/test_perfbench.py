"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import pytest  # noqa: E402

import inputs  # noqa: E402
import procs  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def test_tail_is_the_sample_with_ten_beyond():
    values = list(range(1, 31))  # 30 samples
    value, pct = stats.tail(values)
    assert value == 20
    assert sum(v > value for v in values) == stats.TAIL_BEYOND
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert stats.tail(values) == (1.0, pytest.approx(100 * 2 / 12))


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_spread_matches_statistics_quantiles():
    values = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, q2, q3 = 11.75, 14.5, 17.25  # the "exclusive" method
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0


def test_self_time_subtracts_the_union_of_children():
    t = tracing.Tracer(True)
    t.spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None, "op": 1},
        {"name": "a.x", "start": 1.0, "end": 4.0, "parent": 0, "op": 1},
        {"name": "b.y", "start": 3.0, "end": 5.0, "parent": 0, "op": 1},
        {"name": "a.x", "start": 6.0, "end": 7.0, "parent": 0, "op": 1},
        {"name": "c.z", "start": 6.5, "end": 6.75, "parent": 3, "op": 1},
    ]
    got = t.self_times()
    assert got["op"] == pytest.approx(10 - 4 - 1)  # [1,5] and [6,7]
    assert got["a.x"] == pytest.approx(3 + 0.75)
    assert got["b.y"] == pytest.approx(2)
    assert got["c.z"] == pytest.approx(0.25)


def test_spans_nest_and_inherit_the_op():
    t = tracing.Tracer(True)
    with t.span("outer", 7):
        with t.span("inner"):
            pass
    assert [s["name"] for s in t.spans] == ["outer", "inner"]
    assert t.spans[1]["parent"] == 0 and t.spans[1]["op"] == 7
    off = tracing.Tracer(False)
    with off.span("x", 1):
        pass
    assert off.spans == []


def test_py4j_counter_skips_release_commands():
    sent = []
    client = SimpleNamespace(send_command=lambda c, *a, **k: sent.append(c))
    spark = SimpleNamespace(sparkContext=SimpleNamespace(
        _gateway=SimpleNamespace(_gateway_client=client)))
    counter = tracing.Py4jCounter(spark)
    client.send_command("c\no12\ncount\ne\n")
    client.send_command("m\nd\no12\ne\n")
    client.send_command("r\nu\norg\ne\n")
    assert counter.calls == 2
    assert len(sent) == 3  # every command still reaches the JVM


def test_job_metrics_clip_and_skip():
    jobs = [
        {"jobId": 1, "stageIds": [1, 2], "submissionTime": 1000,
         "completionTime": 3000},
        {"jobId": 2, "stageIds": [3], "submissionTime": 2500,
         "completionTime": 6000},
    ]
    stage = {"numFailedTasks": 0, "numKilledTasks": 0,
             "executorRunTime": 10, "executorCpuTime": 2_000_000,
             "shuffleWriteBytes": 5, "inputBytes": 7}
    stages = [
        {**stage, "stageId": 1, "status": "COMPLETE", "numCompleteTasks": 4},
        {**stage, "stageId": 2, "status": "SKIPPED", "numCompleteTasks": 0},
        {**stage, "stageId": 3, "status": "COMPLETE", "numCompleteTasks": 2,
         "numFailedTasks": 1},
        {**stage, "stageId": 9, "status": "COMPLETE", "numCompleteTasks": 8},
    ]
    m = tracing.job_metrics(jobs, stages, window=(0.0, 5.0))
    assert m["jobs"] == 2 and m["stages"] == 2
    assert m["tasks"] == 7 and m["failed_tasks"] == 1
    assert m["exec_ms"] == pytest.approx(4000)  # [1 s, 5 s], clipped
    assert m["executor_cpu_ms"] == pytest.approx(4)
    assert tracing.job_metrics(jobs, stages)["exec_ms"] == pytest.approx(5000)
    assert tracing.jobs_by_op(
        [{"jobGroup": "pb-3"}, {"jobGroup": None}, {"jobGroup": "x"}]
    ) == {3: [{"jobGroup": "pb-3"}]}


def test_same_topk_catches_a_corrupted_result():
    want = [(4, 2.5), (1, 2.5), (9, 1.25)]
    assert workloads.same_topk(list(want), want)
    assert workloads.same_topk([(4, 2.5 * (1 + 1e-15)), (1, 2.5), (9, 1.25)],
                               want)
    assert not workloads.same_topk([(1, 2.5), (4, 2.5), (9, 1.25)], want)
    assert not workloads.same_topk([(4, 2.5), (1, 2.5), (9, 1.2500001)], want)
    assert not workloads.same_topk(want[:2], want)
    assert not workloads.same_topk(want + [(5, 1.0)], want)


def test_query_sequence_is_seeded_with_a_never_repeated_tail():
    a = inputs.query_sequence(7, 300)
    assert a == inputs.query_sequence(7, 300)
    b = inputs.query_sequence(8, 300)
    assert a != b
    tail = [q for kind, q in a if kind == "tail"]
    head = [q for kind, q in a if kind == "head"]
    assert len(set(tail)) == len(tail)
    assert not set(tail) & set(inputs.HEAD)
    assert set(head) <= set(inputs.HEAD)
    # the mix is the seed's to word, not to shape
    assert [k for k, _ in a] == [k for k, _ in b]
    assert [inputs.tail_shape(q) for k, q in a if k == "tail"] == [
        inputs.tail_shape(q) for k, q in b if k == "tail"]
    assert len(head) == 200
    assert head == [q for kind, q in b if kind == "head"]
    assert head.count(inputs.HEAD[0]) > head.count(inputs.HEAD[1]) > 1


def test_tail_keeps_the_query_logs_shape_shares():
    log = list(dict.fromkeys(inputs.query_log(inputs.TAIL_POOL).values()))
    n = 3 * 300
    tail = [q for k, q in inputs.query_sequence(5, n) if k == "tail"]
    assert set(tail) <= set(log)
    for shape in ("bag", "required", "excluded", "and"):
        share = sum(inputs.tail_shape(q) == shape for q in log) / len(log)
        got = sum(inputs.tail_shape(q) == shape for q in tail) / len(tail)
        assert got == pytest.approx(share, abs=0.01), shape


def test_call_timer_times_only_calls_made_while_on():
    module = SimpleNamespace(__name__="pkg.mod", f=lambda x: time.sleep(x))
    t = tracing.Tracer(True)
    timer = tracing.CallTimer(module, "f", t)
    module.f(0.02)
    assert timer.seconds == 0 and t.spans == []
    timer.on = True
    with t.span("outer"):
        module.f(0.02)
    assert timer.seconds >= 0.02
    assert [s["name"] for s in t.spans] == ["outer", "mod.f"]
    assert t.spans[1]["parent"] == 0


def test_ingest_range_is_seeded_unseen_pages():
    r = inputs.ingest_range(3, 600, 200)
    assert r == inputs.ingest_range(3, 600, 200)
    assert len(r) == 200 and min(r) >= 600
    assert {inputs.ingest_range(s, 600, 200).start for s in range(20)} != {
        r.start}


def test_parent_of_reads_past_the_name():
    assert procs.parent_of("42 (a) (b c) S 7 42 42 0 -1") == 7


def test_reap_waits_for_an_orphaned_grandchild(tmp_path):
    # the child exits at once; its background grandchild ends 0.5 s later
    # and is then re-parented to the reaping process
    done = tmp_path / "done"
    script = (
        "import subprocess, procs\n"
        "procs.adopt_orphans()\n"
        f"subprocess.run(['sh', '-c', '(sleep 0.5; touch {done}) &'])\n"
        "procs.reap()\n"
        f"assert __import__('os').path.exists({str(done)!r})\n"
        "assert procs.children() == []\n"
    )
    subprocess.run([sys.executable, "-c", script], cwd=HERE, check=True,
                   timeout=30)


def test_benchmark_json_matches_the_code():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert spec["paths"] == ["perfbench"]
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == (
        workloads.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: unit for k, (unit, _) in workloads.PER_LAYER.items()}
