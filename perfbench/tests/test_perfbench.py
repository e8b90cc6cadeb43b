"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent.parent), str(HERE.parent)]

import run  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402


# --- event-log fold and self time -----------------------------------------

def _job(jid, group, t, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": int(t * 1000), "Stage IDs": stages,
            "Properties": props}


def _task(stage, launch, finish, run_ms, gc_ms, shuffle, spill, failed=False):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": failed, "Killed": False},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _span(id_, layer, start, end, parent=None):
    return spans.Span(id_, layer, layer, parent, "op-1", start, end)


def test_event_log_fold_groups_tasks_by_job_group():
    events = [
        _job(0, "pb-0", 100.5, [0, 1]),
        _task(0, 1000, 1400, 300, 20, 1000, 0),
        _task(1, 1000, 3000, 1500, 100, 0, 4096),
        _job(1, "pb-1", 101.5, [2]),
        _task(2, 5000, 5100, 80, 0, 50, 0, failed=True),
        _job(2, None, 102.5, [3]),          # no group: another thread's job
        _task(3, 6000, 6200, 150, 0, 10, 0),
        _job(3, "pb-1", 101.8, [1]),        # a skipped stage listed again
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 1},
    ]
    jobs = spans.fold_event_log(json.dumps(e) for e in events)
    assert jobs[0]["stages"] == {0, 1}
    assert jobs[0]["task_s"] == pytest.approx(1.8)
    assert jobs[0]["task_max_s"] == pytest.approx(2.0)
    assert jobs[0]["gc_s"] == pytest.approx(0.12)
    assert jobs[0]["shuffle_write_bytes"] == 1000
    assert jobs[0]["spill_bytes"] == 4096
    assert jobs[1]["failed_tasks"] == 1
    assert jobs[3]["stages"] == set()

    parent = _span("pb-0", "encode", 100.0, 104.0)
    child = _span("pb-1", "query", 101.0, 103.0, parent="pb-0")
    by_span = spans.attribute([parent, child], jobs)
    # job 2 has no group; pb-1 is the innermost span open at 102.5
    assert by_span == {"pb-0": [0], "pb-1": [1, 2, 3]}

    m = spans.layer_metrics([parent, child], jobs, ["encode", "query", "export"])
    assert m["encode.wall_s"] == pytest.approx(4.0)
    assert m["encode.self_s"] == pytest.approx(2.0)
    assert m["query.self_s"] == pytest.approx(2.0)
    assert m["encode.task_s"] == pytest.approx(1.8)
    assert m["query.failed_tasks"] == 1
    assert m["query.shuffle_write_bytes"] == 60
    assert all(m[f"export.{k}"] == 0 for k in spans.GENERIC)
    assert spans.span_jobs([parent, child], jobs) == {"pb-0": (1, 2), "pb-1": (3, 2)}


def test_self_time_subtracts_the_union_of_overlapping_children():
    parent = _span("p", "pipeline", 0.0, 10.0)
    kids = [_span("a", "encode", 1.0, 4.0, "p"), _span("b", "encode", 3.0, 5.0, "p"),
            _span("c", "encode", 9.0, 12.0, "p")]      # runs past its parent
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_nests_spans_and_shares_the_operation_id():
    t = spans.Tracer(None)
    with t.span("query", "s"):
        with t.span("sparql", "parse"):
            pass
    with t.span("export"):
        pass
    a, b, c = t.spans
    assert b.parent == a.id and b.op == a.op
    assert c.parent is None and c.op != a.op
    assert [d["id"] for d in t.dump()] == [a.id, b.id, c.id]


# --- seeded generators -----------------------------------------------------

def _ops(g, vocab, seed, cycles=3):
    rng = random.Random(f"queries:{seed}")
    pools = wl.template_pools(g, vocab)
    return [(o.kind, o.s, o.p, o.o, o.sparql, o.expected)
            for _ in range(cycles) for o in wl.query_cycle(g, vocab, rng, pools)]


def test_generators_are_seed_deterministic():
    a, ga, _ = wl.skewed_nt(7, 800)
    b, gb, _ = wl.skewed_nt(7, 800)
    c, _, _ = wl.skewed_nt(8, 800)
    assert a == b and a != c
    assert _ops(ga, wl.NT_VOCAB, 7) == _ops(gb, wl.NT_VOCAB, 7)
    assert _ops(ga, wl.NT_VOCAB, 7) != _ops(ga, wl.NT_VOCAB, 8)

    s1, _, h1 = wl.synth_graph(7, 12)
    s2, _, h2 = wl.synth_graph(7, 12)
    _, _, h3 = wl.synth_graph(8, 12)
    assert h1 == h2 and h1 != h3
    assert _ops(s1, wl.SYNTH_VOCAB, 7) == _ops(s2, wl.SYNTH_VOCAB, 7)
    assert _ops(s1, wl.SYNTH_VOCAB, 7) != _ops(s1, wl.SYNTH_VOCAB, 8)


def test_query_cycle_mix_and_skewed_graph_shape():
    data, g, lines = wl.skewed_nt(3, 2_000)
    ops = _ops(g, wl.NT_VOCAB, 3, cycles=3)
    kinds = [o[0] for o in ops]
    assert len(ops) == 33
    assert sorted(kinds[:11]) == sorted(
        wl.SHAPES + ["missing", "sparql_join", "sparql_filter", "sparql_path"])
    assert kinds[11:22] == kinds[:11] == kinds[22:]      # one fixed order
    assert ops[11:22] != ops[:11]                         # other constants
    assert g.count(wl.NT_HUB, None, None) == 2_000
    assert g.pcount[wl.NT_LINK] / len(g.triples) > 0.85
    assert 0.05 < 1 - len(g.triples) / g.raw < 0.15      # duplicate lines
    assert "@" in data.decode() and "\\n" in data.decode()


# --- failure accounting ----------------------------------------------------

class _FakeKG:
    _str_enum = None


def test_injected_wrong_answer_counts_in_failed_ratio(monkeypatch):
    op = wl.Op("sp", "http://x/s", "http://x/p", None, expected=3)
    ledger = run.Ledger()
    monkeypatch.setattr(run, "run_query", lambda kg, op: op.expected + 1)
    run.query_op(_FakeKG(), op, ledger, spans.Tracer(None), "t")
    monkeypatch.setattr(run, "run_query", lambda kg, op: op.expected)
    run.query_op(_FakeKG(), op, ledger, spans.Tracer(None), "t")

    def boom(kg, op):
        raise RuntimeError("lost executor")

    monkeypatch.setattr(run, "run_query", boom)
    run.query_op(_FakeKG(), op, ledger, spans.Tracer(None), "t")
    assert (ledger.attempted, ledger.failed) == (3, 2)
    assert ledger.failed_ratio == pytest.approx(2 / 3)


def test_query_mix_that_builds_str_enum_is_a_failure(monkeypatch):
    g = wl.synth_graph(2, 6)[0]
    kg = _FakeKG()
    ledger = run.Ledger()

    def answer(kg_, op):
        kg_._str_enum = object()          # as if a query built the enumeration
        return op.expected

    monkeypatch.setattr(run, "run_query", answer)
    ops, _ = run.query_phase(run.Synth(None, HERE), kg, g, ledger,
                             spans.Tracer(None), 1, 0, "t", n_ops=11)
    assert len(ops) == 11
    assert ledger.failed == 1 and "str_enum" in ledger.problems[0]


# --- the templates against the engine ---------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(run.ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["HDTSPARK_LOCAL_DIR"] = str(tmp_path_factory.mktemp("local"))
    os.environ.setdefault("HDTSPARK_DRIVER_MEM", "2g")
    from hdtspark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _check_mix(w, kg, g, seed):
    ledger = run.Ledger()
    ops, _ = run.query_phase(w, kg, g, ledger, spans.Tracer(None), seed, 0,
                             "t", n_ops=22)
    assert ledger.problems == []
    assert {s.name for s in ops} >= {"sparql_join", "sparql_filter", "sparql_path",
                                     "missing", *wl.SHAPES}
    assert kg._str_enum is None


def test_query_mix_answers_match_and_never_build_str_enum(spark, tmp_path):
    from hdtspark import pipeline, sources, synth

    t = synth.transcripts_df(spark, seed=4, n_conv=8)
    kg = pipeline.build_kg(t)
    pipeline.materialize(kg)
    _check_mix(run.Synth(spark, tmp_path), kg, wl.synth_graph(4, 8)[0], 4)
    kg.unpersist()

    data, g, _ = wl.skewed_nt(4, 600)
    path = tmp_path / "g.nt"
    path.write_bytes(data)
    kg = pipeline.build_kg_from_triples(sources.read_nt(spark, str(path)))
    assert pipeline.materialize(kg) == len(g.triples)
    _check_mix(run.SkewedNT(spark, tmp_path), kg, g, 4)
    kg.unpersist()
