"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    inclusive_work,
    parse_event_log,
    self_times,
    tail,
)
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


# -- BENCHMARK.json vs what the harness prints ------------------------------


def test_metric_names_and_units_match_benchmark_json():
    e2e = {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]}
    per = {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]}
    assert e2e == layers.END_TO_END
    assert per == layers.PER_LAYER
    assert e2e["setup_s"] == ("s", "lower")
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s"
    )
    for name, unit in {**e2e, **per}.items():
        assert layers.UNITS[name] == unit[0]


def test_workloads_match_benchmark_json():
    names = [w["name"] for w in SPEC["workloads"]]
    assert set(names) <= set(WORKLOADS)
    args = run.parse_args(["--workload", names[0], "--seed", "1", "--seconds", "1"])
    assert args.trace == 0
    with pytest.raises(SystemExit):
        run.parse_args(["--workload", "nope", "--seed", "1", "--seconds", "1"])


def test_run_refuses_outside_a_checkout(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    rc = run.main(["--workload", "update", "--seed", "1", "--seconds", "1"])
    assert rc != 0
    assert capsys.readouterr().out == ""


def test_failed_workload_still_prints_a_result(tmp_path, monkeypatch, capsys):
    import workloads

    (tmp_path / "hangarbay_spark").mkdir()
    (tmp_path / "hangarbay_spark" / "__init__.py").write_text("")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(run, "prepare_env", lambda root, work: None)
    monkeypatch.setattr(workloads, "stop_session", lambda: None)

    def wrong_setup(ctx):
        raise RuntimeError("serve: warm-up search wrong")

    monkeypatch.setitem(workloads.WORKLOADS, "serve", wrong_setup)
    rc = run.main(["--workload", "serve", "--seed", "1", "--seconds", "1"])
    assert rc == 0
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert last == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def test_ivfpq_oracle_replays_the_build_geometry():
    from hangarbay_spark.queries import REGISTRY
    from workloads import _ivfpq_oracle

    registered = REGISTRY["sim_ivfpq_persisted_topk"].oracle
    assert _ivfpq_oracle(500) == registered  # auto geometry = the fixed 16/4
    assert _ivfpq_oracle(2000) != registered  # 32 cells, 8 probes
    assert REGISTRY["sim_ivfpq_persisted_topk"].oracle == registered


# -- span arithmetic ---------------------------------------------------------


def _span(i, start, end, parent=None, layer="x"):
    return Span(i, f"s{i}", layer, start, end, parent=parent)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 5.0, parent=1),  # overlaps span 2: union 1..5
        _span(4, 8.0, 12.0, parent=1),  # runs past its parent: clipped to 8..10
        _span(5, 1.5, 2.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(0.5)


def test_tracer_nests_spans_and_shares_request_id():
    t = Tracer(enabled=True)
    with t.span("root", "harness") as root:
        with t.span("a", "api") as a:
            with t.span("c", "spark") as c:
                pass
    assert a.parent == root.id and c.parent == a.id
    assert root.rid == a.rid == c.rid == root.id
    assert [s.name for s in t.spans] == ["c", "a", "root"]
    off = Tracer(enabled=False)
    with off.span("root", "harness") as sp:
        pass
    assert off.spans == [] and sp.dur >= 0


# -- tail percentile rule ----------------------------------------------------


def test_tail_needs_ten_samples_beyond_it():
    assert tail(range(10)) is None
    v, pct, n = tail(range(1, 12))  # 11 samples: rank 1 has 10 above it
    assert (v, n) == (1, 11) and pct == pytest.approx(100 / 11)
    v, pct, n = tail(range(1, 101))
    assert (v, pct, n) == (90, 90.0, 100)
    v, pct, n = tail(list(range(1000, 0, -1)))
    assert (v, pct) == (990, 99.0)


# -- event log attribution -----------------------------------------------------


def test_event_log_work_attaches_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500},
         "Task Metrics": {"Executor Run Time": 300, "Executor Deserialize Time": 50,
                          "Result Serialization Time": 10, "JVM GC Time": 20,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Input Metrics": {"Bytes Read": 11}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 0, "Finish Time": 100},
         "Task Metrics": {"Executor Run Time": 100}},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups, none = parse_event_log(log)
    w = groups["2"]
    assert (w.jobs, w.stages, w.tasks) == (1, 1, 1)
    assert w.task_s == pytest.approx(0.3)
    assert w.sched_delay_s == pytest.approx(0.14)
    assert w.gc_s == pytest.approx(0.02)
    assert (w.shuffle_write_b, w.input_b) == (7, 11)
    assert (none.jobs, none.tasks) == (1, 1)
    spans = [_span(1, 0, 1), _span(2, 0, 1, parent=1)]
    inc = inclusive_work(spans, groups)
    assert inc[1].tasks == inc[2].tasks == 1


# -- seeded generators ---------------------------------------------------------

SMALL = dict(n_master=2000, n_acftref=300, n_engine=50)


def test_snapshot_is_byte_identical_per_seed():
    a, b = gen.make_snapshot(7, **SMALL), gen.make_snapshot(7, **SMALL)
    assert a.zip_bytes == b.zip_bytes and a.keys == b.keys
    assert gen.make_snapshot(8, **SMALL).zip_bytes != a.zip_bytes
    assert a.expected_tables["owners"] == 2000
    assert len(set(a.keys)) == len(a.keys) < 2000  # some N-numbers repeat


def test_request_stream_is_identical_per_seed_and_holds_the_mix():
    keys = gen.make_snapshot(7, **SMALL).keys
    a = gen.make_requests(7, keys, blocks=50)
    assert gen.requests_bytes(a) == gen.requests_bytes(gen.make_requests(7, keys, blocks=50))
    assert gen.requests_bytes(a) != gen.requests_bytes(gen.make_requests(8, keys, blocks=50))
    for i in range(0, len(a), 10):
        kinds = [r.kind for r in a[i:i + 10]]
        assert {k: kinds.count(k) for k, _ in gen.MIX} == dict(gen.MIX)
    searches = [r.arg[1:] for r in a if r.kind == "search"]
    misses = sum(s not in set(keys) for s in searches)
    assert 0 < misses < len(searches) / 4


def test_corpus_is_identical_per_seed():
    sizes = dict(docs=200, vectors=50, events=300)
    a, b = gen.corpus_tables(3, **sizes), gen.corpus_tables(3, **sizes)
    assert all(a[t].equals(b[t]) for t in a)
    for other in (4, -3):
        c = gen.corpus_tables(other, **sizes)
        assert not a["documents"].equals(c["documents"])
    assert a["embeddings"].num_rows == 50
