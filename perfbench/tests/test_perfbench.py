"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
sys.path[:0] = [str(BENCH), str(BENCH.parent)]

import gen  # noqa: E402
import run  # noqa: E402
from tracing import Span, Tracer, covered, exec_metrics, parse_event_log  # noqa: E402
from workloads import Op  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
TINY_LOG = HERE / "data" / "tiny_eventlog.jsonl"


def _inputs(tmp: Path, seed: int) -> str:
    ev = gen.write_events(tmp / "in", seed, 2_000)
    backlog = gen.write_backlog(tmp / "staging", seed, 3, 50)
    return gen.digest([ev, *backlog.files])


def test_same_seed_same_inputs(tmp_path):
    assert _inputs(tmp_path / "a", 7) == _inputs(tmp_path / "b", 7)


def test_other_seed_other_inputs(tmp_path):
    assert _inputs(tmp_path / "a", 7) != _inputs(tmp_path / "b", 8)


def test_backlog_plants_copies_with_larger_ids(tmp_path):
    b = gen.write_backlog(tmp_path, 3, 4, 100)
    assert len(b.copies) == 4 * 4 + 3 * 6  # no cross-batch copies in file 0
    assert len(set(b.copies.values())) == len(b.copies)  # one copy per origin
    assert not set(b.copies.values()) & set(b.copies)  # no copy of a copy
    assert all(c > o for c, o in b.copies.items())


def _span(t: Tracer, name, start, end, parent=None):
    s = Span(len(t.spans), parent, name, start, end)
    t.spans.append(s)
    return s


def test_self_time_subtracts_the_union_of_children():
    t = Tracer("t")
    root = _span(t, "op", 0.0, 10.0)
    _span(t, "build", 1.0, 3.0, root.id)
    _span(t, "sink", 2.0, 5.0, root.id)  # overlaps build: union is [1, 5]
    _span(t, "late", 9.0, 12.0, root.id)  # clipped to the parent's end
    assert t.self_time(root) == pytest.approx(10 - 4 - 1)


def test_covered_skips_empty_and_disjoint_intervals():
    assert covered([(0, 1), (2, 3), (5, 4)], 0, 10) == pytest.approx(2)
    assert covered([], 0, 10) == 0


def test_tracer_records_parents_only_when_enabled():
    t = Tracer("t")
    with t.span("off"):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("pass") as p:
        with t.span("op", key="q") as o:
            pass
    assert (p.parent, o.parent, o.attrs) == (None, p.id, {"key": "q"})
    assert o.end >= o.start


def _log_interval(log):
    """From the first execution's start to the last job's submission."""
    return min(log.sql_start.values()), max(t for _, t, _ in log.jobs)


def test_parser_reads_the_recorded_event_log():
    log = parse_event_log(TINY_LOG)
    assert len(log.jobs) == 3
    assert len(log.sql_start) == 2
    lo, hi = _log_interval(log)
    m = exec_metrics(log, lo, hi, 4)
    assert m["exec.jobs"] == 3 and m["exec.sql_executions"] == 2
    assert m["exec.tasks"] > 0 and m["exec.failed_tasks"] == 0
    assert m["exec.shuffle_write_bytes"] > 0
    assert m["exec.shuffle_read_bytes"] == m["exec.shuffle_write_bytes"]
    # the mapInArrow query: 1000 rows into Python, bytes both ways
    assert m["llmdata.python_rows_in"] == 1000
    assert m["llmdata.python_bytes_sent"] > 0 and m["llmdata.python_bytes_received"] > 0
    assert m["exec.plan_nodes"] > 2
    # an interval holding no job submission attributes nothing
    assert exec_metrics(log, hi + 1, hi + 2, 4)["exec.jobs"] == 0


def test_pass_wall_sums_per_position_medians():
    passes = [
        (0, [Op("q1", 1.0), Op("q2", 5.0)]),
        (0, [Op("q1", 3.0), Op("q2", 4.0)]),
        (0, [Op("q1", 2.0), Op("q2", 9.0)]),
    ]
    assert run.pass_wall(passes) == pytest.approx(2.0 + 5.0)
    assert run.op_p50(passes) == pytest.approx(3.5)


def test_window_keeps_the_minimum_then_stops_before_overrunning(monkeypatch):
    now = [0.0]
    monkeypatch.setattr(run, "time", types.SimpleNamespace(perf_counter=lambda: now[0]))

    def workload(pass_s, min_passes):
        def run_pass():
            now[0] += pass_s
            return [Op("q", pass_s)], True

        return types.SimpleNamespace(run_pass=run_pass, min_passes=min_passes)

    # a 20 s window may end by 25 s
    assert len(run.window(workload(12.0, 1), 20)) == 2  # a second pass ends at 24
    assert len(run.window(workload(13.0, 1), 20)) == 1  # a second would end at 26
    assert len(run.window(workload(4.0, 5), 20)) == 6  # a seventh would end at 28
    assert len(run.window(workload(9.0, 5), 20)) == 5  # the minimum, however long


def test_end_to_end_names_match_the_spec():
    setup = dict.fromkeys(
        ("session.start_s", "sources.warm_s", "registry.queries_s", "warmup_s"), 1.0
    )
    m = run.e2e_metrics(setup, [(1.0, [Op("q", 1.0)])], 1.0)
    assert list(m) == [x["name"] for x in SPEC["end_to_end"]]
    assert all(v > 0 for v in m.values())


def test_layer_names_match_the_spec():
    lo, hi = _log_interval(parse_event_log(TINY_LOG))
    tracer = Tracer("t")
    p = _span(tracer, "pass", lo - 1, hi + 1)
    o = _span(tracer, "op", lo - 1, hi + 1, p.id)
    _span(tracer, "build", lo - 1, lo, o.id)
    _span(tracer, "sink", lo, hi + 1, o.id)
    fake = types.SimpleNamespace(
        tracer=tracer,
        cores=4,
        args=types.SimpleNamespace(seed=1),
        wl=types.SimpleNamespace(layer_counts=dict),
        peak_rss=2**30,
    )
    setup = dict.fromkeys(("session.start_s", "registry.queries_s", "sources.warm_s"), 1.0)
    passes = [(1.0, [Op("q", 1.0)])]
    m, kernels_ok = run.layer_metrics(fake, setup, passes, passes, TINY_LOG, [])
    assert kernels_ok
    names = {x["name"] for x in SPEC["per_layer"]}
    assert set(m) <= names
    # what the flow workload leaves out is exactly the streaming layer
    assert {n for n in names - set(m) if not n.startswith("streaming.")} == set()
