"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from perfbench.eventlog import fold_events
from perfbench.run import _measure
from perfbench.stats import failed_frac, result_line
from perfbench.trace import Span, Tracer, self_time, union_length
from perfbench.workloads import Op, best_round

HERE = os.path.dirname(os.path.abspath(__file__))


def _span(sid, name, start, end, parent=0, layer=True):
    return Span(sid, name, op=0, parent=parent, start=start, end=end, layer=layer)


# -- spans -----------------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_with_overlapping_nodes_and_edges_spans():
    root = Span(0, "op", op=0, parent=None, start=0.0, end=10.0)
    ingest = _span(1, "ingest", 1.0, 3.0)
    nodes = _span(2, "pipeline.nodes", 4.0, 7.0)
    edges = _span(3, "pipeline.edges", 5.0, 8.0)  # concurrent with nodes
    commit = _span(4, "warehouse.commit", 6.0, 7.0, parent=2, layer=False)
    # children cover [1,3] and [4,8]: 6 s, not the 8 s their walls sum to
    assert self_time(root, [ingest, nodes, edges]) == pytest.approx(4.0)
    assert self_time(nodes, [commit]) == pytest.approx(2.0)

    t = Tracer(enabled=True)
    t.spans = [root, ingest, nodes, edges, commit]
    s = t.op_summary(0)
    assert s["op"] == pytest.approx(10.0)
    assert s["driver"] == pytest.approx(4.0)
    assert s["layer_sum"] == pytest.approx(8.0)
    assert s["overlap"] == pytest.approx(2.0)
    assert s["layer_sum"] - s["overlap"] + s["driver"] == pytest.approx(s["op"])
    assert s["warehouse.commit"] == pytest.approx(1.0)


def test_concurrent_layer_spans_hang_off_the_op_and_account_for_its_wall():
    t = Tracer(enabled=True)
    barrier = threading.Barrier(2)

    def layer(name):
        with t.span(name, layer=True):
            barrier.wait(timeout=5)
            time.sleep(0.02)

    with t.op_span(7) as root:
        threads = [threading.Thread(target=layer, args=(n,)) for n in ("pipeline.nodes", "pipeline.edges")]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=5)
        assert not any(th.is_alive() for th in threads)
    spans = t.op_spans(7)
    assert {s.parent for s in spans if s.layer} == {root.sid}
    s = t.op_summary(7)
    assert s["overlap"] > 0
    assert s["layer_sum"] - s["overlap"] + s["driver"] == pytest.approx(s["op"])


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.op_span(0):
        with t.span("ingest", layer=True):
            t.count("warehouse.files_written", 3)
    assert t.spans == [] and dict(t.counts) == {}


# -- event log ---------------------------------------------------------------


def _tiny_log():
    with open(os.path.join(HERE, "testdata", "tiny_eventlog.jsonl")) as f:
        return [json.loads(line) for line in f]


def test_event_log_folds_tasks_onto_their_job_group():
    aggs = fold_events(_tiny_log())
    # stage 2's job has no job group: its task is not charged anywhere
    assert set(aggs) == {("build", 0)}
    a = aggs[("build", 0)]
    assert a.tasks == 3
    assert a.run_ms == 648 + 311 + 312
    assert a.cpu_s == pytest.approx((326890815 + 98576611 + 84875586) / 1e9)
    assert a.shuffle_bytes == 7263 + 7359
    assert a.spill_bytes == 0
    # Python-worker metrics: "timing" is ms, "size" is bytes
    assert a.python_s == pytest.approx(0.482)
    assert a.arrow_bytes == 115776 + 70536
    assert a.skew() == pytest.approx(701 / 338)


def test_event_log_rejects_a_python_metric_of_unknown_unit():
    events = [e for e in _tiny_log() if "sparkPlanInfo" not in e]
    with pytest.raises(ValueError, match="unknown unit"):
        fold_events(events)


# -- failures ------------------------------------------------------------------


class _FakeWorkload:
    """Rounds of three ops: op 1 of each round raises, and op 2 of the
    first round fails its output check."""

    name = "fake"

    def __init__(self):
        self.n = 0

    def round(self, r):
        ops = []
        for i in range(3):
            ops.append(Op(self.n, "query", 0.4, name=f"q{i}", round=r))
            self.n += 1
        ops[1].ok, ops[1].error = False, "boom"
        if r == 0:
            ops[2].ok, ops[2].error = False, "wrong rows"
        return ops


def test_failed_frac_counts_raised_and_check_failed_ops():
    ops = _measure(_FakeWorkload(), seconds=2.0, min_rounds=1)  # 1.2 s per round: two rounds
    attempted, failed = len(ops), sum(1 for o in ops if not o.ok)
    assert (attempted, failed) == (6, 3)
    assert failed_frac(attempted, failed) == 0.5
    line = json.loads(result_line(failed == 0, attempted, failed, {"setup_s": (1.5, "s")}))
    assert line == {"correct": False, "attempted": 6, "failed": 3,
                    "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}


def test_measure_runs_at_least_min_rounds():
    ops = _measure(_FakeWorkload(), seconds=0.1, min_rounds=3)
    assert sorted({o.round for o in ops}) == [0, 1, 2]


def test_best_round_sums_per_op_minimums():
    # the first round is cold and round 2's q0 hit a busy neighbour:
    # neither is kept
    walls = {0: (3.0, 5.0), 1: (1.1, 2.0), 2: (9.0, 2.2), 3: (1.2, 1.8)}
    ops = [Op(0, "query", w, name=f"q{i}", round=r)
           for r, pair in walls.items() for i, w in enumerate(pair)]
    assert best_round(ops) == pytest.approx(1.1 + 1.8)
    assert best_round(ops[:2]) == pytest.approx(8.0)


def test_failed_frac_rejects_impossible_counts():
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(3, 4)


# -- seeded inputs -------------------------------------------------------------


def _digest(path):
    import hashlib

    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            with open(os.path.join(base, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


def test_seed_fixes_the_inputs_and_two_seeds_differ(tmp_path):
    from perfbench.inputs import doc_window, write_docs, write_suite_tables

    assert doc_window(1, 1000) == (1000, 2000)
    assert doc_window(2, 1000) == (2000, 3000)
    digests = {}
    for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
        write_suite_tables(str(tmp_path / tag / "sf"), seed, sf=0.001)
        write_docs(str(tmp_path / tag / "docs"), *doc_window(seed, 5), n_entities=100, n_files=2)
        digests[tag] = _digest(str(tmp_path / tag))
    assert sorted(os.listdir(tmp_path / "a" / "docs")) == ["part-00000.parquet", "part-00001.parquet"]
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


# -- BENCHMARK.json ----------------------------------------------------------------


def test_benchmark_json_matches_what_the_runs_report():
    import re

    from perfbench.run import END_TO_END
    from perfbench.workloads import PER_LAYER_METRICS, WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_METRICS
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + list(WORKLOADS)
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    metrics = bench["end_to_end"] + bench["per_layer"]
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for m in metrics)
    assert all(m["better"] in ("higher", "lower") for m in metrics)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_tree_cpu_counts_this_process():
    from perfbench.procfs import tree_cpu_s

    before = tree_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert tree_cpu_s() - before >= 0.2
