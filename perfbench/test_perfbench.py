"""Tests of the benchmark's own arithmetic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import json
import os
import sys
from collections import defaultdict

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import layertrace  # noqa: E402


# -- percentile ---------------------------------------------------------------


def test_p90_refused_below_100_samples():
    with pytest.raises(ValueError, match="at least 100 samples"):
        checks.percentile(list(range(99)), 90)


def test_p90_nearest_rank_at_100_samples():
    assert checks.percentile(list(range(1, 101)), 90) == 90


def test_p50_needs_ten_samples_above_it():
    with pytest.raises(ValueError):
        checks.percentile(list(range(19)), 50)
    assert checks.percentile([5, 1, 4, 2, 3] * 4, 50) == 3


# -- self time with nested spans ----------------------------------------------


def _span(i, layer, parent, start, end, rows=None):
    return {"id": i, "layer": layer, "fn": f"f{i}", "parent": parent,
            "start": start, "end": end, "rows": rows}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "bench", None, 0.0, 10.0),
        _span(1, "pipeline", 0, 1.0, 9.0),
        _span(2, "extract", 1, 1.5, 4.0),
        _span(3, "link", 1, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(4, "extract", 2, 2.0, 2.5),
    ]
    self_s = layertrace.self_times(spans)
    assert self_s[0] == pytest.approx(2.0)
    assert self_s[1] == pytest.approx(8.0 - 4.5)
    assert self_s[2] == pytest.approx(2.0)
    assert self_s[3] == pytest.approx(3.0)
    assert self_s[4] == pytest.approx(0.5)


def test_interval_union():
    assert layertrace.interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert layertrace.interval_union([]) == 0.0


def test_layer_metrics_count_rows_once_per_layer_boundary(tmp_path):
    tracer = layertrace.Tracer.__new__(layertrace.Tracer)
    tracer.spans = [
        _span(0, "bench", None, 0.0, 10.0),
        _span(1, "materialize", 0, 1.0, 5.0, rows=100),  # e.g. chunk_triples
        _span(2, "materialize", 1, 2.0, 3.0, rows=60),  # nested: not a boundary
        _span(3, "link", 0, 5.0, 9.0, rows=40),
    ]
    tracer.counts = defaultdict(float)
    out = tracer.layer_metrics(str(tmp_path), [tracer.spans[0]])
    assert out["materialize.rows_out"] == 100
    assert out["materialize.self_s"] == pytest.approx(4.0)
    assert out["link.rows_out"] == 40
    assert out["trace.wall_s"] == pytest.approx(10.0)
    assert out["trace.coverage"] == pytest.approx(0.8)
    assert list(out) == layertrace.metric_names()


def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    g = layertrace.GROUP_PREFIX
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [6], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [6, 7, 8],
         "Properties": {"spark.jobGroup.id": f"{g}3"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [8, 9], "Properties": {}},
    ]
    # stage 6 ran in an ungrouped job and is only listed (skipped) by span 3's
    for stage, run_ms in ((6, 7777), (7, 1000), (7, 3000), (8, 500), (9, 9999)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": "time to run Python workers", "Update": "250"}]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 10,
                             "Memory Bytes Spilled": 1_000_000, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}},
        })
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    by_span = layertrace.read_event_log(str(tmp_path))
    assert list(by_span) == [3]  # stages 6 and 9 ran in ungrouped jobs
    m = by_span[3]
    assert m["jobs"] == 1
    assert m["task_s"] == pytest.approx(4.5)
    assert m["python_s"] == pytest.approx(0.75)
    assert m["shuffle_write_mb"] == pytest.approx(6.0)
    assert m["spill_mb"] == pytest.approx(3.0)
    assert layertrace.task_skew(m["stage_task_s"]) == pytest.approx(3.0 / 2.0)


# -- output checks -------------------------------------------------------------

EDGES = [
    ("http://ex/a", "http://schema.org/name", "A"),
    ("http://ex/b", "http://schema.org/name", "B"),
    ("http://ex/c", "http://schema.org/mentions", "http://ex/a"),
]


def test_edge_check_is_order_insensitive():
    assert checks.compare_edges(list(reversed(EDGES)), set(EDGES))["ok"]


def test_edge_check_fails_on_one_changed_triple():
    changed = EDGES[:2] + [("http://ex/c", "http://schema.org/mentions", "http://ex/b")]
    res = checks.compare_edges(changed, set(EDGES))
    assert not res["ok"]
    assert res["precision"] == pytest.approx(2 / 3)
    assert res["recall"] == pytest.approx(2 / 3)


def test_edge_check_fails_on_a_duplicated_row():
    res = checks.compare_edges(EDGES + EDGES[:1], set(EDGES))
    assert not res["ok"] and res["duplicates"] == 1


def test_hash_separates_field_boundaries():
    assert checks.fingerprint([("ab", "c", "d")]) != checks.fingerprint([("a", "bc", "d")])


def test_namespaces_match_the_program():
    from wbkg import materialize

    assert checks.EX == materialize.EX
    assert checks.SCHEMA == materialize.SCHEMA


def test_oracle_universe_is_restored():
    from wbkg import oracle

    before = (oracle.gen_doc, oracle.gen_metadata_row, oracle.build_entity_dict_rows)
    small = checks.oracle_triples(2, 3, seed=5, weight=1)
    assert small
    assert (oracle.gen_doc, oracle.gen_metadata_row, oracle.build_entity_dict_rows) == before
