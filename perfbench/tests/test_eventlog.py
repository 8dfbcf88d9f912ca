"""Event-log parser and per-layer metrics on a canned log.

The log holds six jobs: two inside a build span, one inside a query's
term lookup (carrying a leaked `build:*` description, which must not
pull it into the build), one per query execution, and one outside any
span. One task failed.
"""

import math
import os

import pytest

from eventlog import Attribution, layer_metrics, parse
from spans import Span

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")
T0 = 1_700_000_000.0


def _spans():
    def s(i, name, a, b, parent=None, **attrs):
        return Span(i, name, T0 + a, T0 + b, parent, attrs)

    return [
        s(0, "indexer.build", 0.0, 2.0),
        s(1, "query", 3.0, 4.0, cls="bool"),
        s(2, "queries.plan", 3.0, 3.3, 1),
        s(3, "storage.term_lookup", 3.1, 3.25, 2),
        s(4, "executor.exec", 3.3, 4.0, 1),
        s(5, "query", 5.0, 5.5, cls="bm25"),
        s(6, "queries.plan", 5.0, 5.1, 5),
        s(7, "bm25.exec", 5.1, 5.5, 5),
    ]


def test_parse_totals():
    jobs = parse(LOG)
    assert [j.id for j in jobs] == [0, 1, 2, 3, 4, 5]
    j0 = jobs[0]
    assert j0.desc == "build:tokenize+stats"
    assert j0.tasks == 2 and j0.tasks_failed == 0
    assert j0.task_s == pytest.approx(0.8)
    assert j0.shuffle_write_bytes == 4000
    assert j0.wait_s == pytest.approx(0.03)
    assert j0.end - j0.submit == pytest.approx(0.8)
    assert jobs[3].tasks == 2 and jobs[3].tasks_failed == 1
    assert jobs[3].input_bytes == 4000


def test_attribution_by_time_window():
    spans, jobs = _spans(), parse(LOG)
    at = Attribution(spans, jobs)
    assert [j.id for j in at.own[0]] == [0, 1]
    assert [j.id for j in at.own[3]] == [2]  # innermost span wins
    assert sorted(j.id for j in at.jobs(spans[1])) == [2, 3]
    assert [j.id for j in at.jobs(spans[5])] == [4]
    assert all(5 not in [j.id for j in js] for js in at.own.values())
    assert at.uncovered(spans[0]) == pytest.approx(2.0 - 0.8 - 0.5)


def test_layer_metrics():
    m = layer_metrics(
        _spans(), parse(LOG),
        {"storage.keys_requested": 4, "storage.keys_forwarded": 1},
        text_bytes=8000, session_start_s=4.5,
        table_bytes={"postings": 10, "docs": 20, "seg_meta": 30, "term_stats": 40},
    )
    want = {
        "session.start_s": 4.5,
        "indexer.build_s": 2.0,
        "indexer.tokenize_task_s": 0.8,
        "indexer.write_task_s": 0.4,
        "indexer.driver_s": 0.7,
        "indexer.shuffle_bytes_per_text_byte": 0.5,
        "indexer.merge_s": 0.0,
        "indexer.delete_s": 0.0,
        "storage.term_lookup_s": 0.075,
        "storage.term_lookup_hit_ratio": 0.75,
        "storage.input_bytes_per_query": 3250.0,
        "queries.plan_s": 0.125,
        "executor.exec_s": 0.7,
        "executor.jobs_per_query": 2.0,
        "executor.tasks_per_query": 3.0,
        "executor.task_s_per_query": 0.33,
        "executor.shuffle_bytes_per_query": 100.0,
        "executor.driver_s": 0.45,
        "bm25.exec_s": 0.4,
        "bm25.jobs_per_query": 1.0,
        "bm25.tasks_per_query": 1.0,
        "bm25.task_s_per_query": 0.15,
        "bm25.input_bytes_per_query": 2000.0,
        "streaming.commit_s": 0.0,
        "spark.task_wait_s": 0.02,
        "spark.tasks_failed": 1.0,
        "spark.jobs": 6.0,
        "spark.tasks": 8.0,
        "queries.count": 2.0,
        "storage.bytes.term_stats": 40.0,
    }
    for name, value in want.items():
        assert math.isclose(m[name][0], value, rel_tol=1e-6, abs_tol=1e-9), (name, m[name])
