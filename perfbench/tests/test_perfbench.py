"""Tests for the benchmark's own code: seeded inputs, metric derivations,
event-log parsing and the boilerplate template.  Run from the repository
root with ``python3 -m pytest perfbench/tests -q``."""

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import corpus  # noqa: E402
import measure  # noqa: E402
from fuzzy_search_spark.extract import extract_html  # noqa: E402


def _wet_digest(seed):
    rows = corpus.wet_records(seed, n_docs=20)
    return corpus.corpus_digest(
        rows, corpus.token_dictionary([r["text"] for r in rows], seed, 50))


DIGESTS = {
    "pages_phrase": lambda s: corpus.corpus_digest(
        corpus.phrase_pages(s, n_docs=120)),
    "wet_token_dict": _wet_digest,
    "boilerplate_resume": lambda s: corpus.corpus_digest(
        corpus.boilerplate_pages(s, n_docs=30)),
}


@pytest.mark.parametrize("workload", sorted(DIGESTS))
def test_same_seed_same_corpus_other_seed_other_corpus(workload):
    digest = DIGESTS[workload]
    assert digest(3) == digest(3)
    assert digest(3) != digest(4)


def test_wet_table_size_does_not_move_with_seed():
    sizes = [corpus.payload_mb(corpus.wet_records(s), "text")
             for s in (1, 2, 3)]
    assert max(sizes) / min(sizes) < 1.01


@pytest.mark.parametrize("pages", [corpus.phrase_pages,
                                   corpus.boilerplate_pages])
def test_page_table_size_and_urls_do_not_move_with_seed(pages):
    tables = [pages(s) for s in (1, 2, 3)]
    for field in ("html", "text"):
        sizes = [corpus.payload_mb(rows, field) for rows in tables]
        assert max(sizes) / min(sizes) < 1.01, field
    # same urls, so url-hash groups and salt partitions match across seeds
    assert len({tuple(r["url"] for r in rows) for rows in tables}) == 1


def test_boilerplate_template_extracts_to_the_text():
    for seed in (1, 2):
        rows = corpus.boilerplate_pages(seed, n_docs=60)
        for row in rows:
            assert extract_html(row["html"]) == row["text"], row["url"]
        # the chrome outweighs the text many times over
        assert (corpus.payload_mb(rows, "html")
                > 20 * corpus.payload_mb(rows, "text"))


def test_boilerplate_template_survives_markup_in_text():
    text = "a < b & c > d\nPRAESIDE &amp; co"
    html = corpus.boilerplate_html(0, text, random.Random(0))
    assert extract_html(html) == text


def test_scaling_eff():
    # 4 cores, 300 docs/s vs 100 docs/s on one core: 300 / 400
    assert measure.scaling_eff(300.0, 100.0, 4) == pytest.approx(0.75)
    assert measure.scaling_eff(400.0, 100.0, 4) == pytest.approx(1.0)


def test_udf_overhead_s():
    assert measure.udf_overhead_s(7.5, 3.0) == pytest.approx(4.5)


def test_task_skew_and_percentiles():
    durations = [1.0, 1.0, 2.0, 1.0, 5.0]
    assert measure.task_skew(durations) == pytest.approx(5.0)
    assert measure.task_skew([2.0, 2.0]) == pytest.approx(1.0)
    assert measure.percentile(durations, 50) == pytest.approx(1.0)
    assert measure.percentile([0.0, 10.0], 90) == pytest.approx(9.0)


def test_rows_digest_ignores_order():
    rows = [("u1", "p", 1, 2.5), ("u2", "q", None, 0.1)]
    assert measure.rows_digest(rows) == measure.rows_digest(rows[::-1])
    assert measure.rows_digest(rows) != measure.rows_digest(rows[:1])


def _task(stage, launch, finish, run_ms, failed=False, gc_ms=0,
          records=0, shuffle=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                         "Input Metrics": {"Records Read": records},
                         "Shuffle Write Metrics": {
                             "Shuffle Bytes Written": shuffle}}})


def test_parse_event_log_groups_tasks_by_job_group():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                    "Stage IDs": [0, 1],
                    "Properties": {"spark.jobGroup.id": "g"}}),
        _task(0, 0, 100, 90, records=10, shuffle=7),
        _task(1, 0, 1000, 950, gc_ms=20),
        _task(1, 0, 3000, 2900, failed=True),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1,
                    "Stage IDs": [2], "Properties": {}}),
        _task(2, 0, 10, 5),
    ]
    jobs = measure.parse_event_log(lines)
    g = jobs["g"]
    assert (g["tasks"], g["failed"], g["records_read"],
            g["shuffle_write_bytes"]) == (3, 1, 10, 7)
    assert g["run_s"] == pytest.approx(3.94)
    assert g["gc_s"] == pytest.approx(0.02)
    assert measure.heaviest_stage_tasks(g) == [1.0, 3.0]
    assert jobs[""]["tasks"] == 1


def test_tracer_records_parent_and_run_id():
    tracer = measure.Tracer(True)
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run_id"] == outer["run_id"] == tracer.run_id
    assert tracer.total("inner") <= tracer.total("outer")
    off = measure.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
