"""Unit tests for the event-log -> layer-table tool, on an excerpt of a
recorded Spark 4.1 event log (the LID and perplexity stages of a staged
caption pass). Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import layers

DATA = Path(__file__).parent / "testdata"


@pytest.fixture(scope="module")
def excerpt():
    log = layers.parse_eventlog(DATA / "events_excerpt.jsonl")
    spans = json.loads((DATA / "spans_excerpt.json").read_text())
    rows = {r["span"]: r for r in layers.layer_table(log, spans)}
    events = [json.loads(line) for line in (DATA / "events_excerpt.jsonl").read_text().splitlines()]
    return log, spans, rows, events


def _python_ms(events, stage_ids, name):
    total = 0.0
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids:
            total += sum(float(a["Update"]) for a in e["Task Info"]["Accumulables"] if a["Name"] == name)
    return total


def test_jobs_join_spans_by_description(excerpt):
    log, _, rows, _ = excerpt
    assert sorted(j["desc"] for j in log["jobs"].values()) == ["lid#9", "lid#9", "perplexity#10"]
    assert rows["lid"]["jobs"] == 2
    assert rows["perplexity"]["jobs"] == 1
    # a parent span owns its children's jobs
    assert rows["staged"]["jobs"] == 3


def test_python_worker_metrics_are_summed_per_span(excerpt):
    log, _, rows, events = excerpt
    lid_stages = {s for j in log["jobs"].values() if j["desc"] == "lid#9" for s in j["stages"]}
    pp_stages = {s for j in log["jobs"].values() if j["desc"] == "perplexity#10" for s in j["stages"]}
    assert rows["lid"]["python_s"] == pytest.approx(_python_ms(events, lid_stages, "time to run Python workers") / 1e3)
    assert rows["perplexity"]["python_s"] == pytest.approx(_python_ms(events, pp_stages, "time to run Python workers") / 1e3)
    sent = _python_ms(events, pp_stages, "data sent to Python workers")
    assert rows["perplexity"]["python_sent_mb"] == pytest.approx(sent / 2**20)
    assert rows["perplexity"]["python_s"] > 0 and rows["lid"]["python_returned_mb"] > 0
    assert rows["staged"]["python_s"] == pytest.approx(rows["lid"]["python_s"] + rows["perplexity"]["python_s"])


def test_busy_idle_and_self_time_reconcile_with_wall(excerpt):
    _, _, rows, _ = excerpt
    for r in rows.values():
        assert r["busy_s"] + r["idle_s"] == pytest.approx(r["wall_s"])
        assert 0 <= r["busy_s"] <= r["wall_s"]
    staged = rows["staged"]
    assert staged["self_s"] == pytest.approx(staged["wall_s"] - rows["lid"]["wall_s"] - rows["perplexity"]["wall_s"])
    # the LID stage shuffles into the salted repartition; its reader is the
    # stage the straggler ratio is taken from
    assert rows["lid"]["shuffle_write_mb"] > 0
    assert rows["lid"]["skew_shuffled"] >= 1.0


def test_union_counts_overlap_once():
    assert layers._union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert layers._union_s([(0, 20)], 5, 10) == pytest.approx(5)
    assert layers._union_s([], 0, 1) == 0


def test_skew_is_max_over_median():
    assert layers.skew([1, 1, 1, 4]) == pytest.approx(4)
    assert layers.skew([3]) == 1.0


def test_cli_prints_table_and_overhead(capsys):
    assert layers.main([str(DATA / "events_excerpt.jsonl"), str(DATA / "spans_excerpt.json"), "--wall-untraced", "10"]) == 0
    out = capsys.readouterr().out
    assert "perplexity" in out and "tracing overhead" in out
