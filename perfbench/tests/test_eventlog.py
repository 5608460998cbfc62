"""The event-log reader on a committed fixture: the log of one 2000-row
``bulk_load`` into 16 buckets (local[4]), trimmed to the events and fields
the reader uses, with its jobs tagged ``perfbench.phase=timed``."""

import json
from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "bulk_load_2000_rows.eventlog"


@pytest.fixture(scope="module")
def log():
    return eventlog.read_event_log(FIXTURE)


def test_plan_metrics_map_to_layers(log):
    c = eventlog.layer_counters(log, "timed", operations=1)
    assert c["sources.rows"] == 2000
    assert c["sources.tasks"] == 1
    assert c["sources.python_s"] == 0  # parquet scan: no Python decode
    assert c["token.bytes_to_python"] == 17320
    assert c["token.bytes_from_python"] == 16144
    assert c["token.python_s"] == pytest.approx(2.279)
    assert c["route.shuffle_write_bytes"] == 71495
    assert c["route.shuffle_records"] == 2000
    assert c["route.sort_s"] == pytest.approx(0.041)
    assert c["route.spill_bytes"] == 0
    assert c["route.reduce_tasks"] == 16


def test_stage_counters(log):
    c = eventlog.layer_counters(log, "timed", operations=1)
    assert (c["spark.jobs"], c["spark.stages"], c["spark.tasks"]) == (3, 3, 18)
    assert c["spark.widest_stage_tasks"] == 16
    assert c["spark.failed_tasks"] == 0
    assert c["spark.python_s"] == pytest.approx(c["token.python_s"])
    assert 0 < c["route.task_p50_s"] <= c["route.task_max_s"]
    assert c["spark.gc_s"] > 0


def test_counters_are_per_operation(log):
    one = eventlog.layer_counters(log, "timed", operations=1)
    two = eventlog.layer_counters(log, "timed", operations=2)
    assert two["route.shuffle_write_bytes"] == one["route.shuffle_write_bytes"] / 2
    assert two["spark.tasks"] == one["spark.tasks"] / 2


def test_other_phases_are_excluded(log):
    c = eventlog.layer_counters(log, "prefix:", operations=1)
    assert c["spark.jobs"] == 0 and c["sources.rows"] == 0


def test_failed_task_is_counted(tmp_path):
    lines = FIXTURE.read_text().splitlines()
    for i, line in enumerate(lines):
        e = json.loads(line)
        if e["Event"] == "SparkListenerTaskEnd":
            e["Task End Reason"] = {"Reason": "ExceptionFailure"}
            e["Task Info"]["Failed"] = True
            lines[i] = json.dumps(e)
            break
    f = tmp_path / "log"
    f.write_text("\n".join(lines) + "\n")
    c = eventlog.layer_counters(eventlog.read_event_log(f), "timed", operations=1)
    assert c["spark.failed_tasks"] == 1

