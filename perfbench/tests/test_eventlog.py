"""The event-log reader on a small captured log.

``fixtures/eventlog_v2_local-capture`` is a Spark 4.1 rolling event log of two
benchmark cuts on 400 generated turns at local[2] (job groups
``r0/route.stable_order`` and ``r0/route.exchange``) plus one job outside
any group, trimmed to the job, stage and task events and without the
accumulator and RDD listings.
"""

import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture
def groups():
    return eventlog.read_groups(eventlog.event_files(DATA))


def test_jobs_are_grouped_by_job_group(groups):
    assert sorted(groups) == ["r0/route.exchange", "r0/route.stable_order"]


def test_window_cut_totals(groups):
    g = groups["r0/route.stable_order"]
    assert (g.tasks, g.failed_tasks, g.run_ms, g.gc_ms) == (3, 0, 1567, 165)
    assert g.cpu_ns == 870508091
    assert g.shuffle_write_bytes == 29781
    assert g.wall_s == pytest.approx(5.246)
    m = g.metrics(cores=2)
    assert m["spark.slot_idle_frac"] == pytest.approx(1 - 1.567 / (5.246 * 2))
    assert m["spark.shuffle_write_mb"] == pytest.approx(0.029781)


def test_exchange_cut_totals(groups):
    g = groups["r0/route.exchange"]
    assert (g.tasks, g.run_ms) == (9, 1794)
    assert g.shuffle_write_bytes == 75998
    assert max(g.stage_task_ms) == 15
    # the slot-idle share against a wall time measured elsewhere
    assert g.slot_idle_frac(cores=2, wall_s=1.794) == pytest.approx(0.5)


def test_failed_task_is_counted_and_excluded_from_totals(groups, tmp_path):
    src = eventlog.event_files(DATA)[0]
    lines = open(src).read().splitlines()
    for i, line in enumerate(lines):
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] == 15:
            ev["Task End Reason"] = {"Reason": "ExceptionFailure"}
            lines[i] = json.dumps(ev)
    d = tmp_path / "eventlog_v2_x"
    d.mkdir()
    (d / "events_1_x").write_text("\n".join(lines) + "\n")
    g = eventlog.read_groups(eventlog.event_files(str(tmp_path)))["r0/route.exchange"]
    ok = groups["r0/route.exchange"]
    assert (g.tasks, g.failed_tasks) == (9, 1)
    assert g.run_ms == ok.run_ms - ok.stage_task_ms[15][0]


def test_last_stage_skew():
    g = eventlog.GroupStats(stage_task_ms={3: [100, 100, 100], 7: [100, 200, 400]})
    assert g.last_stage_skew() == 2.0
    assert eventlog.GroupStats().last_stage_skew() == 0.0


def test_rolling_files_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app").write_text("")
    assert [os.path.basename(f) for f in eventlog.event_files(str(tmp_path))] == [
        "events_1_app", "events_2_app", "events_10_app"]
