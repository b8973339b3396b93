"""The event-log roll-up on a canned fragment, and BENCHMARK.json against
the metrics run.py reports.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import run  # noqa: E402
from perfbench.eventlog import read_dir, uncovered_s  # noqa: E402

ROLL = read_dir(str(HERE / "testdata"))


def test_groups_roll_up_by_label_prefix():
    p1 = ROLL.total("p1")
    assert (p1.jobs, p1.stages, p1.tasks) == (3, 4, 6)
    assert p1.shuffle_write_bytes == 1100 and p1.shuffle_write_records == 60
    assert p1.gc_ms == 10
    ss = ROLL.total("p1:pagerank:ss1")
    assert (ss.jobs, ss.stages, ss.tasks) == (1, 2, 3)
    call = ROLL.total("p1:pagerank")
    assert (call.jobs, call.tasks) == (2, 5)


def test_prefix_matches_whole_labels_only():
    assert ROLL.total("p").jobs == 0
    assert ROLL.total("p2").jobs == 1 and ROLL.total("p2").shuffle_write_bytes == 7
    assert ROLL.by_group[""].jobs == 1  # jobs with no group keep their own bucket


def test_failures_spill_and_writes():
    ss = ROLL.total("p1:pagerank:ss1")
    assert ss.tasks_failed == 1
    assert ss.spill_bytes == 4096  # disk bytes, not the in-memory size
    call = ROLL.by_group["p1:pagerank"]
    assert call.output_bytes == 2_500_000
    assert call.write_stage_ms == 500  # only stages that wrote output
    assert ROLL.total("p1:pagerank:ss1").write_stage_ms == 0


def test_job_intervals_and_idle_time():
    assert ROLL.by_group["p1"].job_intervals == [(1000.0, 1000.25)]
    jobs = ROLL.total("p1").job_intervals
    # p1 spans 999.5 .. 1003.0: busy 0.25 + 0.8 + 0.6 s
    assert abs(uncovered_s(999.5, 1003.0, jobs) - (3.5 - 1.65)) < 1e-9
    # overlapping and out-of-window intervals
    assert uncovered_s(0.0, 10.0, [(1, 3), (2, 4), (9, 12), (-5, -1)]) == 10 - 3 - 1


def test_torn_last_line_is_skipped():
    assert ROLL.total("p2").tasks == 1


def test_benchmark_json_names_what_run_reports():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
