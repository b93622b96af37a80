import json
from pathlib import Path

import pytest

from perfbench.eventlog import log_files, parse, parse_dir

# Recorded from a local[2] session: group "001:q|build" caches and counts
# a two-partition frame, group "001:q|action" aggregates it with a shuffle.
LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"


def test_recorded_log_folds_into_job_groups():
    groups = parse(LOG.read_text().splitlines())
    assert set(groups) == {"001:q|build", "001:q|action"}
    build, action = groups["001:q|build"], groups["001:q|action"]
    assert (build.jobs, build.stages, build.tasks) == (1, {0, 1}, 3)
    assert (action.jobs, action.stages, action.tasks) == (1, {2, 3}, 4)
    assert build.failed_tasks == action.failed_tasks == 0
    # the cached partitions are stored while the build group runs
    assert build.stored_block_bytes == 2792 and action.stored_block_bytes == 0
    assert (build.shuffle_write_bytes, action.shuffle_write_bytes) == (118, 266)
    assert action.shuffle_read_bytes == 266
    assert build.executor_run_s == pytest.approx(1.177)
    assert 0 < action.executor_cpu_s <= action.executor_run_s
    assert action.task_max_s == pytest.approx(0.413)
    assert action.task_median_s == pytest.approx((0.126 + 0.339) / 2)


def test_failed_tasks_and_ungrouped_jobs():
    lines = LOG.read_text().splitlines()
    task = next(json.loads(x) for x in lines if '"SparkListenerTaskEnd"' in x)
    task["Task Info"]["Failed"] = True
    job = {"Event": "SparkListenerJobStart", "Job ID": 9, "Stage IDs": [42], "Properties": {}}
    orphan = dict(task, **{"Stage ID": 42})
    groups = parse(lines + [json.dumps(task), json.dumps(job), json.dumps(orphan)])
    assert groups["001:q|build"].failed_tasks == 1
    assert groups[""].jobs == 1 and groups[""].failed_tasks == 1


def test_rolling_log_parts_are_read_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for name in ("events_10_local-1", "events_2_local-1", "appstatus_local-1",
                 ".events_2_local-1.crc"):
        (app / name).write_text("")
    assert [p.name for p in log_files(tmp_path)] == ["events_2_local-1", "events_10_local-1"]
    (app / "events_2_local-1").write_text(LOG.read_text())
    assert set(parse_dir(tmp_path)) == {"001:q|build", "001:q|action"}
