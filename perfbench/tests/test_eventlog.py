import json

import pytest

from eventlog import log_file, parse_events, union_s


def _lines():
    scope = json.dumps({"id": "3", "name": "FlatMapGroupsInArrow"})
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7,
         "Submission Time": 1_000, "Stage IDs": [1, 2],
         "Properties": {"spark.job.description": "run_encode",
                        "spark.sql.execution.id": "4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 1500,
                          "Executor CPU Time": 250_000_000,
                          "JVM GC Time": 20, "Disk Bytes Spilled": 5,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 3,
                                                   "Local Bytes Read": 4},
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 0}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 1_100,
            "Completion Time": 3_600,
            "RDD Info": [{"Name": "x", "Scope": scope}, {"Name": "y"}],
            "Accumulables": [
                {"Name": "data sent to Python workers", "Value": "100"},
                {"Name": "data sent to Python workers", "Value": "20"},
                {"Name": "internal.metrics.executorRunTime", "Value": 1},
                {"Name": "note", "Value": "n/a"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 7,
         "Completion Time": 4_000},
        {"Event": "SparkListenerJobStart", "Job ID": 3,
         "Submission Time": 500, "Stage IDs": [0], "Properties": None},
    ]
    return [json.dumps(e) + "\n" for e in events] + ["\n"]


def test_parse_events_keeps_jobs_stages_and_task_metrics():
    jobs = parse_events(_lines())
    assert [j.job_id for j in jobs] == [3, 7]
    early, job = jobs
    assert early.description == "" and early.stages == []
    assert (job.description, job.execution_id) == ("run_encode", "4")
    assert (job.submit_s, job.end_s) == (1.0, 4.0)
    # stage 1 never completed (skipped): it is not reported
    [stage] = job.stages
    assert stage.stage_id == 2 and stage.scopes == ["FlatMapGroupsInArrow"]
    assert stage.wall_s == pytest.approx(2.5)
    assert stage.sql_metrics == {"data sent to Python workers": 120.0}
    [t] = stage.tasks
    assert (t.run_s, t.cpu_s, t.gc_s) == (1.5, 0.25, 0.02)
    assert (t.spill_bytes, t.shuffle_read_bytes, t.shuffle_write_bytes) \
        == (5, 7, 0)


def test_log_file_finds_the_one_log_and_refuses_compressed(tmp_path):
    (tmp_path / "local-1").write_text("")
    assert log_file(str(tmp_path)) == str(tmp_path / "local-1")
    (tmp_path / "local-2").write_text("")
    with pytest.raises(FileNotFoundError):
        log_file(str(tmp_path))
    z = tmp_path / "z"
    z.mkdir()
    (z / "local-1.zst").write_text("")
    with pytest.raises(ValueError, match="compress"):
        log_file(str(z))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        log_file(str(empty))


def test_union_s_merges_overlaps():
    assert union_s([]) == 0.0
    assert union_s([(5, 6), (0, 2), (1, 3), (3, 4)]) == pytest.approx(5.0)
