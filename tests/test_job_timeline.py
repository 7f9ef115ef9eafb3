"""tools/job_timeline.py over a hand-written event log."""

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "job_timeline", os.path.join(os.path.dirname(__file__), "..", "tools", "job_timeline.py")
)
job_timeline = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(job_timeline)
read_jobs, format_timeline = job_timeline.read_jobs, job_timeline.format_timeline


def _job_start(jid, t, stages, group=None):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": t,
        "Stage Infos": [{"Stage ID": s, "Stage Name": f"stage {s}"} for s in stages],
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }


def _task_end(stage, run_ms):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {"Executor Run Time": run_ms},
    }


def test_timeline_gaps_durations_and_groups(tmp_path):
    events = [
        _job_start(0, 1_000, [0], group="a"),
        _task_end(0, 300),
        _task_end(0, 200),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_500},
        _job_start(1, 2_000, [1, 2]),
        _task_end(2, 1_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2_250},
        _job_start(2, 2_100, [3], group="a"),  # overlaps job 1
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2_200},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    jobs = read_jobs(str(log))
    assert [j["id"] for j in jobs] == [0, 1, 2]
    assert [j["task_s"] for j in jobs] == [0.5, 1.0, 0.0]
    assert jobs[1]["stage"] == "stage 2"
    lines = format_timeline(jobs).splitlines()
    assert lines[1].split()[:5] == ["0", "0.000", "0.000", "0.500", "0.500"]
    assert lines[2].split()[:3] == ["1", "1.000", "0.500"]
    assert lines[3].split()[2] == "0.000"  # overlapping job: no gap
    assert lines[-1].startswith("total: 3 jobs, span 1.250 s, gaps 0.500 s")

    grouped = read_jobs(str(log), "a")
    assert [j["id"] for j in grouped] == [0, 2]
    assert format_timeline(grouped).splitlines()[-1].startswith("total: 2 jobs")
