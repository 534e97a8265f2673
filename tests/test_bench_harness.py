"""bench.py's profile, stdout shape and report, on synthetic inputs."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from types import SimpleNamespace

import bench

sys.path.insert(0, os.path.join(os.path.dirname(bench.__file__), "tools"))
import bench_report  # noqa: E402

_NO_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(
    setJobGroup=lambda *a: None, setLocalProperty=lambda *a: None))


def _job(job_id, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group, "spark.job.description": "bench"} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _stage(stage_id, tasks, **acc):
    names = {"run_ms": "internal.metrics.executorRunTime",
             "cpu_ns": "internal.metrics.executorCpuTime",
             "input": "internal.metrics.input.bytesRead"}
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage_id, "Number of Tasks": tasks,
        "Accumulables": [{"Name": names[k], "Value": v} for k, v in acc.items()]}}


def test_profile_attributes_jobs_to_query_and_spool_rows(tmp_path):
    prof = bench.Profile(_NO_SPARK, str(tmp_path))
    stamps = []

    def run():
        stamps.append(time.time() * 1e3)
        time.sleep(0.01)

    prof.time_runs("q_a", run, 2)
    prof.time_runs("spool.s1", run, 1)
    t_q, t_s = stamps[0], stamps[2]
    events = [
        _job(0, t_q, [0, 1], "q_a"),
        _stage(0, 2, run_ms=500, cpu_ns=2e8),
        _stage(1, 1),
        # a streaming job under its own run id, submitted inside q_a's span
        _job(1, t_q + 5, [2], "stream-run-7"),
        _stage(2, 3),
        _job(2, t_s, [3], "spool.s1"),
        _stage(3, 4, input=1000),
        # no group, outside every span
        _job(3, t_s + 60_000, [4]),
        _stage(4, 1),
    ]
    (tmp_path / "local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    rows = prof.fold()
    assert set(rows) == {"q_a", "spool.s1", bench.UNATTRIBUTED}
    q = rows["q_a"]
    assert (q["jobs"], q["stages"], q["tasks"], q["runs"]) == (2, 3, 6, 2)
    assert (q["executor_run_s"], q["executor_cpu_s"]) == (0.5, 0.2)
    sp = rows["spool.s1"]
    assert (sp["jobs"], sp["stages"], sp["tasks"], sp["input_bytes"]) == (1, 1, 4, 1000)
    assert rows[bench.UNATTRIBUTED]["jobs"] == 1
    assert set(q) == set(bench.PROFILE_FIELDS)


def test_event_log_confs_follow_prior_submit_args(monkeypatch):
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.x=1 pyspark-shell")
    log_dir = bench.enable_event_log()
    try:
        args = os.environ["PYSPARK_SUBMIT_ARGS"]
        assert args.startswith("--conf spark.x=1 --conf spark.eventLog.enabled=true")
        assert args.endswith(f"spark.eventLog.dir=file://{log_dir} pyspark-shell")
        assert "spark.eventLog.compress=false" in args
        assert not log_dir.startswith(os.path.dirname(bench.__file__) + os.sep)
    finally:
        shutil.rmtree(log_dir)


def test_stdout_is_small_chunks_then_the_total(capsys):
    timings = {f"q{i:03d}": i / 100 for i in range(335)}
    bench.print_summary(timings, {"metric": "total_query_wall_seconds", "value": 1.0}, 4, 0.01)
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert lines[-1]["metric"] == "total_query_wall_seconds"
    chunks = lines[:-1]
    assert all(c["metric"] == "per_query_chunk" and len(c["queries"]) <= 30 for c in chunks)
    assert [c["part"] for c in chunks] == list(range(1, len(chunks) + 1))
    assert {c["of"] for c in chunks} == {len(chunks)}
    assert {k: v for c in chunks for k, v in c["queries"].items()} == timings


def test_bench_report_renders_stages_table(tmp_path):
    art = {"queries": {"a": 0.5, "b": 0.2, "c": 0.1}, "spool_build_seconds": {"s": 1.0}, "sf": 0.01}
    row = dict.fromkeys(bench.PROFILE_FIELDS, 0)
    rows = {
        "a": {**row, "stages": 6, "tasks": 12, "jobs": 4, "executor_cpu_s": 1.0, "runs": 2},
        "b": {**row, "stages": 30, "tasks": 30, "jobs": 3, "runs": 3},
        "c": {**row, "stages": 2, "tasks": 2, "jobs": 2, "runs": 2},
        "spool.s": {**row, "stages": 99, "runs": 1},
        "warmup": {**row, "stages": 99, "runs": 1},
    }
    (tmp_path / "BENCH_x.json").write_text(json.dumps(art))
    (tmp_path / "PROFILE_x.json").write_text(json.dumps({"steal_s": 2.3, "rows": rows}))
    lines = bench_report.report(str(tmp_path / "BENCH_x.json")).splitlines()
    assert "steal 2.3 s" in lines[0]
    assert lines[1] == ">5 s tail: none"
    assert lines[2].startswith("top 3 queries by stages per run")
    assert lines[3:] == [
        "  b 10 stages, 10 tasks, 1 jobs, 0.00 cpu s",
        "  a 3 stages, 6 tasks, 2 jobs, 0.50 cpu s",
        "  c 1 stages, 1 tasks, 1 jobs, 0.00 cpu s",
    ]
    os.remove(tmp_path / "PROFILE_x.json")
    assert "steal n/a" in bench_report.report(str(tmp_path / "BENCH_x.json"))
