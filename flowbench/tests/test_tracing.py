from pathlib import Path

import pytest

import tracing

LOG = Path(__file__).parent / "data" / "tiny_eventlog.jsonl"


def test_parse_recorded_event_log():
    """A log recorded from local[2]: a shuffle job group, a mapInPandas
    job group and one job outside any bench group (see the README in
    tests/data for how it was recorded)."""
    jobs, stages = tracing.parse_event_log(str(LOG))
    groups = sorted({j.group for j in jobs.values()}, key=str)
    assert groups == ["bench:normalize:AE", "bench:other:-", "bench:xpt:AE"]
    assert all(j.end >= j.submit > 0 for j in jobs.values())

    out = tracing.layer_metrics([], jobs, stages)
    assert out["normalize.jobs"] >= 1
    assert out["normalize.tasks"] >= 2
    assert out["normalize.shuffle_bytes"] > 0
    assert out["normalize.python_tasks"] == 0
    assert out["xpt.jobs"] == 1
    assert out["xpt.python_tasks"] == out["xpt.tasks"] == 2
    assert out["xpt.executor_run_s"] > 0
    # jobs outside bench:<module> groups are not charged to any module
    n_bench = sum(1 for j in jobs.values() if tracing.module_of(j.group) in tracing.MODULES)
    assert sum(out[f"{m}.jobs"] for m in tracing.MODULES) == n_bench < len(jobs)


def test_driver_time_excludes_jobs_and_child_spans():
    spans = [
        tracing.Span("normalize", "AE", 0.0, 10.0),
        tracing.Span("validation", "study", 2.0, 6.0, parent=0),
    ]
    jobs = {
        0: tracing.Job(0, "bench:normalize:AE", 1.0, 2.5),  # half inside the child span
        1: tracing.Job(1, "bench:normalize:AE", 7.0, 8.0),
        2: tracing.Job(2, "bench:validation:study", 3.0, 4.0),
    }
    out = tracing.layer_metrics(spans, jobs, {})
    # normalize: self time 10 - 4 = 6, its jobs cover 1.0 of it outside the child + 1.0
    assert out["normalize.driver_s"] == pytest.approx(6.0 - 2.0)
    assert out["validation.driver_s"] == pytest.approx(4.0 - 1.0)
    assert out["normalize.jobs"] == 2 and out["validation.jobs"] == 1


def test_tracer_restores_parent_group_and_counts_py4j():
    class FakeSC:
        groups: list = []

        def setJobGroup(self, group, desc, interrupt):
            self.groups.append(group)

    class FakeClient:
        def send_command(self, cmd):
            return cmd

    t = tracing.Tracer(sc=FakeSC())
    client = FakeClient()
    with t.count_py4j(client):
        with t.span("normalize", "AE"):
            client.send_command("a")
            with t.span("validation", "study"):
                client.send_command("b")
                client.send_command("c")
        client.send_command("outside")
    assert "send_command" not in client.__dict__  # uninstalled
    assert [s.py4j for s in t.spans] == [1, 2]
    assert t.sc.groups == [
        "bench:normalize:AE", "bench:validation:study", "bench:normalize:AE",
    ]
