"""Spans, the span property they set, and the steal filter on job samples."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402


class FakeContext:
    def __init__(self):
        self.props = {}
        self.seen = []

    def setLocalProperty(self, key, value):
        self.props[key] = value
        self.seen.append(value)


def test_spans_nest_and_tag_jobs_with_the_innermost_span():
    sc = FakeContext()
    tracer = probes.Tracer(sc)
    with tracer.span("job", "job1") as root:
        with tracer.span("plan") as plan:
            assert sc.props[eventlog.SPAN_PROPERTY] == plan["id"]
        assert sc.props[eventlog.SPAN_PROPERTY] == root["id"]
    assert sc.props[eventlog.SPAN_PROPERTY] is None
    assert plan["parent"] == root["id"] and plan["run"] == "job1"
    assert root["start"] <= plan["start"] <= plan["end"] <= root["end"]
    assert tracer.roots() == {root["id"]: root["id"], plan["id"]: root["id"]}


def test_samples_skip_stolen_jobs_unless_all_are():
    quiet = {"steal": run.STEAL_LIMIT, "wall": 1.0}
    stolen = {"steal": run.STEAL_LIMIT + 0.01, "wall": 3.0}
    worst = {"steal": run.STEAL_LIMIT + 0.2, "wall": 5.0}
    assert run.samples([stolen, quiet, stolen, quiet]) == [quiet, quiet]
    # fewer than MIN_SAMPLES clean jobs: the least stolen, not a median of one
    assert run.samples([worst, quiet, stolen]) == [quiet, stolen]
    assert run.samples([worst, stolen, worst]) == [stolen, worst]


class FakeBench(run.Bench):
    def __init__(self, steals):
        self._steals = iter(steals)

    def run_job(self, ctx):
        return {"steal": next(self._steals), "wall": 0.0}


def test_loop_runs_on_until_enough_clean_jobs(monkeypatch):
    stolen, quiet = run.STEAL_LIMIT + 0.01, 0.0
    # every job ends 10 s after the start: past --seconds 6, short of twice
    # it, so only the count of clean jobs can end the loop
    clock = iter([0.0] + [10.0] * 10)
    monkeypatch.setattr(run.time, "perf_counter", lambda: next(clock))
    jobs = FakeBench([stolen, stolen, quiet, stolen, quiet, quiet]).loop(None, 6)
    assert [j["steal"] for j in jobs] == [stolen, stolen, quiet, stolen, quiet]


def test_process_probes_see_this_process():
    tree = probes.process_tree(os.getpid())
    assert tree[0] == os.getpid()
    assert probes.tree_pss_bytes(tree) > 0
    assert probes.tree_cpu_seconds(tree) > 0
    steal, total = probes.host_steal_ticks()
    assert 0 <= steal <= total
