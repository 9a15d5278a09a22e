"""The event-log folder, on a small log recorded from a traced crawl
(two crawl batches, trimmed to the fields the folder reads)."""

from __future__ import annotations

import os

import pytest

from perfbench.ledger import PREFIX, Tracer, enclosing_function, fold_events, read_events, resolve_callsite

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def fold():
    return fold_events(read_events(DATA))


def test_task_metrics_fold_onto_jobs(fold):
    total = fold.totals(lambda j: True)
    assert total.jobs == 26
    assert total.tasks == 59
    assert total.run_ms == 9348
    assert total.cpu_ms == pytest.approx(1297.559414)


def test_job_without_description_takes_its_execution_s(fold):
    # job 47 was recorded without a description; its SQL execution had one
    assert fold.jobs[47].description == PREFIX + "run"
    assert all(j.description == PREFIX + "run" for j in fold.jobs.values())


def test_plan_node_rows(fold):
    # the bloom probe UDF and the parse UDF, by plan-node output rows
    assert fold.node_rows("ArrowEvalPython", "probe(") == 480
    assert fold.node_rows("MapInPandas", "gen(") == 36
    assert fold.node_rows("ArrowEvalPython", "no-such-udf(") == 0


def test_call_site_resolves_to_enclosing_function(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "class Store:\n"
        "    def max_seq(self):\n"
        "        return 1\n"
        "\n"
        "def build():\n"
        "    def inner():\n"
        "        pass\n"
        "    return inner\n"
    )
    assert enclosing_function(str(src), 3) == "Store.max_seq"
    assert enclosing_function(str(src), 7) == "build.inner"
    assert enclosing_function(str(src), 4) is None
    assert resolve_callsite(f"collect at {src}:3") == "mod.py:Store.max_seq"
    assert resolve_callsite("parquet at NativeMethodAccessorImpl.java:0") is None
    assert resolve_callsite(None) is None


class _Ctx:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


def test_spans_nest_and_restore_the_job_description():
    sc = _Ctx()
    tr = Tracer(sc)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert sc.descriptions == [PREFIX + "outer", PREFIX + "inner", PREFIX + "outer", None]
    assert [(s.name, s.parent) for s in tr.spans] == [("inner", "outer"), ("outer", None)]


def test_wrap_times_calls_in_a_span():
    class Owner:
        def f(self, x):
            return x + 1

    owner = Owner()
    tr = Tracer()
    tr.wrap(owner, "f", "owner.f")
    assert owner.f(1) == 2
    assert len(tr.of("owner.f")) == 1
    assert tr.total_ms("owner.f") >= 0
