"""Metric names and units: well-formed, and the same in BENCHMARK.json
as in what a run prints."""

from __future__ import annotations

import json
import os
import re
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.layers import layer_metrics
from perfbench.ledger import Span, Tracer
from perfbench.run import END_TO_END, ROOT
from perfbench.workload import CATALOG_ROWS

DATA = os.path.join(os.path.dirname(__file__), "data")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _fake_run(tmp_path) -> SimpleNamespace:
    """A finished traced run over the recorded event log, with a
    two-batch crawl store."""
    state = tmp_path / "state"
    (state / "metrics").mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "n_fetched": [4, 30],
                "n_new_urls": [30, 12],
                "wall_ms": [900, 1200],
                "t_sched_ms": [300, 400],
                "t_parse_ms": [300, 400],
                "t_links_ms": [300, 400],
                "batch_id": [1, 2],
            }
        ),
        state / "metrics" / "part-1.parquet",
    )
    (state / "crawled_pages" / "batch_id=1").mkdir(parents=True)
    pq.write_table(
        pa.table({"n_unique_anchors": [3, 5]}),
        state / "crawled_pages" / "batch_id=1" / "part-0.parquet",
    )
    tr = Tracer()
    tr.spans = [
        Span("run_batch", 0.0, 1.0, "crawl"),
        Span("run_batch", 1.0, 2.0, "crawl"),
        Span("crawl", 0.0, 2.5, "timed"),
        Span("timed", 0.0, 3.0, None),
    ]
    meta = {"n_batch": 4, "t_sched_ms": 300, "t_parse_ms": 300, "t_links_ms": 300}
    return SimpleNamespace(
        event_dir=DATA,
        tracer=tr,
        corpus=str(tmp_path),
        batches=[{"start": 0.0, "ms": 900.0, "meta": meta}],
        crawl_wall_s=2.5,
        values={"batch_ms_p50": 900.0, "postings.rows": 10, "search_ms_p50": 300.0, "session_s": 7.0, "timed_s": 3.0},
        queries=[("data", "or", "tfidf", 300.0, [])],
        report_ms={n: [10.0, 12.0] for n in ("unique_pages", "longest_page", "top_50_words", "ics_subdomains")},
        catalog={row: (0.5, [], []) for row in CATALOG_ROWS},
    )


def test_benchmark_json_names_and_units_are_well_formed():
    spec = _spec()
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_untraced_run_prints_the_end_to_end_metrics():
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert dict(END_TO_END) == spec


def test_traced_run_prints_the_per_layer_metrics(tmp_path):
    got = layer_metrics(_fake_run(tmp_path))
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: u for k, (_, u) in got.items()} == spec
    # the crawl's stage split adds up to its wall time
    stages = ("loop.schedule_ms", "loop.fetch_parse_sink_ms", "loop.link_pipeline_ms", "loop.other_ms")
    assert sum(got[k][0] for k in stages) == 2500.0
    assert got["loop.link_candidates"][0] == 8
    assert got["loop.jobs_per_batch"][0] == 0  # the recorded jobs fall outside these spans
