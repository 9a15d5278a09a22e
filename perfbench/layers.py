"""Per-layer metrics of a traced run, named by the engine's modules.

Times of calls the benchmark makes or wraps come from its spans.
Spark work comes from the event log: jobs are attributed to the span
that started them, and inside ``CrawlEngine.run_batch`` to the stage
the engine itself records in its ``metrics`` table (schedule,
fetch/parse/sink, link pipeline), by job submission time.  The
crawled-pages write that runs the parse UDF has no Python call site,
so a time window is the one split that reaches it.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from perfbench.ledger import PREFIX, Fold, fold_events, read_events, resolve_callsite
from perfbench.stats import median
from perfbench.workload import CATALOG_ROWS


def _store_files(state_dir: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(state_dir):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _stage_windows(run) -> list[tuple[float, float, float]]:
    """Per non-empty batch: epoch-ms start of the batch, end of its
    schedule stage and end of its fetch/parse/sink stage, from the
    stage times ``run_batch`` returned."""
    out = []
    for b in run.batches:
        m = b["meta"]
        if m["n_batch"] == 0:
            continue
        t0 = b["start"] * 1000.0
        t1 = t0 + m["t_sched_ms"]
        out.append((t0, t1, t1 + m["t_parse_ms"]))
    return out


def _in(job, lo: float, hi: float) -> bool:
    return lo <= job.submit_ms <= hi


def _within(span):
    """Predicate: the job was submitted during ``span``."""
    return lambda job: _in(job, span.start * 1000.0, span.end * 1000.0)


def call_sites(fold: Fold, pred) -> dict[str, dict[str, float]]:
    """Spark work of the jobs ``pred`` selects, by the Python function
    that started them (``ledger.resolve_callsite``)."""
    out: dict[str, dict[str, float]] = {}
    for job in fold.jobs.values():
        if pred(job):
            site = resolve_callsite(job.callsite) or "(no Python call site)"
            row = out.setdefault(site, {"jobs": 0, "run_ms": 0.0, "cpu_ms": 0.0})
            row["jobs"] += 1
            row["run_ms"] += job.totals.run_ms
            row["cpu_ms"] += job.totals.cpu_ms
    return out


def layer_metrics(run) -> dict[str, tuple[float, str]]:
    fold: Fold = fold_events(read_events(run.event_dir))
    tr = run.tracer
    run.crawl_call_sites = call_sites(fold, _within(tr.of("crawl")[0]))
    state = os.path.join(run.corpus, "state")
    metrics = pq.read_table(os.path.join(state, "metrics")).to_pydict()
    out: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    # ---- crawl.loop
    done = [b for b in run.batches if b["meta"]["n_batch"] > 0]
    put("loop.batches", len(done), "count")
    put("loop.fetched", sum(metrics["n_fetched"]), "count")
    put("loop.new_urls", sum(metrics["n_new_urls"]), "count")
    anchors = pq.read_table(os.path.join(state, "crawled_pages"), columns=["n_unique_anchors"])
    put("loop.link_candidates", sum(anchors.column(0).to_pylist()), "count")
    put("loop.max_batch_urls", max(metrics["n_fetched"]), "count")
    sched, parse, links = (sum(metrics[c]) for c in ("t_sched_ms", "t_parse_ms", "t_links_ms"))
    put("loop.schedule_ms", sched, "ms")
    put("loop.fetch_parse_sink_ms", parse, "ms")
    put("loop.link_pipeline_ms", links, "ms")
    put("loop.other_ms", run.crawl_wall_s * 1000.0 - sched - parse - links, "ms")
    put("loop.batch_ms_p50", run.values["batch_ms_p50"], "ms")
    batch_spans = [_within(s) for s in tr.of("run_batch")]
    in_batches = fold.totals(lambda j: any(p(j) for p in batch_spans))
    put("loop.jobs_per_batch", in_batches.jobs / len(batch_spans), "count")

    # ---- frontier.store
    put("store.append_ms", sum(
        tr.total_ms(f"store.{a}") for a in ("append_discovered", "append_crawl_order", "append_rows")
    ), "ms")
    put("store.commit_ms", tr.total_ms("store.commit"), "ms")
    n_files, n_bytes = _store_files(state)
    put("store.data_files", n_files, "count")
    put("store.bytes", n_bytes, "bytes")

    # ---- frontier.scheduler and operators.parse, by stage window
    windows = _stage_windows(run)
    own = PREFIX + "run_batch"
    sched_t = fold.totals(
        lambda j: j.description == own and any(_in(j, w[0], w[1]) for w in windows)
    )
    put("scheduler.run_ms", sched_t.run_ms, "ms")
    put("scheduler.cpu_ms", sched_t.cpu_ms, "ms")
    put("scheduler.shuffle_bytes", sched_t.shuffle_bytes, "bytes")
    parse_t = fold.totals(
        lambda j: j.description == own and any(_in(j, w[1], w[2]) for w in windows)
    )
    in_crawl = _within(tr.of("crawl")[0])
    put("parse.rows_in", fold.node_rows("MapInPandas", "gen(", in_crawl), "count")
    put("parse.run_ms", parse_t.run_ms, "ms")
    put("parse.cpu_ms", parse_t.cpu_ms, "ms")
    put("parse.python_gap_ms", parse_t.run_ms - parse_t.cpu_ms, "ms")

    # ---- frontier.bloom
    put("bloom.builds", len(tr.of("bloom.build_bloom")), "count")
    put("bloom.build_ms", tr.total_ms("bloom.build_bloom"), "ms")
    put("bloom.probe_rows", fold.node_rows("ArrowEvalPython", "probe(", in_crawl), "count")

    # ---- analytics.report: median over the run's report rounds
    for name, times in run.report_ms.items():
        put(f"report.{name}_ms", median(times), "ms")

    # ---- indexing.postings and indexing.search
    put("postings.rows", run.values["postings.rows"], "count")
    put("postings.build_ms", tr.total_ms("postings.build"), "ms")
    put("postings.tfidf_ms", tr.total_ms("postings.tfidf"), "ms")
    put("postings.bm25_ms", tr.total_ms("postings.bm25"), "ms")
    n_q = max(len(run.queries), 1)
    search_t = fold.totals(lambda j: j.description == PREFIX + "search")
    put("search.jobs_per_query", search_t.jobs / n_q, "count")
    put("search.run_ms", search_t.run_ms / n_q, "ms")
    put("search.ms_p50", run.values["search_ms_p50"], "ms")

    # ---- queries
    for row in CATALOG_ROWS:
        put(f"catalog.{row}_s", run.catalog[row][0], "s")

    # ---- Spark-wide, over the timed section
    spark_t = fold.totals(_within(tr.of("timed")[0]))
    put("spark.jobs", spark_t.jobs, "count")
    put("spark.tasks", spark_t.tasks, "count")
    put("spark.run_ms", spark_t.run_ms, "ms")
    put("spark.cpu_ms", spark_t.cpu_ms, "ms")
    put("spark.shuffle_bytes", spark_t.shuffle_bytes, "bytes")
    put("spark.spill_bytes", spark_t.spill_bytes, "bytes")
    put("spark.gc_ms", spark_t.gc_ms, "ms")

    # ---- one-off costs and the traced section's own wall time
    put("setup.session_s", run.values["session_s"], "s")
    put("trace.crawl_wall_s", run.crawl_wall_s, "s")
    put("trace.timed_s", run.values["timed_s"], "s")
    return out
