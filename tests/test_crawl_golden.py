"""Golden end-to-end crawl: Spark engine vs pure-Python oracle.

- seen-set equality in batched mode (set-closure is order-free)
- exact crawl-order equality in strict LIFO mode (threads=1 parity)
- resume-from-checkpoint identity (north_rule T4)
"""

from __future__ import annotations

from spacetime_crawler4py_spark.crawl.loop import CrawlEngine
from spacetime_crawler4py_spark.crawl.oracle import OracleCrawler, corpus_to_dicts
from spacetime_crawler4py_spark.datagen.pages import (
    SEED_URLS,
    generate_corpus,
    write_corpus,
)


def _engine(spark, state_dir, corpus_dir, **kw):
    return CrawlEngine(
        spark,
        state_dir=str(state_dir),
        pages_path=f"{corpus_dir}/pages.parquet",
        status_path=f"{corpus_dir}/fetch_status.parquet",
        seeds=SEED_URLS,
        **kw,
    )


def test_batched_seen_set_matches_oracle(engine80, oracle80):
    assert engine80.n_batches_run > 1, "politeness caps should force multiple batches"
    assert engine80.seen_set() == set(oracle80.seen.keys())
    order = engine80.crawl_order()
    assert len(order) == len(oracle80.crawl_order)
    assert sorted(order) == sorted(oracle80.crawl_order)


def test_strict_lifo_order_matches_oracle(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus_tiny")
    spark_dir = str(d)
    write_corpus(spark, spark_dir, n_pages=18, seed=42)
    corpus = generate_corpus(n_pages=18, seed=42)
    pages, status, seeds = corpus_to_dicts(corpus)
    oracle = OracleCrawler(pages, status, seeds).run()

    eng = _engine(spark, d / "state", spark_dir, strict_lifo=True)
    eng.run()
    assert eng.crawl_order() == oracle.crawl_order
    assert eng.seen_set() == set(oracle.seen.keys())


def test_resume_identity(spark, corpus80, engine80, tmp_path):
    corpus_dir, _ = corpus80
    # interrupted run: stop after 2 batches, then resume with a NEW
    # engine on the same state dir
    part = _engine(spark, tmp_path / "part", corpus_dir)
    part.run(max_batches=2)
    resumed = _engine(spark, tmp_path / "part", corpus_dir)
    resumed.run()
    assert resumed.seen_set() == engine80.seen_set()
    assert resumed.crawl_order() == engine80.crawl_order()


def test_uncommitted_batch_invisible(spark, corpus80, engine80, tmp_path):
    """Crash between data write and marker → batch invisible on resume."""
    import os

    corpus_dir, _ = corpus80
    eng = _engine(spark, tmp_path / "state", corpus_dir)
    eng.run(max_batches=3)
    last = eng.store.last_batch_id()
    # simulate a crash: delete the last commit marker (its parquet stays)
    os.remove(os.path.join(str(tmp_path / "state"), "commits", f"batch-{last}.json"))
    eng2 = _engine(spark, tmp_path / "state", corpus_dir)
    assert eng2.store.last_batch_id() == last - 1
    # the crashed attempt's orphaned data files (written before the
    # marker) must have been quarantined at engine start — otherwise
    # the retry's commit would expose BOTH attempts' rows
    assert eng2.store.discovered().where(f"batch_id = {last}").count() == 0
    # resumed crawl still converges to the full seen set
    eng2.run()
    assert eng2.seen_set() == engine80.seen_set()
    # row-count identity, not just set identity: re-running the failed
    # batch under the same id must not duplicate crawl-order lines or
    # discovered rows (ADVICE r1: duplicate-hiding via set() was a gap)
    order = eng2.crawl_order()
    assert len(order) == len(set(order)) == len(engine80.crawl_order())
    disc = eng2.store.discovered()
    assert disc.count() == disc.select("url_hash").distinct().count()
    assert eng2.crawled_pages().count() == engine80.crawled_pages().count()


def test_fifo_per_host_converges_to_same_seen_set(spark, corpus80, oracle80, tmp_path):
    """fifo_per_host scheduling (priority-queue mode) reaches the
    same transitive closure — the URL-seen set is order-free."""
    corpus_dir, _ = corpus80
    eng = _engine(spark, tmp_path / "state", corpus_dir, order="fifo_per_host")
    eng.run()
    assert eng.seen_set() == set(oracle80.seen.keys())
    # first fetch under FIFO is the FIRST seed (LIFO starts at the last)
    assert eng.crawl_order()[0] == "https://www.ics.uci.edu"


def test_bootstrap_rows(spark, corpus80, tmp_path):
    """The seed frame is built through Arrow; its discovered rows are
    the first occurrence of each url_hash, in seed order: a trailing
    slash and the scheme are not part of the hash."""
    from spacetime_crawler4py_spark.functions.urlnorm import py_urlhash

    corpus_dir, _ = corpus80
    seeds = SEED_URLS + [
        "https://www.cs.uci.edu/",
        "http://www.ics.uci.edu",
        "https://WWW.STAT.UCI.EDU/x#f",
    ]
    eng = CrawlEngine(
        spark,
        state_dir=str(tmp_path / "state"),
        pages_path=f"{corpus_dir}/pages.parquet",
        status_path=None,
        seeds=seeds,
    )
    eng._bootstrap()
    got = [
        tuple(r)
        for r in eng.store.discovered()
        .orderBy("seq")
        .select("url_hash", "url", "host", "seq", "depth", "host_bucket", "batch_id")
        .collect()
    ]
    expected = [
        ("https://www.ics.uci.edu", "www.ics.uci.edu", 52),
        ("https://www.cs.uci.edu", "www.cs.uci.edu", 54),
        ("https://www.informatics.uci.edu", "www.informatics.uci.edu", 24),
        ("https://www.stat.uci.edu", "www.stat.uci.edu", 22),
        ("https://WWW.STAT.UCI.EDU/x#f", "WWW.STAT.UCI.EDU", 2),
    ]
    assert got == [
        (py_urlhash(url), url, host, seq, 0, bucket, 0)
        for seq, (url, host, bucket) in enumerate(expected)
    ]


def test_lineage_table(spark, corpus80, tmp_path):
    """Per-host lineage rows accompany every committed batch."""
    import os

    corpus_dir, _ = corpus80
    eng = _engine(spark, tmp_path / "state", corpus_dir)
    eng.run(max_batches=2)
    lineage = spark.read.parquet(os.path.join(str(tmp_path / "state"), "lineage"))
    rows = lineage.collect()
    assert {r["batch_id"] for r in rows} == {1, 2}
    assert all(r["n_scheduled"] >= 0 and r["n_new_urls"] >= 0 for r in rows)
    total_sched = sum(r["n_scheduled"] for r in rows)
    m = spark.read.parquet(os.path.join(str(tmp_path / "state"), "metrics")).collect()
    assert total_sched == sum(r["n_fetched"] for r in m)


def test_expire_and_recrawl(spark, corpus80, tmp_path):
    """TTL/recrawl: expired URLs become PENDING again, are re-fetched,
    and completing them again settles the state (T5 idempotency with
    the append-only expiry log)."""
    corpus_dir, _ = corpus80
    eng = _engine(spark, tmp_path / "state", corpus_dir)
    eng.run()
    order1 = eng.crawl_order()
    n1 = len(order1)
    victims = sorted({u for u in order1 if "ngs.ics.uci.edu" in u})[:5]
    assert victims
    assert eng.expire_urls(victims) == len(victims)
    assert eng.store.pending().count() == len(victims)
    eng.run()
    order2 = eng.crawl_order()
    assert len(order2) == n1 + len(victims)          # re-fetched once
    assert eng.store.pending().count() == 0          # settled
    assert eng.seen_set() == _engine(
        spark, tmp_path / "state", corpus_dir
    ).seen_set()                                     # seen set unchanged


def test_compaction_mid_crawl_preserves_golden(
    spark, corpus80, engine80, tmp_path, monkeypatch
):
    """Frontier-log compaction forced every 2 batches (and across a
    resume) must not change the seen set, the crawl order, or the
    bloom-delta dedup — compaction is a physical re-layout only."""
    import os

    corpus_dir, _ = corpus80
    # force bloom rebuilds from the snapshot too
    monkeypatch.setattr(CrawlEngine, "BLOOM_REFRESH_BATCHES", 3)
    eng = _engine(spark, tmp_path / "state", corpus_dir, compact_every=2)
    eng.run(max_batches=3)
    assert eng.store.latest_snapshot() is not None
    # resume with a NEW engine on the compacted store, compacting on
    resumed = _engine(spark, tmp_path / "state", corpus_dir, compact_every=2)
    resumed.run()
    assert resumed.seen_set() == engine80.seen_set()
    assert resumed.crawl_order() == engine80.crawl_order()
    # the folded per-batch partitions are actually gone
    snap = resumed.store.latest_snapshot()
    disc_dir = os.path.join(str(tmp_path / "state"), "discovered")
    folded = {b for lo, hi in snap["folded"] for b in range(lo, hi + 1)}
    on_disk = {
        int(e.split("=", 1)[1])
        for e in os.listdir(disc_dir)
        if e.startswith("batch_id=")
    }
    assert not (on_disk & folded)


def test_oracle_restart_rebuild_parity(spark, tmp_path_factory):
    """Reference resume semantics (frontier.py:38-48): after a
    mid-crawl death, the TBD stack is rebuilt from the save file
    (uncompleted ∧ is_valid, save-iteration order) — the restarted
    crawl must be byte-identical to the uninterrupted one, and the
    strict-mode engine resumed at the same point must match both."""
    d = tmp_path_factory.mktemp("corpus_restart")
    spark_dir = str(d)
    write_corpus(spark, spark_dir, n_pages=18, seed=42)
    corpus = generate_corpus(n_pages=18, seed=42)
    pages, status, seeds = corpus_to_dicts(corpus)

    from spacetime_crawler4py_spark.functions.validity import py_is_valid

    full = OracleCrawler(pages, status, seeds).run()
    n_total = len(full.crawl_order)
    assert n_total > 6
    # the corpus contains links valid RAW but invalid once normalized
    # (trailing-slash .pdf family) — stored normalized, these are
    # dropped by the restart's is_valid re-check (frontier.py:43),
    # so the reference itself diverges across restarts: a restarted
    # crawl equals the uninterrupted one MINUS whichever of those
    # urls were still pending at the cut.  Pin exactly that.
    assert any(not py_is_valid(u) for (u, _d) in full.seen.values())

    def oracle_restarted(cut):
        o = OracleCrawler(pages, status, seeds)
        o.run(max_pages=cut)
        dropped = {
            url
            for url, completed in o.r.seen.values()
            if not completed and not py_is_valid(url)
        }
        o.restart()  # _parse_save_file rebuild
        return o.run(seed_frontier=False), dropped

    for cut in (1, n_total // 2, n_total - 1):
        r, dropped = oracle_restarted(cut)
        expected = [u for u in full.crawl_order if u not in dropped]
        assert r.crawl_order == expected, cut
        assert set(full.crawl_order) - set(r.crawl_order) == dropped, cut

    # strict-mode engine resumed at the same cut must match the
    # restarted ORACLE byte-exactly (same revalidation semantics)
    cut = n_total // 2
    r, _ = oracle_restarted(cut)
    eng = _engine(spark, d / "state", spark_dir, strict_lifo=True)
    eng.run(max_batches=cut)
    resumed = _engine(
        spark, d / "state", spark_dir, strict_lifo=True,
        revalidate_on_resume=True,  # frontier.py:43 is_valid on rebuild
    )
    resumed.run()
    assert resumed.crawl_order() == r.crawl_order
    assert resumed.seen_set() == set(r.seen.keys())
