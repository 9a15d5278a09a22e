"""FrontierStore visibility + crash-recovery invariants.

Readers must filter to committed-set MEMBERSHIP (not ``<= max``):
streaming-ingest markers commit high ids (STREAM_NS namespace) into
the same store, and a crashed crawl attempt leaves lower-id data
files with no marker — neither may leak into reads.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spacetime_crawler4py_spark.frontier.store import (
    COMPLETED_SCHEMA,
    DISCOVERED_SCHEMA,
    STREAM_NS,
    FrontierStore,
)


def _rows(spark, batch_id: int, n: int):
    return spark.createDataFrame(
        [
            (f"h{batch_id}-{i}", f"https://x/{batch_id}/{i}", "x", i, 0)
            for i in range(n)
        ],
        "url_hash string, url string, host string, seq long, depth int",
    ).select(
        "url_hash",
        "url",
        "host",
        "seq",
        "depth",
        F.current_timestamp().alias("discovered_ts"),
        F.lit(batch_id).cast("long").alias("batch_id"),
    )


def test_fresh_store_frames_are_arrow_built_with_exact_schemas(spark, tmp_path):
    """On a fresh store the logs are row-less frames built through
    Arrow (a local relation, no Python RDD) with the declared schemas:
    types, the session-local timestamp and nullability."""
    store = FrontierStore(spark, str(tmp_path / "state"))
    for df, schema in (
        (store.discovered(), DISCOVERED_SCHEMA),
        (store.completed(), COMPLETED_SCHEMA),
        (store.pending(), DISCOVERED_SCHEMA),
    ):
        assert df.schema == schema
        assert df.count() == 0
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_streaming_commit_does_not_expose_uncommitted_crawl_data(spark, tmp_path):
    store = FrontierStore(spark, str(tmp_path / "state"))
    store.append_discovered(_rows(spark, 1, 3))
    store.commit(1, {})
    store.append_discovered(_rows(spark, 2, 4))  # crash: marker never written
    store.append_discovered(_rows(spark, STREAM_NS, 2))
    store.commit(STREAM_NS, {})

    # crawl batch numbering must not jump into the streaming namespace
    assert store.last_batch_id() == 1
    # membership filter: the streaming commit must NOT expose batch 2
    seen = {r["url_hash"] for r in store.discovered().collect()}
    assert seen == {f"h1-{i}" for i in range(3)} | {
        f"h{STREAM_NS}-{i}" for i in range(2)
    }


def test_quarantine_removes_only_uncommitted(spark, tmp_path):
    store = FrontierStore(spark, str(tmp_path / "state"))
    store.append_discovered(_rows(spark, 1, 3))
    store.commit(1, {})
    store.append_discovered(_rows(spark, 2, 4))  # orphan (no marker)
    store.append_rows("crawl_order", 1, {"fetch_order": [0], "url": ["a"]})
    store.append_rows("crawl_order", 2, {"fetch_order": [0], "url": ["b"]})

    removed = store.quarantine_uncommitted()
    assert removed == 2  # discovered batch_id=2 dir + crawl_order part file

    # committed data intact; orphan gone even at the raw-file level
    assert store.discovered().count() == 3
    raw = spark.read.parquet(str(tmp_path / "state" / "discovered"))
    assert raw.where("batch_id = 2").count() == 0
    order = spark.read.parquet(str(tmp_path / "state" / "crawl_order"))
    assert [r["url"] for r in order.collect()] == ["a"]

    # idempotent: second pass removes nothing
    assert store.quarantine_uncommitted() == 0


def _completed_rows(spark, batch_id: int, hashes: list[str]):
    return spark.createDataFrame(
        [(h, batch_id) for h in hashes], "url_hash string, batch_id long"
    )


def test_compact_preserves_views_and_drops_folded_partitions(spark, tmp_path):
    """compact() is a pure physical re-layout: discovered / completed
    / pending views are identical before and after, folded raw
    partitions are deleted, and later appends layer on top."""
    import os

    state = str(tmp_path / "state")
    store = FrontierStore(spark, state)
    for b in (1, 2, 3):
        store.append_discovered(_rows(spark, b, 4))
        store.commit(b, {})
    # complete all of batch 1 and half of batch 2
    done = [f"h1-{i}" for i in range(4)] + ["h2-0", "h2-1"]
    store.append_completed(_completed_rows(spark, 4, done))
    store.commit(4, {})

    disc_before = {r["url_hash"] for r in store.discovered().collect()}
    pend_before = {r["url_hash"] for r in store.pending().collect()}
    comp_before = {r["url_hash"] for r in store.completed().collect()}
    seq_before = store.max_seq()

    stats = store.compact()
    assert stats["n_pending"] == len(pend_before) == 6
    assert stats["n_done"] == len(done)

    assert {r["url_hash"] for r in store.discovered().collect()} == disc_before
    assert {r["url_hash"] for r in store.pending().collect()} == pend_before
    assert {r["url_hash"] for r in store.completed().collect()} == comp_before
    assert store.max_seq() == seq_before
    # snapshot rows keep their ORIGINAL batch_id (bloom covered-set
    # predicates must keep working across a compaction)
    assert {
        r["batch_id"] for r in store.discovered().select("batch_id").collect()
    } == {1, 2, 3}
    # folded raw partitions are gone from disk
    assert not any(
        e.startswith("batch_id=")
        for e in os.listdir(os.path.join(state, "discovered"))
    )

    # post-snapshot life continues: new discoveries + completions
    store.append_discovered(_rows(spark, 5, 2))
    store.commit(5, {})
    store.append_completed(_completed_rows(spark, 6, ["h2-2"]))
    store.commit(6, {})
    assert {r["url_hash"] for r in store.pending().collect()} == (
        pend_before - {"h2-2"}
    ) | {"h5-0", "h5-1"}

    # re-compaction folds the new layer onto the old snapshot
    store.compact()
    assert {r["url_hash"] for r in store.pending().collect()} == (
        pend_before - {"h2-2"}
    ) | {"h5-0", "h5-1"}
    assert {r["url_hash"] for r in store.discovered().collect()} == (
        disc_before | {"h5-0", "h5-1"}
    )
    # only ONE snapshot remains on disk (previous one cleaned up)
    assert os.listdir(os.path.join(state, "snapshot")) == ["snap=2"]


def test_compact_folded_raw_leftovers_not_double_read(spark, tmp_path):
    """Crash between the snapshot marker and the folded-partition
    delete leaves raw files behind — readers must not double-count
    them (the folded filter in _read)."""
    store = FrontierStore(spark, str(tmp_path / "state"))
    store.append_discovered(_rows(spark, 1, 3))
    store.commit(1, {})
    store.compact()
    # resurrect a folded raw partition (as if the delete never ran)
    store.append_discovered(_rows(spark, 1, 3))
    assert store.discovered().count() == 3
    assert store.pending().count() == 3


def test_expiry_revives_across_compaction(spark, tmp_path):
    """A post-snapshot expiry must revoke a FOLDED completion: the
    done-snapshot row carries its true latest completion batch, so
    the max(completion) vs max(expiry) algebra still resolves."""
    store = FrontierStore(spark, str(tmp_path / "state"))
    store.append_discovered(_rows(spark, 1, 3))
    store.commit(1, {})
    store.append_completed(_completed_rows(spark, 2, ["h1-0", "h1-1"]))
    store.commit(2, {})
    store.compact()
    assert {r["url_hash"] for r in store.pending().collect()} == {"h1-2"}

    # expire a folded completion → pending again, full row intact
    store.append_rows("expired", 3, {"url_hash": ["h1-0"]})
    store.commit(3, {})
    revived = {r["url_hash"]: r["url"] for r in store.pending().collect()}
    assert set(revived) == {"h1-0", "h1-2"}
    assert revived["h1-0"] == "https://x/1/0"

    # re-complete it at a later batch → settled; second compact folds
    store.append_completed(_completed_rows(spark, 4, ["h1-0"]))
    store.commit(4, {})
    assert {r["url_hash"] for r in store.pending().collect()} == {"h1-2"}
    store.compact()
    assert {r["url_hash"] for r in store.pending().collect()} == {"h1-2"}
    assert store.discovered().count() == 3
