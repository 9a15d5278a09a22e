"""Snapshot-committed URL frontier table.

Replaces the reference's shelve-backed frontier
(crawler/frontier.py:27,56-72: ``save[urlhash] = (url, completed)``
+ ``sync()`` per mutation) with an Iceberg-shaped, append-only,
atomically-committed parquet store:

- ``discovered/``  append-only log of new frontier rows
  ``(url_hash, url, host, seq, depth, discovered_ts, batch_id)``
- ``completed/``   append-only log of completion flips
  ``(url_hash, batch_id)``
- ``commits/``     one JSON marker per committed batch, written
  LAST — the atomic commit point (≡ an Iceberg snapshot commit;
  ≡ ``shelve.sync()``, but once per micro-batch instead of per row)

PENDING rows = discovered ⟕̸ completed (left anti join).  A batch
whose marker is missing is invisible on resume → exactly-once
restart semantics (north_rule: "a killed run resumes with an
identical URL-seen set and crawl order").

Scale notes (10^10-URL frontier):
- Both logs are append-only: a micro-batch writes ONLY its delta —
  no read-modify-write of frontier state, no O(n) rewrite per batch
  (the reference rewrites its report files per page, an O(n²) sink).
- The discovered log is written partitioned by a salted hash bucket
  of the registrable host (``pmod(hash(host), N_BUCKETS)``) so a
  hot host (34% of the reference crawl hit one host, BASELINE.md)
  spreads across files and the politeness scheduler can
  partition-prune per-host reads.
- On a real cluster the two logs map 1:1 onto an Iceberg table with
  MERGE INTO; the commit marker is the snapshot manifest.  The
  implementation here keeps that exact layout with plain parquet so
  the sandbox needs no extra jars.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DISCOVERED_SCHEMA = StructType(
    [
        StructField("url_hash", StringType()),
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("seq", LongType()),
        StructField("depth", IntegerType()),
        StructField("discovered_ts", TimestampType()),
        StructField("batch_id", LongType()),
        StructField("host_bucket", IntegerType()),
    ]
)

COMPLETED_SCHEMA = StructType(
    [
        StructField("url_hash", StringType()),
        StructField("batch_id", LongType()),
    ]
)

# compacted-snapshot "done" rows: the full discovered row plus the
# latest completion batch folded in (the snapshot's pseudo-completion)
DONE_SCHEMA = StructType(
    list(DISCOVERED_SCHEMA.fields)
    + [StructField("completed_batch_id", LongType())]
)

# crawl-order log: one row per scheduled fetch, written distributed
# by the crawl loop (doubles as the completion log — see completed())
CRAWL_ORDER_SCHEMA = StructType(
    [
        StructField("url_hash", StringType()),
        StructField("url", StringType()),
        StructField("fetch_order", LongType()),
        StructField("batch_id", LongType()),
    ]
)

N_HOST_BUCKETS = 64

# Streaming-ingest commits live in a disjoint batch_id namespace so
# crawl batch numbering never collides with (or jumps into) it.
STREAM_NS = 10_000_000

# Directories whose data files are stamped with a batch_id and must
# be invisible (and quarantinable) until their commit marker lands.
_LOG_DIRS = (
    "discovered",
    "completed",
    "expired",
    "crawl_order",
    "crawled_pages",
    "metrics",
    "lineage",
)

# append_rows file naming (zero-padded-but-unbounded batch id + writer
# pid): ids >= 10^8 (e.g. STREAM_NS-namespaced foreachBatch ids) render
# as 9+ digits, so the parse must accept 8-or-more
_PART_FILE_RE = re.compile(r"^part-(\d{8,})-\d+\.parquet$")


class FrontierStore:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = state_dir
        os.makedirs(os.path.join(state_dir, "commits"), exist_ok=True)

    # ------------------------------------------------------------ commits

    def committed_batches(self) -> list[int]:
        d = os.path.join(self.dir, "commits")
        out = []
        for f in os.listdir(d):
            if f.startswith("batch-") and f.endswith(".json"):
                out.append(int(f[len("batch-") : -len(".json")]))
        return sorted(out)

    def last_batch_id(self) -> int:
        """Highest committed CRAWL batch id.

        Streaming-ingest markers (>= STREAM_NS) are excluded so crawl
        batch numbering never jumps into the streaming namespace.
        """
        b = [i for i in self.committed_batches() if i < STREAM_NS]
        return b[-1] if b else -1

    def commit(self, batch_id: int, meta: dict) -> None:
        """The atomic commit point — marker written after all data."""
        path = os.path.join(self.dir, "commits", f"batch-{batch_id}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "ts": time.time(), **meta}, f)
        os.replace(tmp, path)

    @staticmethod
    def compress_ids(ids: list[int]) -> list[list[int]]:
        """Sorted ids → contiguous [lo, hi] runs (one per batch run,
        per namespace) — O(gaps) storage for markers and predicates."""
        ids = sorted(ids)
        if not ids:
            return []
        ranges: list[list[int]] = []
        lo = prev = ids[0]
        for i in ids[1:]:
            if i == prev + 1:
                prev = i
                continue
            ranges.append([lo, prev])
            lo = prev = i
        ranges.append([lo, prev])
        return ranges

    @staticmethod
    def ranges_filter(ranges: list[list[int]]) -> F.Column:
        """Column predicate: batch_id falls in any [lo, hi] range."""
        if not ranges:
            return F.lit(False)
        cond = F.col("batch_id").between(ranges[0][0], ranges[0][1])
        for a, b in ranges[1:]:
            cond = cond | F.col("batch_id").between(a, b)
        return cond

    @classmethod
    def membership_filter(cls, ids: list[int]) -> F.Column:
        """Column predicate: batch_id is a MEMBER of ``ids``.

        Sorted ids compress to contiguous runs so the predicate is a
        handful of BETWEENs — O(gaps), not O(batches) — which Catalyst
        can push into the parquet partition pruning on
        ``batch_id=``-partitioned logs.
        """
        return cls.ranges_filter(cls.compress_ids(ids))

    def committed_filter(self) -> F.Column:
        """Column predicate: batch_id is a MEMBER of the committed set.

        Membership, not ``<= max``: the streaming namespace commits
        high ids into the same store, and a crashed attempt may leave
        data under an id below a later commit.
        """
        return self.membership_filter(self.committed_batches())

    # --------------------------------------------------- snapshot markers

    def snapshot_ids(self) -> list[int]:
        d = os.path.join(self.dir, "commits")
        out = []
        for f in os.listdir(d):
            if f.startswith("snapshot-") and f.endswith(".json"):
                out.append(int(f[len("snapshot-") : -len(".json")]))
        return sorted(out)

    def latest_snapshot(self) -> dict | None:
        """Newest committed compaction snapshot ({sid, folded}) or None.

        The marker is the atomic commit point of ``compact()`` — a
        snapshot whose data files exist but whose marker does not is
        invisible, exactly like an uncommitted batch.
        """
        ids = self.snapshot_ids()
        if not ids:
            return None
        with open(
            os.path.join(self.dir, "commits", f"snapshot-{ids[-1]}.json")
        ) as f:
            return json.load(f)

    def _empty(self, schema: StructType) -> DataFrame:
        """A row-less frame of ``schema``, built through Arrow (an empty
        ``createDataFrame(list)`` still starts a plain-Python job)."""
        return self.spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)

    def _snapshot_df(self, snap: dict, which: str, schema: StructType) -> DataFrame:
        path = os.path.join(self.dir, "snapshot", f"snap={snap['sid']}", which)
        if not os.path.exists(path):
            return self._empty(schema)
        return self.spark.read.schema(schema).parquet(path)

    def _read(self, name: str, schema: StructType) -> DataFrame:
        path = os.path.join(self.dir, name)
        if not os.path.exists(path):
            return self._empty(schema)
        df = self.spark.read.schema(schema).parquet(path)
        # uncommitted batch data (crash between write and marker)
        # must be invisible: filter to committed-set MEMBERSHIP.
        df = df.where(self.committed_filter())
        # batches folded into a committed snapshot are served from the
        # snapshot; any raw partitions still on disk (crash between
        # the snapshot marker and the folded-partition delete) must
        # not be double-read.
        snap = self.latest_snapshot()
        if snap is not None:
            df = df.where(~self.ranges_filter(snap["folded"]))
        return df.select([f.name for f in schema.fields])

    # -------------------------------------------------- crash recovery

    def quarantine_uncommitted(self, below: int | None = None) -> int:
        """Delete data files of batches that never committed.

        A crashed attempt writes data files (discovered/, crawled_pages/,
        crawl_order/, completed/, …) BEFORE its marker; rerunning the
        same batch_id would otherwise leave both attempts' files
        sharing the committed id once the retry lands — duplicate
        discovered rows and crawl-order lines.  Called on engine
        start, before any batch re-runs.  Spark-written logs are
        ``batch_id=N`` hive partitions; driver-side append_rows files
        carry the id in the filename — both are identifiable without
        opening a single footer.  Returns the number of paths removed.

        ``below`` bounds the quarantine to batch ids strictly less
        than it.  The crawl engine passes STREAM_NS so a concurrent
        streaming-ingest micro-batch that has appended data but not
        yet written its marker is NOT treated as a crash orphan —
        streaming orphans belong to the stream handler's own
        quarantine, which knows which stream ids are genuinely dead.
        """
        committed = set(self.committed_batches())
        removed = 0

        def dead(bid: int) -> bool:
            return bid not in committed and (below is None or bid < below)

        for name in _LOG_DIRS:
            d = os.path.join(self.dir, name)
            if not os.path.isdir(d):
                continue
            for entry in os.listdir(d):
                p = os.path.join(d, entry)
                if entry.startswith("batch_id="):
                    try:
                        bid = int(entry.split("=", 1)[1])
                    except ValueError:
                        continue
                    if dead(bid):
                        shutil.rmtree(p)
                        removed += 1
                else:
                    m = _PART_FILE_RE.match(entry)
                    if m and dead(int(m.group(1))):
                        os.remove(p)
                        removed += 1
        return removed

    # ------------------------------------------------------------- state

    def discovered(self) -> DataFrame:
        """All frontier rows ever discovered = snapshot (pending ∪
        done, original columns preserved) ∪ post-snapshot raw log.

        Snapshot rows keep their original ``batch_id`` so downstream
        covered-set predicates (the crawl loop's bloom delta filter)
        keep working across a compaction.
        """
        base = self._read("discovered", DISCOVERED_SCHEMA)
        snap = self.latest_snapshot()
        if snap is None:
            return base
        cols = [f.name for f in DISCOVERED_SCHEMA.fields]
        return (
            self._snapshot_df(snap, "pending", DISCOVERED_SCHEMA)
            .unionByName(self._snapshot_df(snap, "done", DONE_SCHEMA).select(cols))
            .unionByName(base)
        )

    def _completed_recent(self) -> DataFrame:
        """Post-snapshot completion flips: union of the explicit
        completed log and the crawl-order log's (url_hash, batch_id)
        projection.

        The crawl loop writes its schedule ONCE per batch — a single
        distributed write to ``crawl_order/`` — and that log doubles
        as the completion log (a URL scheduled in batch N is exactly a
        completion flip at batch N; expiry revocation stays in
        ``expired/``).  The separate ``completed/`` dir remains for
        direct ``append_completed`` callers (tests, external tools).
        Column pruning pushes the 2-column projection into the
        parquet scan, so doubling as the order log costs no extra
        bytes here.  Folded batches are excluded (``_read``) — their
        flips live in the snapshot's ``done`` rows.
        """
        parts = []
        if os.path.exists(os.path.join(self.dir, "completed")):
            parts.append(self._read("completed", COMPLETED_SCHEMA))
        if os.path.exists(os.path.join(self.dir, "crawl_order")):
            parts.append(
                self._read("crawl_order", CRAWL_ORDER_SCHEMA).select(
                    "url_hash", "batch_id"
                )
            )
        if not parts:
            return self._empty(COMPLETED_SCHEMA)
        return reduce(DataFrame.unionByName, parts)

    def completed(self) -> DataFrame:
        """Completion flips: the snapshot's folded pseudo-completions
        (one row per effectively-done url, carrying its true latest
        completion batch) ∪ post-snapshot flips."""
        recent = self._completed_recent()
        snap = self.latest_snapshot()
        if snap is None:
            return recent
        folded = self._snapshot_df(snap, "done", DONE_SCHEMA).select(
            "url_hash", F.col("completed_batch_id").alias("batch_id")
        )
        return folded.unionByName(recent)

    def expired(self) -> DataFrame:
        """Recrawl/TTL expiry log: completions revoked append-only.

        A completion flip 'undone' without mutating the completed
        log: effective-completed = completed rows whose batch_id is
        NOT superseded by a later expiry of the same url_hash.  This
        keeps the state machine append-only (Iceberg-friendly) while
        letting a URL become PENDING again; the seen set never shrinks,
        so the bloom needs no delete.
        """
        return self._read("expired", COMPLETED_SCHEMA)

    def pending(self) -> DataFrame:
        """PENDING = discovered minus effective completions.

        The join key url_hash is high-cardinality and uniform
        (sha256) — no skew; broadcast chosen automatically when the
        completed side is small early in the crawl.  A url is
        effectively completed iff its latest completion is newer
        than its latest expiry (re-fetch after expiry completes it
        again).
        """
        if not os.path.exists(os.path.join(self.dir, "expired")):
            # fast path (no expiry ever issued): plain anti-join —
            # no extra aggregation shuffle in the steady-state loop.
            snap = self.latest_snapshot()
            if snap is not None:
                # compacted fast path: the snapshot's pending rows ∪
                # post-snapshot discoveries, anti-joined against ONLY
                # the post-snapshot flips.  The done snapshot (the
                # bulk of a mature frontier) is never scanned —
                # pending() cost is O(pending + recent), not
                # O(full discovered log), per batch.
                recent = self._read("discovered", DISCOVERED_SCHEMA)
                return (
                    self._snapshot_df(snap, "pending", DISCOVERED_SCHEMA)
                    .unionByName(recent)
                    .join(self._completed_recent(), "url_hash", "left_anti")
                )
            return self.discovered().join(
                self.completed(), "url_hash", "left_anti"
            )
        comp = self.completed().groupBy("url_hash").agg(
            F.max("batch_id").alias("_c")
        )
        exp = self.expired().groupBy("url_hash").agg(F.max("batch_id").alias("_e"))
        effective = (
            comp.join(exp, "url_hash", "left")
            .where(F.col("_e").isNull() | (F.col("_c") > F.col("_e")))
            .select("url_hash")
        )
        return self.discovered().join(effective, "url_hash", "left_anti")

    def seen_hashes(self) -> DataFrame:
        return self.discovered().select("url_hash")

    def max_seq(self) -> int:
        row = self.discovered().agg(F.max("seq").alias("m")).collect()[0]
        return row["m"] if row["m"] is not None else -1

    # -------------------------------------------------------- compaction

    def compact(self) -> dict:
        """Fold effective frontier state into a committed snapshot.

        ``pending()`` otherwise anti-joins the FULL discovered log
        against the FULL completion log every batch — at 10^10
        discovered rows that per-batch rescan is the dominant
        recurring cost.  Compaction is the Iceberg-maintenance twin
        of the commit marker: it materializes

        - ``snapshot/snap=<sid>/pending/``  discovered rows with no
          effective completion (full DISCOVERED_SCHEMA columns),
        - ``snapshot/snap=<sid>/done/``     effectively-completed rows
          plus ``completed_batch_id`` (their latest completion batch,
          the folded pseudo-completion — expiry semantics survive:
          a post-snapshot expiry with a higher batch id revokes it),

        then writes ``commits/snapshot-<sid>.json`` LAST (the atomic
        commit point, carrying the folded batch-id ranges), and only
        then deletes the folded raw partitions + the previous
        snapshot.  A crash anywhere leaves a consistent store: data
        without a marker is invisible; folded raw partitions that
        outlive the marker are excluded by ``_read``'s folded filter
        until a later cleanup removes them.

        ``crawl_order/`` files are never deleted — they are the
        golden lineage/order log; only their *completion projection*
        is served from the snapshot afterwards.

        After compaction, ``pending()`` reads O(pending + recent
        batches) and the bloom seen-filter rebuild scans the
        two snapshot dirs (large sequential files) instead of
        thousands of per-batch partitions.  Returns fold stats.
        """
        committed = self.committed_batches()
        if not committed:
            return {"sid": None, "n_pending": 0, "n_done": 0}
        prev = self.latest_snapshot()
        sid = (prev["sid"] + 1) if prev else 1
        snap_root = os.path.join(self.dir, "snapshot")
        new_dir = os.path.join(snap_root, f"snap={sid}")
        # a crashed earlier attempt at this sid never committed —
        # its files are invisible; clear them before rebuilding
        if os.path.isdir(new_dir):
            shutil.rmtree(new_dir)

        disc = self.discovered()
        comp = self.completed().groupBy("url_hash").agg(
            F.max("batch_id").alias("completed_batch_id")
        )
        exp = (
            self.expired()
            .groupBy("url_hash")
            .agg(F.max("batch_id").alias("_e"))
        )
        effective = (
            comp.join(exp, "url_hash", "left")
            .where(
                F.col("_e").isNull()
                | (F.col("completed_batch_id") > F.col("_e"))
            )
            .drop("_e")
        )
        cols = [f.name for f in DISCOVERED_SCHEMA.fields]
        done = disc.join(effective, "url_hash", "inner").select(
            *cols, "completed_batch_id"
        )
        pend = disc.join(effective.select("url_hash"), "url_hash", "left_anti")
        # data files first (partition-friendly layout: host_bucket is
        # the politeness scheduler's pruning key; on a real cluster
        # these writes are Iceberg rewrite_data_files with the same
        # clustering), marker last
        pend.select(cols).repartition("host_bucket").write.mode(
            "overwrite"
        ).parquet(os.path.join(new_dir, "pending"))
        done.repartition("host_bucket").write.mode("overwrite").parquet(
            os.path.join(new_dir, "done")
        )
        n_pending = self._snapshot_df(
            {"sid": sid}, "pending", DISCOVERED_SCHEMA
        ).count()
        n_done = self._snapshot_df({"sid": sid}, "done", DONE_SCHEMA).count()

        marker = os.path.join(self.dir, "commits", f"snapshot-{sid}.json")
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "sid": sid,
                    "folded": self.compress_ids(committed),
                    "ts": time.time(),
                },
                f,
            )
        os.replace(tmp, marker)

        # ---- post-commit cleanup (crash-safe: everything below is
        # already invisible to readers)
        folded = set(committed)
        for name in ("discovered", "completed", "expired"):
            d = os.path.join(self.dir, name)
            if not os.path.isdir(d):
                continue
            for entry in os.listdir(d):
                p = os.path.join(d, entry)
                if entry.startswith("batch_id="):
                    try:
                        bid = int(entry.split("=", 1)[1])
                    except ValueError:
                        continue
                    if bid in folded:
                        shutil.rmtree(p)
                else:
                    m = _PART_FILE_RE.match(entry)
                    if m and int(m.group(1)) in folded:
                        os.remove(p)
        for entry in os.listdir(snap_root):
            if entry.startswith("snap=") and entry != f"snap={sid}":
                shutil.rmtree(os.path.join(snap_root, entry))
        for old in self.snapshot_ids():
            if old != sid:
                os.remove(
                    os.path.join(self.dir, "commits", f"snapshot-{old}.json")
                )
        return {"sid": sid, "n_pending": n_pending, "n_done": n_done}

    # ------------------------------------------------------------ writes

    def append_discovered(self, df: DataFrame) -> None:
        """Append new frontier rows (already deduped + seq-assigned).

        Hive-partitioned by batch_id — each micro-batch is one
        partition directory, which (a) makes crash quarantine a
        directory delete, (b) lets the committed-set filter prune
        whole partitions, and (≡) mirrors an Iceberg snapshot's
        manifest grouping.  The salted host_bucket stays a data
        column for per-host pruning + bloom sharding.
        """
        (
            df.withColumn(
                "host_bucket", F.pmod(F.xxhash64("host"), F.lit(N_HOST_BUCKETS)).cast("int")
            )
            .select([f.name for f in DISCOVERED_SCHEMA.fields])
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(os.path.join(self.dir, "discovered"))
        )

    def append_completed(self, df: DataFrame) -> None:
        df.select("url_hash", "batch_id").write.mode("append").partitionBy(
            "batch_id"
        ).parquet(os.path.join(self.dir, "completed"))

    def append_crawl_order(self, df: DataFrame) -> None:
        """ONE distributed write per batch covering both the crawl-order
        golden log and (via completed()'s projection) the completion
        flips — the batch never rides through the driver."""
        df.select(
            [f.name for f in CRAWL_ORDER_SCHEMA.fields]
        ).write.mode("append").partitionBy("batch_id").parquet(
            os.path.join(self.dir, "crawl_order")
        )

    # ---------------------------------------------- driver-side appends

    def append_rows(self, name: str, batch_id: int, columns: dict) -> None:
        """Append driver-known rows as ONE parquet file via pyarrow —
        no Spark job.  Used for the small per-batch logs (completed
        hashes, crawl order, metrics), whose contents the driver
        already holds; a Spark write here would cost a full job
        launch to move kilobytes.  Files are still plain parquet in
        the same directory layout, so Spark reads them unchanged."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.dir, name)
        os.makedirs(path, exist_ok=True)
        n = len(next(iter(columns.values()))) if columns else 0
        data = dict(columns)
        data["batch_id"] = [int(batch_id)] * n
        table = pa.table(data)
        pq.write_table(
            table, os.path.join(path, f"part-{batch_id:08d}-{os.getpid()}.parquet")
        )
