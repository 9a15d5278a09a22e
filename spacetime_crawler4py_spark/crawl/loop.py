"""Micro-batch crawl driver loop (SURVEY.md §2.8 T1-T5).

The reference's while-loop (crawler/worker.py:20-34: pop → fetch →
scrape → enqueue → mark-done) becomes an iterative batch dataflow:

    repeat:
      batch   = politeness_schedule(PENDING)          # checkpointed
      fetched = broadcast(batch) ⋈ page_store          # J2 fetch join
      gated   = JVM filters: status/null/length        # F5-F7, pre-UDF
      parsed  = parse_pages(gated)                     # ONE Arrow UDF pass
      links   = posexplode → normalize → is_valid      # P1, F1-F4, JVM
      new     = dedup(links) → bloom prefilter →       # F8/J1
                exact anti-join vs seen → assign seq
      commit: append discovered+completed+crawled+metrics,
              then the batch marker (atomic)           # T4 checkpoint

Plan-shape invariants (checked in tests via the plans):
- the batch side of the fetch join is broadcast (batch ≪ pages);
- status/length gates run BEFORE parse_pages (UDFs are planning
  barriers — a filter written after mapInPandas would not be
  hoisted above it, so the composition order here is load-bearing);
- the only Python crossings per iteration are parse_pages and the
  bloom probe (batched mode only), each run ONCE per batch: the
  batch is checkpointed, so no frame parse reads scans a log the
  batch appends to, and the probe over the deduplicated links is
  checkpointed before the fresh/maybe branches read it.

Ordering contract: ``strict_lifo=True`` schedules one URL per batch
(max seq first) — byte-for-byte the reference's single-threaded
LIFO crawl order (threads_count=1 ships in config.ini:19).  Batched
mode preserves the URL-seen SET exactly (set-closure is
order-independent) and keeps seq-DESC order within each batch.

Resume (T4): state lives in the FrontierStore's committed logs — a
new CrawlEngine on the same state_dir continues from the last
committed batch with an identical seen-set and order; a batch whose
marker is missing is invisible (exactly-once).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacetime_crawler4py_spark.frontier.bloom import build_bloom, with_might_contain
from spacetime_crawler4py_spark.frontier.scheduler import next_batch
from spacetime_crawler4py_spark.frontier.store import FrontierStore
from spacetime_crawler4py_spark.functions.urlnorm import (
    col_defragment,
    col_netloc,
    col_normalize,
    col_urlhash,
)
from spacetime_crawler4py_spark.functions.validity import col_is_valid
from spacetime_crawler4py_spark.operators.ids import with_contiguous_index
from spacetime_crawler4py_spark.operators.parse import parse_pages


class CrawlEngine:
    # batches between bloom rebuilds: a rebuild re-sizes the filter to
    # the grown seen set, and until then the ``recent`` anti-join in
    # _new_links grows with every batch
    BLOOM_REFRESH_BATCHES = 8

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        pages_path: str,
        status_path: str | None,
        seeds: list[str],
        strict_lifo: bool = False,
        window_ms: int = 32_000,
        delay_ms: int = 500,
        strict_reference_parity: bool = True,
        robots_path: str | None = None,
        revalidate_on_resume: bool = False,
        order: str = "lifo",  # "lifo" (reference parity) | "fifo_per_host"
        compact_every: int = 0,  # fold frontier logs every N batches (0 = off)
    ):
        self.spark = spark
        self.store = FrontierStore(spark, state_dir)
        self.state_dir = state_dir
        # Crash recovery FIRST: a crashed attempt's data files (written
        # before its marker) must be quarantined before any batch
        # re-runs under the same id, or the retry's commit would make
        # both attempts visible (duplicate discovered/crawl-order rows).
        # Scoped to the crawl namespace: a concurrent streaming-ingest
        # micro-batch mid-append (data written, marker pending) must
        # not be deleted by an engine start on the shared store.
        from spacetime_crawler4py_spark.frontier.store import STREAM_NS

        self.store.quarantine_uncommitted(below=STREAM_NS)
        self.seeds = seeds
        self.strict = strict_lifo
        self.window_ms = window_ms
        self.delay_ms = delay_ms
        self.parity = strict_reference_parity
        self.order = order
        # frontier-log maintenance cadence: every N committed batches,
        # fold effective state into a snapshot so pending() stops
        # rescanning the full logs (FrontierStore.compact()).  The
        # crawl loop itself needs no other change — snapshot rows keep
        # their original batch_id, so the bloom covered-set delta
        # logic below is compaction-oblivious.
        self.compact_every = compact_every
        # robots table (north_rule T6; absent in the reference):
        # disallowed URLs are excluded at schedule time, and per-host
        # crawl delays override the politeness default.
        self.robots = (
            spark.read.schema(
                "host string, disallow_prefixes array<string>, crawl_delay_ms int"
            ).parquet(robots_path)
            if robots_path
            else None
        )
        # F9 (crawler/frontier.py:43): on resume, pending rows are
        # re-checked against is_valid before scheduling.  The
        # reference filter runs ONCE, at TBD rebuild — it applies
        # only to entries already in the save file at restart; urls
        # discovered afterwards are never re-checked (add_url does
        # not re-validate).  We mirror that with a batch-id floor:
        # only pre-resume discoveries pass through the filter.
        self.revalidate = revalidate_on_resume
        self._revalidate_floor = (
            self.store.last_batch_id() if revalidate_on_resume else -1
        )
        self._bloom = None
        self._bloom_age = 0
        self._bloom_covered: list[int] = []
        # driver-tracked seq high-water mark: avoids a full scan of
        # the discovered log per batch (initialized lazily from the
        # store on first use, then maintained incrementally)
        self._max_seq: int | None = None
        # stream-ingest markers seen at the last _max_seq sync (an
        # interleaved streaming commit invalidates the cached mark)
        self._seen_stream_markers: set[int] = set()
        # driver-tracked completed-row count: (max_seq+1 − this) is
        # the scheduler's pending-size estimate for picking the
        # adaptive fetch_order path.  Purely a performance heuristic:
        # an under-estimate (possible after expiry re-completions)
        # only means a >threshold batch takes the one-task sort —
        # slower, never incorrect.
        self._n_completed: int | None = None

        pages = spark.read.parquet(pages_path)
        if status_path and os.path.exists(status_path):
            status = spark.read.parquet(status_path)
        else:
            status = pages.select("url").withColumn("status", F.lit(200)).withColumn(
                "error", F.lit(None).cast("string")
            )
        # page store: canonical url → content + status; text_len is a
        # JVM expression over the invariant text column (scraper.py:78
        # gate without parsing).  Cached — it is the fetch join's big
        # side every iteration.
        self.page_store = (
            pages.join(status.select("url", "status"), "url", "left")
            .na.fill({"status": 200})
            .select(
                F.col("url").alias("page_url"),
                "html",
                "text",
                F.length("text").alias("text_len"),
                "status",
            )
            .cache()
        )
        self.page_store.count()

    # ------------------------------------------------------------------

    def _bootstrap(self) -> None:
        """Seed the frontier (crawler/frontier.py:28-36) if empty."""
        if self.store.last_batch_id() >= 0:
            return
        import pyarrow as pa

        from spacetime_crawler4py_spark.functions.urlnorm import py_normalize, py_urlhash

        # first occurrence of each url_hash, in seed order
        seeds: dict[str, str] = {}
        for u in map(py_normalize, self.seeds):
            seeds.setdefault(py_urlhash(u), u)
        n = len(seeds)
        # through Arrow: createDataFrame(list) would start a Python job
        df = self.spark.createDataFrame(
            pa.table({"url_hash": list(seeds), "url": list(seeds.values()),
                      "seq": list(range(n)), "depth": [0] * n}),
            "url_hash string, url string, seq long, depth int",
        ).select(
            "url_hash",
            "url",
            col_netloc(F.col("url")).alias("host"),
            "seq",
            "depth",
            F.current_timestamp().alias("discovered_ts"),
            F.lit(0).cast("long").alias("batch_id"),
        )
        self.store.append_discovered(df)
        self.store.commit(0, {"kind": "bootstrap", "n_seeds": n})

    # ------------------------------------------------------------------

    def run_batch(self, batch_id: int) -> dict:
        t0 = time.time()
        # A concurrent stream_frontier_ingest on the SAME store
        # advances seq outside this engine's cached high-water mark
        # — reusing the stale cache would assign overlapping seqs.
        # Stream commits are visible as >= STREAM_NS markers (a
        # driver listdir), so re-sync only when a new one appears.
        from spacetime_crawler4py_spark.frontier.store import STREAM_NS

        stream_markers = {
            b for b in self.store.committed_batches() if b >= STREAM_NS
        }
        if stream_markers != self._seen_stream_markers:
            self._max_seq = self.store.max_seq()
            self._seen_stream_markers = stream_markers
        pending = self.store.pending()
        if self.revalidate:
            pending = pending.where(
                col_is_valid(F.col("url"), self.parity)
                | (F.col("batch_id") > F.lit(self._revalidate_floor))
            )
        if self.robots is not None:
            from spacetime_crawler4py_spark.frontier.robots import filter_allowed

            pending = filter_allowed(pending, self.robots)
        if self._max_seq is None:
            self._max_seq = self.store.max_seq()
        if self.strict:
            sched = (
                pending.orderBy(F.desc("seq"))
                .limit(1)
                .withColumn("fetch_order", F.lit(0))
            )
        else:
            if self._n_completed is None:
                self._n_completed = self.store.completed().count()
            sched = next_batch(
                pending,
                window_ms=self.window_ms,
                delay_ms=self.delay_ms,
                robots=self.robots,
                order=self.order,
                approx_rows=max(self._max_seq + 1 - self._n_completed, 0),
            )
        # Checkpointed, not cached: the crawl-order append below would
        # make Spark drop and re-plan a cache that scans that log, and
        # ``parsed`` with it — re-running schedule, fetch and parse.
        batch = sched.select(
            "url_hash", "url", "host", "seq", "depth", "fetch_order"
        ).localCheckpoint(eager=False)
        # ONE action materializes the batch AND hands the driver the
        # per-host schedule counts — bounded by #hosts in the batch,
        # never by #URLs.  The schedule itself (unbounded in host count
        # at 10^7-host scale) stays distributed: crawl order +
        # completion flips are Spark writes from this frame.
        sched_by_host = {
            (r["host"] or ""): r["n"]
            for r in batch.groupBy("host").agg(F.count("*").alias("n")).collect()
        }
        t_sched = time.time()
        n_batch = sum(sched_by_host.values())
        # the scheduler's fetch_order intermediate has served its
        # purpose once the batch is materialized
        _sched_interm = getattr(sched, "_sg_cleanup", None)
        if _sched_interm is not None:
            _sched_interm.unpersist()
        if n_batch == 0:
            return {"n_batch": 0}

        # ---- fetch join (J2): broadcast the small batch side
        b = F.broadcast(batch.withColumn("_fetch_key", col_defragment(F.col("url"))))
        fetched = b.join(
            self.page_store, b["_fetch_key"] == self.page_store["page_url"], "left"
        ).drop("_fetch_key", "page_url")

        # ---- JVM gates BEFORE the parse UDF (F5, F6, F7)
        gated = fetched.where(
            F.col("status").isNotNull()
            & (F.col("status") < 400)
            & ~F.col("status").isin(204, 305)
            & F.col("html").isNotNull()
            & (F.col("text_len") >= 500)
            & (F.col("text_len") <= 100_000)
        )

        # ---- one Arrow pass: links + analytics features
        parsed = parse_pages(
            gated.select(
                "url_hash", "url", "host", "seq", "depth", "fetch_order",
                "status", "html",
            )
        ).where(F.size("links") > 0)
        parsed = parsed.cache()

        # ---- crawled-pages sink (analytics input; replaces the four
        # per-page file rewrites, scraper.py:156-272)
        (
            parsed.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "fetch_order",
                "url",
                col_defragment(F.col("url")).alias("url_defrag"),
                "host",
                "depth",
                "status",
                "text_len",
                "wc",
                "n_unique_anchors",
                "tokens_report",
            )
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(os.path.join(self.state_dir, "crawled_pages"))
        )

        t_parse = time.time()
        # ---- crawl-order log (golden: Logs/Worker.log "Downloaded"
        # lines) + completion flips (T5: idempotent — completed()
        # projects (url_hash, batch_id) from this same log): ONE
        # distributed write from the checkpointed batch.  The schedule
        # never rides through the driver — at 10^7 hosts × politeness
        # cap this is the write that the round-1/2 driver append
        # could not survive.
        self.store.append_crawl_order(
            batch.select(
                "url_hash",
                "url",
                F.col("fetch_order").cast("long").alias("fetch_order"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
        )

        # ---- n_new + per-host lineage FIRST, from ONE host-level
        # aggregation — bounded by #hosts in the batch, NOT by #new
        # URLs; the per-URL delta itself never reaches the driver.
        # Knowing the exact n_new lets the seq assigner below pick
        # its adaptive path.  Checkpointed, like ``batch``: ``new``
        # scans the discovered log that the batch appends to.
        new = self._new_links(parsed).localCheckpoint(eager=False)
        new_by_host = {
            (r["host"] or ""): r["n"]
            for r in new.groupBy(col_netloc(F.col("url")).alias("host"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_new = sum(new_by_host.values())

        # ---- seq assignment: base + rank in (fetch_order, pos)
        # order via operators/ids.py — distributed range-partitioned
        # rank when the delta is wide, one-task window when n_new is
        # known-small (the range-sampling + size-pass fixed costs
        # dominate tiny batches).
        base = self._max_seq
        if n_new:
            indexed, _seq_interm = with_contiguous_index(
                new, ["fetch_order", "pos"], "seq", start=base + 1,
                approx_rows=n_new,
            )
            new_rows = indexed.select(
                "url_hash",
                "url",
                col_netloc(F.col("url")).alias("host"),
                "seq",
                F.lit(None).cast("int").alias("depth"),
                F.current_timestamp().alias("discovered_ts"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            self._max_seq = base + n_new
            self.store.append_discovered(new_rows)
            _seq_interm.unpersist()

        # completions were written with the crawl-order log above;
        # only the driver-side count cache needs the increment
        if self._n_completed is not None:
            self._n_completed += n_batch

        t_links = time.time()
        wall_ms = int((t_links - t0) * 1000)
        meta = {
            "n_batch": n_batch,
            "n_new": n_new,
            "wall_ms": wall_ms,
            # per-stage splits (wide-batch scale evidence): schedule
            # (pending scan + politeness windows + batch collect),
            # fetch-join/parse/sink, link-pipeline (validity → dedup
            # → distributed seq → discovered append + bloom delta)
            "t_sched_ms": int((t_sched - t0) * 1000),
            "t_parse_ms": int((t_parse - t_sched) * 1000),
            "t_links_ms": int((t_links - t_parse) * 1000),
        }
        # ---- per-batch metrics + per-host (partition-key) lineage
        # (north_rule: "per-partition lineage/metrics"); both derive
        # from already-collected rows — no extra Spark jobs
        self.store.append_rows(
            "metrics",
            batch_id,
            {
                "n_fetched": [n_batch],
                "n_new_urls": [n_new],
                "wall_ms": [wall_ms],
                "t_sched_ms": [meta["t_sched_ms"]],
                "t_parse_ms": [meta["t_parse_ms"]],
                "t_links_ms": [meta["t_links_ms"]],
            },
        )
        hosts = sorted(set(sched_by_host) | set(new_by_host))
        self.store.append_rows(
            "lineage",
            batch_id,
            {
                "host": hosts,
                "n_scheduled": [sched_by_host.get(h, 0) for h in hosts],
                "n_new_urls": [new_by_host.get(h, 0) for h in hosts],
            },
        )

        self.store.commit(batch_id, meta)
        parsed.unpersist()
        return meta


    # ------------------------------------------------------------------

    def _new_links(self, parsed: DataFrame) -> DataFrame:
        """The batch's links that are not yet in the seen set, one row
        per url_hash: ``(url_hash, fetch_order, pos, url)`` of its
        first occurrence.  ``parsed`` needs ``fetch_order`` and
        ``links``."""
        # ---- link pipeline: F1-F4 validity on the RAW href, THEN
        # P1 normalize → P2 hash.  Order is load-bearing reference
        # parity (scraper.py:44 validates the raw extracted link;
        # frontier.add_url normalizes afterwards): a trailing-slash
        # variant of a blacklisted extension ('…/file.pdf/') is valid
        # raw — the extension regex is '$'-anchored — and must be
        # crawled, but would be dropped if normalized first.
        links = (
            parsed.select(
                "fetch_order",
                F.posexplode("links").alias("pos", "link"),
            )
            .where(F.col("link").isNotNull())
            .where(col_is_valid(F.col("link"), self.parity))
            .withColumn("url", col_normalize(F.col("link")))
            .withColumn("url_hash", col_urlhash(F.col("url")))
        )

        # within-batch dedup: first occurrence wins (reference
        # add-order).  min(struct(fetch_order, pos, url)) is the
        # row_number()==1 window's exact twin — (fetch_order, pos) is
        # unique per link row, so the lexicographic min IS the first
        # occurrence and the carried url is that occurrence's — but
        # partial-aggregatable: the hot key (a sitewide boilerplate
        # link appearing on every page of the batch) collapses
        # map-side instead of funneling through one window task.
        candidates = (
            links.groupBy("url_hash")
            .agg(F.min(F.struct("fetch_order", "pos", "url")).alias("_f"))
            .select(
                "url_hash",
                F.col("_f.fetch_order").alias("fetch_order"),
                F.col("_f.pos").alias("pos"),
                F.col("_f.url").alias("url"),
            )
        )

        # ---- seen-set dedup (F8/J1).  Strict mode (one URL per
        # batch) is the exact anti-join alone.  Batched mode probes a
        # broadcast bloom first.  Invariant: the filter holds every
        # hash of its COVERED committed-batch snapshot; hashes
        # discovered after the last (re)build live in the
        # partition-pruned ``recent`` slice of the log, which
        # "definitely new" rows anti-join instead of the full seen
        # set.  The filter is only rebuilt every
        # BLOOM_REFRESH_BATCHES, which re-sizes it to the grown seen
        # set.  The final seen set still equals the reference's
        # exactly (anti-joins are the source of truth; the filter
        # only prunes probes).
        disc = self.store.discovered()
        seen = disc.select("url_hash")
        if self.strict:
            return candidates.join(seen, "url_hash", "left_anti")
        if self._bloom is None or self._bloom_age >= self.BLOOM_REFRESH_BATCHES:
            self._bloom = build_bloom(seen)
            self._bloom_age = 0
            # snapshot which committed batches the filter covers;
            # later discoveries are handled by the pruned ``recent``
            # anti-join until the next rebuild
            self._bloom_covered = self.store.committed_batches()
        self._bloom_age += 1
        # probe ONCE into a materialized frame: both branches read it
        # instead of each re-running explode → … → aggregate → probe
        probed = with_might_contain(candidates, self._bloom, self.spark).localCheckpoint()
        fresh = probed.where(~F.col("might_be_seen")).drop("might_be_seen")
        maybe = probed.where(F.col("might_be_seen")).drop("might_be_seen")
        # "definitely new" per the filter can still collide with
        # hashes discovered AFTER the filter's covered snapshot —
        # anti-join only that partition-pruned slice of the log
        if self.store.committed_batches() != self._bloom_covered:
            recent = disc.where(
                ~FrontierStore.membership_filter(self._bloom_covered)
            ).select("url_hash")
            fresh = fresh.join(recent, "url_hash", "left_anti")
        return fresh.unionByName(maybe.join(seen, "url_hash", "left_anti"))

    # ------------------------------------------------------------------

    def run(self, max_batches: int | None = None) -> int:
        """Crawl until the frontier drains (T3). Returns #batches run."""
        self._bootstrap()
        batch_id = self.store.last_batch_id()
        n = 0
        while True:
            if max_batches is not None and n >= max_batches:
                break
            batch_id += 1
            meta = self.run_batch(batch_id)
            if meta["n_batch"] == 0:
                break
            n += 1
            if self.compact_every and n % self.compact_every == 0:
                self.store.compact()
        return n

    # ------------------------------------------------------------------

    def expire_urls(self, urls: list[str]) -> int:
        """Recrawl/TTL expiry: make completed URLs PENDING again.

        Appends to the expired log (append-only revocation; the URLs
        stay in the seen set) and commits a marker batch.  The next
        run() re-fetches them in seq order.  Returns the number of
        URLs expired.
        """
        from spacetime_crawler4py_spark.functions.urlnorm import (
            py_normalize,
            py_urlhash,
        )

        hashes = [py_urlhash(py_normalize(u)) for u in urls]
        batch_id = self.store.last_batch_id() + 1
        self.store.append_rows("expired", batch_id, {"url_hash": hashes})
        self.store.commit(batch_id, {"kind": "expire", "n": len(hashes)})
        return len(hashes)

    # ------------------------------------------------------------------

    def crawl_order(self) -> list[str]:
        path = os.path.join(self.state_dir, "crawl_order")
        if not os.path.exists(path):
            return []
        return [
            r["url"]
            for r in self.spark.read.parquet(path)
            .where(self.store.committed_filter())
            .orderBy("batch_id", "fetch_order")
            .collect()
        ]

    def seen_set(self) -> set[str]:
        return {
            r["url_hash"] for r in self.store.discovered().select("url_hash").collect()
        }

    def crawled_pages(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.state_dir, "crawled_pages")
        ).where(self.store.committed_filter())
