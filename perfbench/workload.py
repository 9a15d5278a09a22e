"""One benchmark run on one local Spark session: a crawl to a drained
frontier, then the report analytics over what it crawled.  The traced
run goes on to the read side the timed run has no room for: the search
index, a closed-loop query stream and a slice of the query catalog.

Every workload runs the same pipeline; they differ in the crawl's
shape.  The corpus comes from ``datagen.pages`` and the catalog tables
from ``catalog_data``, both seeded by the run's ``--seed``.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import time
import traceback
from dataclasses import dataclass

from perfbench import catalog_data, gates
from perfbench.ledger import Tracer
from perfbench.stats import median, percentile


@dataclass(frozen=True)
class Workload:
    pages: int
    window_ms: int


# Why each workload exists is in BENCHMARK.json and README.md.  Both
# seed the crawl with every corpus page, which keeps a drained crawl
# to two batches.
WORKLOADS = {
    "crawl_wide": Workload(pages=700, window_ms=1_000_000),
    "crawl_narrow": Workload(pages=150, window_ms=32_000),
}

# Catalog rows of the traced run, one per operator family the crawl
# does not reach: relational aggregation, MinHash dedup, Count-Min
# sketch and brute-force cosine similarity.
CATALOG_ROWS = [
    "q1_pricing_summary",
    "dedup_minhash_kept",
    "sk_cms_word_counts",
    "ann_cosine_top20",
]
SETUP_REPEATS = 3
MIN_REPORT_ROUNDS = 3
N_QUERIES = 20
TOP_K = 10
# search terms: most of the corpus vocabulary plus words it never uses
QUERY_WORDS = (
    "research data spark frontier crawl index query engine student "
    "faculty course machine learning systems theory network security "
    "vision language statistics algorithm distributed storage database "
    "zebra quokka"
).split()


def seed_urls(corpus: dict, seed: int) -> list[str]:
    """The reference seed URLs, then every corpus page in an order
    shuffled with ``seed``."""
    from spacetime_crawler4py_spark.crawl.oracle import corpus_to_dicts

    pages, _, seeds = corpus_to_dicts(corpus)
    shuffled = sorted(pages)
    random.Random(seed).shuffle(shuffled)
    return list(seeds) + shuffled


def start_session(work: str, event_dir: str | None):
    from spacetime_crawler4py_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        # a heap of fixed size keeps the JVM's resident set from
        # following the collector's resizing decisions
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this process plus that of the Spark JVM."""
    from pyspark import SparkContext

    kb = _vm_hwm_kb("self")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def _new_engine(spark, corpus: str, seeds: list[str], window_ms: int):
    from spacetime_crawler4py_spark.crawl.loop import CrawlEngine

    return CrawlEngine(
        spark,
        state_dir=os.path.join(corpus, "state"),
        pages_path=os.path.join(corpus, "pages.parquet"),
        status_path=os.path.join(corpus, "fetch_status.parquet"),
        seeds=seeds,
        window_ms=window_ms,
    )


def _write_corpus(rows: dict, corpus: str, parts: int = 4) -> None:
    """Write ``datagen.pages.generate_corpus`` rows where the engine
    reads them: ``pages.parquet`` in ``parts`` files, as
    ``write_corpus`` lays it out, and ``fetch_status.parquet``.  Plain
    pyarrow, so that writing the input costs no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    status = pa.schema([("url", pa.string()), ("status", pa.int32()), ("error", pa.string())])
    for name, schema, chunks in (
        ("pages", pages, [rows["pages"][i::parts] for i in range(parts)]),
        ("fetch_status", status, [rows["fetch_status"]]),
    ):
        out = os.path.join(corpus, f"{name}.parquet")
        os.makedirs(out, exist_ok=True)
        for i, chunk in enumerate(chunks):
            cols = list(zip(*chunk))
            table = pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)
            pq.write_table(table, os.path.join(out, f"part-{i:05d}.parquet"))


def _warm_up(eng) -> None:
    """Start the Python workers on a few pages through the crawl's parse
    UDF, so that the timed crawl's first batch does not pay for process
    start-up."""
    from spacetime_crawler4py_spark.operators.parse import parse_pages

    few = eng.page_store.limit(16).select("page_url", "html").repartition(4)
    parse_pages(few).select("page_url", "wc").collect()


def _crawled_docs(spark, eng, corpus: str):
    """Documents to index: each crawled page (by defragmented URL) with
    its text from the page store's source table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
    return (
        eng.crawled_pages()
        .select("url_defrag")
        .distinct()
        .join(pages.select(F.col("url").alias("url_defrag"), "text"), "url_defrag")
        .select(
            (F.row_number().over(Window.orderBy("url_defrag")) - 1).cast("long").alias("doc_id"),
            F.col("url_defrag").alias("url"),
            "text",
        )
    )


class Run:
    """State and measurements of one run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.event_dir = os.path.join(work, "events") if trace else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.values: dict[str, float] = {}
        self.batches: list[dict] = []  # start (epoch s), ms, meta per run_batch call
        self.queries: list[tuple[str, str, str, float, list]] = []
        self.catalog: dict[str, tuple[float, list[dict], list[str]]] = {}
        self.report_rows: dict[str, list] = {}

    # ------------------------------------------------------------ phases

    def execute(self) -> None:
        t = time.perf_counter()
        self.spark, self.cores = start_session(self.work, self.event_dir)
        self.values["session_s"] = time.perf_counter() - t
        self.tracer = Tracer(self.spark.sparkContext if self.trace else None)
        try:
            self._set_up_repeated()
            t = time.perf_counter()
            _warm_up(self.eng)
            self.values["warmup_s"] = time.perf_counter() - t
            self.values["setup_s"] = (
                self.values["session_s"] + median(self.setup_times) + self.values["warmup_s"]
            )
            t = time.perf_counter()
            with self.tracer.span("timed"):
                self._crawl()
                self._report()
            self.values["timed_s"] = time.perf_counter() - t
            # before the oracle and the gates, whose work in this
            # process is the benchmark's, not the engine's
            self.values["peak_rss_mb"] = peak_rss_mb()
            t = time.perf_counter()
            self._oracle()
            self.values["oracle_s"] = time.perf_counter() - t
            if self.trace:
                # read-side layers the untraced run leaves out (see README)
                t = time.perf_counter()
                self._index()
                self._search()
                self._catalog()
                self.values["reads_s"] = time.perf_counter() - t
            t = time.perf_counter()
            self._gates()
            self.values["gates_s"] = time.perf_counter() - t
        finally:
            stop_session(self.spark)

    def _set_up_repeated(self) -> None:
        """``SETUP_REPEATS`` times: generate the corpus, write it and
        build the engine over it (each build fills a fresh page-store
        cache).  The last engine is kept; ``setup_times`` holds each
        repeat's wall time."""
        from spacetime_crawler4py_spark.datagen.pages import generate_corpus

        self.corpus = os.path.join(self.work, "corpus")
        self.tables = os.path.join(self.work, "tables")
        if self.trace:
            t = time.perf_counter()
            catalog_data.write_tables(self.tables, self.seed)
            self.values["tables_s"] = time.perf_counter() - t
        self.setup_times = []
        for i in range(SETUP_REPEATS):
            if i:
                self.eng.page_store.unpersist()
                shutil.rmtree(self.corpus)
            t = time.perf_counter()
            self.corpus_rows = generate_corpus(n_pages=self.wl.pages, seed=self.seed)
            self.seeds = seed_urls(self.corpus_rows, self.seed)
            _write_corpus(self.corpus_rows, self.corpus)
            self.eng = _new_engine(self.spark, self.corpus, self.seeds, self.wl.window_ms)
            self.setup_times.append(time.perf_counter() - t)

    def _oracle(self) -> None:
        from spacetime_crawler4py_spark.crawl.oracle import OracleCrawler, corpus_to_dicts

        pages, status, _ = corpus_to_dicts(self.corpus_rows)
        self.oracle = OracleCrawler(pages, status, self.seeds).run()

    def _crawl(self) -> None:
        eng, tracer = self.eng, self.tracer
        if self.trace:
            self._trace_layers()
        inner = eng.run_batch

        def timed_batch(batch_id):
            start = time.time()
            t = time.perf_counter()
            with tracer.span("run_batch"):
                meta = inner(batch_id)
            self.batches.append(
                {"start": start, "ms": (time.perf_counter() - t) * 1000.0, "meta": meta}
            )
            return meta

        eng.run_batch = timed_batch
        t = time.perf_counter()
        with tracer.span("crawl"):
            eng.run()
        wall = time.perf_counter() - t
        self.crawl_wall_s = wall
        done = [b for b in self.batches if b["meta"]["n_batch"] > 0]
        self.attempted += len(self.batches)
        fetched = sum(b["meta"]["n_batch"] for b in done)
        self.values["crawl_pages_per_s"] = fetched / wall
        self.values["batch_ms_p50"] = median([b["ms"] for b in done])

    def _trace_layers(self) -> None:
        """Spans around the engine's calls into its layers."""
        from spacetime_crawler4py_spark.crawl import loop

        tracer, store = self.tracer, self.eng.store
        for attr in ("append_discovered", "append_crawl_order", "append_rows", "commit", "max_seq"):
            tracer.wrap(store, attr, f"store.{attr}")
        tracer.wrap(loop, "build_bloom", "bloom.build_bloom")

    def _report(self) -> None:
        """The four report analytics over the crawled store, in rounds,
        each function reading the store afresh as a reporting user
        would.  The first round compiles the queries and is not
        counted; then rounds run for ``seconds`` and at least
        ``MIN_REPORT_ROUNDS`` times."""
        from spacetime_crawler4py_spark.analytics import report as R

        names = ("unique_pages", "longest_page", "top_50_words", "ics_subdomains")
        rounds: list[float] = []
        self.report_ms = {n: [] for n in names}
        start = time.perf_counter()
        while len(rounds) <= MIN_REPORT_ROUNDS or time.perf_counter() - start < self.seconds:
            total = 0.0
            for name in names:
                t = time.perf_counter()
                with self.tracer.span(f"report.{name}"):
                    rows = getattr(R, name)(self.eng.crawled_pages()).collect()
                dt = time.perf_counter() - t
                total += dt
                if rounds:
                    self.report_ms[name].append(dt * 1000.0)
                self.report_rows.setdefault(name, rows)
                self.attempted += 1
            rounds.append(total)
        self.values["report_s"] = median(rounds[1:])
        self.report_rounds = rounds

    def _index(self) -> None:
        from spacetime_crawler4py_spark.indexing import postings as P

        with self.tracer.span("postings.build"):
            docs = _crawled_docs(self.spark, self.eng, self.corpus).cache()
            n_docs = docs.count()
            posts = P.build_postings(docs).cache()
            self.values["postings.rows"] = posts.count()
        with self.tracer.span("postings.tfidf"):
            self.tfidf = P.tfidf(posts, n_docs).cache()
            self.tfidf.count()
        with self.tracer.span("postings.bm25"):
            self.bm25 = P.bm25(posts, n_docs).cache()
            self.bm25.count()
        self.docs = docs.select("doc_id", "url").cache()
        self.docs.count()
        self.attempted += 3

    def _catalog(self) -> None:
        from spacetime_crawler4py_spark.queries import QUERIES

        for row in CATALOG_ROWS:
            self.attempted += 1
            t = time.perf_counter()
            try:
                with self.tracer.span(f"catalog.{row}"):
                    df = QUERIES[row](self.spark, self.tables)
                    rows = [r.asDict() for r in df.collect()]
            except Exception:  # one failing row must not stop the ledger
                traceback.print_exc()
                self._fail(f"catalog {row} raised")
                rows, df = None, None
            self.catalog[row] = (time.perf_counter() - t, rows, df.columns if df is not None else [])

    def _search(self) -> None:
        """One client, closed loop: the next query is sent when the
        previous result is back."""
        from spacetime_crawler4py_spark.indexing.search import search

        rng = random.Random(self.seed)
        lat = []
        while len(lat) < N_QUERIES:
            words = " ".join(rng.sample(QUERY_WORDS, rng.randint(1, 3)))
            mode = rng.choice(["and", "or"])
            ranking = rng.choice(["tfidf", "bm25"])
            index = self.tfidf if ranking == "tfidf" else self.bm25
            self.attempted += 1
            t = time.perf_counter()
            try:
                with self.tracer.span("search"):
                    rows = search(index, self.docs, words, top_k=TOP_K, mode=mode, ranking=ranking).collect()
            except Exception:  # one failing query must not stop the stream
                traceback.print_exc()
                self._fail(f"search {mode}/{ranking} {words!r} raised")
                rows = None
            lat.append((time.perf_counter() - t) * 1000.0)
            if rows is not None:
                self.queries.append((words, mode, ranking, lat[-1], [(r["doc_id"], r["score"]) for r in rows]))
        self.values["search_ms_p50"] = median(lat)
        p90 = percentile(lat, 90)
        if p90 is not None:
            self.values["search_ms_p90"] = p90

    # ------------------------------------------------------------- gates

    def _fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.failures.append(what)

    def _gates(self) -> None:
        from spacetime_crawler4py_spark.analytics import report as R

        if not gates.seen_gate(self.eng.seen_set(), set(self.oracle.seen)):
            self._fail("crawl seen set", len(self.batches))

        cr = self.eng.crawled_pages()
        rr = self.report_rows
        [longest] = rr["longest_page"]
        got = {
            "unique_pages": {r["url_defrag"] for r in rr["unique_pages"]},
            "longest_page": (longest["url_defrag"], longest["wc"]),
            "common_words": {r["word"]: r["count"] for r in R.common_words(cr).collect()},
            "top_50_words": [(r["word"], r["count"]) for r in rr["top_50_words"]],
            "ics_subdomains": {r["url_defrag"]: r["n_links"] for r in rr["ics_subdomains"]},
        }
        for name in gates.report_gate(got, self.oracle):
            self._fail(f"report {name}")

        if self.catalog:
            self._catalog_gates()
        if self.queries:
            self._search_gates()

    def _search_gates(self) -> None:
        from spacetime_crawler4py_spark.indexing.search import stem_query

        tables = {
            "tfidf": self.tfidf.toPandas(),
            "bm25": self.bm25.toPandas(),
        }
        for words, mode, ranking, _, got_rows in self.queries:
            want = gates.expected_search(tables[ranking], stem_query(words), mode, ranking)
            if not gates.search_gate(got_rows, want, TOP_K):
                self._fail(f"search {mode}/{ranking} {words!r}")

    def _catalog_gates(self) -> None:
        import duckdb

        from spacetime_crawler4py_spark.queries import ORACLES

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for name in os.listdir(self.tables):
            table = name.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(self.tables, name)}'"
            )
        for row, (_, rows, cols) in self.catalog.items():
            if rows is not None and not gates.catalog_gate(rows, cols, con.execute(ORACLES[row]).fetchdf()):
                self._fail(f"catalog {row}")
        con.close()

