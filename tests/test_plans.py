"""Physical-plan shape assertions: the plans we designed for are the
plans Catalyst actually produces (100-TB design invariants).

These are regression tests against plan regressions — e.g. a future
edit accidentally moving a cheap filter above the parse UDF, or a
top-k decaying into a global sort.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_topk_plans_as_take_ordered(spark):
    from spacetime_crawler4py_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [0.1] * 64
    plan = _plan(brute_force_topk(emb, q, k=5))
    assert "TakeOrderedAndProject" in plan, "top-k must not be a global sort"
    # column pruning reaches the scan: label is not read
    assert "label" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_filter_pushdown_to_parquet_scan(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1].splitlines()[0]


def test_jvm_gates_stay_below_parse_udf(spark):
    """Status/length gates must execute BEFORE (= printed below) the
    mapInPandas parse — UDFs are planning barriers (SURVEY §4)."""
    from spacetime_crawler4py_spark.operators.parse import parse_pages

    pages = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id"),
        F.col("text"),
        F.encode("text", "utf-8").alias("html"),
    )
    gated = pages.where(F.length("text") >= 500)
    plan = _plan(parse_pages(gated))
    # formatted explain prints operators root-first: the parse
    # (MapInPandas/ArrowEvalPython) must appear before its child
    # filter in the text, i.e. the filter is UNDER the UDF
    pos_udf = plan.find("MapInPandas")
    pos_filter = plan.find("Filter")
    assert pos_udf != -1 and pos_filter != -1
    assert pos_udf < pos_filter, "gate filter must be a child of the parse UDF"


def test_small_dim_joins_broadcast(spark):
    from spacetime_crawler4py_spark.queries import QUERIES

    plan = _plan(QUERIES["q5_revenue_by_nation"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dims must broadcast, not SMJ"


def test_anti_join_for_dedup(spark):
    from spacetime_crawler4py_spark.queries import QUERIES

    plan = _plan(
        QUERIES["j1_customers_without_orders"](spark, "/root/testdata/sf0.001")
    )
    assert "LeftAnti" in plan


def test_bucketed_join_is_colocated(spark, tmp_path):
    """Bucketed tables co-locate the join: no Exchange on either
    side (`Bucketed: true`), while the unbucketed twin shuffles
    both — the pre-partitioning strategy SCALE.md prescribes for
    the frontier logs and postings table."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("li_bucketed_t")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("o_bucketed_t")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        bucketed = spark.table("li_bucketed_t").join(
            spark.table("o_bucketed_t"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan_b = _plan(bucketed)
        assert "Bucketed: true" in plan_b
        assert "Exchange" not in plan_b, "bucketed join must not shuffle"

        plain = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan_p = _plan(plain)
        assert plan_p.count("Exchange") >= 2, "unbucketed twin shuffles both sides"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_bucketed_t")
        spark.sql("DROP TABLE IF EXISTS o_bucketed_t")


def test_contiguous_index_has_no_single_partition_exchange(spark):
    """Global-id assignment must stay distributed: range-partitioned
    rank + offsets (operators/ids.py), never a bare Window.orderBy
    whose plan is an `Exchange SinglePartition` (VERDICT r1 #1/#2)."""
    from spacetime_crawler4py_spark.operators.ids import with_contiguous_index

    df = spark.range(0, 10_000).select(
        (F.col("id") % 97).alias("fetch_order"), F.col("id").alias("pos")
    )
    out, interm = with_contiguous_index(df, ["fetch_order", "pos"], "seq", 100)
    plan = _plan(out)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    # and the index is exactly the dense global rank
    rows = out.orderBy("seq").collect()
    expected = sorted((r["fetch_order"], r["pos"]) for r in rows)
    assert [(r["fetch_order"], r["pos"]) for r in rows] == expected
    assert [r["seq"] for r in rows] == list(range(100, 100 + len(rows)))
    interm.unpersist()


def test_scheduler_batch_has_no_single_partition_exchange(spark):
    """The politeness scheduler's fetch_order path (stage 3) must not
    funnel the batch through one task."""
    from spacetime_crawler4py_spark.frontier.scheduler import next_batch

    pending = spark.range(0, 5_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("url_hash"),
        F.concat(F.lit("https://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".ics.uci.edu/p"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 50).cast("string")).alias("host"),
        F.col("id").alias("seq"),
        F.lit(0).alias("depth"),
    )
    batch = next_batch(pending, window_ms=4_000)
    assert "SinglePartition" not in _plan(batch)
    # fetch_order is the dense 0-based seq-DESC rank of the capped set
    rows = batch.orderBy("fetch_order").collect()
    assert [r["fetch_order"] for r in rows] == list(range(len(rows)))
    seqs = [r["seq"] for r in rows]
    assert seqs == sorted(seqs, reverse=True)
    batch._sg_cleanup.unpersist()


def test_contiguous_index_adaptive_small_path(spark):
    """With a known-small approx_rows bound the assigner may use one
    task (cheaper than range sampling below the threshold) — indexes
    must be IDENTICAL to the distributed shape; without a bound it
    must stay distributed."""
    from spacetime_crawler4py_spark.operators.ids import with_contiguous_index

    df = spark.range(0, 5_000).select(
        (F.col("id") % 37).alias("a"), F.col("id").alias("b")
    )
    small, _ = with_contiguous_index(df, ["a", "b"], "i", 7, approx_rows=5_000)
    wide, interm = with_contiguous_index(df, ["a", "b"], "i", 7)
    assert "rangepartitioning" in _plan(wide).lower()
    s = {(r["a"], r["b"]): r["i"] for r in small.collect()}
    w = {(r["a"], r["b"]): r["i"] for r in wide.collect()}
    assert s == w
    interm.unpersist()
    # a bound ABOVE the threshold must still go distributed
    big, interm2 = with_contiguous_index(
        df, ["a", "b"], "i", 7, approx_rows=200_000
    )
    assert "SinglePartition" not in _plan(big)
    interm2.unpersist()


def test_ivf_join_assign_is_broadcast_not_literals(spark):
    """ivf_assign_join plans a BroadcastHashJoin whose width is O(1)
    in k — the centroid data rides the broadcast relation, never the
    Catalyst expression — and its argmin aggregate is partial
    (map-side combine) so the shuffle carries one row per vec, not
    the ×k fan-out.  The literal path at the same k would embed
    k·dim doubles in the plan."""
    from spacetime_crawler4py_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_join,
        kmeans_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_fit(emb, k=64, n_iter=1, assign="join")
    joined = ivf_assign_join(emb, cents)
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan  # map-side argmin combine
    # plan text is O(1) in k: far below what 64*64 double literals need
    lit = _plan(ivf_assign(emb, cents))
    assert len(plan) < len(lit) / 5
    # and the two assign variants agree row-for-row
    j = {r["vec_id"]: r["cid"] for r in joined.collect()}
    l = {r["vec_id"]: r["cid"] for r in ivf_assign(emb, cents).collect()}
    assert j == l


def test_emb_neardup_catalog_has_no_cartesian(spark):
    """Catalog hygiene: emb_neardup_pairs runs the bucketed operator
    — the exhaustive cross join lives only in its DuckDB oracle.
    The one sanctioned crossJoin in the catalog is broadcast-of-one-
    row (the ANN query vector)."""
    from spacetime_crawler4py_spark import queries

    df = queries.QUERIES["emb_neardup_pairs"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan  # candidates come from the bucket equi-join


def test_minhash_heavy_work_stays_above_the_spread(spark):
    """The empty-doc guard is the only thing Catalyst may push below
    the ensure_min_partitions round-robin exchange, and it must stay
    CHEAP: the size(shingles)>0 form of the guard rebuilt the whole
    shingle array (slice + concat_ws + array_distinct per doc) on
    the unspread scan partition — a single-task stage that dominated
    signature wall-clock on one-row-group parquet inputs.  Pin that
    everything below the exchange is the one split-based word count
    (no shingle construction), and the k-way fold sits above it."""
    from spacetime_crawler4py_spark.operators.dedup import minhash_signatures

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # tree-ordered string: operators printed top-down, so the text
    # after the exchange line is exactly what executes below it
    # (explain("formatted") would append node DETAILS after the tree)
    plan = (
        minhash_signatures(d)._jdf.queryExecution().executedPlan().toString()
    )
    assert "RoundRobinPartitioning" in plan
    below = plan.split("RoundRobinPartitioning")[1]
    assert "concat_ws" not in below
    assert "array_distinct" not in below


def test_line_dedup_first_occurrence_is_partial_agg_not_window(spark):
    """line_dedup's global first-occurrence must be the map-side-
    combinable min(struct) groupBy: a boilerplate line shared by 10⁸
    pages collapses in the combiner, where a row_number window would
    funnel the whole hot key through one task.  Pin: no Window node,
    and the _key aggregate is two-phase (partial before the
    Exchange, final after)."""
    from spacetime_crawler4py_spark.operators.cleaning import line_dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(line_dedup(d))
    assert "Window" not in plan
    # two-phase agg: an aggregate node appears on both sides of a
    # shuffle (partial_min / min in the keys listing)
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_span_coverage_no_cartesian_and_partial_agg(spark):
    """Cross-doc gram detection must be the min/max-doc partial agg
    on the 8-byte gram key — never a gram-occurrence self-join (the
    O(occurrences²) shape) and never a cartesian."""
    from spacetime_crawler4py_spark.operators.cleaning import dup_span_coverage

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dup_span_coverage(d, n=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_unigram_logprob_one_row_total_broadcast(spark):
    """The LM grand total is the sanctioned broadcast-of-one-row; the
    token→LM join must be a hash equi-join on word."""
    from spacetime_crawler4py_spark.operators.cleaning import unigram_logprob

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(unigram_logprob(d))
    assert "CartesianProduct" not in plan
    # exactly the one-row total may ride a nested-loop broadcast
    # (count in the tree section only — formatted explain repeats
    # every node in the details listing below the tree)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") <= 1


def test_pq_encode_shuffle_free_and_adc_take_ordered(spark):
    """PQ encode must be a pure projection (no Exchange — the codes
    are computed where the vectors live) and ADC top-k must plan as
    TakeOrderedAndProject over the m-lookup sum, never a global
    sort.  Codebooks are fixed literals here: the plan shape, not
    the fit, is under test."""
    from spacetime_crawler4py_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = [
        [(c, [0.1 * c + j] * 16) for c in range(4)] for j in range(4)
    ]
    codes = pq_encode(emb, books)
    assert "Exchange" not in _plan(codes), "encode must be shuffle-free"
    plan = _plan(pq_adc_topk(codes, [0.05] * 64, books, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.replace(
        "Exchange SinglePartition", ""
    ) or plan.count("Exchange") <= 1


def test_semdedup_no_cartesian_pairs_join_on_cid(spark):
    """semdedup's candidate pairs must come from a cid equi-join —
    never a cartesian/nested-loop product — and the rank must be a
    single window keyed by cid (one Exchange hashpartitioning(cid))."""
    from spacetime_crawler4py_spark.operators.similarity import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [(c, [0.2 * c - 0.3] * 64) for c in range(4)]
    plan = _plan(semdedup(emb, eps=0.5, centroids=cents, assign="literal"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(cid" in plan


def test_pq_join_encode_and_adc_are_broadcast_not_literals(spark):
    """The PQ scale path must keep the plan O(1) in m·ksub: encode
    fans out through a BroadcastHashJoin on j with a map-side
    min(struct) argmin (codebooks ride the broadcast relation, never
    the Catalyst expression), and ADC ships its m×ksub distance
    table as ONE broadcast row.  The literal encode at the same
    setting embeds m·ksub·dsub doubles — pin that the join plans
    stay far below that, and that both paths agree row-for-row."""
    from spacetime_crawler4py_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_encode_join,
        pq_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_fit(emb, dim=64, m=8, ksub=32, n_iter=1)
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]

    joined = pq_encode_join(emb, books)
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan  # map-side argmin combine
    lit = pq_encode(emb, books, method="literal")
    assert len(plan) < len(_plan(lit)) / 5
    j = {tuple(r) for r in joined.collect()}
    l = {tuple(r) for r in lit.collect()}
    assert j == l

    adc = pq_adc_topk(joined, q, books, k=10, method="join")
    aplan = _plan(adc)
    assert "TakeOrderedAndProject" in aplan
    assert "BroadcastHashJoin" in aplan
    assert "CartesianProduct" not in aplan
    assert "BroadcastNestedLoopJoin" not in aplan
    alit = pq_adc_topk(lit, q, books, k=10, method="literal")
    assert [tuple(r) for r in adc.collect()] == [tuple(r) for r in alit.collect()]

    # O(1)-in-ksub pin: growing ksub 8→64 must not grow the join
    # plans (the table rides the broadcast relation), while the
    # literal plans blow up with it
    def _books(ksub):
        return [[(c, [0.1 * c + j] * 8) for c in range(ksub)] for j in range(8)]

    qz = [0.05] * 64
    for fn in (
        lambda b: pq_encode_join(emb, b),
        lambda b: pq_adc_topk(pq_encode_join(emb, b), qz, b, method="join"),
    ):
        p8, p64 = len(_plan(fn(_books(8)))), len(_plan(fn(_books(64))))
        assert p64 < p8 * 1.15, "join plan must be O(1) in ksub"
    l8 = len(_plan(pq_encode(emb, _books(8), method="literal")))
    l64 = len(_plan(pq_encode(emb, _books(64), method="literal")))
    assert l64 > l8 * 2, "sanity: literal plan grows with ksub"


def test_ivf_pq_composed_plan_is_equi_joins_top_k(spark):
    """IVFADC (ivf_pq_topk): the probed-cell filter IS the broadcast
    equi-join of codes against the per-cell ADC tables on cid —
    never a cartesian/nested-loop — and the whole query plans as a
    TakeOrderedAndProject.  With the scale sub-paths selected
    (assign='join', method='join') the plan stays O(1) in the index
    size knobs: no literal codebooks or distance tables."""
    from spacetime_crawler4py_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    out = ivf_pq_topk(
        emb, q, k=10, n_centroids=8, nprobe=2, n_iter=1, m=4, ksub=16,
        assign="join", method="join",
    )
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # cid rides through pq_encode (carry_cols), so the composed plan
    # has NO wide join at all — the codes⋈resid SortMergeJoin on the
    # id that used to recover cid (VERDICT r4 #3) must stay gone
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the literal sub-paths produce the identical rows (one oracle
    # gates both at the catalog level; pin the agreement here too)
    lit = ivf_pq_topk(
        emb, q, k=10, n_centroids=8, nprobe=2, n_iter=1, m=4, ksub=16,
        assign="literal", method="literal",
    )
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in lit.collect()]


def test_dup_span_remove_no_cartesian_reassembly_jvm_side(spark):
    """dup_span_remove's candidate generation must be an equi-join on
    the 8-byte gram key (never cartesian), and the reassembly must
    stay JVM-side — the only Python crossing in any documents plan is
    none at all here (pure Column ops)."""
    from spacetime_crawler4py_spark.operators.cleaning import dup_span_remove

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dup_span_remove(docs, n=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dsir_sample_take_ordered_no_python(spark):
    """dsir_sample must plan the selection as TakeOrderedAndProject
    (never a global Sort) with the LM ratio table broadcast back to
    doc-bucket counts, all JVM-side."""
    from pyspark.sql import functions as F

    from spacetime_crawler4py_spark.operators.sampling import dsir_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dsir_sample(docs, docs.where(F.col("lang") == "en"), k=10))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_length_quantiles_single_scan_shared_exchange(spark):
    """length_quantiles must scan the table ONCE (both windows share
    the histogram) with a pruned 2-column ReadSchema."""
    from spacetime_crawler4py_spark.operators.quality import length_quantiles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(length_quantiles(docs))
    # "formatted" lists each scan once in the tree and once in the
    # detail section — one physical scan = exactly two mentions
    assert plan.count("Scan parquet") == 2
    assert "lang:string,n_chars:bigint" in plan.replace(" ", "")


def test_ivf_pq_written_index_partition_prunes(spark, tmp_path):
    """The deployed IVFADC layout (VERDICT r4 missing #3): codes
    written as cid-partitioned inverted lists; a served probe scans
    ONLY the probed cells (PartitionFilters on cid in the scan) and
    reproduces the in-memory ivf_pq_topk answer bit-for-bit."""
    from spacetime_crawler4py_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_topk,
        ivf_pq_topk,
        read_ivf_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    path = str(tmp_path / "idx")
    build_ivf_pq_index(
        emb, path, dim=64, n_centroids=8, n_iter=1,
        m=4, ksub=16, assign="join", method="join",
    )
    served = ivf_pq_index_topk(spark, path, q, k=10, nprobe=2)
    plan = _plan(served)
    # the probed-cid IN-list must reach the scan as a partition filter
    seg = plan[plan.index("PartitionFilters"):]
    assert "cid" in seg.split("\n")[0]
    assert "SortMergeJoin" not in plan
    # pruning is real: only nprobe of the 8 cid directories are read
    codes, _, _, _ = read_ivf_pq_index(spark, path)
    n_cells = codes.select("cid").distinct().count()
    assert n_cells == 8
    mem = ivf_pq_topk(
        emb, q, k=10, n_centroids=8, nprobe=2, n_iter=1, m=4, ksub=16,
        assign="join", method="join",
    )
    assert [tuple(r) for r in served.collect()] == [tuple(r) for r in mem.collect()]


def test_winnow_explode_does_not_rederive_fingerprints(spark):
    """Regression: a plain explode() over the computed fingerprint
    array let InferFiltersFromGenerate push a size()>0 filter below
    the projections, inlining the whole gram pipeline into every
    window lambda — O(windows x grams) md5 re-evaluation, measured
    ~50 ms/doc (a 250 s stage at sf0.1).  The fixed path
    (explode_outer + post-Generate null filter) computes the gram
    array exactly once per row: split() appears only the constant
    per-row 3x of the gram project (words referenced in the size
    guard, the sequence bound, and the slice lambda), never O(n)."""
    from spacetime_crawler4py_spark.operators.dedup import (
        _winnow_fp_rows,
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(0, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    rows = _winnow_fp_rows(winnow_fingerprints(df), "doc_id")
    plan = _plan(rows)
    assert plan.count("split(") <= 4, plan.count("split(")
    assert "isnotnull(fp" in plan


def _nodes(n):
    """``n`` and every node below it, in a JVM logical plan."""
    kids = n.children()
    out = [n]
    for i in range(kids.size()):
        out += _nodes(kids.apply(i))
    return out


def _crawl_engine(spark, corpus80, state_dir):
    from spacetime_crawler4py_spark.crawl.loop import CrawlEngine
    from spacetime_crawler4py_spark.datagen.pages import SEED_URLS

    corpus_dir, _ = corpus80
    return CrawlEngine(
        spark,
        state_dir=str(state_dir),
        pages_path=f"{corpus_dir}/pages.parquet",
        status_path=f"{corpus_dir}/fetch_status.parquet",
        seeds=SEED_URLS,
    )


def test_bloom_probe_stays_above_dedup_and_off_build_sides(
    spark, corpus80, tmp_path, monkeypatch
):
    """Regression: a deterministic bloom-probe UDF let the optimizer
    push the fresh/maybe filters below the url_hash dedup aggregate
    (one probe per raw link row) and copy them, by constraint
    inference, onto the build side of the ``recent`` and ``seen``
    anti-joins, which then probed every row of the discovered log:
    4 probe evaluations per batch.  Then each union branch still
    re-ran explode → validity → normalize → sha2 → aggregate → probe:
    2 per batch.  Pin the probe-once shape: one probe per batch, over
    the deduplicated candidates (above the url_hash aggregate), into a
    materialized frame that both branches read, so the frame
    ``_new_links`` returns evaluates no probe, on an anti-join's build
    side or anywhere else."""
    from spacetime_crawler4py_spark.crawl import loop

    eng = _crawl_engine(spark, corpus80, tmp_path / "state")
    # a batch committed after the bloom's build: the plan then holds
    # the ``recent`` anti-join as well as the ``seen`` one
    eng.run(max_batches=1)
    probed = []

    def spy(*args, **kwargs):
        probed.append(real(*args, **kwargs))
        return probed[-1]

    real = loop.with_might_contain
    monkeypatch.setattr(loop, "with_might_contain", spy)
    parsed = spark.createDataFrame(
        [(0, ["https://www.ics.uci.edu/a", "https://www.ics.uci.edu/b"])],
        "fetch_order int, links array<string>",
    )
    plan = eng._new_links(parsed)._jdf.queryExecution().optimizedPlan()

    def probes(n):
        return [
            m for m in _nodes(n)
            if m.nodeName() == "ArrowEvalPython" and "probe(" in m.simpleString(100)
        ]

    assert len(probed) == 1
    [p] = probes(probed[0]._jdf.queryExecution().optimizedPlan())
    aggs = [m for m in _nodes(p) if m.nodeName() == "Aggregate"]
    assert aggs and not any(probes(agg) for agg in aggs)
    [union] = [n for n in _nodes(plan) if n.nodeName() == "Union"]
    assert union.children().size() == 2
    anti = [
        n for n in _nodes(plan)
        if n.nodeName() == "Join" and "LeftAnti" in n.simpleString(100)
    ]
    assert len(anti) == 2
    assert not probes(plan)


def test_parse_input_reads_no_frontier_log(spark, corpus80, tmp_path, monkeypatch):
    """Regression: the batch was cached over ``pending()``, which scans
    the crawl-order log.  The batch's own crawl-order append made Spark
    drop and re-plan that cache and the ``parsed`` cache on it, so
    every batch after the first ran its schedule, fetch join and parse
    UDF twice.  The frame handed to ``parse_pages`` must read no file
    of the frontier store."""
    from spacetime_crawler4py_spark.crawl import loop

    state = tmp_path / "state"
    inputs = []

    def spy(df):
        inputs.append(df)
        return real(df)

    real = loop.parse_pages
    monkeypatch.setattr(loop, "parse_pages", spy)
    eng = _crawl_engine(spark, corpus80, state)
    assert eng.run() >= 2
    assert len(inputs) >= 2
    for df in inputs:
        read = [
            str(path)
            for n in _nodes(df._jdf.queryExecution().analyzed())
            if n.nodeName() == "LogicalRelation"
            for path in n.relation().location().rootPaths().mkString("\n").split("\n")
        ]
        assert read and not [p for p in read if str(state) in p], read
