"""Dump annotated physical plans of the engine's key operators to
PLANS.md — the ".explain until it's the plan you'd want" audit
artifact.  Run: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SECTIONS: list[tuple[str, str]] = []


def audit(title: str, note: str, df) -> None:
    SECTIONS.append((title, note + "\n\n```\n" + plan_of(df).strip() + "\n```\n"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from spacetime_crawler4py_spark.session import get_spark

    spark = get_spark(app_name="explain-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    from spacetime_crawler4py_spark.queries import QUERIES

    audit(
        "q1 pricing summary (hash aggregation)",
        "Wants: filter pushed to the parquet scan (`PushedFilters`), "
        "two-phase HashAggregate with map-side partial combine, "
        "whole-stage codegen spans around the agg.",
        QUERIES["q1_pricing_summary"](spark, sf_dir),
    )
    audit(
        "q5 revenue by nation (dim joins)",
        "Wants: every dim join a BroadcastHashJoin (no SortMergeJoin, "
        "no shuffle of the fact side for joins), column-pruned scans.",
        QUERIES["q5_revenue_by_nation"](spark, sf_dir),
    )
    audit(
        "frontier dedup anti-join (J1/F8)",
        "Wants: LeftAnti BroadcastHashJoin when the seen side is "
        "small.  In the crawl loop the bloom probe (not visible "
        "here) runs once per batch over the deduplicated candidates, "
        "above the url_hash aggregate, into a local checkpoint that "
        "both fresh/maybe branches read: it is nondeterministic, so "
        "Catalyst neither pushes it below the aggregate nor infers it "
        "onto the seen side, and no anti-join re-evaluates it "
        "(tests/test_plans.py).",
        QUERIES["j1_customers_without_orders"](spark, sf_dir),
    )
    from spacetime_crawler4py_spark.functions.urlnorm import col_normalize, col_urlhash
    from spacetime_crawler4py_spark.functions.validity import col_is_valid
    from spacetime_crawler4py_spark.queries import _urls_df

    urls = _urls_df(spark, sf_dir)
    audit(
        "URL hash pipeline (P1+F1-F4+P2)",
        "Wants: ONE whole-stage-codegen Project+Filter over the scan "
        "— no Python crossing, no shuffle; regexps and sha2 fused.",
        urls.select(col_normalize(F.col("url")).alias("url"))
        .where(col_is_valid(F.col("url")))
        .select(col_urlhash(F.col("url")).alias("url_hash")),
    )
    audit(
        "brute-force cosine top-k",
        "Wants: pruned ReadSchema (vec_id, embedding only) → Project "
        "→ TakeOrderedAndProject. No global sort, no shuffle.",
        QUERIES["ann_cosine_top20"](spark, sf_dir),
    )
    audit(
        "minhash signatures (dedup scale path)",
        "Wants: explode + single hash-agg with k partial mins "
        "(map-side combined), no Python, shuffle carries k longs/doc.",
        __import__(
            "spacetime_crawler4py_spark.operators.dedup", fromlist=["minhash_signatures"]
        ).minhash_signatures(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), k=16
        ),
    )
    from spacetime_crawler4py_spark.operators.dedup import winnow_fingerprints

    audit(
        "winnowing fingerprints (MOSS selection)",
        "Wants: ONE narrow whole-stage Project chain over the scan — "
        "gram hashing and window minima are per-row array ops, no "
        "Python crossing, no shuffle (the pair join downstream pays "
        "the only exchange, on 8-byte fingerprints).",
        winnow_fingerprints(spark.read.parquet(f"{sf_dir}/documents.parquet")),
    )

    from spacetime_crawler4py_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        semdedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = [[(c, [0.1 * c + j] * 16) for c in range(4)] for j in range(4)]
    audit(
        "PQ encode + ADC top-k",
        "Wants: encode a shuffle-free whole-stage Project (codes "
        "computed where the vectors live); ADC a per-row m-lookup "
        "sum into TakeOrderedAndProject — no vector math in the "
        "scan, no global sort.",
        pq_adc_topk(pq_encode(emb, books), [0.05] * 64, books, k=10),
    )
    from spacetime_crawler4py_spark.operators.similarity import (
        ivf_pq_topk,
        pq_encode_join,
    )

    big_books = [
        [(c, [0.01 * c + j] * 8) for c in range(64)] for j in range(8)
    ]
    audit(
        "PQ join-encode + broadcast ADC (large m·ksub)",
        "Wants: NO ksub·dim literal arrays in any Project — the "
        "codebook is a broadcast TABLE (BroadcastHashJoin on j), "
        "argmin a map-side-combinable min(struct), codes pivot back "
        "with one (id) combine; ADC distance table a one-row "
        "broadcast, top-k TakeOrderedAndProject.",
        pq_adc_topk(
            pq_encode_join(emb, big_books),
            [0.05] * 64,
            big_books,
            k=10,
            method="join",
        ),
    )
    audit(
        "IVFADC composed (coarse probe → residual ADC, join path)",
        "Wants: assign/encode all broadcast equi-joins (m·ksub=64 ≥ "
        "the auto cutover, so the codebooks ride broadcast TABLES — "
        "no literal arrays in any Project); cid threads through the "
        "encode (carry_cols), so NO SortMergeJoin anywhere; the probe "
        "filter IS the per-cell distance-table join on cid (unprobed "
        "cells have no table row); no vector math in the scan, top-k "
        "TakeOrderedAndProject.",
        ivf_pq_topk(emb, [0.05] * 64, k=10, n_centroids=4, nprobe=2,
                    m=4, ksub=16, assign="join", method="join"),
    )
    audit(
        "IVFADC composed (toy literal variant, m·ksub below cutover)",
        "Labeled variant: at m·ksub=32 < 64 the auto paths inline the "
        "codebooks as plan literals (cheaper below the cutover — no "
        "broadcast exchange at all); same rows as the join path.",
        ivf_pq_topk(emb, [0.05] * 64, k=10, n_centroids=4, nprobe=2,
                    m=4, ksub=8),
    )

    import tempfile as _tf

    from spacetime_crawler4py_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_index_topk,
    )

    _idx = _tf.mkdtemp(prefix="audit_ivfpq_")
    build_ivf_pq_index(
        emb, _idx, dim=64, n_centroids=8, n_iter=1, m=4, ksub=16,
        assign="join", method="join",
    )
    audit(
        "IVFADC served from the WRITTEN index (partition-pruned scan)",
        "Wants: the codes scan reads ONLY the probed cells — "
        "PartitionFilters carries the cid IN-list over the "
        "cid-partitioned inverted lists (nprobe/n_centroids of the "
        "corpus touched); ranking the same broadcast ADC join; no "
        "wide join.",
        ivf_pq_index_topk(spark, _idx, [0.05] * 64, k=10, nprobe=2),
    )
    audit(
        "corpus flagship (domain gate → quality → dedup → split)",
        "Wants: the RefinedWeb gate order as ONE plan — broadcast "
        "left_anti domain gate before anything shuffles the corpus, "
        "JVM quality gates below the parse boundary, dedup the only "
        "wide exchange, split a hash projection (no extra shuffle).",
        QUERIES["corpus_build_domain_counts"](spark, sf_dir),
    )
    from spacetime_crawler4py_spark.indexing.search import phrase_count
    from spacetime_crawler4py_spark.operators.cleaning import c4_line_clean
    from spacetime_crawler4py_spark.operators.sampling import weighted_sample

    docs_t = spark.read.parquet(f"{sf_dir}/documents.parquet")
    audit(
        "C4 line-level clean (boilerplate strip)",
        "Wants: a single narrow whole-stage Project over the pruned "
        "scan — no Exchange, no Python; the line filter and page "
        "gates are one Column chain.",
        c4_line_clean(docs_t),
    )
    audit(
        "phrase search (positional posting intersection)",
        "Wants: per-term postings filtered by token BEFORE any join, "
        "then (doc_id, start) equi-joins — no cartesian, no Python; "
        "final count a two-phase hash agg.",
        phrase_count(docs_t, "hash join", method="index"),
    )
    audit(
        "weighted sample (A-Res top-k)",
        "Wants: TakeOrderedAndProject over the hash-derived key — "
        "no global Sort, no shuffle beyond the take.",
        weighted_sample(docs_t, k=30, weight_col="n_chars"),
    )
    audit(
        "SemDedup (cluster-bounded semantic dedup)",
        "Wants: one hashpartitioning(cid) exchange for the rank "
        "window, candidate pairs a cid equi-join (never cartesian), "
        "drop set a LeftAnti/left join back on id.",
        semdedup(
            emb, eps=0.5,
            centroids=[(c, [0.2 * c - 0.3] * 64) for c in range(4)],
            assign="literal",
        ),
    )

    out = ["# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n"]
    for title, body in SECTIONS:
        out.append(f"## {title}\n\n{body}")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(SECTIONS)} sections")


if __name__ == "__main__":
    main()
