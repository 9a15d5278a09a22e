"""Correctness gates: each compares one output of the engine with an
independent computation of the same answer.  They run after the timed
section, so they cost no measured time, and each failed gate counts
its operations as failed."""

from __future__ import annotations

import importlib.util
import os
from functools import reduce

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracles():
    """The repository's oracle-parity tool, imported by path (``tools``
    is not a package) so both compare rows with one normalisation."""
    path = os.path.join(ROOT, "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def seen_gate(engine_seen: set[str], oracle_seen: set[str]) -> bool:
    """The crawl's URL-seen set equals the reference crawler's."""
    return engine_seen == oracle_seen


def report_gate(got: dict, oracle) -> list[str]:
    """Names of the report analytics that differ from the reference
    crawler's accumulators (``crawl.oracle.OracleResult``)."""
    bad = []
    if got["unique_pages"] != oracle.unique_pages:
        bad.append("unique_pages")
    if [got["longest_page"]] != list(oracle.longest_page.items()):
        bad.append("longest_page")
    expect_top = sorted(oracle.common_words.items(), key=lambda x: (-x[1], x[0]))[:50]
    if got["common_words"] != oracle.common_words or got["top_50_words"] != expect_top:
        bad.append("top_50_words")
    if got["ics_subdomains"] != oracle.ics_subdomains:
        bad.append("ics_subdomains")
    return bad


def catalog_gate(rows: list[dict], cols: list[str], oracle: pd.DataFrame) -> bool:
    """A catalog row equals its DuckDB oracle: same columns, same row
    count and the same order-insensitive normalised value multiset."""
    co = _check_oracles()
    ocols = sorted(oracle.columns)
    if sorted(cols) != ocols or len(rows) != len(oracle):
        return False
    return co.df_key(rows, sorted(cols)) == co.df_key(oracle.to_dict("records"), ocols)


def expected_search(
    index: pd.DataFrame,
    terms: list[str],
    mode: str,
    score_col: str,
    per_term_limit: int = 1000,
) -> pd.Series:
    """Full ranking of ``indexing.search.search`` recomputed in pandas
    from the collected index table: score per doc_id, best first.

    Exact while no term's top-``per_term_limit`` cut falls inside a run
    of tied scores, as in a corpus of fewer pages than the limit.
    Spark keeps an arbitrary part of such a tie, so on a larger corpus
    this recomputation may differ from a correct ranking."""
    per_term = []
    for i, t in enumerate(terms):
        hit = index.loc[index["token"] == t, ["doc_id", score_col]]
        hit = hit.sort_values(score_col, ascending=False).head(per_term_limit)
        per_term.append(hit.rename(columns={score_col: f"s{i}"}))
    if mode == "and":
        joined = reduce(lambda a, b: a.merge(b, on="doc_id"), per_term)
        scores = joined.set_index("doc_id")[[f"s{i}" for i in range(len(terms))]].sum(axis=1)
    else:
        stacked = pd.concat(
            [p.rename(columns={f"s{i}": "s"}) for i, p in enumerate(per_term)]
        )
        scores = stacked.groupby("doc_id")["s"].sum()
    order = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return pd.Series([s for _, s in order], index=[d for d, _ in order], dtype=float)


def search_gate(got: list[tuple[int, float]], expected: pd.Series, top_k: int) -> bool:
    """Top-k equality with tolerance for summation order: the scores
    read best-first match, and each returned doc has its expected
    score, so docs tied at the cut may come from either side."""
    want = expected.iloc[:top_k]
    if len(got) != len(want):
        return False
    for (doc, score), exp_score in zip(got, want.values):
        if abs(score - exp_score) > 1e-9 * max(1.0, abs(exp_score)):
            return False
        if doc not in expected.index or abs(expected[doc] - score) > 1e-9 * max(1.0, abs(score)):
            return False
    return True
