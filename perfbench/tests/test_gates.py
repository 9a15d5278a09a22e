"""Each correctness gate passes on the right answer and trips on a
slightly wrong one."""

from __future__ import annotations

import pandas as pd

from perfbench import gates
from spacetime_crawler4py_spark.crawl.oracle import OracleResult


def test_seen_gate_trips_on_one_dropped_url():
    seen = {"h1", "h2", "h3"}
    assert gates.seen_gate(set(seen), seen)
    assert not gates.seen_gate(seen - {"h2"}, seen)
    assert not gates.seen_gate(seen | {"h4"}, seen)


def _oracle() -> OracleResult:
    r = OracleResult()
    r.unique_pages = {"https://a.ics.uci.edu/x", "https://b.ics.uci.edu/y"}
    r.longest_page = {"https://a.ics.uci.edu/x": 900}
    r.common_words = {"data": 5, "spark": 5, "crawl": 2}
    r.ics_subdomains = {"https://a.ics.uci.edu/x": 7}
    return r


def _got(o: OracleResult) -> dict:
    return {
        "unique_pages": set(o.unique_pages),
        "longest_page": next(iter(o.longest_page.items())),
        "common_words": dict(o.common_words),
        "top_50_words": [("data", 5), ("spark", 5), ("crawl", 2)],
        "ics_subdomains": dict(o.ics_subdomains),
    }


def test_report_gate_passes_and_names_what_differs():
    o = _oracle()
    assert gates.report_gate(_got(o), o) == []
    perturbed = {
        "unique_pages": lambda g: g["unique_pages"].pop(),
        "longest_page": lambda g: g.update(longest_page=("https://a.ics.uci.edu/x", 899)),
        "top_50_words": lambda g: g.update(top_50_words=[("spark", 5), ("data", 5), ("crawl", 2)]),
        "ics_subdomains": lambda g: g["ics_subdomains"].update({"https://a.ics.uci.edu/x": 8}),
    }
    for name, change in perturbed.items():
        g = _got(o)
        change(g)
        assert gates.report_gate(g, o) == [name]
    g = _got(o)
    g["common_words"]["crawl"] = 3
    assert gates.report_gate(g, o) == ["top_50_words"]


def test_catalog_gate_trips_on_one_changed_cell():
    oracle = pd.DataFrame({"k": ["a", "b"], "n": [1, 2], "x": [0.5, 0.25]})
    rows = [{"k": "b", "n": 2, "x": 0.25}, {"k": "a", "n": 1, "x": 0.5}]
    assert gates.catalog_gate(rows, ["k", "n", "x"], oracle)
    changed = [dict(rows[0], x=0.26), rows[1]]
    assert not gates.catalog_gate(changed, ["k", "n", "x"], oracle)
    # an integral float is not an int: the normalisation keeps types apart
    as_float = [dict(rows[0], n=2.0), rows[1]]
    assert not gates.catalog_gate(as_float, ["k", "n", "x"], oracle)
    assert not gates.catalog_gate(rows[:1], ["k", "n", "x"], oracle)


def _index() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "token": ["data", "data", "data", "spark", "spark"],
            "doc_id": [0, 1, 2, 1, 2],
            "tfidf": [0.9, 0.5, 0.5, 0.45, 0.1],
        }
    )


def test_expected_search_and_or():
    idx = _index()
    both = gates.expected_search(idx, ["data", "spark"], "and", "tfidf")
    assert list(both.index) == [1, 2]
    either = gates.expected_search(idx, ["data", "spark"], "or", "tfidf")
    assert list(either.index) == [1, 0, 2]
    assert either[1] == 0.95


def test_search_gate_trips_on_wrong_doc_or_score():
    want = gates.expected_search(_index(), ["data"], "or", "tfidf")
    assert gates.search_gate([(0, 0.9), (1, 0.5)], want, top_k=2)
    # docs 1 and 2 tie at the cut: either may be returned
    assert gates.search_gate([(0, 0.9), (2, 0.5)], want, top_k=2)
    assert not gates.search_gate([(0, 0.9), (1, 0.51)], want, top_k=2)
    assert not gates.search_gate([(1, 0.9), (0, 0.5)], want, top_k=2)
    assert not gates.search_gate([(0, 0.9)], want, top_k=2)
