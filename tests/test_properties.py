"""Property-based tests (SURVEY §5): normalizer idempotence, hash
stability, bloom no-false-negatives and false-positive rate, tokenizer
invariants.

Pure-Python oracles + the numpy bloom — no SparkSession needed, so
these run in milliseconds and catch edge cases the fixture corpus
misses.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from spacetime_crawler4py_spark.frontier.bloom import BloomFilter
from spacetime_crawler4py_spark.functions.simhash import py_hamming64, py_simhash64
from spacetime_crawler4py_spark.functions.tokenizers import (
    py_tokenize_alnum,
    py_tokenize_report,
)
from spacetime_crawler4py_spark.functions.urlnorm import (
    py_defragment,
    py_normalize,
    py_urlhash,
)
from spacetime_crawler4py_spark.functions.validity import py_is_valid

url_text = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=80
)
urls = st.builds(
    lambda host, path, frag: f"https://{host}.ics.uci.edu/{path}" + (f"#{frag}" if frag else ""),
    st.sampled_from(["www", "a", "ngs", "x.y"]),
    url_text,
    st.one_of(st.none(), st.text(max_size=10)),
)


@given(urls)
def test_normalize_idempotent(u):
    assert py_normalize(py_normalize(u)) == py_normalize(u)


@given(urls)
def test_defragment_idempotent_and_fragment_free(u):
    d = py_defragment(u)
    assert py_defragment(d) == d
    assert "#" not in d


@given(urls)
def test_urlhash_scheme_insensitive(u):
    assert py_urlhash(u) == py_urlhash("http" + u[len("https"):])


@given(urls)
def test_is_valid_total(u):
    # must never raise on any URL-ish string
    assert py_is_valid(u) in (True, False)


@given(st.text(max_size=200))
def test_is_valid_total_on_garbage(s):
    assert py_is_valid(s) in (True, False)


@given(st.lists(st.text(min_size=5, max_size=64), min_size=1, max_size=300, unique=True))
@settings(max_examples=30)
def test_bloom_no_false_negatives(keys):
    import hashlib

    hexes = pd.Series([hashlib.sha256(k.encode()).hexdigest() for k in keys])
    bf = BloomFilter.sized_for(len(keys))
    bf.add_series(hexes)
    assert bf.contains_series(hexes).all()


def test_bloom_false_positive_rate_near_design():
    """A bloom sized for 20,000 keys at the 1% design fpp answers
    "maybe seen" for at most 1.5% of 20,000 keys it never held."""
    import hashlib

    def hexes(prefix):
        return pd.Series(
            [hashlib.sha256(f"{prefix}{i}".encode()).hexdigest() for i in range(20_000)]
        )

    bf = BloomFilter.sized_for(20_000)
    bf.add_series(hexes("in-"))
    assert bf.contains_series(hexes("out-")).mean() <= 0.015


@given(st.text(max_size=300))
def test_tokenizers_total(t):
    assert isinstance(py_tokenize_alnum(t), list)
    assert all(tok.isalnum() for tok in py_tokenize_alnum(t))
    assert isinstance(py_tokenize_report(t), list)


@given(st.text(min_size=0, max_size=500))
def test_simhash_deterministic(t):
    a, b = py_simhash64(t), py_simhash64(t)
    assert a == b
    assert py_hamming64(a, b) == 0
    assert -(1 << 63) <= a < (1 << 63)  # fits Spark LongType
