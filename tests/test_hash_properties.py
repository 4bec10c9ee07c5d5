"""Property tests for the portable polynomial hash (corpus.py).

The n-gram builder (corpus.ngrams) relies on the composition identity
h(x || y) = (h(x) * B^len(y) + h(y)) mod p to compose gram ids from
per-token hashes; if the hash constants or fold order ever change,
these tests fail before the oracle comparison does (the oracle would
change in lockstep and hide the break).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from tscan_spark.corpus import HASH_BASE, HASH_MOD

WORD = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1,
    max_size=12,
)


def _h(s: str, acc: int = 0) -> int:
    for ch in s:
        acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
    return acc


@settings(max_examples=300, deadline=None)
@given(WORD, WORD)
def test_hash_composition_identity(x: str, y: str) -> None:
    lhs = _h(x + " " + y)
    rhs = ((_h(x) * HASH_BASE + 32) % HASH_MOD * pow(HASH_BASE, len(y), HASH_MOD)
           + _h(y)) % HASH_MOD
    assert lhs == rhs


@settings(max_examples=300, deadline=None)
@given(st.lists(WORD, min_size=1, max_size=15))
def test_ngram_composition_matches_joined_hash(words: list[str]) -> None:
    """The fold corpus.ngrams runs over per-token (hash, B^len) pairs
    equals the hash of the space-joined gram, for n = 1 .. 15."""
    cid = _h(words[0])
    for w in words[1:]:
        cid = ((cid * HASH_BASE + 32) % HASH_MOD * pow(HASH_BASE, len(w), HASH_MOD)
               + _h(w)) % HASH_MOD
    assert cid == _h(" ".join(words))


@settings(max_examples=300, deadline=None)
@given(WORD)
def test_hash_range_and_determinism(x: str) -> None:
    h1, h2 = _h(x), _h(x)
    assert h1 == h2
    assert 0 <= h1 < HASH_MOD
    # int64-overflow safety bound used by the Spark/DuckDB folds:
    # every intermediate acc*B + c stays below 2^63
    assert (HASH_MOD - 1) * HASH_BASE + 126 < 2**63


@settings(max_examples=200, deadline=None)
@given(WORD, st.integers(min_value=1, max_value=4096))
def test_bucket_projection_in_range(x: str, n_buckets: int) -> None:
    assert 0 <= _h(x) % n_buckets < n_buckets
