"""Property-based tests (hypothesis) for the tokenizer/shingle kernels and
the driver-side LSH bucketing and connected-components labeler."""

import itertools
import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from datasketches_rust_spark.operators.connected_components import min_labels
from datasketches_rust_spark.operators.lsh import ragged_pairs
from datasketches_rust_spark.sigkit.kmv import MAX_THETA63, jaccard_estimate
from datasketches_rust_spark.sigkit.tokenize import (
    concat_docs,
    shingle_hashes,
    token_hash_stream_buf,
)
from datasketches_rust_spark.sigkit.xxhash import xxh64_str_list

_RX = re.compile("[A-Za-z0-9_]+")

doc = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
    max_size=200,
)


@settings(max_examples=80, deadline=None)
@given(st.lists(doc, max_size=8))
def test_tokenizer_matches_regex_on_arbitrary_batches(texts):
    """Buffer-based tokenization == per-doc regex, for any batch layout."""
    buf, offs = concat_docs(texts)
    hashes, tok_off = token_hash_stream_buf(buf, offs, 9001)
    for i, t in enumerate(texts):
        toks = [tok for tok in _RX.findall(t) if tok.isascii()]
        # non-ASCII identifier codepoints split byte-level; restrict the
        # oracle to ASCII-only tokens by re-tokenizing the ASCII projection
        ascii_t = "".join(c if c.isascii() else "\x00" for c in t)
        toks = _RX.findall(ascii_t)
        got = hashes[tok_off[i] : tok_off[i + 1]]
        assert len(got) == len(toks), (t, toks)
        if toks:
            assert np.array_equal(got, xxh64_str_list(toks, 9001))


@settings(max_examples=40, deadline=None)
@given(st.lists(doc, min_size=1, max_size=6), st.integers(1, 7))
def test_shingles_deterministic_and_self_jaccard(texts, width):
    v1, o1 = shingle_hashes(texts, width, 9001)
    v2, o2 = shingle_hashes(list(texts), width, 9001)
    assert np.array_equal(v1, v2) and np.array_equal(o1, o2)
    for i in range(len(texts)):
        s = v1[o1[i] : o1[i + 1]]
        assert np.all(np.diff(s.astype(np.int64)) > 0)  # sorted distinct
        assert jaccard_estimate(s, MAX_THETA63, s, MAX_THETA63) == 1.0


def _union_find_min(edges, n):
    """Reference labels: plain union-find, then the min node per root."""
    parent = list(range(n))

    def find(v):
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in edges:
        parent[find(a)] = find(b)
    smallest = {}
    for v in range(n):
        smallest.setdefault(find(v), v)
    return [smallest[find(v)] for v in range(n)]


@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 60).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)), max_size=120),
        )
    )
)
def test_min_labels_matches_union_find(graph):
    """The numpy hook-to-min labeler == union-find's min node per component,
    on any edge list (self loops, repeats and either direction included)."""
    n, edges = graph
    src = np.array([a for a, _ in edges], dtype=np.int64)
    dst = np.array([b for _, b in edges], dtype=np.int64)
    assert min_labels(src, dst, n).tolist() == _union_find_min(edges, n)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 12)), max_size=20))
def test_ragged_pairs_match_combinations(buckets):
    """The vectorized ragged-pairs generator == itertools.combinations of
    each bucket, in bucket order (empty, single and gapped buckets too)."""
    starts, pos = [], 0
    for gap, size in buckets:
        starts.append(pos + gap)
        pos += gap + size
    sizes = [size for _, size in buckets]
    i, j = ragged_pairs(np.array(starts, dtype=np.int64), np.array(sizes, dtype=np.int64))
    want = [
        p for s, n in zip(starts, sizes) for p in itertools.combinations(range(s, s + n), 2)
    ]
    assert list(zip(i.tolist(), j.tolist())) == want
