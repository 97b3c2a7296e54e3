"""Differential tests: the cross-row ``ops`` kernels (the gopher gram
masses and the MinHash lane minima) against their frozen per-row
references in ``tests/ops_reference.py``, row by row and exactly,
whatever a row's neighbours in the batch."""

import pandas as pd
from hypothesis import given, settings, strategies as st

import ops_reference as ref
from lingua_spark.ops.queries import (
    _GOPHER_MASS_FIELDS,
    _gopher_mass_rows,
    _gopher_rep_masses,
    _make_gopher_masses_udf,
    _make_minhash_sig_udf,
    _minhash_lane_minima,
)

_KS = [1, 5, 6, 7, 10]
_ALPHABETS = (
    st.sampled_from("ab"),  # long shared prefixes: keys must be exact
    st.characters(min_codepoint=0x61, max_codepoint=0x7A),  # a-z
    st.sampled_from("AZΣσςİıß"),  # lowered by the gopher tokenizer
    st.sampled_from(" \t\n\x00\xa0"),  # space splits tokens; NUL
    st.characters(min_codepoint=0x300, max_codepoint=0x36F),  # combining
    st.characters(min_codepoint=0x4E00, max_codepoint=0x4E10),  # HAN
    st.characters(min_codepoint=0x1F600, max_codepoint=0x1F60F),  # emoji
    st.characters(min_codepoint=0x30000, max_codepoint=0x10FFFF),
)
# a few words repeated, so that grams and shingles repeat within a doc
_WORD = st.one_of(
    st.sampled_from(["the", "of", "x", "aa", "ab", "Σας", "日本", "\x00"]),
    st.text(st.one_of(*_ALPHABETS), min_size=1, max_size=4),
)
_ROW = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "   ", "\t", "a", "ab", "ab\x00", "\x00"]),
    st.text(st.one_of(*_ALPHABETS), max_size=12),
    st.builds(
        lambda words, sep: sep.join(words),
        st.lists(_WORD, max_size=30),
        st.sampled_from([" ", "  ", "\t", " \x00 "]),
    ),
)
# always in the batch: short rows that differ only by a trailing NUL (a
# padded key must tell them apart) and rows that share their first six
# code points but not their seventh
_EDGE_ROWS = [
    None, "", " ", "  \t ", "\x00", "\x00\x00", "a", "a\x00", "ab",
    "ab\x00", "ab\x00\x00", "abcdef", "abcdefg", "abcdefh", "abcdefgh",
    "aaaaaaaaaaab", "aaaaaaaaaaac", "x x x x x x x x x x x x",
    "x y x y x y x y x y x y", "\U0001F600́ é é",
    "\U00030001\U0010FFFF \U00030001\U0010FFFF \U00030001",
    "İİ İİ ΟΔΟΣ ΟΔΟΣ σ Σ",
]


def _check_minhash(rows, ks):
    assert _minhash_lane_minima(rows, ks) == ref.minhash_sig(rows, ks)


def _check_masses(rows):
    masses, has = _gopher_mass_rows(rows)
    for r, m, h, want in zip(rows, masses.tolist(), has.tolist(),
                             ref.gopher_masses(rows)):
        assert h == (want[0] is not None), r
        if h:
            assert tuple(m) == want, r


def _check_all(rows, ks):
    _check_minhash(rows, ks)
    _check_masses(rows)


@settings(max_examples=80, deadline=None)
@given(rows=st.lists(_ROW, min_size=1, max_size=10), data=st.data())
def test_ops_kernels_match_frozen_references(rows, data):
    """Both kernels equal their references row by row with the edge rows
    in the batch, shuffled, split at random points and one row per
    batch; rows of one batch may have different k."""
    rows = rows + _EDGE_ROWS
    ks = data.draw(st.lists(st.sampled_from(_KS), min_size=len(rows),
                            max_size=len(rows)))
    _check_all(rows, ks)
    for k in _KS:
        _check_minhash(rows, [k] * len(rows))

    perm = data.draw(st.permutations(range(len(rows))))
    _check_all([rows[p] for p in perm], [ks[p] for p in perm])
    cuts = sorted(data.draw(st.lists(st.integers(0, len(rows)), max_size=3)))
    for a, b in zip([0, *cuts], [*cuts, len(rows)]):
        _check_all(rows[a:b], ks[a:b])
    for r, k in zip(rows, ks):
        _check_all([r], [k])


def test_ops_kernels_match_frozen_references_on_documents():
    """A perfbench-shaped ``documents`` batch: Zipfian words and
    near-duplicate rows, so grams and shingles repeat across docs."""
    from perfbench.inputs import documents

    rows = list(documents(300, seed=3)["text"])
    for k in (5, 10):
        _check_minhash(rows, [k] * len(rows))
    _check_masses(rows)


def test_ops_kernel_wrappers_match_frozen_references(spark):
    """The mapInPandas body, and both SQL UDF bodies through ``.func``,
    wrap the kernels as the per-row bodies did: a zero-token doc is no
    row (mapInPandas) or an all-NULL struct (SQL), and a NULL text has
    all-NULL lanes. (``spark`` only parses the UDFs' DDL return types.)"""
    rows = _EDGE_ROWS + ["the cat the cat sat", None, "a b c d e f g h i j k"]
    pdf = pd.DataFrame({"doc_id": range(100, 100 + len(rows)), "text": rows})
    got = _gopher_rep_masses(pdf)
    want = ref.gopher_rep_masses(pdf)
    assert list(got.columns) == list(want.columns)
    assert got.values.tolist() == want.values.tolist()
    assert _gopher_rep_masses(pdf.iloc[:1]).empty

    out = _make_gopher_masses_udf().func(pd.Series(rows))
    assert list(out.columns) == _GOPHER_MASS_FIELDS
    assert [
        tuple(None if pd.isna(v) else int(v) for v in r)
        for r in out.itertuples(index=False)
    ] == ref.gopher_masses(rows)

    ks = [5, 10] * (len(rows) // 2) + [5] * (len(rows) % 2)
    out = _make_minhash_sig_udf().func(pd.Series(rows), pd.Series(ks))
    assert list(out.columns) == [f"h{i}" for i in range(1, 9)]
    assert [tuple(r) for r in out.itertuples(index=False)] == (
        ref.minhash_sig(rows, ks)
    )
