"""The index build's posting encoder, Spark-free: the tokenizer output
(extraction._doc_terms), the phase-1 partial encoder and the phase-2 block
merge (index_build) for tf-only and positional builds. Row order within a
group must not change a single byte, an empty group gives a typed empty
frame, and ``positions`` only adds the ``pos_enc`` column."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fluent_plugin_elasticsearch_spark.extraction import _doc_terms
from fluent_plugin_elasticsearch_spark.operators.codec import decode_postings
from fluent_plugin_elasticsearch_spark.operators.index_build import (
    _encode_partials,
    _make_merge_fn,
    _schemas,
)

AVGDL, K1, B, BLOCK = 12.0, 1.2, 0.75, 4
VOCAB = [f"w{i}" for i in range(30)] + ["café", "über", "日"]


def _texts(n: int = 150) -> list[str]:
    rng = np.random.default_rng(11)
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    return [" ".join(rng.choice(VOCAB, size=rng.integers(0, 25), p=p / p.sum()))
            for _ in range(n)]


def _doc_rows(positions: bool) -> pd.DataFrame:
    """Phase-1 input rows: one shard, three salts."""
    texts = _texts()
    rng = np.random.default_rng(5)
    keys = pd.DataFrame({
        "shard": 2,
        "salt": rng.integers(0, 3, len(texts)),
        "doc_id": rng.choice(2**40, len(texts), replace=False),
    })
    return pd.concat([keys, _doc_terms(pd.Series(texts), str.split, positions)], axis=1)


def _phase1(rows: pd.DataFrame) -> pd.DataFrame:
    return pd.concat([_encode_partials(g) for _, g in rows.groupby("salt")], ignore_index=True)


def _merge(partials: pd.DataFrame, positions: bool) -> pd.DataFrame:
    return _make_merge_fn(AVGDL, K1, B, BLOCK, positions)(partials)


def _canonical(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return pdf.sort_values(keys, kind="stable").reset_index(drop=True)


def _names(schema: str) -> list[str]:
    return [f.split()[0] for f in schema.split(", ")]


def test_tokenizer_output_is_one_layout():
    """Both layouts carry the same terms, tfs and doc_len; the positional
    one adds each term's ascending token positions."""
    texts = _texts()
    tf = _doc_terms(pd.Series(texts), str.split, False)
    pos = _doc_terms(pd.Series(texts), str.split, True)
    assert list(tf.columns) == ["terms", "tfs", "doc_len"]
    assert list(pos.columns) == ["terms", "tfs", "poss", "doc_len"]
    for text, a, b in zip(texts, tf.itertuples(), pos.itertuples()):
        toks = text.split()
        assert a.doc_len == b.doc_len == len(toks)
        assert dict(zip(a.terms, a.tfs)) == dict(zip(b.terms, b.tfs))
        offsets = np.cumsum(b.tfs) - b.tfs
        for term, tf_, o in zip(b.terms, b.tfs, offsets):
            assert list(b.poss[o:o + tf_]) == [i for i, t in enumerate(toks) if t == term]


@pytest.mark.parametrize("positions", [False, True], ids=["tf", "pos"])
def test_phase1_and_phase2_ignore_row_order(positions):
    rows = _doc_rows(positions)
    partials = _phase1(rows)
    blocks = _merge(partials, positions)
    assert list(partials.columns) == _names(_schemas(positions)[0])
    assert set(blocks.columns) == set(_names(_schemas(positions)[1]))
    assert len(blocks) > 2 * len(VOCAB)
    want_p = _canonical(partials, ["salt", "term"])
    want_b = _canonical(blocks, ["term", "block_id"])
    rng = np.random.default_rng(0)
    for _ in range(3):
        got_p = _phase1(rows.iloc[rng.permutation(len(rows))])
        pd.testing.assert_frame_equal(_canonical(got_p, ["salt", "term"]), want_p,
                                      check_exact=True)
        got_b = _merge(partials.iloc[rng.permutation(len(partials))], positions)
        pd.testing.assert_frame_equal(_canonical(got_b, ["term", "block_id"]), want_b,
                                      check_exact=True)


def test_positions_only_add_pos_enc():
    """The positional build's blocks equal the tf-only build's in every
    other column, and their pos_enc decodes to each posting's positions."""
    rows = _doc_rows(True)
    tf_blocks = _canonical(_merge(_phase1(_doc_rows(False)), False), ["term", "block_id"])
    pos_blocks = _canonical(_merge(_phase1(rows), True), ["term", "block_id"])
    pd.testing.assert_frame_equal(pos_blocks.drop(columns="pos_enc"), tf_blocks,
                                  check_exact=True)
    want = {}
    for r in rows.itertuples():
        offsets = np.cumsum(r.tfs) - r.tfs
        for term, tf_, o in zip(r.terms, r.tfs, offsets):
            want[(term, r.doc_id)] = list(r.poss[o:o + tf_])
    p = decode_postings(pos_blocks, positions=True)
    terms = np.repeat(pos_blocks["term"].to_numpy(), p.n)
    starts = np.cumsum(p.tfs) - p.tfs
    got = {(t, d): list(p.positions[s:s + n])
           for t, d, s, n in zip(terms, p.ids, starts, p.tfs)}
    assert got == want


@pytest.mark.parametrize("positions", [False, True], ids=["tf", "pos"])
def test_empty_group_gives_typed_empty_frame(positions):
    partials = _encode_partials(_doc_rows(positions).iloc[:0])
    blocks = _merge(partials, positions)
    enc = {c: "object" for c in ("docs_enc", "tfs_enc", "dls_enc")}
    enc.update({"pos_enc": "object"} if positions else {})
    assert len(partials) == 0 and len(blocks) == 0
    assert {c: str(t) for c, t in partials.dtypes.items()} == {
        "shard": "int64", "term": "object", "salt": "int64", "n_docs": "int64", **enc}
    assert {c: str(t) for c, t in blocks.dtypes.items()} == {
        "shard": "int64", "term": "object", "block_id": "int64", "n_docs": "int64",
        "first_doc": "int64", "last_doc": "int64", "max_tfn": "float64", **enc}
