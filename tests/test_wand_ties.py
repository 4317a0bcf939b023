"""Boundary-tie regression for the shard scorers: when many docs tie at the
k-th score, every path must return the SMALLEST doc_ids (score desc, doc_id
asc contract). Reproduces the argpartition candidate-drop bug: 40 equal-score
docs with k=5 previously returned [121,123,124,125,126] from the exhaustive
path while WAND and brute force returned [100..104].
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fluent_plugin_elasticsearch_spark.operators import positions, search, wand
from fluent_plugin_elasticsearch_spark.operators.codec import decode_postings, delta_encode, varint_encode
from fluent_plugin_elasticsearch_spark.operators.search import TermDictionary, _ResidentPostings
from fluent_plugin_elasticsearch_spark.operators.wand import (
    _tfn,
    score_shard_batch,
    score_shard_exhaustive,
    score_shard_wand,
)

K1, B = 1.2, 0.75
AVGDL = 10.0


def _blocks(term: str, doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
            block_size: int = 16) -> list[dict]:
    rows = []
    for s in range(0, doc_ids.size, block_size):
        e = min(s + block_size, doc_ids.size)
        ids, tf, dl = doc_ids[s:e], tfs[s:e], dls[s:e]
        rows.append({
            "term": term,
            "first_doc": int(ids[0]),
            "last_doc": int(ids[-1]),
            "n_docs": int(ids.size),
            "docs_enc": delta_encode(ids),
            "tfs_enc": varint_encode(tf),
            "dls_enc": varint_encode(dl),
            "max_tfn": float(_tfn(tf, dl, AVGDL, K1, B).max()),
        })
    return rows


@pytest.fixture()
def tied_pdf() -> pd.DataFrame:
    # 40 docs 100..139, identical tf and dl → identical scores
    ids = np.arange(100, 140, dtype=np.int64)
    tfs = np.full(40, 3, dtype=np.int64)
    dls = np.full(40, 10, dtype=np.int64)
    return pd.DataFrame(_blocks("t", ids, tfs, dls))


def test_exhaustive_keeps_boundary_ties(tied_pdf):
    got = pd.DataFrame(score_shard_exhaustive(tied_pdf, {"t": 1.5}, 5, AVGDL, K1, B))
    assert got["doc_id"].tolist() == [100, 101, 102, 103, 104]
    assert got["score"].nunique() == 1


def test_wand_keeps_boundary_ties(tied_pdf):
    got = score_shard_wand(tied_pdf, {"t": 1.5}, 5, AVGDL, K1, B)
    assert got["doc_id"].tolist() == [100, 101, 102, 103, 104]


def test_batch_keeps_boundary_ties(tied_pdf):
    got = score_shard_batch(tied_pdf, {7: {"t": 1.5}}, 5, AVGDL, K1, B)
    assert got["query_id"].tolist() == [7] * 5
    assert got["doc_id"].tolist() == [100, 101, 102, 103, 104]


def test_partial_tie_at_boundary():
    """Scores: docs 0..9 high, then 30 tied at the k-th boundary (k=12):
    the two tied slots must be the smallest tied doc_ids."""
    ids = np.arange(200, 240, dtype=np.int64)
    tfs = np.concatenate([np.full(10, 9), np.full(30, 2)]).astype(np.int64)
    dls = np.full(40, 10, dtype=np.int64)
    pdf = pd.DataFrame(_blocks("t", ids, tfs, dls))
    for fn in (score_shard_exhaustive,
               lambda p, i, k, a, k1, b: score_shard_wand(p, i, k, a, k1, b)):
        got = fn(pdf, {"t": 2.0}, 12, AVGDL, K1, B)
        assert got["doc_id"].tolist() == list(range(200, 210)) + [210, 211]


def test_batch_multiquery_factorized_lut(tied_pdf):
    """Queries hitting disjoint/absent terms route through the factorized
    idf LUT: absent-term query returns nothing, present-term query scores."""
    extra = pd.DataFrame(_blocks("u", np.arange(500, 510, dtype=np.int64),
                                 np.full(10, 1, dtype=np.int64),
                                 np.full(10, 10, dtype=np.int64)))
    pdf = pd.concat([tied_pdf, extra], ignore_index=True)
    got = pd.DataFrame(score_shard_batch(
        pdf, {1: {"t": 1.0}, 2: {"u": 2.0}, 3: {"zzz": 9.9}, 4: {"t": 1.0, "u": 2.0}},
        3, AVGDL, K1, B))
    by_q = {q: g["doc_id"].tolist() for q, g in got.groupby("query_id")}
    assert by_q[1] == [100, 101, 102]
    assert by_q[2] == [500, 501, 502]
    assert 3 not in by_q
    # q4: docs with both terms don't exist; 'u' idf=2.0 with tf=1 vs 't'
    # idf=1.0 tf=3 — verify against a brute-force recomputation
    t_score = 1.0 * float(_tfn(np.array([3]), np.array([10]), AVGDL, K1, B)[0])
    u_score = 2.0 * float(_tfn(np.array([1]), np.array([10]), AVGDL, K1, B)[0])
    expect = [100, 101, 102] if t_score >= u_score else [500, 501, 502]
    assert by_q[4] == expect


# --- order invariance -------------------------------------------------------
# applyInPandas hands a kernel its shard's block rows as a pandas frame in no
# particular order, while the resident (warmed) path hands them over as
# numpy columns pointing into the postings it decoded at open: every kernel
# must return the same columns, bit for bit, whatever the form and order of
# its rows.

VOCAB = ["a", "b", "c", "d", "e"]


def _positional_blocks(n_docs: int = 240, block_size: int = 8, seed: int = 3) -> pd.DataFrame:
    """Block rows (positions included) of a seeded random corpus over VOCAB,
    laid out as the build writes them: per term, doc-sorted runs of at most
    ``block_size`` postings."""
    rng = np.random.default_rng(seed)
    docs = {100 + 3 * i: rng.choice(VOCAB, int(rng.integers(3, 30)),
                                    p=[0.4, 0.25, 0.15, 0.12, 0.08]).tolist()
            for i in range(n_docs)}
    avgdl = float(np.mean([len(t) for t in docs.values()]))
    rows = []
    for term in VOCAB:
        post = [(d, [i for i, t in enumerate(toks) if t == term], len(toks))
                for d, toks in sorted(docs.items()) if term in toks]
        for s in range(0, len(post), block_size):
            blk = post[s:s + block_size]
            ids = np.array([d for d, _, _ in blk], dtype=np.int64)
            tf = np.array([len(p) for _, p, _ in blk], dtype=np.int64)
            dl = np.array([n for _, _, n in blk], dtype=np.int64)
            rows.append({
                "term": term, "first_doc": int(ids[0]), "last_doc": int(ids[-1]),
                "n_docs": int(ids.size), "docs_enc": delta_encode(ids),
                "tfs_enc": varint_encode(tf), "dls_enc": varint_encode(dl),
                "max_tfn": float(_tfn(tf, dl, avgdl, K1, B).max()),
                "pos_enc": b"".join(delta_encode(np.array(p, dtype=np.uint64)) for _, p, _ in blk),
            })
    return pd.DataFrame(rows), avgdl


# every kernel gets rows of exactly its query's terms, as in serving: all
# of VOCAB (span_first gets only its term's rows)
IDFS = {t: 0.3 + 0.4 * i for i, t in enumerate(VOCAB)}
# the head terms' bounds fall below θ quickly, so WAND prunes
WAND_IDFS = {"a": 0.05, "b": 0.1, "c": 1.5, "d": 2.0, "e": 3.0}
TOPK = {"doc_id": "int64", "score": "float64"}

def _only(rows, term: str):
    """``rows`` (a frame or resident rows) cut to ``term``'s blocks."""
    keep = np.asarray(rows["term"]) == term
    if isinstance(rows, pd.DataFrame):
        return rows[keep]
    return wand.Resident({c: v[keep] for c, v in rows.items()}, rows.store)


# name → (kernel(rows, avgdl), result columns)
KERNELS = {
    "exhaustive": (lambda p, a: score_shard_exhaustive(p, IDFS, 7, a, K1, B), TOPK),
    "exhaustive_msm": (lambda p, a: score_shard_exhaustive(p, IDFS, 7, a, K1, B, 3), TOPK),
    "wand": (lambda p, a: score_shard_wand(p, WAND_IDFS, 7, a, K1, B), TOPK),
    "span_or": (lambda p, a: wand.score_shard_span_or(p, 1.7, 7, a, K1, B), TOPK),
    "weighted_tf": (lambda p, a: wand.score_shard_weighted_tf(p, {t: 7 * i for i, t in enumerate(VOCAB)}),
                    {"doc_id": "int64", "score_u": "int64"}),
    "matched": (lambda p, a: wand.score_shard_matched(p, IDFS, a, K1, B), TOPK),
    "matched_gated": (lambda p, a: wand.score_shard_matched(
        p, IDFS, a, K1, B, groups=[["b", "e"], ["d"]], quantize=True), TOPK),
    "batch": (lambda p, a: score_shard_batch(p, {1: IDFS, 2: {"e": 1.0}, 3: {"zz": 1.0}}, 7, a, K1, B),
              {"query_id": "int64", **TOPK}),
    "dismax": (lambda p, a: wand.score_shard_dismax(p, [{"a": 1.0, "b": 1.5}, {"e": 2.0}], 0.3,
                                                    7, a, K1, B), TOPK),
    "phrase": (lambda p, a: positions.score_shard_phrase(p, ["a", "b"], 2.0, 7, a, K1, B), TOPK),
    "phrase_prefix": (lambda p, a: positions.score_shard_phrase(
        p, ["a"], 2.0, 7, a, K1, B, last_terms=["b", "c"]), TOPK),
    "span_near": (lambda p, a: positions.score_shard_span_near(p, "b", "a", 2, 2.0, 7, a, K1, B), TOPK),
    "span_first": (lambda p, a: positions.score_shard_span_first(
        _only(p, "c"), "c", 5, 1.1, 7, a, K1, B), TOPK),
    "span_not": (lambda p, a: positions.score_shard_span_not(p, "a", "b", 1, 1, 1.1, 7, a, K1, B), TOPK),
    "intervals_ordered": (lambda p, a: positions.score_shard_intervals(
        p, ["a", "b", "c"], 4, True, 2.0, 7, a, K1, B), TOPK),
    "intervals_unordered": (lambda p, a: positions.score_shard_intervals(
        p, ["c", "a"], 1, False, 2.0, 7, a, K1, B), TOPK),
    "span_containing": (lambda p, a: positions.score_shard_span_contain(
        p, "a", "b", "c", 3, False, 2.0, 7, a, K1, B), TOPK),
    "span_within": (lambda p, a: positions.score_shard_span_contain(
        p, "a", "b", "c", 3, True, 2.0, 7, a, K1, B), TOPK),
}


def test_order_invariance_covers_every_kernel():
    kernels = {n for m in (wand, positions) for n in dir(m) if n.startswith("score_shard_")}
    covered = {n for fn, _ in KERNELS.values() for n in fn.__code__.co_names}
    assert kernels <= covered


def _resident(pdf: pd.DataFrame, path) -> wand.Resident:
    """The rows as a warmed index hands them to a kernel: ``pdf`` written
    as one shard's postings (and its terms as the term dictionary), read
    and decoded by search._ResidentPostings, and all of its rows taken
    back through its ``blocks``."""
    terms = sorted(set(pdf["term"]))
    os.makedirs(path / "postings" / "shard=0")
    os.makedirs(path / "term_stats")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   path / "postings" / "shard=0" / "part-0.parquet")
    pq.write_table(pa.table({"term": terms, "df": [1] * len(terms)}),
                   path / "term_stats" / "part-0.parquet")
    store = _ResidentPostings(str(path / "postings"), TermDictionary(str(path / "term_stats")))
    (rows,) = store.blocks(terms)
    return rows


@pytest.mark.parametrize("chunk", [1, 3, 4, search.DECODE_CHUNK])
def test_resident_decodes_in_chunks(chunk, monkeypatch, tmp_path):
    """warm() decodes a shard DECODE_CHUNK postings at a time, widening a
    column when a later chunk needs a wider dtype: the gathered postings
    equal decode_postings of the same rows, also when a chunk multiple
    falls inside the shard's last row."""
    monkeypatch.setattr(search, "DECODE_CHUNK", chunk)
    pdf, _ = _positional_blocks()
    # the code-point-last term: 5 postings whose ids, tfs, dls and
    # positions outgrow the earlier rows' uint8/uint16 columns
    ids = np.array([70_000, 70_001, 1 << 20, 1 << 33, (1 << 40) + 3], dtype=np.int64)
    tf = np.array([1, 2, 300, 1, 2], dtype=np.int64)
    dl = np.array([5, 5, 70_000, 5, 1 << 17], dtype=np.int64)
    pos = [np.arange(t, dtype=np.uint64) * 1000 for t in tf]
    last = {"term": "zz", "first_doc": int(ids[0]), "last_doc": int(ids[-1]), "n_docs": 5,
            "docs_enc": delta_encode(ids), "tfs_enc": varint_encode(tf),
            "dls_enc": varint_encode(dl), "max_tfn": 1.0,
            "pos_enc": b"".join(delta_encode(p) for p in pos)}
    pdf = pd.concat([pdf, pd.DataFrame([last])], ignore_index=True)
    start = int(pdf["n_docs"].sum()) - 5
    if chunk < 5:
        assert (start + 4) // chunk > start // chunk  # a chunk multiple inside the last row
    rows = _resident(pdf.sample(frac=1.0, random_state=0), tmp_path)
    assert rows.store.ids.dtype == np.int64 and rows.store.dls.dtype == np.uint32
    assert rows.store.tfs.dtype == np.uint16 and rows.store.positions.dtype == np.uint32
    _, got = wand._decode(rows, positions=True)
    want = decode_postings(pdf.sort_values(["term", "first_doc"]), positions=True)
    for g, w in zip(got, want):
        assert g.dtype == np.int64
        np.testing.assert_array_equal(g, w)


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_ignores_row_order(name, monkeypatch, tmp_path):
    # one block per WAND window, so the sweep crosses many windows
    monkeypatch.setattr(wand, "NB_PER_TERM", 1)
    kernel, _ = KERNELS[name]
    pdf, avgdl = _positional_blocks()
    want = pd.DataFrame(kernel(pdf, avgdl))
    assert len(want) > 0
    # the resident rows decoded in one chunk, and in chunks that split rows
    for seed, chunk in enumerate((search.DECODE_CHUNK, 3, 7)):
        monkeypatch.setattr(search, "DECODE_CHUNK", chunk)
        shuffled = pdf.sample(frac=1.0, random_state=seed)
        for rows in (shuffled, _resident(shuffled, tmp_path / str(seed))):
            got = pd.DataFrame(kernel(rows, avgdl))
            pd.testing.assert_frame_equal(got, want, check_exact=True)


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_on_zero_rows_returns_typed_empty_frame(name, tmp_path):
    kernel, cols = KERNELS[name]
    pdf, avgdl = _positional_blocks()
    resident = _resident(pdf, tmp_path)
    none = wand.Resident({c: v[:0] for c, v in resident.items()}, resident.store)
    for rows in (pdf.iloc[:0], none):
        got = pd.DataFrame(kernel(rows, avgdl))
        assert len(got) == 0
        assert {c: str(t) for c, t in got.dtypes.items()} == cols


def test_span_within_without_big_span_terms_is_empty():
    """A shard holding `first` and `little` but not `second` has no big
    span: span_within matches nothing there (it used to index an empty
    key array)."""
    pdf, avgdl = _positional_blocks()
    got = pd.DataFrame(positions.score_shard_span_contain(pdf[pdf["term"] != "b"], "a", "b", "c",
                                                          3, True, 2.0, 7, avgdl, K1, B))
    assert len(got) == 0 and list(got.columns) == ["doc_id", "score"]
