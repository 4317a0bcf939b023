"""Positional scorers over positional postings — ES/Lucene PhraseQuery,
span and intervals queries, natively (SURVEY.md Q5 extension; the
reference delegates phrase matching to Elasticsearch). Only the scorers
live here: a ``with_positions=True`` index is written by the same build
as a tf-only one (index_build), with each posting row carrying one
``pos_enc`` column (operators/codec.py header) — the per-posting tf
doubles as the position count, so no extra length stream is needed.
Everything is segment-vectorized numpy.

Phrase scoring (Lucene PhraseQuery): a doc matches when positions align
adjacently across all phrase terms; tf = number of alignments (phrase
frequency); idf = sum of constituent-term idfs; BM25 as usual. The
per-shard verifier works on integer keys ``doc_code * 2^32 + (pos - j)``
so the n-way adjacency intersection is n-1 sorted np.isin passes.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .wand import Columns, _decode, _empty, _span_topk

_POS_SHIFT = np.uint64(32)  # doc_code * 2^32 + position keys
_POS_MASK = np.uint64(0xFFFFFFFF)


def _key(doc: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Composite (doc_code << 32 | position) keys: one sorted array orders
    every doc's positions, so per-doc window tests are global searchsorted
    calls."""
    return (doc.astype(np.uint64) << _POS_SHIFT) | pos.astype(np.uint64)


def _is_in(values: np.ndarray, terms) -> np.ndarray:
    return (values == terms[0]) if len(terms) == 1 else np.isin(values, terms)


class _Expanded(NamedTuple):
    """A shard's positional postings, one entry per token position."""

    doc: np.ndarray  # doc code of each position (int64)
    term: np.ndarray  # term of each position
    pos: np.ndarray  # the position (int64)
    doc_ids: np.ndarray  # doc code → doc id
    dl: np.ndarray  # doc code → doc length

    def keys(self, term: str) -> np.ndarray:
        """Sorted composite keys of ``term``'s positions."""
        m = self.term == term
        return np.sort(_key(self.doc[m], self.pos[m]))

    def score(self, match_docs: np.ndarray, idf_sum: float, k: int,
              avgdl: float, k1: float, b: float) -> Columns:
        """Span-frequency BM25 (sf = matches per doc code in
        ``match_docs``), local top-k."""
        codes, sf = np.unique(match_docs, return_counts=True)
        return _span_topk(self.doc_ids[codes], sf, self.dl[codes],
                          idf_sum, k, avgdl, k1, b)


def _expand(rows, required=()) -> _Expanded | None:
    """Decode a shard's positional rows and expand them to one entry per
    token position, docs coded by np.unique. ``required``: term sets
    (phrase slots, clause terms) a matching doc must each hit with >= 1
    term — docs missing one are dropped at posting level, before the
    expansion (entry-level doc sets are much smaller than positions; with
    one rare term this collapses the position key-space: the
    conjunctive-query prefilter). None when no doc qualifies."""
    if len(rows["n_docs"]) == 0:
        return None
    r, p = _decode(rows, positions=True)
    terms = np.repeat(r.terms[r.code], p.n)
    uniq_docs, doc_codes = np.unique(p.ids, return_inverse=True)
    keep = None
    for req in required:
        docs_t = np.unique(doc_codes[_is_in(terms, req)])
        keep = docs_t if keep is None else keep[np.isin(keep, docs_t)]
        if keep.size == 0:
            return None
    pos_keep = slice(None) if keep is None else np.repeat(np.isin(doc_codes, keep), p.tfs)
    dl = np.zeros(len(uniq_docs), dtype=np.int64)
    dl[doc_codes] = p.dls  # last write wins; all equal per doc
    return _Expanded(np.repeat(doc_codes, p.tfs)[pos_keep],
                     np.repeat(terms, p.tfs)[pos_keep], p.positions[pos_keep], uniq_docs, dl)


def score_shard_phrase(rows, phrase_terms: list[str], idf_sum: float,
                       k: int, avgdl: float, k1: float, b: float,
                       last_terms: list[str] | None = None) -> Columns:
    """Phrase scoring for one shard: decode the phrase terms' positional
    blocks, count exact adjacent alignments per doc (phrase frequency),
    BM25-score with tf=pf and the summed idf. Returns local top-k.

    ``last_terms``: optional term SET occupying one extra final slot —
    the dictionary expansion of a match_phrase_prefix last term (any of
    the set aligns). A position holds exactly one token, so set
    membership can't double-count an alignment."""
    # phrase as slot matchers: exact slots are singleton lists, the
    # optional prefix slot is the expansion set
    slots: list[list[str]] = [[t] for t in phrase_terms]
    if last_terms is not None:
        slots.append(sorted(last_terms))
    x = _expand(rows, {tuple(s) for s in slots})
    if x is None:
        return _empty()
    # keys for slot j shifted left by j: alignment ⇔ same key as slot 0
    m0 = _is_in(x.term, slots[0])
    target = _key(x.doc[m0], x.pos[m0])
    for j, slot in enumerate(slots[1:], start=1):
        mj = _is_in(x.term, slot)
        target = target[np.isin(target, _key(x.doc[mj], x.pos[mj].astype(np.uint64) - np.uint64(j)))]
    return x.score((target >> _POS_SHIFT).astype(np.int64), idf_sum, k, avgdl, k1, b)


def score_shard_span_near(rows, first: str, second: str,
                          slop: int, idf_sum: float, k: int, avgdl: float,
                          k1: float, b: float) -> Columns:
    """span_near (two clauses, in_order) scoring for one shard: decode
    the two terms' positional blocks; span frequency = count of `second`
    positions with >= 1 `first` position 1..slop+1 tokens BEFORE them —
    the exact relevance.span_near_df contract (each `second` counted at
    most once). BM25 with tf=sf and the summed idf; local top-k.

    The per-doc window test is TWO global np.searchsorted calls over
    composite (doc_code << 32 | position) keys — no per-doc loop: a
    `second` at p has a qualifying `first` iff the sorted first-keys
    contain an entry in [doc|max(p-slop-1, 0), doc|p-1]."""
    x = _expand(rows, [(first,), (second,)])
    if x is None:
        return _empty()
    keys1 = x.keys(first)
    m2 = x.term == second
    d2, p2 = x.doc[m2], x.pos[m2]
    lo = _key(d2, np.maximum(p2 - slop - 1, 0))
    hi = _key(d2, np.maximum(p2 - 1, 0))
    # a position with no possible predecessor (p2 = 0) never matches
    exists = (np.searchsorted(keys1, lo, side="left")
              < np.searchsorted(keys1, hi, side="right")) & (p2 >= 1)
    return x.score(d2[exists], idf_sum, k, avgdl, k1, b)


def score_shard_span_first(rows, term: str, end: int,
                           idf_sum: float, k: int, avgdl: float,
                           k1: float, b: float) -> Columns:
    """span_first for one shard: sf = the term's occurrences within the
    first `end` token positions (DF contract positions 1..end, 1-based;
    stored positions are 0-based, so pos <= end-1)."""
    if len(rows["n_docs"]) == 0:
        return _empty()
    _, p = _decode(rows, positions=True)
    per_pos_entry = np.repeat(np.arange(p.ids.size, dtype=np.int64), p.tfs)
    e_idx, sf = np.unique(per_pos_entry[p.positions <= end - 1], return_counts=True)
    return _span_topk(p.ids[e_idx], sf, p.dls[e_idx], idf_sum, k, avgdl, k1, b)


def score_shard_span_not(rows, include: str, exclude: str,
                         pre: int, post: int, idf_sum: float, k: int,
                         avgdl: float, k1: float, b: float) -> Columns:
    """span_not for one shard: sf = `include` positions p with NO
    `exclude` position q in [p-pre, p+post] (the span_not_df contract).
    The two-sided window test is two global searchsorted calls over
    composite (doc_code << 32 | position) keys — no per-doc loop. Docs
    holding `include` but not `exclude` match with their full tf."""
    x = _expand(rows)
    if x is None:
        return _empty()
    keys_x = x.keys(exclude)
    mi = x.term == include
    di, pi = x.doc[mi], x.pos[mi]
    # searchsorted(hi, 'right') counts keys <= hi — inclusive both ends
    rejected = (np.searchsorted(keys_x, _key(di, np.maximum(pi - pre, 0)), side="left")
                < np.searchsorted(keys_x, _key(di, pi + post), side="right"))
    return x.score(di[~rejected], idf_sum, k, avgdl, k1, b)


def score_shard_intervals(rows, terms: list[str], max_gaps: int,
                          ordered: bool, idf_sum: float, k: int,
                          avgdl: float, k1: float, b: float) -> Columns:
    """ES intervals `match` rule for one shard (contract exactly
    relevance.intervals_match_df):

    ordered, n terms: span freq counts last-term anchor positions a that
    complete an increasing chain q0 < q1 < ... < a with
    (a - q0 + 1) - n <= max_gaps. A chain exists iff the GREEDY maximal
    chain (each level the largest predecessor < the level above —
    maximizes q0 by exchange) satisfies the bound, so the check is n-1
    vectorized searchsorted walks over per-term composite
    (doc_code << 32 | position) keys — no per-doc loop.

    unordered, 2 terms: anchors are the SECOND term's positions; a
    qualifying first-term occurrence a has |p - a| - 1 <= max_gaps and
    a != p — one two-sided searchsorted window count with a self-hit
    correction when the clause terms are equal."""
    # every clause term must occur in a matching doc
    x = _expand(rows, [(t,) for t in set(terms)])
    if x is None:
        return _empty()
    mg = int(max_gaps)
    ma = x.term == (terms[-1] if ordered else terms[1])
    a_doc = x.doc[ma].astype(np.uint64)
    a_pos = x.pos[ma]

    if not ordered:
        k0 = x.keys(terms[0])
        if mg < 0:
            lo = a_doc << _POS_SHIFT
            hi = (a_doc << _POS_SHIFT) | _POS_MASK
        else:
            lo = _key(a_doc, np.maximum(a_pos - mg - 1, 0))
            hi = _key(a_doc, a_pos + mg + 1)
        cnt = (np.searchsorted(k0, hi, side="right")
               - np.searchsorted(k0, lo, side="left"))
        if terms[0] == terms[1]:
            cnt = cnt - 1  # the anchor itself sits inside its own window
        alive = cnt > 0
    else:
        per_term_keys = {t: x.keys(t) for t in set(terms[:-1])}
        cur = _key(a_doc, a_pos)
        alive = np.ones(cur.size, dtype=bool)
        for i in range(len(terms) - 2, -1, -1):
            ki = per_term_keys[terms[i]]
            idx = np.searchsorted(ki, cur, side="left") - 1
            ok = idx >= 0
            idx_c = np.maximum(idx, 0)
            prev = ki[idx_c]
            ok &= (prev >> _POS_SHIFT) == (cur >> _POS_SHIFT)
            alive &= ok
            cur = np.where(ok, prev, cur)
        if mg >= 0:
            q0 = (cur & _POS_MASK).astype(np.int64)
            alive &= (a_pos - q0 + 1 - len(terms)) <= mg
    return x.score(x.doc[ma][alive], idf_sum, k, avgdl, k1, b)


def score_shard_span_contain(rows, first: str, second: str,
                             little: str, slop: int, within: bool,
                             idf_sum: float, k: int, avgdl: float,
                             k1: float, b: float) -> Columns:
    """span_containing / span_within for one shard (contract exactly
    relevance.span_containing_df / span_within_df). Big spans are the
    ordered pairs (a, b2): `first` at a, `second` at b2, 1 <= b2-a <=
    slop+1; little is a single term at q.

    containing (within=False): anchors are `second` positions b2; a b2
    qualifies iff its MINIMAL valid start amin has a little occurrence
    in [amin, b2] (the minimal start gives the widest window, so the
    exists-any-start test reduces to one searchsorted pair). sf = count
    of qualifying b2.

    within (within=True): anchors are little positions q; since a <= q
    <= b2 and b2 <= a+slop+1 force b2 in [q, q+slop+1], the test loops
    over the slop+2 candidate offsets — each a vectorized exact-match
    probe into the `second` keys plus a start-window existence probe
    with the a <= q cap. sf = count of qualifying q."""
    x = _expand(rows)
    if x is None:
        return _empty()
    keys1 = x.keys(first)
    keys2 = x.keys(second)
    if keys1.size == 0 or keys2.size == 0:
        return _empty()  # no big span in this shard

    def amin_ok(d: np.ndarray, b2: np.ndarray, a_cap: np.ndarray):
        """Per anchor: does a valid big start a in [b2-slop-1,
        min(a_cap, b2-1)] exist, and if so its minimal value."""
        lo = _key(d, np.maximum(b2 - slop - 1, 0))
        cap = np.minimum(a_cap, b2 - 1)
        hi = _key(d, np.maximum(cap, 0))
        i_lo = np.searchsorted(keys1, lo, side="left")
        ok = (b2 >= 1) & (cap >= 0) & (
            i_lo < np.searchsorted(keys1, hi, side="right"))
        amin = (keys1[np.minimum(i_lo, keys1.size - 1)]
                & _POS_MASK).astype(np.int64)
        return ok, amin

    if not within:
        ma = x.term == second
        d, b2 = x.doc[ma], x.pos[ma]
        ok, amin = amin_ok(d, b2, b2 - 1)
        keysq = x.keys(little)
        alive = ok & (np.searchsorted(keysq, _key(d, np.maximum(amin, 0)), side="left")
                      < np.searchsorted(keysq, _key(d, b2), side="right"))
    else:
        ma = x.term == little
        d, q = x.doc[ma], x.pos[ma]
        alive = np.zeros(q.size, dtype=bool)
        for off in range(0, slop + 2):
            b2 = q + off
            key2 = _key(d, b2)
            i2 = np.searchsorted(keys2, key2, side="left")
            hit = (i2 < keys2.size) & (keys2[np.minimum(i2, keys2.size - 1)]
                                       == key2)
            ok, _ = amin_ok(d, b2, q)
            alive |= hit & ok
    return x.score(d[alive], idf_sum, k, avgdl, k1, b)
