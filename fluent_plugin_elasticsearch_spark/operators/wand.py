"""Shard-local BM25 scoring over compressed posting blocks: exhaustive
(vectorized numpy) and block-max WAND (document-at-a-time with block
skipping) — the ES-side scoring the reference invokes via `client.search`
(out_elasticsearch.rb:957, in_elasticsearch.rb:275), implemented natively.

Every kernel takes one shard's posting blocks of the query terms and
returns that shard's local result as a dict of typed numpy columns; the
caller merges the shards into the global top-k (search.InvertedIndex.
_per_shard). The rows come from either of two paths:

* resident — on a warmed index, in-process on the driver: ``Resident``
  rows, numpy columns taken from the shard's decoded store in memory
  (each row's ``offset`` into the shard's decoded postings instead of
  the ``*_enc`` bytes), with no Spark job and no pandas object;
* Spark — on an unwarmed index, the pandas frame ``applyInPandas`` hands
  each shard group (postings.filter(term ∈ query) → groupBy(shard)).

``_rows`` turns either into the one row type the kernels read: numpy
columns in (term, first_doc) order, so a result does not depend on the
order the rows arrive in, with per-row term codes for every term→value
lookup. Work per shard is proportional to the query terms' posting data
only (doc lengths are inlined in the blocks). The blocks' columns are
laid out in the operators/codec.py header; every kernel gets its
postings from ``_postings``, which gathers resident rows from the decoded
columns and decodes Spark rows with codec.decode_postings, and scores
with the one BM25 tf-factor ``_tfn`` the build also uses for
``max_tfn``.

Tie-break everywhere: (score desc, doc_id asc) — rank-identical contract.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .codec import Postings, decode_postings, gather_segments, segment_index

EPS = 1e-12  # conservative slack on float upper bounds (sum-order slop)

TOPK_COLS = {"doc_id": "int64", "score": "float64"}

Columns = dict[str, np.ndarray]  # a kernel's result: column name → typed array


def _empty(cols: dict[str, str] = TOPK_COLS) -> Columns:
    """A kernel's typed empty result."""
    return {c: np.empty(0, dtype=t) for c, t in cols.items()}


def _tfn(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float,
         weight: float = 1.0) -> np.ndarray:
    """The BM25 tf-factor weight·(k1+1)·tf / (tf + k1·(1−b+b·dl/avgdl)).
    With weight 1 it is the idf-independent factor: the build stores its
    block maximum as ``max_tfn`` and the kernels multiply it by idf, so
    WAND's block bound and the scores come from one formula (pruning is
    safe only while they agree bit for bit). With the summed clause idfs
    as weight it is a span-frequency score (_span_topk)."""
    tff = tf.astype(np.float64)
    return weight * (k1 + 1.0) * tff / (tff + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))


class Resident(dict):
    """A warmed shard's posting rows (search._ResidentPostings.blocks):
    the row columns, where each row's ``offset`` (and, positional,
    ``pos_offset``) points into ``store``, the shard's decoded postings in
    their narrow dtypes, in place of the ``*_enc`` bytes."""

    def __init__(self, cols: dict[str, np.ndarray], store: Postings):
        super().__init__(cols)
        self.store = store


class Rows(NamedTuple):
    """A shard's posting rows in (term, first_doc) order — the order every
    per-doc float sum follows, whatever order the rows arrived in."""

    cols: dict[str, np.ndarray]  # every row column, numpy, in that order
    terms: np.ndarray  # the distinct terms, ascending
    code: np.ndarray  # each row's index into ``terms``
    store: Postings | None  # the decoded postings Resident rows point into

    def per_row(self, by_term: dict, dtype) -> np.ndarray:
        """``by_term`` (term → value, holding every row's term) per row."""
        return np.array([by_term[t] for t in self.terms], dtype=dtype)[self.code]


def _rows(rows) -> Rows:
    """The one row normaliser: ``rows`` is the pandas frame applyInPandas
    hands a kernel, or the ``Resident`` rows of a warmed index. One
    np.unique codes the terms and one stable lexsort over (code,
    first_doc) orders the rows."""
    terms, code = np.unique(np.asarray(rows["term"], dtype=object), return_inverse=True)
    order = np.lexsort((np.asarray(rows["first_doc"]), code))
    return Rows({c: np.asarray(rows[c])[order] for c in rows}, terms, code[order],
                rows.store if isinstance(rows, Resident) else None)


def _postings(r: Rows, sel: np.ndarray | None = None, positions: bool = False) -> Postings:
    """The postings of ``r``'s rows (with ``sel``, of the rows it picks,
    in that order), as the int64 columns codec.decode_postings returns:
    gathered from the decoded store when the rows carry offsets, else
    decoded from their ``*_enc`` bytes."""
    if r.store is None:
        return decode_postings(r.cols, sel, positions)
    at = slice(None) if sel is None else sel
    n = r.cols["n_docs"][at].astype(np.int64)
    idx = segment_index(r.cols["offset"][at], n)
    ids, tfs, dls = (col[idx].astype(np.int64) for col in r.store[:3])
    pos = None
    if positions:
        per_row = np.add.reduceat(tfs, np.cumsum(n) - n) if n.size else n
        pos = gather_segments(r.store.positions, r.cols["pos_offset"][at], per_row).astype(np.int64)
    return Postings(ids, tfs, dls, n, pos)


def _decode(rows, positions: bool = False) -> tuple[Rows, Postings]:
    """A shard's rows (``_rows``) and their postings."""
    r = _rows(rows)
    return r, _postings(r, positions=positions)


def _runs(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(stable argsort of ids, start of each equal-id run in that order)."""
    order = np.argsort(ids, kind="stable")
    return order, np.concatenate([[0], np.nonzero(np.diff(ids[order]))[0] + 1])


def _groupsum(ids: np.ndarray, contrib: np.ndarray,
              runs: tuple[np.ndarray, np.ndarray] | None = None
              ) -> tuple[np.ndarray, np.ndarray]:
    """(unique ids asc, per-id contribution sums) — the scatter-add at the
    heart of every exhaustive kernel, as STABLE argsort + add.reduceat
    instead of np.unique + np.add.at (the unbuffered scatter-add is the
    slowest op in the high-mass tail; reduceat is a sequential C pass,
    ~1.7x faster at 5M postings). Bit-identical scores: the stable sort
    keeps each doc's postings in original (term-sorted) order and reduceat
    sums them sequentially — the same IEEE order add.at produced. Pass
    ``runs`` (from _runs) to reuse the grouping for other per-id
    reductions."""
    if ids.size == 0:
        return ids.astype(np.int64), contrib
    order, starts = _runs(ids) if runs is None else runs
    return ids[order[starts]], np.add.reduceat(contrib[order], starts)


def _top(ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact (score desc, doc_id asc) top-k. The candidates are every doc
    at or above the k-th score (argpartition threshold): docs tied at the
    boundary must survive so the lexsort can pick the smallest doc_ids
    (dropping them returned larger ids and broke the rank-identity
    contract). ``k <= 0`` (ES ``size: 0``) keeps no row."""
    if k <= 0:
        return ids[:0], scores[:0]
    if ids.size > k:
        part = np.argpartition(-scores, k - 1)
        mask = scores >= scores[part[:k]].min()
        ids, scores = ids[mask], scores[mask]
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def _topk(ids: np.ndarray, scores: np.ndarray, k: int) -> Columns:
    ids, scores = _top(ids, scores, k)
    return {"doc_id": ids, "score": scores}


def _span_topk(doc_ids: np.ndarray, sf: np.ndarray, dl: np.ndarray,
               idf_sum: float, k: int, avgdl: float, k1: float,
               b: float) -> Columns:
    """Span-frequency BM25 (tf = sf, one saturation with the summed clause
    idfs), local top-k — the tail of span_or and the positional kernels."""
    return _topk(doc_ids, _tfn(sf, dl, avgdl, k1, b, idf_sum), k)


def _per_posting(r: Rows, p: Postings, by_term: dict, dtype) -> np.ndarray:
    """``by_term`` (term → value) per posting of the decoded rows."""
    return np.repeat(r.per_row(by_term, dtype), p.n)


def score_shard_exhaustive(rows, idfs: dict[str, float], k: int,
                           avgdl: float, k1: float, b: float,
                           msm: int = 1) -> Columns:
    """Decode every block of the query terms in this shard, accumulate BM25
    fully vectorized (_groupsum: stable argsort + add.reduceat), return
    local top-k. This is the throughput path (no per-doc Python).

    ``msm`` (minimum_should_match): a doc qualifies only if it contains
    >= msm DISTINCT query terms (ES match operator=and ≡ msm =
    len(terms)). Postings hold one entry per (term, doc), so the matched
    term count is the doc's run length in the grouping pass. The gate
    must run BEFORE top-k (not after WAND): block-max skipping ranks
    unqualified docs too, so a post-filter could return < k or wrong
    members."""
    if len(rows["n_docs"]) == 0:
        return _empty()
    r, p = _decode(rows)
    contrib = _per_posting(r, p, idfs, np.float64) * _tfn(p.tfs, p.dls, avgdl, k1, b)
    runs = _runs(p.ids)
    uniq, scores = _groupsum(p.ids, contrib, runs)
    if msm > 1:
        keep = np.diff(np.append(runs[1], p.ids.size)) >= msm
        uniq, scores = uniq[keep], scores[keep]
    return _topk(uniq, scores, k)


def score_shard_span_or(rows, idf_sum: float, k: int, avgdl: float, k1: float,
                        b: float) -> Columns:
    """span_or over single-term clauses for one shard: span frequency =
    TOTAL occurrences of any clause term (Σ tf across the doc's matched
    postings), ONE saturation with the summed clause idfs — the span
    contract (relevance.span_or_df), not the per-term BM25 sum. tf
    postings only; no positions needed. Returns local top-k."""
    if len(rows["n_docs"]) == 0:
        return _empty()
    r, p = _decode(rows)
    runs = _runs(p.ids)
    uniq, sf = _groupsum(p.ids, p.tfs.astype(np.float64), runs)
    # dl per unique doc: first posting's dl (all equal per doc)
    dl = p.dls[runs[0][runs[1]]]
    return _span_topk(uniq, sf, dl, idf_sum, k, avgdl, k1, b)


def score_shard_weighted_tf(rows, weight_units: dict[str, int]) -> Columns:
    """Sparse-vector serving kernel: score_u(d) = Σ_t units(t) · tf · 1000
    over the query's tokens — the postings-bounded form of
    relevance.sparse_vector_df's BoW-tf scorer (identical integer
    contract: units = round(weight·1e3), doc weight = tf·1000, exact
    int64 per-(term,doc) products summed per doc). No corpus stats, no
    float path anywhere; work is proportional to the query terms'
    posting data only. Returns every doc with score_u > 0."""
    if len(rows["n_docs"]) == 0:
        return _empty({"doc_id": "int64", "score_u": "int64"})
    r, p = _decode(rows)
    contrib = _per_posting(r, p, weight_units, np.int64) * p.tfs * 1000
    uniq, scores = _groupsum(p.ids, contrib)
    keep = scores > 0
    return {"doc_id": uniq[keep], "score_u": scores[keep]}


def score_shard_matched(rows, idfs: dict[str, float],
                        avgdl: float, k1: float, b: float,
                        groups: list[list[str]] | None = None,
                        quantize: bool = False) -> Columns:
    """Score EVERY doc in this shard matching >= 1 query term — no top-k
    cut. This is the postings-bounded serving primitive behind the
    index-backed multi_match / combined_fields / query_string paths:
    work is proportional to the QUERY TERMS' posting data, never the
    corpus, and the caller combines/gates/quantizes and takes the global
    top-k in Spark (where the quantized tie-break must happen).

    ``groups``: optional OR-of-AND boolean gate over term membership
    (ES query_string compiles to exactly this shape) — a doc qualifies
    iff some group's terms are ALL present in it. Scoring still sums
    over every query term the doc contains (ES bool-should scoring).
    Membership rides a per-doc uint64 term bitmask accumulated with the
    same reduceat pass as the scores, so the gate is O(postings) with no
    Python loop over docs; > 64 distinct terms raises (loudly) rather
    than silently truncating."""
    if len(rows["n_docs"]) == 0:
        return _empty()
    r, p = _decode(rows)
    contrib = _per_posting(r, p, idfs, np.float64) * _tfn(p.tfs, p.dls, avgdl, k1, b)
    if quantize:
        # per-(term, doc) integer quantization BEFORE the per-doc sum: an
        # exact int64 sum is partition- and order-independent, so callers
        # with weighted/expanded term sets (fuzzy match) get an
        # engine-exact contract without an ordered float fold
        contrib = np.floor(contrib * 1e6)
    runs = _runs(p.ids)
    uniq, scores = _groupsum(p.ids, contrib, runs)
    if groups is not None:
        bit = {t: i for i, t in enumerate(sorted(idfs))}
        if len(bit) > 64:
            raise ValueError(
                f"query_string gate supports <= 64 distinct terms, got {len(bit)}")
        masks = np.uint64(1) << _per_posting(r, p, bit, np.uint64)
        docmask = np.bitwise_or.reduceat(masks[runs[0]], runs[1])
        keep = np.zeros(uniq.size, dtype=bool)
        for g in groups:
            # a group term absent from the query-term df map (df = 0 in
            # this corpus) makes the whole AND group unsatisfiable
            if any(t not in bit for t in g):
                continue
            gm = np.uint64(0)
            for t in g:
                gm |= np.uint64(1) << np.uint64(bit[t])
            keep |= (docmask & gm) == gm
        uniq, scores = uniq[keep], scores[keep]
    return {"doc_id": uniq, "score": scores}


def _term_luts(r: Rows, p: Postings, term_maps):
    """Per-posting values of each term→value map in ``term_maps`` (NaN
    where the map lacks the posting's term), skipping maps that hit none
    of the shard's terms: yields (map index, values). Each map costs one
    lookup per distinct term and one integer gather over the row term
    codes — no np.isin string scans, no per-element Python calls."""
    codes = np.repeat(r.code, p.n)
    for j, m in enumerate(term_maps):
        if any(t in m for t in r.terms):
            yield j, np.array([m.get(t, np.nan) for t in r.terms], dtype=np.float64)[codes]


def score_shard_batch(rows, query_terms: dict[int, dict[str, float]], k: int,
                      avgdl: float, k1: float, b: float) -> Columns:
    """Batched multi-query exhaustive scoring for one shard: decode each
    query term's blocks once, score every query that uses the term, local
    top-k per query. This is the offline-query-set mode — one pass over the
    union of the queries' posting data serves the whole set."""
    cols = {"query_id": "int64", **TOPK_COLS}
    if len(rows["n_docs"]) == 0:
        return _empty(cols)
    r, p = _decode(rows)
    tfn = _tfn(p.tfs, p.dls, avgdl, k1, b)
    qids = sorted(query_terms)
    out_q, out_d, out_s = [], [], []
    for j, idf_per_posting in _term_luts(r, p, [query_terms[q] for q in qids]):
        mask = ~np.isnan(idf_per_posting)
        ids, scores = _top(*_groupsum(p.ids[mask], tfn[mask] * idf_per_posting[mask]), k)
        out_q.append(np.full(ids.size, qids[j], dtype=np.int64))
        out_d.append(ids)
        out_s.append(scores)
    if not out_q:
        return _empty(cols)
    return {"query_id": np.concatenate(out_q), "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s)}


# Blocks gathered per essential term per scoring window. Small windows
# refresh θ often (growing the non-essential set sooner); large windows
# amortize the per-window fixed cost. 32 blocks = 4096 postings/term.
NB_PER_TERM = 32

# When the non-essential terms hold less than this fraction of the remaining
# postings, windowed pruning cannot pay for its own overhead — finish the
# sweep with ONE exhaustive batch over the remaining range instead. Bounds
# the worst case (all-head disjunctions, where nothing is prunable) at
# roughly one exhaustive pass.
NE_MIN_FRACTION = 0.2


def score_shard_wand(rows, idfs: dict[str, float], k: int,
                     avgdl: float, k1: float, b: float) -> Columns:
    """Top-k BM25 for one shard with MaxScore/block-max pruning — fully
    vectorized, block-at-a-time (the round-2 per-doc cursor DAAT loop's
    Python constant set head-term latency; this kernel has no per-doc or
    per-posting Python — every decode is one segmented numpy pass over the
    window's selected blocks).

    MaxScore term split (Turtle & Flood): with terms sorted by global upper
    bound (idf × max block max_tfn) ascending, the maximal prefix whose
    cumulative UB ≤ θ−EPS is NON-ESSENTIAL — a doc containing only those
    terms cannot beat the running k-th score θ, so candidates come only
    from the ESSENTIAL terms' postings. The shard is swept in doc-id order
    in windows of ≤ NB_PER_TERM blocks per essential term:

      1. batch-decode the window's essential blocks, union → candidates;
      2. select non-essential blocks whose [first_doc, last_doc] contains a
         candidate (block-max-style selective decode), batch-decode ALL
         selected blocks in global (term-sorted) order, keep postings whose
         doc is a candidate, one np.add.at accumulation;
      3. merge into the running top-k, raise θ, recompute the term split.

    When the split leaves under NE_MIN_FRACTION of the remaining postings
    non-essential, pruning cannot win — the sweep finishes with a single
    exhaustive batch over the rest (heads saturate θ in the first window,
    so all-stopword disjunctions cost ≈ one exhaustive pass, not a windowed
    crawl).

    Scores are bit-compatible with the exhaustive path: selected blocks
    decode in term-sorted order and each doc's postings live entirely
    inside one window (blocks partition a term's postings by doc range;
    windows partition the doc-id space), so each doc's floating-point sum
    order is identical. Tie-safety: docs are scored in increasing doc_id
    order, so a pruned doc that merely TIES θ would lose the (score desc,
    doc_id asc) tie-break anyway — the split prunes at ≤ θ−EPS, strictly
    below θ."""
    if len(rows["n_docs"]) == 0 or k <= 0:
        return _empty()
    r = _rows(rows)
    firsts = np.asarray(r.cols["first_doc"], dtype=np.int64)
    lasts = np.asarray(r.cols["last_doc"], dtype=np.int64)
    nblk = np.asarray(r.cols["n_docs"], dtype=np.int64)
    idf_blk = r.per_row(idfs, np.float64)
    ub_blk = idf_blk * np.asarray(r.cols["max_tfn"], dtype=np.float64)

    def decode(sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, bm25 contributions) of the selected blocks, decoded
        in ascending block (= term-sorted) order in one segmented pass."""
        p = _postings(r, sel)
        return p.ids, np.repeat(idf_blk[sel], p.n) * _tfn(p.tfs, p.dls, avgdl, k1, b)

    # per-term contiguous block slices (the rows are term-sorted; within a
    # term blocks are first_doc-sorted and non-overlapping)
    n_terms = r.terms.size
    t_start = np.searchsorted(r.code, np.arange(n_terms), side="left")
    t_end = np.searchsorted(r.code, np.arange(n_terms), side="right")
    term_ub = np.array([ub_blk[t_start[t]:t_end[t]].max() for t in range(n_terms)])
    ub_order = np.argsort(term_ub, kind="stable")  # ascending UB
    ub_cum = np.cumsum(term_ub[ub_order])

    best_ids = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf

    def merge(cands: np.ndarray, scores: np.ndarray) -> None:
        nonlocal best_ids, best_scores, theta
        best_ids = np.concatenate([best_ids, cands])
        best_scores = np.concatenate([best_scores, scores])
        if best_ids.size >= k:
            best_ids, best_scores = _top(best_ids, best_scores, k)
            theta = best_scores[-1]

    def score_range(sel: np.ndarray, lo: int, hi: int | None,
                    cands: np.ndarray | None) -> None:
        """Decode `sel` blocks, keep postings in [lo, hi) — hi=None means
        unbounded (doc ids are arbitrary int64, so no sentinel is safe) —
        and, when `cands` is given, only candidate docs; accumulate, merge."""
        ids, con = decode(sel)
        m = ids >= lo
        if hi is not None:
            m &= ids < hi
        if cands is None:
            u, sc = _groupsum(ids[m], con[m])
            merge(u, sc)
            return
        p = np.searchsorted(cands, ids)
        np.clip(p, 0, cands.size - 1, out=p)
        m &= cands[p] == ids
        sc = np.zeros(cands.size, dtype=np.float64)
        np.add.at(sc, p[m], con[m])
        merge(cands, sc)

    cur = int(firsts.min())
    while True:
        ne = int(np.searchsorted(ub_cum, theta - EPS, side="right"))
        ess = np.sort(ub_order[ne:])
        if ess.size == 0:
            break  # even all terms together cannot beat θ
        # remaining blocks per term (those with last_doc >= cur)
        rem_first = np.array([
            int(t_start[t]) + int(np.searchsorted(lasts[t_start[t]:t_end[t]], cur))
            for t in range(n_terms)
        ])
        rem_post = np.array([
            int(nblk[rem_first[t]:t_end[t]].sum()) for t in range(n_terms)
        ])
        total_rem = int(rem_post.sum())
        if total_rem == 0:
            break
        ne_mask = np.ones(n_terms, dtype=bool)
        ne_mask[ess] = False
        ne_post = int(rem_post[ne_mask].sum())
        if ne_post < NE_MIN_FRACTION * total_rem:
            # pruning can't pay for itself — one exhaustive batch to finish
            sel = np.concatenate([
                np.arange(rem_first[t], t_end[t]) for t in range(n_terms)
            ]).astype(np.int64)
            if sel.size:
                score_range(np.sort(sel), cur, None, None)
            break
        # window = next NB_PER_TERM blocks of each essential term; hi is the
        # smallest bound through which every essential list is COMPLETE
        hi: int | None = None
        ess_sel: list[np.ndarray] = []
        for t in ess:
            b0, te = int(rem_first[t]), int(t_end[t])
            if b0 >= te:
                continue
            b1 = min(b0 + NB_PER_TERM, te)
            ess_sel.append(np.arange(b0, b1))
            if b1 < te:
                nxt = int(lasts[b1 - 1]) + 1
                hi = nxt if hi is None else min(hi, nxt)
        if not ess_sel:
            break
        sel_e = np.concatenate(ess_sel)
        if hi is not None:
            sel_e = sel_e[firsts[sel_e] < hi]
        if sel_e.size == 0:
            cur = hi
            continue
        e_ids, _ = decode(np.sort(sel_e))
        em = e_ids >= cur
        if hi is not None:
            em &= e_ids < hi
        cands = np.unique(e_ids[em])
        if cands.size:
            # non-essential blocks overlapping the window AND containing ≥1
            # candidate (vectorized first/last check)
            ne_sel: list[np.ndarray] = []
            for t in ub_order[:ne]:
                ts, te = int(rem_first[t]), int(t_end[t])
                if hi is None:
                    a1 = te
                else:
                    a1 = int(t_start[t]) + int(np.searchsorted(firsts[t_start[t]:t_end[t]], hi))
                if ts >= a1:
                    continue
                blks = np.arange(ts, a1)
                p = np.searchsorted(cands, firsts[blks])
                ok = p < cands.size
                ok[ok] &= cands[p[ok]] <= lasts[blks][ok]
                if ok.any():
                    ne_sel.append(blks[ok])
            sel = np.sort(np.concatenate([sel_e] + ne_sel)) if ne_sel else np.sort(sel_e)
            score_range(sel, cur, hi, cands)
        if hi is None:
            break  # every essential list was consumed to its end
        cur = hi
    return _topk(best_ids, best_scores, k)


def score_shard_dismax(rows, subquery_idfs: list[dict[str, float]],
                       tie_breaker: float, k: int,
                       avgdl: float, k1: float, b: float) -> Columns:
    """DisMax shard kernel: one decode of the UNION of all subqueries'
    posting blocks, one per-subquery accumulation over the SAME factorized
    doc-id domain, then the exact Lucene DisjunctionMax combination
    max + tie_breaker * (sum - max) per doc. Exact by construction — every
    matching doc in the shard is scored for every subquery before the
    combined local top-k (no per-list over-fetch heuristics)."""
    if len(rows["n_docs"]) == 0:
        return _empty()
    r, p = _decode(rows)
    tfn = _tfn(p.tfs, p.dls, avgdl, k1, b)
    uniq, inv = np.unique(p.ids, return_inverse=True)
    best = np.zeros(uniq.size, dtype=np.float64)
    summed = np.zeros(uniq.size, dtype=np.float64)
    any_hit = False
    for _, idf_per_posting in _term_luts(r, p, subquery_idfs):
        any_hit = True
        mask = ~np.isnan(idf_per_posting)
        scores = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(scores, inv[mask], tfn[mask] * idf_per_posting[mask])
        np.maximum(best, scores, out=best)
        summed += scores
    if not any_hit:
        return _empty()
    combined = best + tie_breaker * (summed - best)
    nz = combined > 0.0
    return _topk(uniq[nz], combined[nz], k)
