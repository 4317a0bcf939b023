"""Shard-local BM25 scoring over compressed posting blocks: exhaustive
(vectorized numpy) and block-max WAND (document-at-a-time with block
skipping) — the ES-side scoring the reference invokes via `client.search`
(out_elasticsearch.rb:957, in_elasticsearch.rb:275), implemented natively.

Every kernel takes one shard's posting blocks of the query terms as a
pandas frame and returns that shard's local result; the caller merges the
shards into the global top-k (search.InvertedIndex._per_shard). The same
kernel runs on either of two paths:

* resident — on a warmed index, in-process on the driver, over the rows
  taken from the shard's Arrow table in memory (about the postings' Arrow
  ``nbytes``: 6.8 MB for the 16k-doc perfbench index), with no Spark job;
* Spark — on an unwarmed index, inside ``applyInPandas`` groups keyed by
  shard: postings.filter(term ∈ query) → groupBy(shard) → kernel.

Work per shard is proportional to the query terms' posting data only (doc
lengths are inlined in the blocks, so no doc_stats join at query time).

Tie-break everywhere: (score desc, doc_id asc) — rank-identical contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .codec import delta_decode, varint_decode

EPS = 1e-12  # conservative slack on float upper bounds (sum-order slop)


def _tfn(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    tff = tf.astype(np.float64)
    return (k1 + 1.0) * tff / (tff + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))


def _groupsum(ids: np.ndarray, contrib: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(unique ids asc, per-id contribution sums) — the scatter-add at the
    heart of every exhaustive kernel, as STABLE argsort + add.reduceat
    instead of np.unique + np.add.at (the unbuffered scatter-add is the
    slowest op in the high-mass tail; reduceat is a sequential C pass,
    ~1.7x faster at 5M postings). Bit-identical scores: the stable sort
    keeps each doc's postings in original (term-sorted) order and reduceat
    sums them sequentially — the same IEEE order add.at produced."""
    if ids.size == 0:
        return ids.astype(np.int64), contrib.astype(np.float64)
    order = np.argsort(ids, kind="stable")
    sids = ids[order]
    scon = contrib[order]
    starts = np.concatenate([[0], np.nonzero(np.diff(sids))[0] + 1])
    return sids[starts], np.add.reduceat(scon, starts)


def score_shard_exhaustive(pdf: pd.DataFrame, idfs: dict[str, float], k: int,
                           avgdl: float, k1: float, b: float) -> pd.DataFrame:
    """Decode every block of the query terms in this shard, accumulate BM25
    fully vectorized (_groupsum: stable argsort + add.reduceat), return
    local top-k. This is the throughput path (no per-doc Python)."""
    from .codec import segmented_cumsum

    if len(pdf) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})
    # one concatenated decode for all blocks of all query terms (sorted by
    # term so per-doc accumulation order is deterministic)
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    n_per_blk = pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_per_blk.sum())
    blk_starts = np.concatenate([[0], np.cumsum(n_per_blk)[:-1]])
    gaps = varint_decode(b"".join(pdf["docs_enc"]), total)
    ids = segmented_cumsum(gaps, blk_starts, n_per_blk).astype(np.int64)
    tfs = varint_decode(b"".join(pdf["tfs_enc"]), total)
    dls = varint_decode(b"".join(pdf["dls_enc"]), total)
    idf_per_blk = pdf["term"].map(idfs).to_numpy(dtype=np.float64)
    contrib = np.repeat(idf_per_blk, n_per_blk) * _tfn(tfs, dls, avgdl, k1, b)
    uniq, scores = _groupsum(ids, contrib)
    cand_ids, cand_scores = _topk_ties(uniq, scores, k)
    order = np.lexsort((cand_ids, -cand_scores))[:k]
    return pd.DataFrame({"doc_id": cand_ids[order], "score": cand_scores[order]})


def score_shard_span_or(pdf: pd.DataFrame, idf_sum: float, k: int,
                        avgdl: float, k1: float, b: float) -> pd.DataFrame:
    """span_or over single-term clauses for one shard: span frequency =
    TOTAL occurrences of any clause term (Σ tf across the doc's matched
    postings), ONE saturation with the summed clause idfs — the span
    contract (relevance.span_or_df), not the per-term BM25 sum. tf
    postings only; no positions needed. Returns local top-k."""
    from .codec import segmented_cumsum

    if len(pdf) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    n_per_blk = pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_per_blk.sum())
    blk_starts = np.concatenate([[0], np.cumsum(n_per_blk)[:-1]])
    gaps = varint_decode(b"".join(pdf["docs_enc"]), total)
    ids = segmented_cumsum(gaps, blk_starts, n_per_blk).astype(np.int64)
    tfs = varint_decode(b"".join(pdf["tfs_enc"]), total).astype(np.int64)
    dls = varint_decode(b"".join(pdf["dls_enc"]), total).astype(np.int64)
    uniq, sf = _groupsum(ids, tfs.astype(np.float64))
    # dl per unique doc: first posting's dl (all equal per doc)
    order = np.argsort(ids, kind="stable")
    starts = np.concatenate([[0], np.nonzero(np.diff(ids[order]))[0] + 1])
    dl = dls[order][starts].astype(np.float64)
    scores = idf_sum * (k1 + 1.0) * sf / (
        sf + k1 * (1.0 - b + b * dl / avgdl))
    out_ids, out_scores = _topk_ties(uniq, scores, k)
    order2 = np.lexsort((out_ids, -out_scores))[:k]
    return pd.DataFrame({"doc_id": out_ids[order2], "score": out_scores[order2]})


def score_shard_weighted_tf(pdf: pd.DataFrame,
                            weight_units: dict[str, int]) -> pd.DataFrame:
    """Sparse-vector serving kernel: score_u(d) = Σ_t units(t) · tf · 1000
    over the query's tokens — the postings-bounded form of
    relevance.sparse_vector_df's BoW-tf scorer (identical integer
    contract: units = round(weight·1e3), doc weight = tf·1000, exact
    int64 per-(term,doc) products summed per doc). No corpus stats, no
    float path anywhere; work is proportional to the query terms'
    posting data only. Returns every doc with score_u > 0."""
    from .codec import segmented_cumsum

    if len(pdf) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                             "score_u": pd.Series([], dtype="int64")})
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    n_per_blk = pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_per_blk.sum())
    blk_starts = np.concatenate([[0], np.cumsum(n_per_blk)[:-1]])
    gaps = varint_decode(b"".join(pdf["docs_enc"]), total)
    ids = segmented_cumsum(gaps, blk_starts, n_per_blk).astype(np.int64)
    tfs = varint_decode(b"".join(pdf["tfs_enc"]), total).astype(np.int64)
    w_per_blk = pdf["term"].map(weight_units).to_numpy(dtype=np.int64)
    contrib = np.repeat(w_per_blk, n_per_blk) * tfs * 1000
    order_ = np.argsort(ids, kind="stable")
    sids = ids[order_]
    starts_ = np.concatenate([[0], np.nonzero(np.diff(sids))[0] + 1])
    uniq = sids[starts_]
    scores = np.add.reduceat(contrib[order_], starts_)
    keep = scores > 0
    return pd.DataFrame({"doc_id": uniq[keep], "score_u": scores[keep]})


def score_shard_matched(pdf: pd.DataFrame, idfs: dict[str, float],
                        avgdl: float, k1: float, b: float,
                        groups: list[list[str]] | None = None,
                        quantize: bool = False) -> pd.DataFrame:
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
    from .codec import segmented_cumsum

    if len(pdf) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    n_per_blk = pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_per_blk.sum())
    blk_starts = np.concatenate([[0], np.cumsum(n_per_blk)[:-1]])
    gaps = varint_decode(b"".join(pdf["docs_enc"]), total)
    ids = segmented_cumsum(gaps, blk_starts, n_per_blk).astype(np.int64)
    tfs = varint_decode(b"".join(pdf["tfs_enc"]), total)
    dls = varint_decode(b"".join(pdf["dls_enc"]), total)
    idf_per_blk = pdf["term"].map(idfs).to_numpy(dtype=np.float64)
    contrib = np.repeat(idf_per_blk, n_per_blk) * _tfn(tfs, dls, avgdl, k1, b)
    if quantize:
        # per-(term, doc) integer quantization BEFORE the per-doc sum: an
        # exact int64 sum is partition- and order-independent, so callers
        # with weighted/expanded term sets (fuzzy match) get an
        # engine-exact contract without an ordered float fold
        contrib = np.floor(contrib * 1e6)
    order_ = np.argsort(ids, kind="stable")
    sids = ids[order_]
    starts_ = np.concatenate([[0], np.nonzero(np.diff(sids))[0] + 1])
    uniq = sids[starts_]
    scores = np.add.reduceat(contrib[order_], starts_)
    if groups is not None:
        bit = {t: i for i, t in enumerate(sorted(idfs))}
        if len(bit) > 64:
            raise ValueError(
                f"query_string gate supports <= 64 distinct terms, got {len(bit)}")
        code_per_blk = pdf["term"].map(bit).to_numpy(dtype=np.uint64)
        masks = np.repeat(np.uint64(1) << code_per_blk, n_per_blk)
        docmask = np.bitwise_or.reduceat(masks[order_], starts_)
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
    return pd.DataFrame({"doc_id": uniq, "score": scores})


def _topk_ties(ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Candidate set for an exact (score desc, doc_id asc) top-k: argpartition
    for the k-th score threshold, then include EVERY doc at or above it —
    docs tied at the boundary must survive so the lexsort can pick the
    smallest doc_ids (dropping them returned larger ids and broke the
    rank-identity contract)."""
    if ids.size <= k:
        return ids, scores
    part = np.argpartition(-scores, k - 1)
    thresh = scores[part[:k]].min()
    mask = scores >= thresh
    return ids[mask], scores[mask]


def score_shard_batch(pdf: pd.DataFrame, query_terms: dict[int, dict[str, float]], k: int,
                      avgdl: float, k1: float, b: float) -> pd.DataFrame:
    """Batched multi-query exhaustive scoring for one shard: decode each
    query term's blocks once, score every query that uses the term, local
    top-k per query. This is the offline-query-set mode — one pass over the
    union of the queries' posting data serves the whole set."""
    from .codec import segmented_cumsum

    if len(pdf) == 0:
        return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                             "doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    n_per_blk = pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_per_blk.sum())
    blk_starts = np.concatenate([[0], np.cumsum(n_per_blk)[:-1]])
    gaps = varint_decode(b"".join(pdf["docs_enc"]), total)
    ids = segmented_cumsum(gaps, blk_starts, n_per_blk).astype(np.int64)
    tfs = varint_decode(b"".join(pdf["tfs_enc"]), total)
    dls = varint_decode(b"".join(pdf["dls_enc"]), total)
    tfn = _tfn(tfs, dls, avgdl, k1, b)
    # factorize terms ONCE per shard: per-query term selection and idf
    # lookup become integer LUT indexing (no np.isin string scans, no
    # np.vectorize per-element Python calls)
    blk_codes, uniq_terms = pd.factorize(pdf["term"])
    codes = np.repeat(blk_codes, n_per_blk)
    term_pos = {t: i for i, t in enumerate(uniq_terms)}

    out_q, out_d, out_s = [], [], []
    for qid in sorted(query_terms):
        idfs = query_terms[qid]
        lut = np.full(len(uniq_terms), np.nan, dtype=np.float64)
        hit = False
        for t, v in idfs.items():
            i = term_pos.get(t)
            if i is not None:
                lut[i] = v
                hit = True
        if not hit:
            continue
        idf_per_posting = lut[codes]
        mask = ~np.isnan(idf_per_posting)
        q_ids = ids[mask]
        q_contrib = tfn[mask] * idf_per_posting[mask]
        uniq, scores = _groupsum(q_ids, q_contrib)
        cand_ids, cand_scores = _topk_ties(uniq, scores, k)
        order = np.lexsort((cand_ids, -cand_scores))[:k]
        out_q.append(np.full(order.size, qid, dtype=np.int64))
        out_d.append(cand_ids[order])
        out_s.append(cand_scores[order])
    if not out_q:
        return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                             "doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})
    return pd.DataFrame(
        {"query_id": np.concatenate(out_q), "doc_id": np.concatenate(out_d),
         "score": np.concatenate(out_s)}
    )



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

def _decode_selected(sel: np.ndarray, docs_enc: list, tfs_enc: list, dls_enc: list,
                     nblk: np.ndarray, idf_blk: np.ndarray,
                     avgdl: float, k1: float, b: float) -> tuple[np.ndarray, np.ndarray]:
    """Batch-decode a set of blocks (ascending global index = term-sorted
    order) in ONE segmented pass: (doc_ids, bm25 contribution) arrays."""
    from .codec import segmented_cumsum

    n_sel = nblk[sel]
    total = int(n_sel.sum())
    starts = np.concatenate([[0], np.cumsum(n_sel)[:-1]])
    gaps = varint_decode(b"".join(docs_enc[bi] for bi in sel), total)
    ids = segmented_cumsum(gaps, starts, n_sel).astype(np.int64)
    tfs = varint_decode(b"".join(tfs_enc[bi] for bi in sel), total)
    dls = varint_decode(b"".join(dls_enc[bi] for bi in sel), total)
    con = np.repeat(idf_blk[sel], n_sel) * _tfn(tfs, dls, avgdl, k1, b)
    return ids, con


def score_shard_wand(pdf: pd.DataFrame, idfs: dict[str, float], k: int,
                     avgdl: float, k1: float, b: float) -> pd.DataFrame:
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
    if len(pdf) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable").reset_index(drop=True)
    firsts = pdf["first_doc"].to_numpy(dtype=np.int64)
    lasts = pdf["last_doc"].to_numpy(dtype=np.int64)
    nblk = pdf["n_docs"].to_numpy(dtype=np.int64)
    idf_blk = pdf["term"].map(idfs).to_numpy(dtype=np.float64)
    ub_blk = idf_blk * pdf["max_tfn"].to_numpy(dtype=np.float64)
    docs_enc = pdf["docs_enc"].tolist()
    tfs_enc = pdf["tfs_enc"].tolist()
    dls_enc = pdf["dls_enc"].tolist()

    # per-term contiguous block slices (pdf is term-sorted; within a term
    # blocks are first_doc-sorted and non-overlapping)
    codes = np.asarray(pd.factorize(pdf["term"])[0])
    n_terms = int(codes[-1]) + 1
    t_start = np.searchsorted(codes, np.arange(n_terms), side="left")
    t_end = np.searchsorted(codes, np.arange(n_terms), side="right")
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
            cand_i, cand_s = _topk_ties(best_ids, best_scores, k)
            order = np.lexsort((cand_i, -cand_s))[:k]
            best_ids, best_scores = cand_i[order], cand_s[order]
            theta = best_scores[-1]

    def score_range(sel: np.ndarray, lo: int, hi: int | None,
                    cands: np.ndarray | None) -> None:
        """Decode `sel` blocks, keep postings in [lo, hi) — hi=None means
        unbounded (doc ids are arbitrary int64, so no sentinel is safe) —
        and, when `cands` is given, only candidate docs; accumulate, merge."""
        ids, con = _decode_selected(sel, docs_enc, tfs_enc, dls_enc, nblk,
                                    idf_blk, avgdl, k1, b)
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
        e_ids, _ = _decode_selected(np.sort(sel_e), docs_enc, tfs_enc, dls_enc,
                                    nblk, idf_blk, avgdl, k1, b)
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
    order = np.lexsort((best_ids, -best_scores))[:k]
    return pd.DataFrame({"doc_id": best_ids[order], "score": best_scores[order]})


def score_shard_dismax(pdf: pd.DataFrame, subquery_idfs: list[dict[str, float]],
                       tie_breaker: float, k: int,
                       avgdl: float, k1: float, b: float) -> pd.DataFrame:
    """DisMax shard kernel: one decode of the UNION of all subqueries'
    posting blocks, one per-subquery accumulation over the SAME factorized
    doc-id domain, then the exact Lucene DisjunctionMax combination
    max + tie_breaker * (sum - max) per doc. Exact by construction — every
    matching doc in the shard is scored for every subquery before the
    combined local top-k (no per-list over-fetch heuristics)."""
    from .codec import segmented_cumsum

    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "score": pd.Series([], dtype="float64")})
    if len(pdf) == 0:
        return empty
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    n_per_blk = pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_per_blk.sum())
    blk_starts = np.concatenate([[0], np.cumsum(n_per_blk)[:-1]])
    gaps = varint_decode(b"".join(pdf["docs_enc"]), total)
    ids = segmented_cumsum(gaps, blk_starts, n_per_blk).astype(np.int64)
    tfs = varint_decode(b"".join(pdf["tfs_enc"]), total)
    dls = varint_decode(b"".join(pdf["dls_enc"]), total)
    tfn = _tfn(tfs, dls, avgdl, k1, b)
    blk_codes, uniq_terms = pd.factorize(pdf["term"])
    codes = np.repeat(blk_codes, n_per_blk)
    term_pos = {t: i for i, t in enumerate(uniq_terms)}

    uniq, inv = np.unique(ids, return_inverse=True)
    best = np.zeros(uniq.size, dtype=np.float64)
    summed = np.zeros(uniq.size, dtype=np.float64)
    any_hit = False
    for idfs in subquery_idfs:
        lut = np.full(len(uniq_terms), np.nan, dtype=np.float64)
        hit = False
        for t, v in idfs.items():
            i = term_pos.get(t)
            if i is not None:
                lut[i] = v
                hit = True
        if not hit:
            continue
        any_hit = True
        idf_per_posting = lut[codes]
        mask = ~np.isnan(idf_per_posting)
        scores = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(scores, inv[mask], tfn[mask] * idf_per_posting[mask])
        np.maximum(best, scores, out=best)
        summed += scores
    if not any_hit:
        return empty
    combined = best + tie_breaker * (summed - best)
    nz = combined > 0.0
    cand_ids, cand_scores = _topk_ties(uniq[nz], combined[nz], k)
    order = np.lexsort((cand_ids, -cand_scores))[:k]
    return pd.DataFrame({"doc_id": cand_ids[order], "score": cand_scores[order]})


def score_shard_exhaustive_msm(pdf: pd.DataFrame, idfs: dict[str, float], k: int,
                               avgdl: float, k1: float, b: float,
                               msm: int) -> pd.DataFrame:
    """Exhaustive shard scorer with a minimum_should_match gate: a doc
    qualifies only if it contains >= msm DISTINCT query terms (ES match
    operator=and ≡ msm = len(terms)). Postings hold one entry per
    (term, doc), so the per-doc matched-term count is a bincount over the
    factorized doc ids — one extra O(postings) pass, no Python loop.
    The gate must run BEFORE top-k (not after WAND): block-max skipping
    ranks unqualified docs too, so a post-filter could return < k or
    wrong members."""
    from .codec import segmented_cumsum

    if len(pdf) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    n_per_blk = pdf["n_docs"].to_numpy().astype(np.int64)
    total = int(n_per_blk.sum())
    blk_starts = np.concatenate([[0], np.cumsum(n_per_blk)[:-1]])
    gaps = varint_decode(b"".join(pdf["docs_enc"]), total)
    ids = segmented_cumsum(gaps, blk_starts, n_per_blk).astype(np.int64)
    tfs = varint_decode(b"".join(pdf["tfs_enc"]), total)
    dls = varint_decode(b"".join(pdf["dls_enc"]), total)
    idf_per_blk = pdf["term"].map(idfs).to_numpy(dtype=np.float64)
    contrib = np.repeat(idf_per_blk, n_per_blk) * _tfn(tfs, dls, avgdl, k1, b)
    order_ = np.argsort(ids, kind="stable")
    sids = ids[order_]
    starts_ = np.concatenate([[0], np.nonzero(np.diff(sids))[0] + 1])
    uniq = sids[starts_]
    scores = np.add.reduceat(contrib[order_], starts_)
    # postings hold one entry per (term, doc) → run length = matched terms
    n_matched = np.diff(np.append(starts_, sids.size))
    keep = n_matched >= msm
    cand_ids, cand_scores = _topk_ties(uniq[keep], scores[keep], k)
    order = np.lexsort((cand_ids, -cand_scores))[:k]
    return pd.DataFrame({"doc_id": cand_ids[order], "score": cand_scores[order]})
