"""Pure-DataFrame BM25 top-k (no binary codec) + paired ANSI-SQL generator.

This is the declarative form of the scoring pipeline — every step is a
Catalyst-planned aggregate/join (predicate pushdown, partial aggregation,
broadcast joins come free). It is used (a) as the SQL-oracle-matched
correctness surface (the generated DuckDB SQL is the same dataflow,
token-for-token in formula order, so float64 results agree), and (b) as a
reference semantics for the compressed/WAND engine (tests assert
rank-identity between the two).

Scores are reported as ``score_u = floor(score * 1e6)`` (bigint): a
rounding-mode-free quantization that both Spark and DuckDB compute
identically, dodging HALF_UP vs HALF_EVEN mismatches on value hashing.

Quantization contract (why the floor is safe to hash): floating-point sums
are order-sensitive, so BOTH engines accumulate each doc's per-term
contributions SEQUENTIALLY IN TERM-ASCENDING ORDER — Spark via a
collect_list → array_sort → aggregate() left fold, DuckDB via
``list_sum(list(contrib ORDER BY term))`` (verified exact sequential
addition), and the WAND/exhaustive engine paths sum term-asc as well
(wand.py). With identical addend order the only residual divergence is
libm ulp (ln), absorbed by the 1e-6 quantum away from floor boundaries.

The one copy of each shared scoring rule lives here, and every DataFrame
scorer (here, in relevance.py and in simple_query.py) calls it:

- ``tokens_frame``: the (doc_id, tokens) frame of the simple analyzer;
- ``corpus_stats_with_dfs``: the one (n, avgdl, df0..) corpus aggregate;
- ``idf``: ``ln(1 + (n - df + 0.5) / (df + 0.5))``;
- ``bm25_tf``: the tf-factor, the Column twin of ``wand._tfn``;
- ``term_contribs`` + ``sum_term_asc``: the explode → tf → df → contrib
  pipeline and the one term-ascending fold;
- ``frequency_topk``: BM25 with tf = a per-doc phrase/span frequency and
  the summed clause idfs (phrases, spans, intervals);
- ``phrase_freq`` and ``positions_of``: the adjacent-phrase walk and the
  guarded 1-based position list over the token array;
- ``quantize_scores`` (index-served float score → ``score_u``) and
  ``fuse_scores`` (max/sum fusion of per-field or per-clause ``score_u``
  frames);
- ``_TOKS_SQL`` and ``_scores_cte``: the DuckDB tokenizer and the
  per-subquery mirror of ``bm25_scores_df``.

Each rule fixes one association order, the one its DuckDB mirrors spell
out, so both engines compute the same float64 score.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..extraction import simple_tokens_col

_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), t -> t <> '')"
)


def quantize_scores(scores: DataFrame) -> DataFrame:
    """(doc_id, float score) → (doc_id, score_u = floor(score * 1e6))."""
    return scores.select(
        "doc_id", F.floor(F.col("score") * 1e6).cast("long").alias("score_u"))


def fuse_scores(parts: list[DataFrame], k: int, how: str = "max",
                tie_breaker: float | None = None) -> DataFrame:
    """Full outer join of (doc_id, score_u) frames on doc_id, a missing
    part scoring 0, combined per doc by ``how`` ("max" or "sum") or, with
    a ``tie_breaker``, by Lucene's dis_max floor(max + tie_breaker *
    (sum - max)). The top k (doc_id, score_u), score_u desc, doc_id asc."""
    joined = None
    for i, p in enumerate(parts):
        p = p.select("doc_id", F.col("score_u").alias(f"s_{i}"))
        joined = p if joined is None else joined.join(p, "doc_id", "full_outer")
    cols = [F.coalesce(F.col(f"s_{i}"), F.lit(0)) for i in range(len(parts))]
    mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
    total = sum(cols[1:], cols[0])  # left fold: ((s_0 + s_1) + s_2) ...
    comb = ((mx if how == "max" else total) if tie_breaker is None
            else F.floor(mx + tie_breaker * (total - mx)))
    return (joined.select("doc_id", comb.cast("long").alias("score_u"))
            .orderBy(F.desc("score_u"), F.asc("doc_id")).limit(k))


def tokens_frame(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, tokens): ``text_col`` through the simple analyzer."""
    return docs.select(F.col(id_col).alias("doc_id"),
                       simple_tokens_col(F.col(text_col)).alias("tokens"))


def corpus_stats_with_dfs(toks: DataFrame, df_conds) -> DataFrame:
    """ONE corpus aggregate producing the single broadcastable stats row
    ``(n, avgdl, df0..df{k-1})``.

    Replaces the per-term single-row-aggregate + crossJoin chain the
    phrase/span scorers used to build: an n-term query paid n+1 full
    corpus scans (one per df plus one for n/avgdl); this pays exactly
    ONE scan with n conditional sums riding the same partial aggregate.
    ``df_conds[i]`` is a per-document boolean Column over ``tokens``
    (e.g. ``array_contains(tokens, t)``); ``dfi`` = docs where it holds.
    The downstream idf expressions are unchanged, so scores are
    bit-identical to the old chain."""
    aggs = [F.count("*").alias("n"), F.avg(F.size("tokens")).alias("avgdl")]
    aggs += [
        F.sum(F.when(c, 1).otherwise(0)).alias(f"df{i}")
        for i, c in enumerate(df_conds)
    ]
    return toks.agg(*aggs)


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def idf(df) -> Column:
    """BM25 idf ``ln(1 + (n - df + 0.5) / (df + 0.5))`` of a document
    frequency Column (or column name), beside the stats row's ``n``."""
    df = _col(df)
    return F.log(1.0 + (F.col("n") - df + 0.5) / (df + 0.5))


def bm25_tf(freq, k1: float, b: float, weight=1.0) -> Column:
    """``weight · (k1+1) · freq / (freq + k1 · (1 - b + b · dl/avgdl))``
    over the ``dl`` and ``avgdl`` columns — the Column twin of
    ``wand._tfn``. A Column ``weight`` (an idf, or an idf sum) multiplies
    first, the ``idf * (k1+1) * tf / (...)`` order of the SQL mirrors;
    with ``weight=1.0`` the Python product folds, leaving the bare
    tf-factor a caller multiplies an idf onto."""
    freq = _col(freq)
    return (weight * (k1 + 1.0) * freq
            / (freq + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))))


def term_rows(toks: DataFrame) -> DataFrame:
    """(doc_id, dl, term): one row per token occurrence."""
    return toks.select("doc_id", F.size("tokens").alias("dl"),
                       F.explode("tokens").alias("term"))


def term_contribs(toks: DataFrame, terms, k1: float = BM25_K1,
                  b: float = BM25_B, gate: DataFrame | None = None) -> DataFrame:
    """Per-(doc, term) BM25 contributions of the query ``terms`` — a list,
    or a one-column (term) frame joined in by broadcast. tf and df count
    over the whole corpus ``toks``; a ``gate`` (doc_id) frame then keeps
    only its docs. Returns (term, doc_id, dl, tf, df, n, avgdl, contrib)."""
    rows = term_rows(toks)
    if isinstance(terms, DataFrame):
        rows = rows.join(F.broadcast(terms), "term")
    else:
        rows = rows.filter(F.col("term").isin(terms))
    tfq = rows.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    dfq = tfq.groupBy("term").agg(F.count("*").alias("df"))
    if gate is not None:
        tfq = tfq.join(gate, "doc_id", "left_semi")
    return (tfq.join(F.broadcast(dfq), "term")
            .crossJoin(F.broadcast(corpus_stats_with_dfs(toks, [])))
            .withColumn("contrib", bm25_tf("tf", k1, b, weight=idf("df"))))


def sum_term_asc(contribs: DataFrame) -> DataFrame:
    """(doc_id, score_u): each doc's contribs summed in term-ascending
    order (the module doc's quantization contract), floored at ×1e6."""
    return (
        contribs.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "contrib"))).alias("cs"))
        .select(
            "doc_id",
            F.floor(
                F.aggregate(F.col("cs"), F.lit(0.0), lambda acc, x: acc + x["contrib"]) * 1e6
            ).cast("long").alias("score_u"),
        )
    )


def positions_of(term: str) -> Column:
    """The 1-based positions of ``term`` in ``tokens``. Guarded: on an
    empty token array Spark's sequence(1, 0) counts DOWN to [1, 0] and
    element_at(tokens, 1) then throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT,
    so an empty doc gets an empty position list."""
    idx_seq = F.when(
        F.size("tokens") >= 1, F.sequence(F.lit(1), F.size("tokens"))
    ).otherwise(F.array().cast("array<int>"))
    return F.filter(idx_seq, lambda i: F.element_at(F.col("tokens"), i) == F.lit(term))


def phrase_freq(tokens: Column, terms, prefix: str | None = None) -> Column:
    """Phrase frequency: the number of start positions where ``terms``
    occur adjacently, followed, when ``prefix`` is given, by a token starting
    with it (match_phrase_prefix). An element_at walk inside one
    aggregate — whole-stage codegen, no Python."""
    n_terms = len(terms) + (prefix is not None)

    def occurs_at(i):
        cond = F.lit(True)
        for j, t in enumerate(terms):
            cond = cond & (F.element_at(tokens, i + j) == F.lit(t))
        if prefix is not None:
            cond = cond & F.element_at(tokens, i + n_terms - 1).startswith(prefix)
        return cond

    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], so gate the
    # aggregate on there being at least one candidate start position
    upper = F.size(tokens) - n_terms + 1
    return F.when(
        upper >= 1,
        F.aggregate(
            F.sequence(F.lit(1), upper),
            F.lit(0),
            lambda acc, i: acc + F.when(occurs_at(i), F.lit(1)).otherwise(F.lit(0)),
        ),
    ).otherwise(F.lit(0))


def frequency_topk(frame: DataFrame, sf: Column, toks: DataFrame, df_conds,
                   k: int, k1: float, b: float,
                   idf_weight: Column | None = None) -> DataFrame:
    """The one frequency scorer (phrases, spans, intervals): BM25 with tf
    = ``sf``, a per-doc frequency Column over ``frame`` (``toks`` or a
    subset of it, with any helper columns), and the idfs of the clause
    conditions ``df_conds`` summed in order — the Lucene PhraseQuery /
    span contract. A condition is a term (``array_contains(tokens, t)``)
    or a per-doc boolean Column. ``idf_weight`` replaces that sum.
    Statistics come from all of ``toks``; docs with sf > 0 are scored.
    Returns the top k (doc_id, score_u), score desc, doc_id asc."""
    matched = (frame.withColumn("sf", sf).filter(F.col("sf") > 0)
               .select("doc_id", F.size("tokens").alias("dl"), "sf"))
    # ONE corpus pass for n/avgdl + every clause df
    stats = corpus_stats_with_dfs(
        toks, [F.array_contains("tokens", c) if isinstance(c, str) else c
               for c in df_conds])
    if idf_weight is None:
        idfs = [idf(f"df{i}") for i in range(len(df_conds))]
        idf_weight = sum(idfs[1:], idfs[0])  # left fold, clause order
    score = bm25_tf("sf", k1, b, weight=idf_weight)
    return (
        matched.crossJoin(F.broadcast(stats))
        .select("doc_id", F.floor(score * 1e6).cast("long").alias("score_u"))
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_df(docs: DataFrame, query_terms: list[str], k: int = 10,
                 id_col: str = "doc_id", text_col: str = "text",
                 k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Top-k BM25 over a docs table via DataFrame ops only.
    Returns (doc_id, score_u) with tie-break (score desc, doc_id asc).

    Plan (round-7 rewrite, guide §2.3/§2.4): the old form exploded every
    token (corpus-scale shuffle on (doc, dl, term) + a second groupBy per
    doc with an interpreted collect_list/array_sort/aggregate fold). Now
    per-term tfs are computed IN the scan projection (tf_t = size(tokens)
    - size(array_remove(tokens, t)) — whole-stage codegen, no explode),
    ONE single-row aggregate carries (n, avgdl, df_0..df_{k-1}), and the
    score is the same contribs summed in the same term-ascending order —
    zero-tf contribs are exactly 0.0 and x + 0.0 is bit-exact, so score_u
    is unchanged (verified hash-identical at sf0.01/0.1/1.0). Shuffles:
    3 → 1 single-row exchange; Python/interpreted nodes: 0."""
    terms = sorted(set(query_terms))
    if not terms:
        return (
            docs.select(F.col(id_col).alias("doc_id"),
                        F.lit(0).cast("long").alias("score_u"))
            .filter(F.lit(False))
        )
    # dl == token count == number of maximal [a-z0-9]+ runs; per-term tf ==
    # occurrences of the term bounded by (?<![a-z0-9])/(?![a-z0-9])
    # lookarounds (a match must span a whole token). Pure regexp_count —
    # no token-array materialization at all (the A/B measured this ~20%
    # faster than the split+array_remove form and ~2.4x vs the explode
    # plan). Terms that are not themselves [a-z0-9]+ strings can never
    # equal a token of this analyzer: tf ≡ 0, df ≡ 0, zero contribution.
    import re as _re

    lower = F.lower(F.col(text_col))

    def _tf(t):
        if not _re.fullmatch(r"[a-z0-9]+", t):
            return F.lit(0).cast("long")
        return F.regexp_count(
            lower, F.lit(f"(?<![a-z0-9]){t}(?![a-z0-9])")
        ).cast("long")

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(lower, F.lit("[a-z0-9]+")).alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    # same per-term contrib expression as before; summed term-asc (terms is
    # sorted), matching the old fold's addend order exactly
    score = None
    for i in range(len(terms)):
        contrib = bm25_tf(f"tf{i}", k1, b, weight=idf(f"df{i}"))
        score = contrib if score is None else score + contrib
    matched = None
    for i in range(len(terms)):
        cond = F.col(f"tf{i}") > 0
        matched = cond if matched is None else matched | cond
    return (
        scored.filter(matched)
        .select("doc_id", F.floor(score * 1e6).cast("long").alias("score_u"))
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
    )


def match_phrase_df(docs: DataFrame, phrase_terms: list[str], k: int = 10,
                    id_col: str = "doc_id", text_col: str = "text",
                    k1: float = BM25_K1, b: float = BM25_B,
                    candidates: DataFrame | None = None) -> DataFrame:
    """ES `match_phrase` with Lucene PhraseQuery scoring: the phrase acts
    as one synthetic term whose tf is the PHRASE FREQUENCY (count of exact
    adjacent occurrences) and whose idf is the SUM of the constituent
    terms' idfs. Adjacency is checked JVM-side with element_at over the
    token array (whole-stage codegen, no Python). Returns (doc_id,
    score_u), tie-break (score desc, doc_id asc). Mirrored exactly by
    match_phrase_sql.

    `candidates` (a (doc_id) frame) restricts the EXPENSIVE per-doc
    position aggregate to those docs while idf/avgdl statistics stay
    corpus-level — scores for the candidate docs are identical to a full
    run. This is the rescore two-phase contract: the phrase scorer
    touches window_size rows, not the corpus."""
    if not phrase_terms:
        raise ValueError("empty phrase")
    toks = tokens_frame(docs, id_col, text_col)
    base = toks if candidates is None else toks.join(
        F.broadcast(candidates.select("doc_id")), "doc_id", "left_semi")
    return frequency_topk(base, phrase_freq(F.col("tokens"), phrase_terms),
                          toks, phrase_terms, k, k1, b)


def match_phrase_sql(table: str, phrase_terms: list[str], k: int = 10,
                     id_col: str = "doc_id", text_col: str = "text",
                     k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of match_phrase_df — same tokenizer, same phrase-freq
    definition, same idf-sum order, same quantization."""
    n_terms = len(phrase_terms)
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    adj = " AND ".join(
        f"tokens[i + {j}] = {lit(t)}" for j, t in enumerate(phrase_terms)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN list_contains(tokens, {lit(t)}) THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(phrase_terms)
    )
    idf_sum = " + ".join(
        f"ln(1.0 + (s.n - d.df{i} + 0.5) / (d.df{i} + 0.5))" for i in range(n_terms)
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9]+'),
                     t -> t <> '') AS tokens
  FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
dfs AS (SELECT {df_cols} FROM toks),
matched AS (
  SELECT doc_id, len(tokens) AS dl,
         list_sum(list_transform(
           generate_series(1, greatest(len(tokens) - {n_terms - 1}, 0)),
           i -> CASE WHEN {adj} THEN 1 ELSE 0 END)) AS pf
  FROM toks
)
SELECT m.doc_id,
       CAST(floor(({idf_sum}) * {k1 + 1.0} * m.pf
            / (m.pf + {k1} * (1.0 - {b} + {b} * m.dl / s.avgdl)) * 1e6) AS BIGINT) AS score_u
FROM matched m CROSS JOIN stats s CROSS JOIN dfs d
WHERE m.pf > 0
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def bm25_topk_sql(table: str, query_terms: list[str], k: int = 10,
                  id_col: str = "doc_id", text_col: str = "text",
                  k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB SQL computing the exact same result as bm25_topk_df — same
    tokenizer regex, same formula term order, same quantization."""
    terms = sorted(set(query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9]+'),
                     t -> t <> '') AS tokens
  FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
base AS (SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM toks),
tfq AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM base WHERE term IN ({in_list})
  GROUP BY doc_id, dl, term
),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
scored AS (
  SELECT t.doc_id, t.term,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * {k1 + 1.0} * t.tf
           / (t.tf + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl)) AS contrib
  FROM tfq t JOIN dfq d USING (term) CROSS JOIN stats s
)
SELECT doc_id,
       CAST(floor(list_sum(list(contrib ORDER BY term)) * 1e6) AS BIGINT) AS score_u
FROM scored
GROUP BY doc_id
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def bm25_scores_df(docs: DataFrame, query_terms: list[str],
                   id_col: str = "doc_id", text_col: str = "text",
                   k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """All matching docs' quantized BM25 scores (doc_id, score_u) for one
    field — the un-truncated core of bm25_topk_df, reused by multi_match.
    Same order-deterministic term-asc fold and floor(×1e6) quantization."""
    return sum_term_asc(term_contribs(tokens_frame(docs, id_col, text_col),
                                      sorted(set(query_terms)), k1, b))


def _scores_cte(i: int, table: str, field: str, terms: list[str],
                id_col: str = "doc_id",
                k1: float = BM25_K1, b: float = BM25_B) -> str:
    """One per-subquery quantized-score CTE chain (DuckDB), mirroring
    bm25_scores_df on `field` with `terms`: yields q{i}_scores(doc_id, s_{i})."""
    uniq = sorted(set(terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in uniq)
    toks = _TOKS_SQL.format(col=field)
    return f"""
q{i}_toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
q{i}_stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM q{i}_toks),
q{i}_tfq AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM q{i}_toks
  ) WHERE term IN ({in_list}) GROUP BY doc_id, dl, term
),
q{i}_dfq AS (SELECT term, count(*) AS df FROM q{i}_tfq GROUP BY term),
q{i}_scores AS (
  SELECT doc_id,
         CAST(floor(list_sum(list(contrib ORDER BY term)) * 1e6) AS BIGINT) AS s_{i}
  FROM (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * {k1 + 1.0} * t.tf
             / (t.tf + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl)) AS contrib
    FROM q{i}_tfq t JOIN q{i}_dfq d USING (term) CROSS JOIN q{i}_stats s
  ) GROUP BY doc_id
)"""


def multi_match_df(docs: DataFrame, query_terms: list[str], fields: list[str],
                   k: int = 10, match_type: str = "best_fields",
                   id_col: str = "doc_id",
                   k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES `multi_match` over several text columns: per-field BM25 (each
    field has its OWN df/avgdl statistics, like per-field Lucene indexes),
    combined per doc — `best_fields` takes the MAX field score (Lucene
    DisMax, tie_breaker 0), `most_fields` SUMS them. Combination happens on
    the already-quantized per-field integers, so the result is
    order-free-exact and the DuckDB mirror (multi_match_sql) agrees
    bit-for-bit. Returns (doc_id, score_u), tie (score desc, doc_id asc).
    One tokenize+aggregate pipeline per field over the same scan, fused
    by ``fuse_scores``; the plugin forwards query bodies verbatim
    (in_elasticsearch.rb:94-99), this implements the ES-side semantics."""
    if match_type not in ("best_fields", "most_fields"):
        raise ValueError(f"unsupported multi_match type: {match_type}")
    return fuse_scores([bm25_scores_df(docs, query_terms, id_col, f, k1, b)
                        for f in fields], k,
                       "max" if match_type == "best_fields" else "sum")


def multi_match_sql(table: str, query_terms: list[str], fields: list[str],
                    k: int = 10, match_type: str = "best_fields",
                    id_col: str = "doc_id",
                    k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of multi_match_df (same per-field pipeline as
    bm25_topk_sql, combined on quantized integers)."""
    terms = sorted(set(query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    ctes = []
    for i, f in enumerate(fields):
        ctes.append(f"""
f{i}_toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(regexp_split_to_array(lower({f}), '[^a-z0-9]+'),
                     t -> t <> '') AS tokens
  FROM {table}
),
f{i}_stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM f{i}_toks),
f{i}_tfq AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM f{i}_toks
  ) WHERE term IN ({in_list}) GROUP BY doc_id, dl, term
),
f{i}_dfq AS (SELECT term, count(*) AS df FROM f{i}_tfq GROUP BY term),
f{i}_scores AS (
  SELECT doc_id,
         CAST(floor(list_sum(list(contrib ORDER BY term)) * 1e6) AS BIGINT) AS s_{i}
  FROM (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * {k1 + 1.0} * t.tf
             / (t.tf + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl)) AS contrib
    FROM f{i}_tfq t JOIN f{i}_dfq d USING (term) CROSS JOIN f{i}_stats s
  ) GROUP BY doc_id
)""")
    join = "f0_scores"
    for i in range(1, len(fields)):
        join += f" FULL OUTER JOIN f{i}_scores USING (doc_id)"
    parts = [f"coalesce(s_{i}, 0)" for i in range(len(fields))]
    comb = f"greatest({', '.join(parts)})" if match_type == "best_fields" else " + ".join(parts)
    return f"""
WITH {', '.join(ctes)}
SELECT doc_id, CAST({comb} AS BIGINT) AS score_u
FROM {join}
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def parse_query_string(q: str) -> list[list[str]]:
    """query_string-lite grammar: terms separated by OR form alternative
    groups; AND (or plain whitespace) separates terms within a group; no
    parentheses, phrases or wildcards. Returns OR-of-AND groups of
    tokenized terms."""
    import re as _re

    from ..textproc import tokenize_simple

    groups = []
    for disj in _re.split(r"\s+OR\s+", q.strip()):
        terms: list[str] = []
        for conj in _re.split(r"\s+AND\s+", disj):
            terms += tokenize_simple(conj)
        if terms:
            groups.append(terms)
    return groups


def query_string_df(docs: DataFrame, query: str, k: int = 10,
                    id_col: str = "doc_id", text_col: str = "text",
                    k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES `query_string`-lite: the boolean structure GATES matching (a doc
    qualifies iff some OR-group has ALL its terms present), the score is
    the standard BM25 sum over every unique query term the doc contains —
    ES compiles query_string to a bool of match clauses with exactly this
    shape. df statistics stay corpus-global (ES semantics), the boolean
    gate is a token-array membership filter pushed into the same scan.
    Returns (doc_id, score_u), tie (score desc, doc_id asc)."""
    groups = parse_query_string(query)
    if not groups:
        raise ValueError("empty query_string")
    toks = tokens_frame(docs, id_col, text_col)
    cond = F.lit(False)
    for g in groups:
        gc = F.lit(True)
        for t in g:
            gc = gc & F.array_contains("tokens", t)
        cond = cond | gc
    contribs = term_contribs(toks, sorted({t for g in groups for t in g}), k1, b,
                             gate=toks.filter(cond).select("doc_id"))
    return sum_term_asc(contribs).orderBy(F.desc("score_u"), F.asc("doc_id")).limit(k)


def query_string_sql(table: str, query: str, k: int = 10,
                     id_col: str = "doc_id", text_col: str = "text",
                     k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of query_string_df."""
    groups = parse_query_string(query)
    uniq = sorted({t for g in groups for t in g})
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    in_list = ", ".join(lit(t) for t in uniq)
    cond = " OR ".join(
        "(" + " AND ".join(f"list_contains(tokens, {lit(t)})" for t in g) + ")"
        for g in groups
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9]+'),
                     t -> t <> '') AS tokens
  FROM {table}
),
matched AS (SELECT doc_id FROM toks WHERE {cond}),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
base AS (SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM toks),
tfq AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM base WHERE term IN ({in_list})
  GROUP BY doc_id, dl, term
),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
scored AS (
  SELECT t.doc_id, t.term,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * {k1 + 1.0} * t.tf
           / (t.tf + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl)) AS contrib
  FROM tfq t JOIN dfq d USING (term) CROSS JOIN stats s
  WHERE t.doc_id IN (SELECT doc_id FROM matched)
)
SELECT doc_id,
       CAST(floor(list_sum(list(contrib ORDER BY term)) * 1e6) AS BIGINT) AS score_u
FROM scored
GROUP BY doc_id
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def combined_fields_df(docs: DataFrame, query_terms: list[str],
                       fields: list[str], k: int = 10,
                       weights: dict[str, int] | None = None,
                       id_col: str = "doc_id",
                       k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES combined_fields (7.13+): fields scored as ONE combined field —
    term frequencies and lengths blend across fields (BM25F with shared
    statistics), unlike multi_match which scores per-field indexes and
    combines afterwards.

    Exact reduction: with integer per-field weights, the combined field
    IS the weighted concatenation of the fields — tf sums across copies,
    dl is the weighted length sum, df/avgdl come from the combined text —
    so the single-field BM25 pipeline applies unchanged (one extra
    projection; ES itself restricts combined_fields weights to >= 1).
    Returns (doc_id, score_u), tie (score desc, doc_id asc)."""
    parts: list = []
    for f in fields:
        w = int((weights or {}).get(f, 1))
        if w < 1:
            raise ValueError("combined_fields weights must be >= 1 (ES rule)")
        parts += [F.coalesce(F.col(f).cast("string"), F.lit(""))] * w
    combined = docs.withColumn("__combined", F.concat_ws(" ", *parts))
    scores = bm25_scores_df(combined, query_terms, id_col, "__combined", k1, b)
    return scores.orderBy(F.desc("score_u"), F.asc("doc_id")).limit(k)


def combined_fields_sql(table: str, query_terms: list[str],
                        fields: list[str], k: int = 10,
                        weights: dict[str, int] | None = None,
                        id_col: str = "doc_id",
                        k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of combined_fields_df (same weighted concatenation
    into the single-field quantized-score pipeline)."""
    parts: list[str] = []
    for f in fields:
        w = int((weights or {}).get(f, 1))
        parts += [f"coalesce(CAST({f} AS VARCHAR), '')"] * w
    combined = "concat_ws(' ', " + ", ".join(parts) + ")"
    cte = _scores_cte(0, table, combined, query_terms, id_col, k1, b)
    return f"""
WITH {cte}
SELECT doc_id, s_0 AS score_u FROM q0_scores
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def match_bool_prefix_df(docs: DataFrame, query_terms: list[str], k: int = 10,
                         id_col: str = "doc_id", text_col: str = "text",
                         k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES match_bool_prefix (the search-as-you-type query): every term but
    the last is a scored BM25 term clause, the LAST term is a prefix
    clause — constant-score 1.0 like Lucene's PrefixQuery inside a bool
    should. A doc matches if ANY clause matches (bool-should semantics);
    score_u = BM25 sum of the full terms + 1e6 iff any token starts with
    the prefix. Returns (doc_id, score_u) top-k."""
    *full, pref = query_terms
    toks = tokens_frame(docs, id_col, text_col)
    has_pref = F.exists("tokens", lambda t: t.startswith(pref))
    parts = [bm25_scores_df(docs, full, id_col, text_col, k1, b)] if full else []
    parts.append(toks.filter(has_pref)
                 .select("doc_id", F.lit(int(1e6)).alias("score_u")))
    return fuse_scores(parts, k, "sum")


def match_bool_prefix_sql(table: str, query_terms: list[str], k: int = 10,
                          id_col: str = "doc_id", text_col: str = "text",
                          k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of match_bool_prefix_df."""
    *full, pref = query_terms
    plit = "'" + pref.replace("'", "''") + "'"
    toks = _TOKS_SQL.format(col=text_col)
    pside = f"""
pside AS (
  SELECT {id_col} AS doc_id, CAST(1000000 AS BIGINT) AS p_u FROM {table}
  WHERE len(list_filter({toks}, t -> starts_with(t, {plit}))) > 0
)"""
    if full:
        cte = _scores_cte(0, table, text_col, full, id_col, k1, b)
        return f"""
WITH {cte},{pside}
SELECT coalesce(s.doc_id, p.doc_id) AS doc_id,
       CAST(coalesce(s.s_0, 0) + coalesce(p.p_u, 0) AS BIGINT) AS score_u
FROM q0_scores s FULL OUTER JOIN pside p ON s.doc_id = p.doc_id
ORDER BY score_u DESC, doc_id ASC LIMIT {k}
"""
    return f"""
WITH {pside.lstrip(chr(10))}
SELECT doc_id, p_u AS score_u FROM pside
ORDER BY score_u DESC, doc_id ASC LIMIT {k}
"""


def explain_df(docs: DataFrame, query_terms: list[str], doc_id: int,
               id_col: str = "doc_id", text_col: str = "text",
               k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES _explain API: the per-term BM25 score breakdown for ONE document
    — (term, tf, df, n, dl, contrib_u) rows, term asc, quantized like the
    scorer so Σ contrib matches the search score to the micro-unit.
    The corpus statistics (df per query term, N, avgdl) come from the
    same corpus-wide pass the scorer uses — filtering to the one doc
    happens AFTER tf extraction, so the explanation is faithful to what
    the search actually computed."""
    contribs = term_contribs(tokens_frame(docs, id_col, text_col),
                             sorted(set(query_terms)), k1, b)
    return (contribs.filter(F.col("doc_id") == int(doc_id))
            .select("term", "tf", "df", "n", "dl",
                    F.floor(idf("df") * 1e6).cast("long").alias("idf_u"),
                    F.floor(F.col("contrib") * 1e6).cast("long").alias("contrib_u"))
            .orderBy(F.asc("term")))


def explain_sql(table: str, query_terms: list[str], doc_id: int,
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of explain_df."""
    terms = sorted(set(query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
base AS (SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM toks),
tfq AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM base
  WHERE term IN ({in_list}) GROUP BY doc_id, dl, term
),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term)
SELECT t.term, t.tf, d.df, s.n, t.dl,
       CAST(floor(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * 1e6) AS BIGINT) AS idf_u,
       CAST(floor(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * {k1 + 1.0} * t.tf
            / (t.tf + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl)) * 1e6) AS BIGINT) AS contrib_u
FROM tfq t JOIN dfq d USING (term) CROSS JOIN stats s
WHERE t.doc_id = {int(doc_id)}
ORDER BY t.term ASC
"""
