"""Search-relevance compositions over the pure-DataFrame BM25 core:
dis_max, boosting, function_score (field_value_factor), field collapsing,
match_phrase_prefix, and more_like_this — the remaining ES compound-query
surface the reference plugin forwards verbatim (in_elasticsearch.rb:94-99
passes arbitrary query bodies; out_elasticsearch.rb never rewrites them).

Each operator has a paired DuckDB SQL generator computing the identical
result (same tokenizer, same formula order, same floor(x1e6) quantization
contract as operators/bm25.py) so the driver's oracle gate verifies them
value-exact.

Scale shape: every operator here composes the bm25_scores_df pipeline
(scan -> explode -> partial-aggregated groupBy on (doc_id, term) ->
broadcast df join) with per-doc integer arithmetic — no new shuffle
beyond the score aggregation itself; combination/collapse windows run on
the already-tiny matched-doc set or are keyed by the collapse field.

The scoring rules — the token frame, idf, the tf-factor, the term-score
pipeline and its term-ascending fold, the phrase/span frequency scorer,
the phrase-frequency walk, the position lists and the DuckDB tokenizer
and score CTE — are each defined once in operators/bm25.py; the scorers
here call those copies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..extraction import simple_tokens_col
from .bm25 import (
    _TOKS_SQL,
    _scores_cte,
    bm25_scores_df,
    bm25_tf,
    corpus_stats_with_dfs,
    frequency_topk,
    fuse_scores,
    idf,
    match_phrase_df,
    match_phrase_sql,
    phrase_freq,
    positions_of,
    sum_term_asc,
    term_contribs,
    term_rows,
    tokens_frame,
)
from .caching import pin

def dis_max_df(docs: DataFrame, queries: list[tuple[str, list[str]]],
               tie_breaker: float = 0.0, k: int = 10,
               id_col: str = "doc_id",
               k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES dis_max: score = max(subquery scores) + tie_breaker * (sum of the
    OTHER matching subqueries' scores) — Lucene DisjunctionMaxQuery.
    Each subquery is a (text_column, query_terms) match with its own field
    statistics. Combination runs on the already-quantized per-subquery
    integers (tie_breaker multiply is one IEEE float op, identical in both
    engines), re-floored to keep the integer contract.
    Returns (doc_id, score_u), tie-break (score desc, doc_id asc)."""
    return fuse_scores([bm25_scores_df(docs, terms, id_col, field, k1, b)
                        for field, terms in queries], k,
                       tie_breaker=tie_breaker)


def dis_max_sql(table: str, queries: list[tuple[str, list[str]]],
                tie_breaker: float = 0.0, k: int = 10,
                id_col: str = "doc_id",
                k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of dis_max_df."""
    ctes = [_scores_cte(i, table, f, t, id_col, k1, b)
            for i, (f, t) in enumerate(queries)]
    join = "q0_scores"
    for i in range(1, len(queries)):
        join += f" FULL OUTER JOIN q{i}_scores USING (doc_id)"
    parts = [f"coalesce(s_{i}, 0)" for i in range(len(queries))]
    mx = f"greatest({', '.join(parts)})" if len(parts) > 1 else parts[0]
    total = " + ".join(parts)
    return f"""
WITH {', '.join(ctes)}
SELECT doc_id,
       CAST(floor({mx} + {tie_breaker} * (({total}) - {mx})) AS BIGINT) AS score_u
FROM {join}
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def boosting_df(docs: DataFrame, positive_terms: list[str],
                negative: Column, negative_boost: float = 0.5,
                k: int = 10, id_col: str = "doc_id", text_col: str = "text",
                k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES boosting query: positive matches score normally; docs ALSO
    matching the `negative` clause (a compiled query_ast Column over the
    docs table) keep their positive score DEMOTED by negative_boost —
    demotion, not exclusion. floor(score_u * nb) keeps the integer
    contract. Returns (doc_id, score_u)."""
    scores = bm25_scores_df(docs, positive_terms, id_col, text_col, k1, b)
    neg_ids = docs.filter(negative).select(F.col(id_col).alias("doc_id"),
                                           F.lit(True).alias("__neg"))
    return (
        scores.join(F.broadcast(neg_ids), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__neg"),
                   F.floor(F.col("score_u") * negative_boost).cast("long"))
            .otherwise(F.col("score_u")).alias("score_u"),
        )
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
    )


def boosting_sql(table: str, positive_terms: list[str], negative_pred: str,
                 negative_boost: float = 0.5, k: int = 10,
                 id_col: str = "doc_id", text_col: str = "text",
                 k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of boosting_df (negative clause as a SQL predicate)."""
    cte = _scores_cte(0, table, text_col, positive_terms, id_col, k1, b)
    return f"""
WITH {cte},
neg AS (SELECT {id_col} AS doc_id FROM {table} WHERE {negative_pred})
SELECT s.doc_id,
       CAST(CASE WHEN n.doc_id IS NOT NULL
            THEN floor(s.s_0 * {negative_boost}) ELSE s.s_0 END AS BIGINT) AS score_u
FROM q0_scores s LEFT JOIN neg n USING (doc_id)
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


_MODIFIERS = {
    "none": lambda c: c,
    "log1p": lambda c: F.log(F.lit(1.0) + c),
    "sqrt": F.sqrt,
    # ES rank_feature shapes: saturation(x) = x/(x+pivot-as-factor-
    # carried-in-x's scaling); sigmoid via its standard logistic form.
    # Both bounded — the rank_feature property that keeps one feature
    # from drowning the text score.
    "saturation": lambda c: c / (c + F.lit(1.0)),
    "sigmoid": lambda c: F.lit(1.0) / (F.lit(1.0) + F.exp(-c)),
}
_MODIFIERS_SQL = {
    "none": lambda e: e,
    "log1p": lambda e: f"ln(1.0 + {e})",
    "sqrt": lambda e: f"sqrt({e})",
    "saturation": lambda e: f"(({e}) / (({e}) + 1.0))",
    "sigmoid": lambda e: f"(1.0 / (1.0 + exp(-({e}))))",
}


def function_score_df(docs: DataFrame, query_terms: list[str],
                      factor_field: str, factor: float = 1.0,
                      modifier: str = "log1p", k: int = 10,
                      id_col: str = "doc_id", text_col: str = "text",
                      k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES function_score with field_value_factor (boost_mode=multiply,
    the default): final = bm25 * modifier(factor * doc[field]). The boost
    multiplies the quantized score and is re-floored — identical float ops
    in both engines. Returns (doc_id, score_u)."""
    if modifier not in _MODIFIERS:
        raise ValueError(f"unsupported modifier: {modifier}")
    scores = bm25_scores_df(docs, query_terms, id_col, text_col, k1, b)
    vals = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(factor_field).cast("double").alias("__fv"))
    boost = _MODIFIERS[modifier](F.lit(float(factor)) * F.col("__fv"))
    return (
        scores.join(vals, "doc_id")
        .select("doc_id",
                F.floor(F.col("score_u") * boost).cast("long").alias("score_u"))
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
    )


def function_score_sql(table: str, query_terms: list[str],
                       factor_field: str, factor: float = 1.0,
                       modifier: str = "log1p", k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of function_score_df."""
    cte = _scores_cte(0, table, text_col, query_terms, id_col, k1, b)
    boost = _MODIFIERS_SQL[modifier](f"{factor} * CAST(v.{factor_field} AS DOUBLE)")
    return f"""
WITH {cte}
SELECT s.doc_id,
       CAST(floor(s.s_0 * {boost}) AS BIGINT) AS score_u
FROM q0_scores s JOIN {table} v ON s.doc_id = v.{id_col}
ORDER BY score_u DESC, s.doc_id ASC
LIMIT {k}
"""


def collapse_topk(docs: DataFrame, query_terms: list[str],
                  collapse_field: str, k: int = 10,
                  id_col: str = "doc_id", text_col: str = "text",
                  k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES field collapsing: the single best hit per collapse_field value
    (score desc, doc_id asc within the group), then the global top-k of
    the survivors. The dedup window is PARTITIONED BY the collapse field —
    scales with group count, no single-partition funnel; the global top-k
    over one-row-per-group is a TakeOrderedAndProject.
    Returns (doc_id, <collapse_field>, score_u)."""
    from pyspark.sql import Window

    scores = bm25_scores_df(docs, query_terms, id_col, text_col, k1, b)
    keyed = scores.join(
        docs.select(F.col(id_col).alias("doc_id"), collapse_field), "doc_id")
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score_u"), F.asc("doc_id"))
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", collapse_field, "score_u")
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
    )


def collapse_sql(table: str, query_terms: list[str], collapse_field: str,
                 k: int = 10, id_col: str = "doc_id", text_col: str = "text",
                 k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of collapse_topk."""
    cte = _scores_cte(0, table, text_col, query_terms, id_col, k1, b)
    return f"""
WITH {cte},
keyed AS (
  SELECT s.doc_id, v.{collapse_field}, s.s_0 AS score_u,
         row_number() OVER (PARTITION BY v.{collapse_field}
                            ORDER BY s.s_0 DESC, s.doc_id ASC) AS rn
  FROM q0_scores s JOIN {table} v ON s.doc_id = v.{id_col}
)
SELECT doc_id, {collapse_field}, score_u
FROM keyed WHERE rn = 1
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def collapse_inner_hits(docs: DataFrame, query_terms: list[str],
                        collapse_field: str, inner_size: int = 3,
                        k: int = 10, id_col: str = "doc_id",
                        text_col: str = "text",
                        k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES field collapsing WITH inner_hits: the global top-k collapse
    groups (ranked by each group's best hit, exactly collapse_topk's
    cut) expanded to each group's top ``inner_size`` hits — the
    "3 results per domain" SERP shape. Two keyed windows (both
    partitioned by the collapse field — group-bounded state, no global
    funnel); the k winning groups then come back as a BROADCAST join so
    the expansion never reshuffles the scored corpus. Returns
    (doc_id, <collapse_field>, score_u, inner_rank) ordered by the
    group's best hit (desc, group-best doc asc), inner_rank asc."""
    from pyspark.sql import Window

    best = (collapse_topk(docs, query_terms, collapse_field, k=k,
                          id_col=id_col, text_col=text_col, k1=k1, b=b)
            .select(F.col(collapse_field),
                    F.col("score_u").alias("__best_u"),
                    F.col("doc_id").alias("__best_doc")))
    scores = bm25_scores_df(docs, query_terms, id_col, text_col, k1, b)
    keyed = scores.join(
        docs.select(F.col(id_col).alias("doc_id"), collapse_field), "doc_id")
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score_u"), F.asc("doc_id"))
    return (keyed.join(F.broadcast(best), collapse_field)
            .withColumn("inner_rank", F.row_number().over(w))
            .filter(F.col("inner_rank") <= int(inner_size))
            .select("doc_id", collapse_field, "score_u", "inner_rank")
            .orderBy(F.desc("__best_u"), F.asc("__best_doc"),
                     F.asc("inner_rank")))


def collapse_inner_hits_sql(table: str, query_terms: list[str],
                            collapse_field: str, inner_size: int = 3,
                            k: int = 10, id_col: str = "doc_id",
                            text_col: str = "text",
                            k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of collapse_inner_hits."""
    cte = _scores_cte(0, table, text_col, query_terms, id_col, k1, b)
    return f"""
WITH {cte},
keyed AS (
  SELECT s.doc_id, v.{collapse_field}, s.s_0 AS score_u,
         row_number() OVER (PARTITION BY v.{collapse_field}
                            ORDER BY s.s_0 DESC, s.doc_id ASC) AS inner_rank
  FROM q0_scores s JOIN {table} v ON s.doc_id = v.{id_col}
),
best AS (
  SELECT {collapse_field}, score_u AS best_u, doc_id AS best_doc
  FROM keyed WHERE inner_rank = 1
  ORDER BY score_u DESC, doc_id ASC LIMIT {k}
)
SELECT kd.doc_id, kd.{collapse_field}, kd.score_u, kd.inner_rank
FROM keyed kd JOIN best b USING ({collapse_field})
WHERE kd.inner_rank <= {int(inner_size)}
ORDER BY b.best_u DESC, b.best_doc ASC, kd.inner_rank ASC
"""


def match_phrase_prefix_df(docs: DataFrame, phrase_terms: list[str],
                           k: int = 10, id_col: str = "doc_id",
                           text_col: str = "text",
                           k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES match_phrase_prefix: like match_phrase but the LAST term matches
    as a prefix (search-as-you-type). Phrase frequency counts adjacent
    occurrences whose final token startswith the prefix; the last term's
    df is the count of docs containing ANY token with that prefix; scoring
    is the Lucene phrase formula (idf sum x phrase-tf saturation) as in
    bm25.match_phrase_df. Adjacency stays JVM-side (element_at +
    startswith inside an aggregate — whole-stage codegen, no Python).
    Returns (doc_id, score_u)."""
    if not phrase_terms:
        raise ValueError("empty phrase")
    exact, prefix = phrase_terms[:-1], phrase_terms[-1]
    toks = tokens_frame(docs, id_col, text_col)
    # the last clause's df counts docs with ANY token carrying the prefix
    return frequency_topk(
        toks, phrase_freq(F.col("tokens"), exact, prefix), toks,
        [*exact, F.exists("tokens", lambda x: x.startswith(prefix))], k, k1, b)


def match_phrase_prefix_sql(table: str, phrase_terms: list[str], k: int = 10,
                            id_col: str = "doc_id", text_col: str = "text",
                            k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of match_phrase_prefix_df."""
    n_terms = len(phrase_terms)
    exact, prefix = phrase_terms[:-1], phrase_terms[-1]
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    adj_parts = [f"tokens[i + {j}] = {lit(t)}" for j, t in enumerate(exact)]
    adj_parts.append(f"starts_with(tokens[i + {n_terms - 1}], {lit(prefix)})")
    adj = " AND ".join(adj_parts)
    df_parts = [
        f"sum(CASE WHEN list_contains(tokens, {lit(t)}) THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(exact)
    ]
    df_parts.append(
        f"sum(CASE WHEN len(list_filter(tokens, x -> starts_with(x, {lit(prefix)}))) > 0"
        f" THEN 1 ELSE 0 END) AS df{n_terms - 1}")
    df_cols = ",\n         ".join(df_parts)
    idf_sum = " + ".join(
        f"ln(1.0 + (s.n - d.df{i} + 0.5) / (d.df{i} + 0.5))" for i in range(n_terms)
    )
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
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


def multi_match_phrase_df(docs: DataFrame, phrase_terms: list[str],
                          fields: list[str], k: int = 10,
                          prefix: bool = False, id_col: str = "doc_id",
                          k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES `multi_match` with `type: "phrase"` (or `"phrase_prefix"`): the
    phrase scorer runs per field — each field with its OWN corpus
    statistics, like per-field Lucene indexes — and the per-doc score is
    the MAX of the quantized field scores (phrase types imply best_fields
    / DisMax with tie_breaker 0 in ES).

    Combining per-field TOP-K tables (not full score tables) is exact for
    MAX: a doc outside every field's top-k is dominated, in its best
    field alone, by that field's k entries — each of which has combined
    score >= its score in that field >= the doc's combined score (ties
    break doc_id asc both places). So the union of per-field top-k
    contains the combined top-k. Returns (doc_id, score_u)."""
    scorer = match_phrase_prefix_df if prefix else match_phrase_df
    return fuse_scores([scorer(docs, phrase_terms, k=k, id_col=id_col,
                               text_col=f, k1=k1, b=b) for f in fields], k)


def multi_match_phrase_sql(table: str, phrase_terms: list[str],
                           fields: list[str], k: int = 10,
                           prefix: bool = False, id_col: str = "doc_id",
                           k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of multi_match_phrase_df: the SAME per-field top-k
    subqueries (match_phrase_sql / match_phrase_prefix_sql), full-outer
    joined on doc_id, MAX of coalesced quantized scores."""
    gen = match_phrase_prefix_sql if prefix else match_phrase_sql
    subs = [gen(table, phrase_terms, k=k, id_col=id_col, text_col=f,
                k1=k1, b=b) for f in fields]
    frm = f"({subs[0]}) f0"
    for i in range(1, len(subs)):
        frm += f" FULL JOIN ({subs[i]}) f{i} USING (doc_id)"
    comb = ", ".join(f"coalesce(f{i}.score_u, 0)" for i in range(len(subs)))
    comb = f"greatest({comb})" if len(subs) > 1 else comb
    return f"""
SELECT doc_id, CAST({comb} AS BIGINT) AS score_u
FROM {frm}
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def fuzzy_match_df(docs: DataFrame, query_terms: list[str],
                   fuzziness: int | str = "AUTO", max_expansions: int = 50,
                   k: int = 10, id_col: str = "doc_id",
                   text_col: str = "text",
                   k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES `match` with `fuzziness`, self-contained DataFrame form: each
    query token expands against the CORPUS VOCABULARY (distinct tokens +
    df — the same dictionary an index holds) within its edit budget,
    ranked (distance asc, df desc, term asc) and capped at
    max_expansions; expanded-term weights are floor((1 - d/len)·1e6)
    integers summed per term (w_u <= 0 dropped), and each (doc, term)
    contribution floor-quantizes BEFORE the per-doc integer sum — the
    exact contract of search.fuzzy_match_topk, which serves the same
    scores from postings when an index exists. "AUTO" fuzziness is the
    ES rule (0 edits < 3 chars, 1 for 3-5, 2 above).

    Plan: vocabulary aggregate (one shuffle on term), a vocab x
    query-token levenshtein under a length band (query tokens are a
    literal handful — broadcast), then the standard tf/df scoring
    pipeline with the tiny (term, w_u) table broadcast in. Returns
    (doc_id, score_u)."""
    spark = docs.sparkSession
    uniq = sorted(set(query_terms))
    if not uniq:
        raise ValueError("empty fuzzy match query")
    toks = tokens_frame(docs, id_col, text_col)
    vocab = (toks.select(F.explode(F.array_distinct("tokens")).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    if fuzziness == "AUTO":
        from .search import auto_fuzziness

        q = spark.createDataFrame(
            [(t, auto_fuzziness(t)) for t in uniq], "input_term string, fz int")
    else:
        q = spark.createDataFrame(
            [(t, int(fuzziness)) for t in uniq], "input_term string, fz int")
    from pyspark.sql import Window

    cand = (
        vocab.crossJoin(F.broadcast(q))
        .filter((F.length("term") >= F.length("input_term") - F.col("fz"))
                & (F.length("term") <= F.length("input_term") + F.col("fz")))
        .withColumn("d", F.levenshtein(F.col("term"), F.col("input_term")))
        .filter(F.col("d") <= F.col("fz"))
    )
    wq = Window.partitionBy("input_term").orderBy(
        F.asc("d"), F.desc("df"), F.asc("term"))
    weighted = (
        cand.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= int(max_expansions))
        .withColumn("w_u", F.floor(
            (F.lit(1.0) - F.col("d") / F.length("input_term")) * 1e6
        ).cast("long"))
        .filter(F.col("w_u") > 0)
    )
    tw = weighted.groupBy("term", "df").agg(F.sum("w_u").alias("w_u"))
    tfq = (term_rows(toks).join(F.broadcast(tw), "term")
           .groupBy("doc_id", "dl", "term", "df", "w_u")
           .agg(F.count(F.lit(1)).alias("tf")))
    scored = tfq.crossJoin(F.broadcast(corpus_stats_with_dfs(toks, [])))
    # op order mirrors wand.score_shard_matched with quantize=True:
    # iw = idf * (w_u/1e6); contrib = iw * ((k1+1)*tf / (tf + k1*(1-b+b*dl/avgdl)));
    # floor(contrib * 1e6) per (doc, term), then EXACT integer sum
    iw = idf("df") * (F.col("w_u") / F.lit(1e6))
    contrib_u = F.floor((iw * bm25_tf("tf", k1, b)) * 1e6).cast("long")
    return (
        scored.select("doc_id", contrib_u.alias("c"))
        .groupBy("doc_id").agg(F.sum("c").cast("long").alias("score_u"))
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
    )


def fuzzy_match_sql(table: str, query_terms: list[str],
                    fuzziness: int | str = "AUTO", max_expansions: int = 50,
                    k: int = 10, id_col: str = "doc_id",
                    text_col: str = "text",
                    k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of fuzzy_match_df — same vocabulary expansion, same
    integer weight/contribution quantization, same op order."""
    from .search import auto_fuzziness

    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    uniq = sorted(set(query_terms))
    rows = ", ".join(
        f"({lit(t)}, "
        f"{auto_fuzziness(t) if fuzziness == 'AUTO' else int(fuzziness)})"
        for t in uniq)
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
vocab AS (
  SELECT term, count(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(tokens)) AS term FROM toks)
  GROUP BY term
),
q(input_term, fz) AS (VALUES {rows}),
cand AS (
  SELECT q.input_term, v.term, v.df,
         levenshtein(v.term, q.input_term) AS d
  FROM vocab v JOIN q
    ON length(v.term) BETWEEN length(q.input_term) - q.fz
                          AND length(q.input_term) + q.fz
   AND levenshtein(v.term, q.input_term) <= q.fz
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY input_term ORDER BY d ASC, df DESC, term ASC) AS rk
  FROM cand
),
weighted AS (
  SELECT term, df,
         CAST(floor((1.0 - CAST(d AS DOUBLE) / length(input_term)) * 1e6)
              AS BIGINT) AS w_u
  FROM ranked WHERE rk <= {int(max_expansions)}
),
tw AS (
  SELECT term, df, CAST(sum(w_u) AS BIGINT) AS w_u
  FROM weighted WHERE w_u > 0 GROUP BY term, df
),
base AS (SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM toks),
tfq AS (
  SELECT b.doc_id, b.dl, t.term, t.df, t.w_u, count(*) AS tf
  FROM base b JOIN tw t USING (term)
  GROUP BY b.doc_id, b.dl, t.term, t.df, t.w_u
),
scored AS (
  SELECT doc_id,
         CAST(floor(((ln(1.0 + (s.n - df + 0.5) / (df + 0.5)) * (w_u / 1e6))
              * (({k1 + 1.0}) * tf
                 / (tf + {k1} * ({1.0 - b} + ({b} * dl) / s.avgdl))))
              * 1e6) AS BIGINT) AS c
  FROM tfq CROSS JOIN stats s
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_u
FROM scored GROUP BY doc_id
ORDER BY score_u DESC, doc_id ASC
LIMIT {int(k)}
"""


def more_like_this_df(docs: DataFrame, like_id: int,
                      max_query_terms: int = 10, k: int = 10,
                      id_col: str = "doc_id", text_col: str = "text",
                      min_term_len: int = 3,
                      k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES more_like_this (single liked doc): pick the seed doc's
    max_query_terms most INTERESTING terms by tf x idf (idf from corpus
    document frequency; deterministic tie-break score desc, term asc; ES
    min_term_freq=1 default, min_term_len filters noise tokens), then run
    standard BM25 with those terms, excluding the seed doc itself.

    Plan: the term-selection aggregate produces max_query_terms rows —
    broadcast-joined into the scoring pipeline as the term filter, so the
    whole operator is two passes over the corpus (selection df + scoring)
    with only tiny shuffles. Returns (doc_id, score_u)."""
    toks = tokens_frame(docs, id_col, text_col)
    rows = term_rows(toks)
    seed_tf = (
        rows.filter((F.col("doc_id") == like_id) & (F.length("term") >= min_term_len))
        .groupBy("term").agg(F.count("*").alias("tf"))
    )
    term_df = rows.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    sel = (
        seed_tf.join(term_df, "term")
        .crossJoin(F.broadcast(corpus_stats_with_dfs(toks, []).select("n")))
        .select(
            "term",
            F.floor(F.col("tf") * idf("df") * 1e6).cast("long").alias("interest_u"),
        )
        .orderBy(F.desc("interest_u"), F.asc("term"))
        .limit(max_query_terms)
        .select("term")
    )
    return (
        sum_term_asc(term_contribs(toks, sel, k1, b)
                     .filter(F.col("doc_id") != like_id))
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this_sql(table: str, like_id: int, max_query_terms: int = 10,
                       k: int = 10, id_col: str = "doc_id",
                       text_col: str = "text", min_term_len: int = 3,
                       k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of more_like_this_df — same tf x idf term selection
    (same quantized tie-break), same BM25 pipeline gated on the selected
    terms, seed doc excluded. NOTE: the scoring tfq's df is computed over
    docs matching the selected terms, same as the DataFrame side."""
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
base AS (SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM toks),
seed_tf AS (
  SELECT term, count(*) AS tf FROM base
  WHERE doc_id = {like_id} AND length(term) >= {min_term_len}
  GROUP BY term
),
term_df AS (SELECT term, count(DISTINCT doc_id) AS df FROM base GROUP BY term),
sel AS (
  SELECT t.term,
         CAST(floor(t.tf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * 1e6) AS BIGINT) AS interest_u
  FROM seed_tf t JOIN term_df d USING (term) CROSS JOIN stats s
  ORDER BY interest_u DESC, term ASC
  LIMIT {max_query_terms}
),
tfq AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM base WHERE term IN (SELECT term FROM sel)
  GROUP BY doc_id, dl, term
),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
scored AS (
  SELECT t.doc_id, t.term,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * {k1 + 1.0} * t.tf
           / (t.tf + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl)) AS contrib
  FROM tfq t JOIN dfq d USING (term) CROSS JOIN stats s
  WHERE t.doc_id <> {like_id}
)
SELECT doc_id,
       CAST(floor(list_sum(list(contrib ORDER BY term)) * 1e6) AS BIGINT) AS score_u
FROM scored
GROUP BY doc_id
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def rescore_df(docs: DataFrame, query_terms: list[str],
               phrase_terms: list[str], window_size: int = 100,
               query_weight: float = 1.0, rescore_query_weight: float = 2.0,
               k: int = 10, id_col: str = "doc_id", text_col: str = "text",
               k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES rescore: cheap BM25 retrieves the top window_size candidates,
    then only THAT window is re-ranked with an expensive phrase query:
    final = query_weight * bm25 + rescore_query_weight * phrase_score
    (ES score_mode=total). Docs in the window that don't match the phrase
    keep their weighted base score.

    Scale shape: this is the two-phase serving pattern — the expensive
    scorer touches window_size rows, not the corpus. Here the phrase
    scores come from the same corpus pass and are broadcast-joined onto
    the (tiny) window. Returns (doc_id, score_u)."""
    base = bm25_scores_df(docs, query_terms, id_col, text_col, k1, b)
    window = base.orderBy(F.desc("score_u"), F.asc("doc_id")).limit(window_size)
    # the expensive phrase position aggregate runs ONLY on the window
    # candidates (semi-join pushdown inside match_phrase_df); idf/avgdl
    # stay corpus-level so candidate scores equal a full run. The
    # broadcast side is therefore ≤ window_size rows by construction —
    # never a corpus-sized phrase-match set.
    window = pin(window)  # reused by the candidates semi-join AND the final join
    phrase = match_phrase_df(docs, phrase_terms, k=window_size,
                             id_col=id_col, text_col=text_col, k1=k1, b=b,
                             candidates=window.select("doc_id"))
    combined = (
        window.join(F.broadcast(phrase.withColumnRenamed("score_u", "p_u")),
                    "doc_id", "left")
        .select(
            "doc_id",
            F.floor(query_weight * F.col("score_u")
                    + rescore_query_weight * F.coalesce(F.col("p_u"), F.lit(0)))
            .cast("long").alias("score_u"),
        )
    )
    return combined.orderBy(F.desc("score_u"), F.asc("doc_id")).limit(k)


def rescore_sql(table: str, query_terms: list[str], phrase_terms: list[str],
                window_size: int = 100, query_weight: float = 1.0,
                rescore_query_weight: float = 2.0, k: int = 10,
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of rescore_df (embeds the match_phrase pipeline as a
    subquery with the same unbounded k)."""
    cte = _scores_cte(0, table, text_col, query_terms, id_col, k1, b)
    phrase = match_phrase_sql(table, phrase_terms, k=1_000_000_000,
                              id_col=id_col, text_col=text_col, k1=k1, b=b)
    return f"""
WITH {cte},
win AS (
  SELECT doc_id, s_0 FROM q0_scores
  ORDER BY s_0 DESC, doc_id ASC LIMIT {window_size}
),
phrase AS (SELECT doc_id AS p_id, score_u AS p_u FROM ({phrase}))
SELECT w.doc_id,
       CAST(floor({query_weight} * w.s_0
            + {rescore_query_weight} * coalesce(p.p_u, 0)) AS BIGINT) AS score_u
FROM win w LEFT JOIN phrase p ON w.doc_id = p.p_id
ORDER BY score_u DESC, w.doc_id ASC
LIMIT {k}
"""


def pinned_df(docs: DataFrame, pinned_ids: list[int],
              organic_terms: list[str], k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES pinned query: the given ids rank first IN LIST ORDER, then the
    organic BM25 results (pinned ids excluded from the organic section).
    Returns (doc_id, rank, score_u) — pinned rows carry score_u NULL like
    ES's synthetic sort-above-everything scores. The pinned list is a
    driver-side literal (ES caps it at 100 ids), so it broadcasts as a
    lit array; the organic path is the standard scoring pipeline."""
    spark = docs.sparkSession
    pin_rows = [(int(d), i + 1) for i, d in enumerate(pinned_ids)]
    pins = spark.createDataFrame(pin_rows, "doc_id long, rank int")
    # keep only pinned ids that actually exist in the corpus (ES semantics)
    pins = pins.join(docs.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi")
    from pyspark.sql import Window

    organic = bm25_scores_df(docs, organic_terms, id_col, text_col, k1, b)
    # the global-order row_number window runs on the ALREADY top-k-limited
    # rows (k ≤ 100s) — a single tiny partition by construction, not a
    # corpus funnel
    rank_w = Window.orderBy(F.desc("score_u"), F.asc("doc_id"))
    # organic ranks start after the SURVIVING pinned ids (ES renumbers
    # contiguously when requested pins don't exist in the corpus), so the
    # offset is the post-existence-join count, not len(pinned_ids)
    n_pins = pins.agg(F.count(F.lit(1)).alias("__np"))
    organic = (
        organic.join(F.broadcast(pins.select("doc_id")), "doc_id", "left_anti")
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
        .crossJoin(F.broadcast(n_pins))
        .select("doc_id",
                (F.row_number().over(rank_w) + F.col("__np")).cast("int").alias("rank"),
                "score_u")
    )
    pinned = pins.select("doc_id", "rank", F.lit(None).cast("long").alias("score_u"))
    return pinned.unionByName(organic).orderBy("rank").limit(k + len(pin_rows))


def pinned_sql(table: str, pinned_ids: list[int], organic_terms: list[str],
               k: int = 10, id_col: str = "doc_id", text_col: str = "text",
               k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of pinned_df."""
    cte = _scores_cte(0, table, text_col, organic_terms, id_col, k1, b)
    vals = ", ".join(f"({int(d)}, {i + 1})" for i, d in enumerate(pinned_ids))
    n_pin = len(pinned_ids)
    return f"""
WITH {cte},
pins AS (
  SELECT p.doc_id, p.rank FROM (VALUES {vals}) AS p(doc_id, rank)
  WHERE p.doc_id IN (SELECT {id_col} FROM {table})
),
organic AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY s_0 DESC, doc_id ASC)
              + (SELECT count(*) FROM pins) AS INT) AS rank,
         s_0 AS score_u
  FROM q0_scores WHERE doc_id NOT IN (SELECT doc_id FROM pins)
  ORDER BY s_0 DESC, doc_id ASC LIMIT {k}
)
SELECT doc_id, rank, CAST(NULL AS BIGINT) AS score_u FROM pins
UNION ALL
SELECT doc_id, rank, score_u FROM organic
ORDER BY rank LIMIT {k + n_pin}
"""


def span_near_df(docs: DataFrame, first: str, second: str, slop: int = 0,
                 k: int = 10, id_col: str = "doc_id", text_col: str = "text",
                 k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES span_near (two clauses, in_order=true): ordered proximity —
    occurrences of `second` preceded by `first` within `slop` intervening
    tokens. Span frequency counts each `second` position at most once
    (minimal-interval semantics); scoring is the phrase formula (summed
    idfs, tf = span freq) like match_phrase, so slop=0 ≡ the two-term
    phrase. Position extraction and the existence scan are JVM
    higher-order functions over the token array — whole-stage codegen, no
    Python. Returns (doc_id, score_u)."""
    toks = tokens_frame(docs, id_col, text_col)
    base = (toks.withColumn("p1", positions_of(first))
            .withColumn("p2", positions_of(second)))
    sf = F.size(F.filter(
        F.col("p2"),
        lambda b2: F.exists(F.col("p1"),
                            lambda a: (b2 - a >= 1) & (b2 - a <= slop + 1)),
    ))
    return frequency_topk(base, F.when(F.size("p2") > 0, sf).otherwise(F.lit(0)),
                          toks, [first, second], k, k1, b)


def span_near_sql(table: str, first: str, second: str, slop: int = 0,
                  k: int = 10, id_col: str = "doc_id", text_col: str = "text",
                  k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of span_near_df."""
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
dfs AS (
  SELECT sum(CASE WHEN list_contains(tokens, {lit(first)}) THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN list_contains(tokens, {lit(second)}) THEN 1 ELSE 0 END) AS df1
  FROM toks
),
pos AS (
  SELECT doc_id, len(tokens) AS dl,
         list_filter(generate_series(1, len(tokens)), i -> tokens[i] = {lit(first)}) AS p1,
         list_filter(generate_series(1, len(tokens)), i -> tokens[i] = {lit(second)}) AS p2
  FROM toks
),
matched AS (
  SELECT doc_id, dl,
         len(list_filter(p2, b2 -> len(list_filter(p1,
             a -> b2 - a >= 1 AND b2 - a <= {slop + 1})) > 0)) AS sf
  FROM pos
)
SELECT m.doc_id,
       CAST(floor((ln(1.0 + (s.n - d.df0 + 0.5) / (d.df0 + 0.5))
                   + ln(1.0 + (s.n - d.df1 + 0.5) / (d.df1 + 0.5)))
            * {k1 + 1.0} * m.sf
            / (m.sf + {k1} * (1.0 - {b} + {b} * m.dl / s.avgdl)) * 1e6) AS BIGINT) AS score_u
FROM matched m CROSS JOIN stats s CROSS JOIN dfs d
WHERE m.sf > 0
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def span_first_df(docs: DataFrame, term: str, end: int, k: int = 10,
                  id_col: str = "doc_id", text_col: str = "text",
                  k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES span_first: the term must occur within the first `end` token
    positions (Lucene SpanFirstQuery). Span frequency = count of
    occurrences at positions 1..end; scoring is the single-term BM25
    formula with tf = span freq — same contract as span_near. JVM
    higher-order filter over the token array, no Python, no explode.
    Returns (doc_id, score_u)."""
    toks = tokens_frame(docs, id_col, text_col)
    # occurrences within the first `end` positions only: slice + filter
    head = F.slice(F.col("tokens"), 1, end)
    sf = F.size(F.filter(head, lambda t: t == F.lit(term)))
    return frequency_topk(toks, sf, toks, [term], k, k1, b)


def span_first_sql(table: str, term: str, end: int, k: int = 10,
                   id_col: str = "doc_id", text_col: str = "text",
                   k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of span_first_df."""
    lit = "'" + term.replace("'", "''") + "'"
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
dfs AS (
  SELECT sum(CASE WHEN list_contains(tokens, {lit}) THEN 1 ELSE 0 END) AS df0 FROM toks
),
matched AS (
  SELECT doc_id, len(tokens) AS dl,
         len(list_filter(tokens[1:{end}], t -> t = {lit})) AS sf
  FROM toks
)
SELECT m.doc_id,
       CAST(floor(ln(1.0 + (s.n - d.df0 + 0.5) / (d.df0 + 0.5))
            * {k1 + 1.0} * m.sf
            / (m.sf + {k1} * (1.0 - {b} + {b} * m.dl / s.avgdl)) * 1e6) AS BIGINT) AS score_u
FROM matched m CROSS JOIN stats s CROSS JOIN dfs d
WHERE m.sf > 0
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def phrase_suggest_df(docs: DataFrame, query_terms: list[str],
                      max_edit: int = 2, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """ES phrase suggester (did-you-mean), unigram-LM form: per query
    term, the best correction among vocab terms within `max_edit`
    Levenshtein edits, ranked (distance asc, doc-freq desc, term asc) —
    ES's candidate generator + a unigram language model (the full
    suggester adds a bigram LM re-rank over whole phrases; the reference
    forwards suggester bodies verbatim, in_elasticsearch.rb:94-99).

    Plan: one vocab scan (explode → groupBy term → df) joined to the
    broadcast query-term list under a JVM levenshtein band, winner per
    position via a tiny window over the (query terms × candidates)
    frame. Vocabulary-sized work, corpus touched once. Returns
    (pos, input_term, suggestion, distance, df); exact-vocab inputs
    suggest themselves at distance 0."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    vocab = (
        docs.select(F.explode(simple_tokens_col(F.col(text_col))).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    qdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(query_terms)], "pos int, input_term string")
    cand = (
        vocab.join(F.broadcast(qdf),
                   F.levenshtein(F.col("term"), F.col("input_term")) <= max_edit)
        .withColumn("distance", F.levenshtein(F.col("term"), F.col("input_term")))
    )
    w = Window.partitionBy("pos").orderBy(
        F.asc("distance"), F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("pos", "input_term", F.col("term").alias("suggestion"),
                "distance", "df")
        .orderBy("pos")
    )


def phrase_suggest_sql(table: str, query_terms: list[str],
                       max_edit: int = 2, id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    """DuckDB mirror of phrase_suggest_df."""
    toks = _TOKS_SQL.format(col=text_col)
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    vals = ", ".join(f"({i}, {lit(t)})" for i, t in enumerate(query_terms))
    return f"""
WITH vocab AS (
  SELECT term, count(*) AS df FROM (
    SELECT unnest({toks}) AS term FROM {table}
  ) GROUP BY term
),
q(pos, input_term) AS (VALUES {vals}),
cand AS (
  SELECT q.pos, q.input_term, v.term AS suggestion,
         levenshtein(v.term, q.input_term) AS distance, v.df
  FROM vocab v JOIN q ON levenshtein(v.term, q.input_term) <= {max_edit}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pos
             ORDER BY distance ASC, df DESC, suggestion ASC) AS r
  FROM cand
)
SELECT pos, input_term, suggestion, distance, df FROM ranked
WHERE r = 1 ORDER BY pos
"""


def _span_idf_sql(terms: list[str], k1: float, b: float, k: int) -> str:
    """Shared SQL tail for the span scorers: dfs CTE + final SELECT.
    Expects CTEs `toks`, `stats`, `matched(doc_id, dl, sf)`."""
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(tokens, {lit(t)}) THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(terms))
    idf = " + ".join(
        f"ln(1.0 + (s.n - d.df{i} + 0.5) / (d.df{i} + 0.5))"
        for i in range(len(terms)))
    return f"""
dfs AS (SELECT {dfs} FROM toks)
SELECT m.doc_id,
       CAST(floor(({idf})
            * {k1 + 1.0} * m.sf
            / (m.sf + {k1} * (1.0 - {b} + {b} * m.dl / s.avgdl)) * 1e6) AS BIGINT) AS score_u
FROM matched m CROSS JOIN stats s CROSS JOIN dfs d
WHERE m.sf > 0
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}"""


def span_or_df(docs: DataFrame, terms: list[str], k: int = 10,
               id_col: str = "doc_id", text_col: str = "text",
               k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES span_or over single-term clauses (Lucene SpanOrQuery): matches
    any occurrence of any clause term. Span frequency = total occurrences
    of ANY of the terms; scoring = the span contract (bm25.frequency_topk:
    tf = span freq, idf summed over clause terms). Reference forwards span
    bodies verbatim (in_elasticsearch.rb query passthrough); the whole
    match is JVM higher-order functions, no Python. Returns
    (doc_id, score_u)."""
    toks = tokens_frame(docs, id_col, text_col)
    term_arr = F.array(*[F.lit(t) for t in terms])
    sf = F.size(F.filter(F.col("tokens"), lambda t: F.array_contains(term_arr, t)))
    return frequency_topk(toks, sf, toks, terms, k, k1, b)


def span_or_sql(table: str, terms: list[str], k: int = 10,
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of span_or_df."""
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    toks = _TOKS_SQL.format(col=text_col)
    arr = "[" + ", ".join(lit(t) for t in terms) + "]"
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
matched AS (
  SELECT doc_id, len(tokens) AS dl,
         len(list_filter(tokens, t -> list_contains({arr}, t))) AS sf
  FROM toks
),
{_span_idf_sql(terms, k1, b, k)}
"""


def span_not_df(docs: DataFrame, include: str, exclude: str,
                pre: int = 0, post: int = 0, k: int = 10,
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES span_not (Lucene SpanNotQuery), single-term include/exclude:
    occurrences of `include` that are NOT within `pre` tokens after an
    `exclude` occurrence nor `post` tokens before one — i.e. reject
    position p when an exclude position q satisfies p-pre <= q <= p+post.
    Span frequency = surviving positions; span-contract scoring on the
    include term. Returns (doc_id, score_u)."""
    toks = tokens_frame(docs, id_col, text_col)
    base = (toks.withColumn("pi", positions_of(include))
            .withColumn("px", positions_of(exclude)))
    sf = F.size(F.filter(
        F.col("pi"),
        lambda p: ~F.exists(F.col("px"),
                            lambda q: (q >= p - pre) & (q <= p + post)),
    ))
    return frequency_topk(base, F.when(F.size("pi") > 0, sf).otherwise(F.lit(0)),
                          toks, [include], k, k1, b)


def span_not_sql(table: str, include: str, exclude: str,
                 pre: int = 0, post: int = 0, k: int = 10,
                 id_col: str = "doc_id", text_col: str = "text",
                 k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of span_not_df."""
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
pos AS (
  SELECT doc_id, len(tokens) AS dl,
         list_filter(generate_series(1, len(tokens)), i -> tokens[i] = {lit(include)}) AS pi,
         list_filter(generate_series(1, len(tokens)), i -> tokens[i] = {lit(exclude)}) AS px
  FROM toks
),
matched AS (
  SELECT doc_id, dl,
         len(list_filter(pi, p -> len(list_filter(px,
             q -> q >= p - {pre} AND q <= p + {post})) = 0)) AS sf
  FROM pos
),
{_span_idf_sql([include], k1, b, k)}
"""


def _span_pair_positions(docs: DataFrame, first: str, second: str,
                         little: str, id_col: str, text_col: str) -> DataFrame:
    """Shared position extraction for span_containing / span_within:
    (doc_id, tokens, p1, p2, pq) with 1-based position arrays of the
    big's two clause terms and the little term."""
    toks = tokens_frame(docs, id_col, text_col)
    return (toks.withColumn("p1", positions_of(first))
            .withColumn("p2", positions_of(second))
            .withColumn("pq", positions_of(little)), toks)


def span_containing_df(docs: DataFrame, first: str, second: str,
                       little: str, slop: int = 0, k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES span_containing (Lucene SpanContainingQuery): big spans that
    CONTAIN a little match. Supported shape: big = ordered two-clause
    span_near (`first`..`second`, slop), little = single span_term. Span
    frequency counts each big end position (`second` occurrence) at most
    once — the span_near anchor contract — when some valid start `a`
    (1 <= b2-a <= slop+1) has a little occurrence q with a <= q <= b2.
    Scoring is the span contract over the BIG's clause terms (Lucene
    scores SpanContaining from the big spans). Returns (doc_id, score_u)."""
    base, toks = _span_pair_positions(docs, first, second, little,
                                      id_col, text_col)
    sf = F.size(F.filter(
        F.col("p2"),
        lambda b2: F.exists(
            F.col("p1"),
            lambda a: (b2 - a >= 1) & (b2 - a <= slop + 1)
            & F.exists(F.col("pq"), lambda q: (q >= a) & (q <= b2))),
    ))
    return frequency_topk(base, F.when(F.size("p2") > 0, sf).otherwise(F.lit(0)),
                          toks, [first, second], k, k1, b)


def span_within_df(docs: DataFrame, first: str, second: str,
                   little: str, slop: int = 0, k: int = 10,
                   id_col: str = "doc_id", text_col: str = "text",
                   k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES span_within (Lucene SpanWithinQuery): little matches that fall
    WITHIN a big span — the mirror of span_containing (same supported
    shape). Span frequency counts each little position q at most once
    when some big span (a, b2) has a <= q <= b2; note b2 is bounded to
    q..q+slop+1 by the big's own slop, which the index kernel exploits.
    Scoring is the span contract over the LITTLE's term (Lucene scores
    SpanWithin from the enclosed little spans). Returns (doc_id,
    score_u)."""
    base, toks = _span_pair_positions(docs, first, second, little,
                                      id_col, text_col)
    sf = F.size(F.filter(
        F.col("pq"),
        lambda q: F.exists(
            F.col("p2"),
            lambda b2: (b2 >= q) & (b2 <= q + slop + 1)
            & F.exists(F.col("p1"),
                       lambda a: (b2 - a >= 1) & (b2 - a <= slop + 1)
                       & (a <= q))),
    ))
    return frequency_topk(base, F.when(F.size("pq") > 0, sf).otherwise(F.lit(0)),
                          toks, [little], k, k1, b)


def _span_pair_pos_sql(table: str, first: str, second: str, little: str,
                       id_col: str, text_col: str) -> str:
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
pos AS (
  SELECT doc_id, len(tokens) AS dl,
         list_filter(generate_series(1, len(tokens)), i -> tokens[i] = {lit(first)}) AS p1,
         list_filter(generate_series(1, len(tokens)), i -> tokens[i] = {lit(second)}) AS p2,
         list_filter(generate_series(1, len(tokens)), i -> tokens[i] = {lit(little)}) AS pq
  FROM toks
)"""


def span_containing_sql(table: str, first: str, second: str, little: str,
                        slop: int = 0, k: int = 10,
                        id_col: str = "doc_id", text_col: str = "text",
                        k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of span_containing_df."""
    return f"""{_span_pair_pos_sql(table, first, second, little, id_col, text_col)},
matched AS (
  SELECT doc_id, dl,
         len(list_filter(p2, b2 -> len(list_filter(p1,
             a -> b2 - a >= 1 AND b2 - a <= {slop + 1}
                  AND len(list_filter(pq, q -> q >= a AND q <= b2)) > 0
         )) > 0)) AS sf
  FROM pos
),
{_span_idf_sql([first, second], k1, b, k)}
"""


def span_within_sql(table: str, first: str, second: str, little: str,
                    slop: int = 0, k: int = 10,
                    id_col: str = "doc_id", text_col: str = "text",
                    k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of span_within_df."""
    return f"""{_span_pair_pos_sql(table, first, second, little, id_col, text_col)},
matched AS (
  SELECT doc_id, dl,
         len(list_filter(pq, q -> len(list_filter(p2,
             b2 -> b2 >= q AND b2 <= q + {slop + 1}
                  AND len(list_filter(p1,
                      a -> b2 - a >= 1 AND b2 - a <= {slop + 1} AND a <= q
                  )) > 0
         )) > 0)) AS sf
  FROM pos
),
{_span_idf_sql([little], k1, b, k)}
"""


def _span_multi_like(value: str, kind: str) -> str:
    """ES prefix/wildcard pattern → a SQL LIKE pattern shared verbatim by
    Spark's Column.like and DuckDB LIKE."""
    from ..plans.query_ast import UnsupportedQuery

    if "%" in value or "_" in value:
        raise UnsupportedQuery(
            "span_multi pattern may not contain literal % or _")
    if kind == "prefix":
        return value + "%"
    if kind == "wildcard":
        return value.replace("*", "%").replace("?", "_")
    raise UnsupportedQuery(
        f"span_multi supports prefix/wildcard, got {kind}")


def span_multi_df(docs: DataFrame, value: str, kind: str = "prefix",
                  max_expansions: int = 50, k: int = 10,
                  id_col: str = "doc_id", text_col: str = "text",
                  k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES span_multi (Lucene SpanMultiTermQueryWrapper) over a prefix or
    wildcard inner query: the pattern expands against the VOCABULARY
    (term-ascending, capped at max_expansions — never the corpus rows),
    then scores under the span_or contract: sf = total occurrences of any
    expansion term, one saturation with the summed expansion idfs.
    Because the expansion size is data-dependent, the idf sum is made
    ORDER-FREE by quantizing each term idf to integer micro-nats before
    the sum (the unigram/entropy integer-sum trick) — Spark, the index
    kernel, and DuckDB all add the same integers. Returns (doc_id,
    score_u), tie (score desc, doc_id asc)."""
    like = _span_multi_like(value, kind)
    toks = tokens_frame(docs, id_col, text_col)
    # capped on the driver, as a Spark limit sizes its top-n buffer by the
    # cap up front; Python's code-point order is Spark's term order
    matches = (toks.select(F.explode(F.array_distinct("tokens")).alias("term"))
               .filter(F.col("term").like(like)).distinct().collect())
    expansion = sorted(r["term"] for r in matches)[:int(max_expansions)]
    spark = docs.sparkSession
    if not expansion:
        from .search import empty_topk_df
        return empty_topk_df(spark, "doc_id long, score_u long")
    idf_us = [F.floor(idf(f"df{i}") * 1e6).cast("long")
              for i in range(len(expansion))]
    term_arr = F.array(*[F.lit(t) for t in expansion])
    sf = F.size(F.filter(F.col("tokens"),
                         lambda t: F.array_contains(term_arr, t)))
    return frequency_topk(toks, sf, toks, expansion, k, k1, b,
                          idf_weight=sum(idf_us[1:], idf_us[0]) / 1e6)


def span_multi_sql(table: str, value: str, kind: str = "prefix",
                   max_expansions: int = 50, k: int = 10,
                   id_col: str = "doc_id", text_col: str = "text",
                   k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of span_multi_df — same LIKE expansion, same capped
    term-ascending expansion order, same integer-quantized idf sum."""
    like = "'" + _span_multi_like(value, kind).replace("'", "''") + "'"
    toks = _TOKS_SQL.format(col=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
exp AS (
  SELECT DISTINCT t AS term
  FROM (SELECT unnest(tokens) AS t FROM toks)
  WHERE t LIKE {like} ORDER BY term LIMIT {int(max_expansions)}
),
hits AS (
  SELECT b.doc_id, b.dl, b.term
  FROM (SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM toks) b
  JOIN exp USING (term)
),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term),
idf AS (
  SELECT sum(CAST(floor(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * 1e6)
             AS BIGINT)) AS idf_u
  FROM dfq d CROSS JOIN stats s
),
matched AS (
  SELECT doc_id, any_value(dl) AS dl, count(*) AS sf FROM hits GROUP BY doc_id
)
SELECT m.doc_id,
       CAST(floor((i.idf_u / 1e6) * {k1 + 1.0} * m.sf
            / (m.sf + {k1} * (1.0 - {b} + {b} * m.dl / s.avgdl)) * 1e6)
            AS BIGINT) AS score_u
FROM matched m CROSS JOIN stats s CROSS JOIN idf i
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def intervals_match_df(docs: DataFrame, terms: list[str], max_gaps: int = -1,
                       ordered: bool = False, k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text",
                       k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES intervals query, `match` rule: an interval containing one
    occurrence of EACH term with at most `max_gaps` non-query tokens
    inside it (max_gaps=-1 → unbounded), optionally in query order.

    ordered, n terms:   increasing positions q1<…<qn with
                        (qn-q1+1) - n <= max_gaps; span freq counts the
                        anchor (last-term) positions that complete a chain.
    unordered, 2 terms: |p2-p1| - 1 <= max_gaps, anchored on the second
                        term's positions. (Unordered n>2 — minimal-interval
                        enumeration — raises UnsupportedQuery: a silent
                        approximation would mis-score.)

    Entirely JVM nested higher-order functions (exists-chains close over
    the outer lambda's position variable); span-contract scoring (tf =
    span freq, idf summed over terms). Returns (doc_id, score_u)."""
    from ..plans.query_ast import UnsupportedQuery

    n = len(terms)
    if n < 2:
        raise UnsupportedQuery("intervals match needs >= 2 terms")
    if not ordered and n > 2:
        raise UnsupportedQuery("unordered intervals support exactly 2 terms")
    mg = int(max_gaps)
    toks = tokens_frame(docs, id_col, text_col)
    base = toks
    for i, t in enumerate(terms):
        base = base.withColumn(f"p{i}", positions_of(t))
    if not ordered:
        sf = F.size(F.filter(
            F.col("p1"),
            lambda b2: F.exists(F.col("p0"),
                                lambda a: (b2 != a) if mg < 0
                                else (F.abs(b2 - a) - 1 <= mg) & (b2 != a)),
        ))
    else:
        def chain(i, prev, anchor):
            # exists q in p_i with q < prev (order) and, at the first term,
            # the whole-interval gap bound (intermediates lie inside it)
            if i == 0:
                if mg < 0:
                    return F.exists(F.col("p0"), lambda q: q < prev)
                return F.exists(F.col("p0"),
                                lambda q: (q < prev) & (anchor - q + 1 - n <= mg))
            return F.exists(F.col(f"p{i}"),
                            lambda q: (q < prev) & chain(i - 1, q, anchor))

        sf = F.size(F.filter(F.col(f"p{n - 1}"),
                             lambda a: chain(n - 2, a, a)))
    return frequency_topk(
        base, F.when(F.size(f"p{n - 1}") > 0, sf).otherwise(F.lit(0)),
        toks, terms, k, k1, b)


def intervals_match_sql(table: str, terms: list[str], max_gaps: int = -1,
                        ordered: bool = False, k: int = 10,
                        id_col: str = "doc_id", text_col: str = "text",
                        k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of intervals_match_df (same nested-closure chains)."""
    lit = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    toks = _TOKS_SQL.format(col=text_col)
    n = len(terms)
    mg = int(max_gaps)
    pos_cols = ",\n         ".join(
        f"list_filter(generate_series(1, len(tokens)), i -> tokens[i] = {lit(t)}) AS p{i}"
        for i, t in enumerate(terms))
    if not ordered:
        gap = "TRUE" if mg < 0 else f"abs(b2 - a) - 1 <= {mg}"
        sf = (f"len(list_filter(p1, b2 -> len(list_filter(p0,"
              f" a -> b2 != a AND {gap})) > 0))")
    else:
        def chain(i, prev, anchor):
            if i == 0:
                gap = "TRUE" if mg < 0 else f"{anchor} - q0 + 1 - {n} <= {mg}"
                return f"len(list_filter(p0, q0 -> q0 < {prev} AND {gap})) > 0"
            return (f"len(list_filter(p{i}, q{i} -> q{i} < {prev}"
                    f" AND {chain(i - 1, f'q{i}', anchor)})) > 0")

        sf = f"len(list_filter(p{n - 1}, a -> {chain(n - 2, 'a', 'a')}))"
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
pos AS (
  SELECT doc_id, len(tokens) AS dl,
         {pos_cols}
  FROM toks
),
matched AS (
  SELECT doc_id, dl, {sf} AS sf
  FROM pos
),
{_span_idf_sql(terms, k1, b, k)}
"""


def rank_feature_df(docs: DataFrame, field: str, k: int = 10,
                    function: str = "saturation", pivot: float | None = None,
                    scaling_factor: float = 1.0, exponent: float = 1.0,
                    boost: float = 1.0, id_col: str = "doc_id") -> DataFrame:
    """ES rank_feature query (standalone, no text clause): score a
    numeric feature column through the bounded rank_feature shapes —

      saturation: boost * x/(x + pivot)   (default pivot = the field's
                  geometric... ES uses an index-time approximation; here
                  the MEAN, computed in one agg and broadcast)
      log:        boost * ln(scaling_factor * x + 1)
      sigmoid:    boost * x^exp / (x^exp + pivot^exp)

    One projection over the docs, quantized floor(score·1e6). Returns
    (doc_id, score_u) top-k (score desc, doc_id asc)."""
    x = F.col(field).cast("double")
    if function == "saturation":
        if pivot is None:
            piv_df = docs.agg(F.avg(x).alias("__pivot"))
            scored = docs.crossJoin(F.broadcast(piv_df)).select(
                F.col(id_col).alias("doc_id"),
                (F.lit(boost) * x / (x + F.col("__pivot"))).alias("__s"))
        else:
            scored = docs.select(
                F.col(id_col).alias("doc_id"),
                (F.lit(boost) * x / (x + F.lit(float(pivot)))).alias("__s"))
    elif function == "log":
        scored = docs.select(
            F.col(id_col).alias("doc_id"),
            (F.lit(boost) * F.log(F.lit(float(scaling_factor)) * x + F.lit(1.0))).alias("__s"))
    elif function == "sigmoid":
        if pivot is None:
            raise ValueError("sigmoid needs an explicit pivot")
        xp = F.pow(x, F.lit(float(exponent)))
        pp = float(pivot) ** float(exponent)
        scored = docs.select(
            F.col(id_col).alias("doc_id"),
            (F.lit(boost) * xp / (xp + F.lit(pp))).alias("__s"))
    else:
        raise ValueError(f"unsupported rank_feature function: {function}")
    return (scored.select("doc_id",
                          F.floor(F.col("__s") * 1e6).cast("long").alias("score_u"))
            .orderBy(F.desc("score_u"), F.asc("doc_id")).limit(k))


def rank_feature_sql(table: str, field: str, k: int = 10,
                     function: str = "saturation", pivot: float | None = None,
                     scaling_factor: float = 1.0, exponent: float = 1.0,
                     boost: float = 1.0, id_col: str = "doc_id") -> str:
    """DuckDB mirror of rank_feature_df."""
    x = f"CAST({field} AS DOUBLE)"
    if function == "saturation":
        if pivot is None:
            piv = f"(SELECT avg({x}) FROM {table})"
            s = f"{boost} * {x} / ({x} + {piv})"
        else:
            s = f"{boost} * {x} / ({x} + {float(pivot)})"
    elif function == "log":
        s = f"{boost} * ln({float(scaling_factor)} * {x} + 1.0)"
    elif function == "sigmoid":
        s = (f"{boost} * pow({x}, {float(exponent)})"
             f" / (pow({x}, {float(exponent)}) + {float(pivot) ** float(exponent)})")
    else:
        raise ValueError(function)
    return f"""
SELECT {id_col} AS doc_id, CAST(floor(({s}) * 1e6) AS BIGINT) AS score_u
FROM {table}
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def decay_score_df(docs: DataFrame, query_terms: list[str], field: str,
                   origin: float, scale: float, offset: float = 0.0,
                   decay: float = 0.5, shape: str = "gauss", k: int = 10,
                   id_col: str = "doc_id", text_col: str = "text",
                   k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """ES function_score decay functions (gauss/exp/linear) over a numeric
    field, boost_mode=multiply: final = bm25 · decay(|x−origin|), with the
    standard ES parameterization — decay(scale) = `decay`:

      gauss:  exp(−d²/(2σ²)),  σ² = −scale²/(2·ln decay)
      exp:    exp(λ·d),        λ = ln(decay)/scale
      linear: max(0, (s−d)/s), s = scale/(1−decay)
      where d = max(0, |x − origin| − offset)

    Same FIXED op order in the SQL mirror. Returns (doc_id, score_u)."""
    import math as _math

    scores = bm25_scores_df(docs, query_terms, id_col, text_col, k1, b)
    x = F.col(field).cast("double")
    d = F.greatest(F.lit(0.0), F.abs(x - F.lit(float(origin))) - F.lit(float(offset)))
    if shape == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * _math.log(float(decay)))
        mult = F.exp(-(d * d) / F.lit(2.0 * sigma2))
    elif shape == "exp":
        lam = _math.log(float(decay)) / float(scale)
        mult = F.exp(F.lit(lam) * d)
    elif shape == "linear":
        s = float(scale) / (1.0 - float(decay))
        mult = F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))
    else:
        raise ValueError(f"unsupported decay shape: {shape}")
    vals = docs.select(F.col(id_col).alias("doc_id"), mult.alias("__m"))
    return (scores.join(vals, "doc_id")
            .select("doc_id",
                    F.floor(F.col("score_u") * F.col("__m")).cast("long").alias("score_u"))
            .orderBy(F.desc("score_u"), F.asc("doc_id")).limit(k))


def decay_score_sql(table: str, query_terms: list[str], field: str,
                    origin: float, scale: float, offset: float = 0.0,
                    decay: float = 0.5, shape: str = "gauss", k: int = 10,
                    id_col: str = "doc_id", text_col: str = "text",
                    k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of decay_score_df (identical fixed op order)."""
    import math as _math

    cte = _scores_cte(0, table, text_col, query_terms, id_col, k1, b)
    d = (f"greatest(0.0, abs(CAST(v.{field} AS DOUBLE) - {float(origin)})"
         f" - {float(offset)})")
    if shape == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * _math.log(float(decay)))
        mult = f"exp(-(({d}) * ({d})) / {2.0 * sigma2})"
    elif shape == "exp":
        lam = _math.log(float(decay)) / float(scale)
        mult = f"exp({lam} * ({d}))"
    elif shape == "linear":
        s = float(scale) / (1.0 - float(decay))
        mult = f"greatest(0.0, ({s} - ({d})) / {s})"
    else:
        raise ValueError(shape)
    return f"""
WITH {cte}
SELECT s.doc_id, CAST(floor(s.s_0 * {mult}) AS BIGINT) AS score_u
FROM q0_scores s JOIN {table} v ON s.doc_id = v.{id_col}
ORDER BY score_u DESC, s.doc_id ASC
LIMIT {k}
"""


def random_score_df(docs: DataFrame, seed: int = 0, k: int = 10,
                    id_col: str = "doc_id") -> DataFrame:
    """ES function_score random_score with a seed+field: deterministic
    per-document pseudo-random score. Contract here (documented — ES's own
    hash is Lucene-internal): the first 8 hex digits of
    md5(seed || ':' || doc_id) as a uint32, quantized to [0, 1e6). md5 is
    available and bit-identical in both engines, so the oracle mirrors it
    exactly. Returns (doc_id, score_u)."""
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    score = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(1_000_000))
    return (docs.select(F.col(id_col).alias("doc_id"), score.alias("score_u"))
            .orderBy(F.desc("score_u"), F.asc("doc_id")).limit(k))


def random_score_sql(table: str, seed: int = 0, k: int = 10,
                     id_col: str = "doc_id") -> str:
    """DuckDB mirror of random_score_df."""
    return f"""
SELECT {id_col} AS doc_id,
       CAST(CAST('0x' || substring(md5('{seed}:' || CAST({id_col} AS VARCHAR)), 1, 8) AS BIGINT)
            % 1000000 AS BIGINT) AS score_u
FROM {table}
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""


def _sparse_query_units(query_vector: dict) -> list[tuple[str, int]]:
    """Quantize the query-side weights ONCE in the planner (×1e3,
    Python round) so the Spark scorer and the DuckDB mirror embed the
    same integer literals and executors do integer math only."""
    from ..plans.query_ast import UnsupportedQuery

    if not isinstance(query_vector, dict) or not query_vector:
        raise UnsupportedQuery("sparse_vector needs a non-empty query_vector")
    if len(query_vector) > 64:
        raise UnsupportedQuery("sparse_vector query_vector capped at 64 tokens")
    items = sorted((str(t), float(w)) for t, w in query_vector.items())
    return [(t, int(round(w * 1e3))) for t, w in items]


def sparse_vector_df(docs: DataFrame, query_vector: dict, k: int = 10,
                     id_col: str = "doc_id", field: str = "text") -> DataFrame:
    """ES 8.15 sparse_vector query (the ELSER/learned-sparse serving
    clause; legacy name text_expansion): score(d) = Σ_t q(t) · d(t) over
    the query's weighted tokens. Reference contract: the plugin ships
    search bodies verbatim to ES (out_elasticsearch.rb:957 client.search);
    ES scores rank_features term impacts with this dot product.

    Doc-side weights: a map<string,numeric> rank_features column is used
    directly; a string column is featurized to BoW term frequency (the
    deterministic stand-in for model expansion — inference models are
    environment-blocked and raise in the AST route). Both sides quantize
    per token to 1e3 units before the INTEGER dot product, so score_u
    carries the engine-wide ×1e6 scale and Spark == DuckDB bit-exactly.
    The scorer is one codegen projection over the corpus (per-token tf
    via a bounded array filter — no explode, no shuffle before top-k),
    exactly the WAND no-index fallback shape."""
    from ..plans.query_ast import UnsupportedQuery

    qus = _sparse_query_units(query_vector)
    dt = dict(docs.dtypes).get(field, "")
    if dt.startswith("map<"):
        def du(t):
            return F.coalesce(
                F.round(F.element_at(F.col(field), F.lit(t))
                        .cast("double") * 1e3).cast("long"), F.lit(0))
    elif dt == "string":
        toks = simple_tokens_col(F.col(field))

        def du(t):
            return (F.size(F.filter(toks, lambda x: x == F.lit(t)))
                    .cast("long") * F.lit(1000))
    else:
        raise UnsupportedQuery(
            f"sparse_vector field {field!r} must be map or string, got {dt!r}")
    contrib = None
    for t, qu in qus:
        c = du(t) * F.lit(qu)
        contrib = c if contrib is None else contrib + c
    return (docs.select(F.col(id_col).alias("doc_id"),
                        contrib.alias("score_u"))
            .filter(F.col("score_u") > 0)
            .orderBy(F.desc("score_u"), F.asc("doc_id"))
            .limit(int(k)))


def sparse_vector_sql(table: str, query_vector: dict, k: int = 10,
                      id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB mirror of sparse_vector_df's string-column (BoW tf) form —
    same planner-side integer query units, same tokenizer regex."""
    qus = _sparse_query_units(query_vector)
    terms = " + ".join(
        "len(list_filter(tokens, t -> t = '{}')) * 1000 * {}".format(
            t.replace("'", "''"), qu)
        for t, qu in qus)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9]+'),
                     t -> t <> '') AS tokens
  FROM {table}
)
SELECT doc_id, score_u FROM (
  SELECT doc_id, CAST({terms} AS BIGINT) AS score_u FROM toks
) WHERE score_u > 0
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""
