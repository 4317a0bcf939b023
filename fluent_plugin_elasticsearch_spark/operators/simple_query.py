"""ES `simple_query_string`: the lenient end-user query grammar.

The reference delegates query execution to Elasticsearch
(out_elasticsearch.rb:957 `client.search`); `simple_query_string` is the
grammar ES exposes for raw end-user input — it never throws on syntax,
and compiles to a flat bool of term / phrase / prefix clauses:

  ``+``        AND junction         ``|``   OR junction
  ``-tok``     must_not             ``"a b"`` phrase clause
  ``tok*``     prefix clause        whitespace = default_operator

This engine compiles the same grammar to ONE corpus-stats aggregate plus
ONE scoring projection — per-clause tf / phrase-frequency / prefix
membership are all whole-stage-codegen array expressions over the token
array, so an n-clause query costs exactly two corpus scans and zero
shuffles beyond the final top-k sort (the stats row is broadcast).

Semantics implemented (documented subset, loud raises elsewhere):
- structure is OR-of-AND: alternatives separated by OR junctions, each
  alternative is the AND of its clauses (Lucene's SimpleQueryParser
  precedence: ``+`` binds tighter than ``|``).
- a doc MATCHES iff some alternative has all its positive clauses
  present and no negated clause is present (negations act at the top
  level — the flat-query shape; parentheses raise).
- the SCORE is the bool-should sum over every unique positive clause
  the doc satisfies, regardless of which alternative gated it in (ES
  scores all matching clauses of the compiled bool):
    term   — standard BM25 contribution (corpus-global df),
    phrase — Lucene PhraseQuery scoring (idf-sum × saturated phrase
             frequency), as in bm25.match_phrase_df,
    prefix — constant 1.0 (Lucene's constant-score multi-term rewrite).
- unsupported grammar raises UnsupportedQuery: parentheses, ``~N``
  fuzzy/slop, backslash escapes, ``*`` anywhere but term-final.

Quantization contract: both engines accumulate the per-clause parts in
the SAME fixed left-associative order (unique terms ascending, then
phrases in parse order, then prefixes ascending) and floor(×1e6) once —
see bm25.py module doc for why that hashes identically. The token frame,
corpus statistics, idf, tf-factor and phrase-frequency walk are the one
copies in bm25.py.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..textproc import tokenize_simple
from .bm25 import bm25_tf, corpus_stats_with_dfs, idf, phrase_freq, tokens_frame


def _raise(msg: str):
    # local import: plans.query_ast imports this module's compile surface
    from ..plans.query_ast import UnsupportedQuery

    raise UnsupportedQuery(f"simple_query_string: {msg}")


_PHRASE_RE = re.compile(r'"([^"]*)"')


def parse_simple_query_string(q: str, default_operator: str = "or") -> dict:
    """Parse to ``{"groups": [[clause, ...], ...], "negated": [clause, ...]}``
    where clause is ``("term", tok)`` / ``("phrase", (tok, ...))`` /
    ``("prefix", stem)``. Groups are the OR alternatives; each group is
    an AND unit."""
    if default_operator not in ("or", "and"):
        _raise(f"default_operator must be or/and, got {default_operator!r}")
    for ch, what in (("(", "parentheses"), (")", "parentheses"),
                     ("~", "fuzzy/slop ~N"), ("\\", "escapes")):
        if ch in q:
            _raise(f"{what} not supported")

    # protect quoted phrases behind space-free placeholders
    phrases: list[str] = []

    def _stash(m: re.Match) -> str:
        phrases.append(m.group(1))
        return f"\x00{len(phrases) - 1}\x00"

    s = _PHRASE_RE.sub(_stash, q)
    if '"' in s:
        _raise("unbalanced quote")
    # junction tokens bind through surrounding whitespace
    s = re.sub(r"\s*([+|])\s*", r"\1", s.strip())
    # whitespace is the default junction
    s = re.sub(r"\s+", "|" if default_operator == "or" else "+", s)

    groups: list[list[tuple]] = []
    negated: list[tuple] = []
    for alt in s.split("|"):
        group: list[tuple] = []
        for raw in alt.split("+"):
            if not raw:
                continue
            neg = raw.startswith("-")
            if neg:
                raw = raw[1:]
            if not raw:
                continue
            clauses: list[tuple] = []
            m = re.fullmatch("\x00(\\d+)\x00", raw)
            if m:  # phrase
                toks = tuple(tokenize_simple(phrases[int(m.group(1))]))
                if len(toks) == 1:
                    clauses.append(("term", toks[0]))
                elif toks:
                    clauses.append(("phrase", toks))
            elif raw.endswith("*"):
                stem = raw[:-1]
                if "*" in stem:
                    _raise("'*' is only supported term-final")
                if "\x00" in stem:
                    _raise("a phrase must stand alone as one clause")
                st = tokenize_simple(stem)
                if len(st) != 1:
                    _raise(f"prefix stem must analyze to one token: {stem!r}")
                clauses.append(("prefix", st[0]))
            else:
                if "*" in raw:
                    _raise("'*' is only supported term-final")
                if "\x00" in raw:
                    _raise("a phrase must stand alone as one clause")
                clauses += [("term", t) for t in tokenize_simple(raw)]
            if neg:
                negated += clauses
            else:
                group += clauses
        if group:
            groups.append(group)
    return {"groups": groups, "negated": negated}


def _present_col(clause: tuple, tokens: Column) -> Column:
    kind, v = clause
    if kind == "term":
        return F.array_contains(tokens, v)
    if kind == "prefix":
        return F.exists(tokens, lambda x: F.startswith(x, F.lit(v)))
    return phrase_freq(tokens, v) > 0


def _clause_sets(parsed: dict):
    """Unique positive clauses in the FIXED scoring order + the df-slot
    token list (every unique token needing an idf)."""
    terms = sorted({v for g in parsed["groups"] for k, v in g if k == "term"})
    phrases: list[tuple] = []
    for g in parsed["groups"]:
        for k, v in g:
            if k == "phrase" and v not in phrases:
                phrases.append(v)
    prefixes = sorted({v for g in parsed["groups"] for k, v in g
                       if k == "prefix"})
    df_tokens = sorted(set(terms) | {t for p in phrases for t in p})
    return terms, phrases, prefixes, df_tokens


def simple_query_string_df(docs: DataFrame, query: str, k: int = 10,
                           default_operator: str = "or",
                           id_col: str = "doc_id", text_col: str = "text",
                           k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Top-k `simple_query_string` over a docs table. Returns
    (doc_id, score_u), tie-break (score desc, doc_id asc). Mirrored
    exactly by simple_query_string_sql."""
    parsed = parse_simple_query_string(query, default_operator)
    terms, phrases, prefixes, df_tokens = _clause_sets(parsed)
    if not parsed["groups"] and not parsed["negated"]:
        raise ValueError("empty simple_query_string")
    toks = tokens_frame(docs, id_col, text_col)
    tcol = F.col("tokens")

    # gate: some alternative fully present, no negated clause present
    gate = F.lit(not parsed["groups"])  # pure-negative query matches all
    for g in parsed["groups"]:
        gc = F.lit(True)
        for c in g:
            gc = gc & _present_col(c, tcol)
        gate = gate | gc
    for c in parsed["negated"]:
        gate = gate & ~_present_col(c, tcol)

    # ONE corpus aggregate: n, avgdl, df per unique scoring token
    slot = {t: i for i, t in enumerate(df_tokens)}
    stats = corpus_stats_with_dfs(
        toks, [F.array_contains("tokens", t) for t in df_tokens])

    def eq_fn(t: str):  # single-arg lambda factory: a 2-arg lambda would
        return lambda x: x == F.lit(t)  # be treated as (element, index)

    def pref_fn(p: str):
        return lambda x: F.startswith(x, F.lit(p))

    score = F.lit(0.0)
    for t in terms:  # unique terms, ascending
        tf = F.size(F.filter(tcol, eq_fn(t)))
        score = score + F.when(tf > 0, idf(f"df{slot[t]}") * bm25_tf(tf, k1, b)
                               ).otherwise(F.lit(0.0))
    for p in phrases:  # parse order
        idfs = [idf(f"df{slot[t]}") for t in p]  # constituent idfs in phrase order
        pf = phrase_freq(tcol, p)
        score = score + F.when(pf > 0, sum(idfs[1:], idfs[0]) * bm25_tf(pf, k1, b)
                               ).otherwise(F.lit(0.0))
    for p in prefixes:  # ascending; constant-score rewrite
        score = score + F.when(F.exists(tcol, pref_fn(p)),
                               F.lit(1.0)).otherwise(F.lit(0.0))

    return (toks.filter(gate)
            .select("doc_id", F.size(tcol).alias("dl"), "tokens")
            .crossJoin(F.broadcast(stats))
            .select("doc_id",
                    F.floor(score * 1e6).cast("long").alias("score_u"))
            .orderBy(F.desc("score_u"), F.asc("doc_id"))
            .limit(k))


def _sql_lit(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


def _present_sql(clause: tuple) -> str:
    kind, v = clause
    if kind == "term":
        return f"list_contains(tokens, {_sql_lit(v)})"
    if kind == "prefix":
        return (f"len(list_filter(tokens, x -> starts_with(x, "
                f"{_sql_lit(v)}))) > 0")
    return f"({_pf_sql(v)}) > 0"


def _pf_sql(phrase: tuple) -> str:
    adj = " AND ".join(f"tokens[i + {j}] = {_sql_lit(t)}"
                       for j, t in enumerate(phrase))
    return (f"list_sum(list_transform(generate_series(1, "
            f"greatest(len(tokens) - {len(phrase) - 1}, 0)), "
            f"i -> CASE WHEN {adj} THEN 1 ELSE 0 END))")


def simple_query_string_sql(table: str, query: str, k: int = 10,
                            default_operator: str = "or",
                            id_col: str = "doc_id", text_col: str = "text",
                            k1: float = BM25_K1, b: float = BM25_B) -> str:
    """DuckDB mirror of simple_query_string_df — same grammar, same
    per-clause formulas, same fixed accumulation order, same
    quantization."""
    parsed = parse_simple_query_string(query, default_operator)
    terms, phrases, prefixes, df_tokens = _clause_sets(parsed)
    slot = {t: i for i, t in enumerate(df_tokens)}

    gate_parts = []
    for g in parsed["groups"]:
        gate_parts.append("(" + " AND ".join(_present_sql(c) for c in g) + ")")
    gate = " OR ".join(gate_parts) if gate_parts else "TRUE"
    for c in parsed["negated"]:
        gate = f"({gate}) AND NOT ({_present_sql(c)})"

    df_cols = ",\n         ".join(
        f"sum(CASE WHEN list_contains(tokens, {_sql_lit(t)}) THEN 1 ELSE 0 "
        f"END) AS df{i}" for t, i in slot.items()) or "sum(1) AS df_unused"

    def idf(tok: str) -> str:
        return (f"ln(1.0 + (s.n - d.df{slot[tok]} + 0.5) / "
                f"(d.df{slot[tok]} + 0.5))")

    def sat(freq: str) -> str:
        return (f"{k1 + 1.0} * {freq} / ({freq} + {k1} * "
                f"(1.0 - {b} + {b} * m.dl / s.avgdl))")

    score = "0.0"
    for t in terms:
        tf = f"len(list_filter(tokens, x -> x = {_sql_lit(t)}))"
        score += (f" + CASE WHEN {tf} > 0 THEN {idf(t)} * {sat(tf)} "
                  f"ELSE 0.0 END")
    for p in phrases:
        idf_sum = " + ".join(idf(t) for t in p)
        score += (f" + CASE WHEN ({_pf_sql(p)}) > 0 THEN ({idf_sum}) * "
                  f"{sat(f'({_pf_sql(p)})')} ELSE 0.0 END")
    for p in prefixes:
        score += (f" + CASE WHEN len(list_filter(tokens, x -> "
                  f"starts_with(x, {_sql_lit(p)}))) > 0 THEN 1.0 "
                  f"ELSE 0.0 END")

    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9]+'),
                     t -> t <> '') AS tokens
  FROM {table}
),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
dfs AS (SELECT {df_cols} FROM toks),
m AS (
  SELECT doc_id, len(tokens) AS dl, tokens FROM toks
  WHERE {gate}
)
SELECT m.doc_id,
       CAST(floor(({score}) * 1e6) AS BIGINT) AS score_u
FROM m CROSS JOIN stats s CROSS JOIN dfs d
ORDER BY score_u DESC, doc_id ASC
LIMIT {k}
"""
