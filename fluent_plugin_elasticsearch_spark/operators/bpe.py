"""Distributed byte-pair-encoding tokenizer training (Sennrich et al.
2016) — the vocabulary-induction step of a training-data pipeline, run
corpus-wide on Spark.

The reference ships raw log text into an analyzed index; a training
pipeline instead needs a LEARNED subword vocabulary over the same
corpus. The classic trainer is a loop: count adjacent symbol pairs,
merge the most frequent, repeat. Here each round is ONE partial-
aggregated distributed aggregation over the word-frequency table
(NOT the corpus — the word table is the classic compression: corpus →
distinct words with counts, usually orders of magnitude smaller), and
only the argmax pair (a single row) comes back to the driver. The
word table re-derives each round from the merge list by a pure column
expression, so no mutable distributed state is carried.

Determinism contract: the winning pair each round is (count desc,
pair-string asc) — the lexicographic tie-break makes the whole merge
sequence engine- and partition-invariant, so two engines given the same
corpus learn byte-identical vocabularies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EOW = "▁"  # end-of-word marker appended to each word's symbol list


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, cnt): the compressed trainer input (one shuffle,
    partial-aggregated)."""
    from ..extraction import simple_tokens_col

    return (docs.select(F.explode(simple_tokens_col(F.col(text_col)))
                        .alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


def _symbols_col(word: Column, merges: list[tuple[str, str]]) -> Column:
    """word → its symbol array under the merge list: start from
    characters + EOW, then apply each merge in order. A merge (a, b)
    replaces every non-overlapping adjacent (a, b) LEFT-TO-RIGHT — the
    fold carries (output-so-far, pending-symbol) so overlapping
    occurrences like aaa under (a,a) merge exactly like the reference
    trainer (leftmost first)."""
    syms = F.concat(F.split(word, ""), F.array(F.lit(EOW)))
    syms = F.filter(syms, lambda s: s != "")
    def step_fn(a: str, b: str):
        ab = a + b

        def step(acc, s):
            return F.struct(
                F.when((acc["pend"] == a) & (s == b),
                       F.concat(acc["done"], F.array(F.lit(ab))))
                .when(acc["pend"] == "", acc["done"])
                .otherwise(F.concat(acc["done"],
                                    F.array(acc["pend"]))).alias("done"),
                F.when((acc["pend"] == a) & (s == b), F.lit(""))
                .otherwise(s).alias("pend"))

        return step

    def finish(acc):
        # flush the pending symbol ("" when none; done never holds "")
        return F.filter(F.concat(acc["done"], F.array(acc["pend"])), lambda s: s != "")

    for a, b in merges:
        # fold: acc = struct(done array, pend string). pend holds the
        # previous symbol not yet emitted; seeing `b` while pend == `a`
        # emits the merged symbol and clears pend. The flush runs in the
        # fold's finish lambda so each merge references the previous
        # symbols once: the expression grows linearly with the merges, not
        # geometrically.
        zero = F.struct(F.array().cast("array<string>").alias("done"),
                        F.lit("").alias("pend"))
        syms = F.aggregate(syms, zero, step_fn(a, b), finish)
    return syms


def bpe_pair_stats(words: DataFrame, merges: list[tuple[str, str]]
                   | None = None, top: int = 20) -> DataFrame:
    """Adjacent-symbol-pair counts under the current merge list — the
    per-round aggregation of the trainer, exposed for inspection and the
    oracle gate. Returns (pair, cnt) ordered (cnt desc, pair asc),
    `top` rows. One map-side explode over the word table + one
    partial-aggregated groupBy."""
    syms = _symbols_col(F.col("word"), merges or [])
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.concat(F.element_at(syms, i), F.lit(" "),
                                       F.element_at(syms, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    return (words.select(F.explode(pairs).alias("pair"), "cnt")
            .groupBy("pair").agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(top))


def train_bpe(docs: DataFrame, n_merges: int = 10,
              text_col: str = "text") -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges over the corpus. Each round is one
    distributed aggregation over the (cached) word-frequency table; only
    the single argmax row returns to the driver. Ties break (count desc,
    pair asc) — deterministic on any partitioning."""
    words = word_freqs(docs, text_col).persist()
    try:
        merges: list[tuple[str, str]] = []
        for _ in range(int(n_merges)):
            row = bpe_pair_stats(words, merges, top=1).collect()
            if not row:
                break
            a, _, b = row[0]["pair"].partition(" ")
            merges.append((a, b))
        return merges
    finally:
        words.unpersist()


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Tokenize a corpus under a learned merge list: per-doc subword
    sequence + count. Pure column expressions (the same fold the trainer
    uses) — no shuffle, no Python in the row path. Returns
    (doc_id, subwords array<string>, n_subwords)."""
    from ..extraction import simple_tokens_col

    toks = docs.select(F.col(id_col).alias("doc_id"),
                       simple_tokens_col(F.col(text_col)).alias("tokens"))
    subs = F.flatten(F.transform(
        F.col("tokens"), lambda w: _symbols_col(w, merges)))
    return toks.select("doc_id", subs.alias("subwords"),
                       F.size(subs).cast("long").alias("n_subwords"))


def bpe_pair_stats_sql(table: str, top: int = 20,
                       text_col: str = "text") -> str:
    """DuckDB mirror of the FIRST trainer round (no merges applied):
    character-pair counts over the word-frequency table — same
    tokenizer, same EOW marker, same (cnt desc, pair asc) order."""
    return f"""
WITH w AS (
  SELECT t AS word, count(*) AS cnt
  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower({text_col}),
              '[^a-z0-9]+'), x -> x <> '')) AS t FROM {table})
  GROUP BY t
),
s AS (
  SELECT list_append(list_filter(string_split(word, ''), c -> c <> ''),
                     '{EOW}') AS syms, cnt
  FROM w
),
p AS (
  SELECT syms[i] || ' ' || syms[i + 1] AS pair, cnt
  FROM (SELECT syms, cnt,
               unnest(generate_series(1, len(syms) - 1)) AS i FROM s)
)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT {int(top)}
"""
