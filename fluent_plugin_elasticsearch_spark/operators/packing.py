"""Training-data assembly operators: sequence packing, deterministic
stratified sampling.

Sequence packing is the GPT-pretraining "concatenate then chunk" step: lay
every document's tokens end-to-end in a canonical order and cut the stream
into fixed-size context windows. The scalable core is a DISTRIBUTED PREFIX
SUM: a global window cumsum would funnel the corpus through one partition,
so we do the classic two-pass — per-partition subtotals (tiny driver
collect, one row per partition), exclusive partition bases broadcast back,
then a partition-local window adds the base. Ordering is pinned to
(doc_id) via driver-computed literal bucket boundaries (a pure function
of each row's doc_id — see _with_global_offset), so the layout is
deterministic on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def _with_global_offset(df: DataFrame, order_col: str, weight_col: str,
                        num_partitions: int | None = None) -> DataFrame:
    """(…, offset) — exclusive prefix sum of `weight_col` in `order_col`
    order, computed scalably (ordered buckets → local cumsum + broadcast
    bucket bases; no single-partition window).

    The bucket id MUST be a pure function of the row's `order_col` value:
    the totals pass and the final pass are two separate Spark evaluations,
    and the earlier `repartitionByRange + spark_partition_id()` form
    assigned DIFFERENT partition boundaries in each (the range
    partitioner re-samples per plan, and AQE coalesces the two plans'
    exchanges independently — verified: same lineage, two evaluations,
    different pid→count maps), silently mis-basing every offset after the
    first moved boundary. Bucket boundaries are therefore computed ONCE on
    the driver (one approxQuantile job over `order_col`) and baked into
    the plan as literals; monotone in `order_col`, so bucket-local cumsum
    + exclusive bucket bases is the exact global prefix sum at any
    parallelism, under any AQE decision.

    `order_col` must be numeric (approxQuantile accepts only numeric
    columns); any other type raises ValueError before a job runs."""
    order_type = df.schema[order_col].dataType
    if not isinstance(order_type, NumericType):
        raise ValueError(f"order column {order_col!r} must be numeric, "
                         f"got {order_type.simpleString()}")
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    bnds: list[float] = []
    if n > 1:
        probs = [i / n for i in range(1, n)]
        bnds = sorted(set(df.stat.approxQuantile(order_col, probs, 1.0 / (4 * n))))
    bucket = F.lit(0)
    for b in bnds:
        bucket = bucket + F.when(F.col(order_col) > b, 1).otherwise(0)
    part = df.withColumn("__pid", bucket.cast("int"))
    # pass 1: per-bucket totals — one tiny row per bucket
    totals = {
        r["__pid"]: r["t"]
        for r in part.groupBy("__pid").agg(F.sum(weight_col).alias("t")).collect()
    }
    bases, acc = {}, 0
    for pid in sorted(totals):
        bases[pid] = acc
        acc += int(totals[pid])
    base_df = spark.createDataFrame(
        [(pid, b) for pid, b in bases.items()], "__pid int, __base long"
    )
    # pass 2: partition-local running sum + broadcast base
    w = Window.partitionBy("__pid").orderBy(order_col)
    return (
        part.join(F.broadcast(base_df), "__pid")
        .withColumn(
            "offset",
            (F.col("__base") + F.sum(weight_col).over(w) - F.col(weight_col)).cast("long"),
        )
        .drop("__pid", "__base")
    )


def pack_documents(docs_tokens: DataFrame, context_len: int,
                   id_col: str = "doc_id", tokens_col: str = "n_tokens") -> DataFrame:
    """Concat-then-chunk packing: documents laid out in ascending `id_col`
    order, context windows of `context_len` tokens cut across the stream.
    Returns one row per document:

        (doc_id, n_tokens, offset, pack_id, pos_in_pack, end_pack_id)

    where `pack_id = offset // context_len` is the window the doc STARTS
    in, `pos_in_pack` its position inside that window, and `end_pack_id`
    the window holding its last token (docs may straddle windows — exactly
    the pretraining semantics). Deterministic for a given corpus at any
    parallelism."""
    base = docs_tokens.select(F.col(id_col).alias("doc_id"),
                              F.col(tokens_col).cast("long").alias("n_tokens"))
    off = _with_global_offset(base, "doc_id", "n_tokens")
    return off.select(
        "doc_id",
        "n_tokens",
        "offset",
        (F.col("offset") / context_len).cast("long").alias("pack_id"),
        (F.col("offset") % context_len).cast("long").alias("pos_in_pack"),
        (
            F.when(F.col("n_tokens") > 0,
                   (F.col("offset") + F.col("n_tokens") - 1) / context_len)
            .otherwise(F.col("offset") / context_len)
        ).cast("long").alias("end_pack_id"),
    )


def stratified_sample(df: DataFrame, strata_col: str, fractions: dict,
                      id_col: str = "doc_id", salt: str = "sample") -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the first 15 hex
    chars of md5(salt|id) — a uniform 60-bit integer — fall below
    fraction * 2^60. md5-derived (not Bernoulli RNG) so the SAME rows are
    picked on any cluster, any partitioning, any engine — the DuckDB
    oracle reproduces the selection exactly. Strata absent from
    `fractions` default to 0.0 (dropped)."""
    u = F.conv(F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))), 1, 15), 16, 10).cast("decimal(20,0)")
    frac = None
    for k, v in fractions.items():
        cond = F.col(strata_col) == k
        frac = F.when(cond, F.lit(float(v))) if frac is None else frac.when(cond, F.lit(float(v)))
    frac = frac.otherwise(F.lit(0.0)) if frac is not None else F.lit(0.0)
    return df.filter(u < (frac * F.lit(float(1 << 60))).cast("decimal(20,0)"))


def chunk_documents(docs: DataFrame, chunk_len: int, overlap: int = 0,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """RAG/pretraining chunking: split each document's token stream into
    windows of `chunk_len` tokens advancing by `chunk_len - overlap`
    (trailing partial window kept). One projection + explode — no shuffle,
    no Python; chunk identity (doc_id, chunk_id) is deterministic at any
    parallelism. Returns (doc_id, chunk_id, start_pos, n_tokens, chunk)."""
    if not 0 <= overlap < chunk_len:
        raise ValueError("need 0 <= overlap < chunk_len")
    step = chunk_len - overlap
    toks = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    toks = F.filter(toks, lambda t: t != F.lit(""))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    base = base.filter(F.size("__toks") > 0)
    starts = F.sequence(F.lit(1), F.size("__toks"), F.lit(step))
    out = base.select(
        "doc_id",
        F.size("__toks").alias("__n"),
        "__toks",
        F.explode(starts).alias("start_pos"),
    )
    chunk = F.slice(F.col("__toks"), F.col("start_pos"), chunk_len)
    return out.select(
        "doc_id",
        ((F.col("start_pos") - 1) / step).cast("long").alias("chunk_id"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.least(F.lit(chunk_len), F.col("__n") - F.col("start_pos") + 1).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk"),
    )


def mixture_by_token_budget(docs: DataFrame, budgets: dict,
                            strata_col: str = "source",
                            token_col: str = "n_chars",
                            id_col: str = "doc_id",
                            salt: str = "mix") -> DataFrame:
    """Training-data mixture sampling by TOKEN BUDGET per source — the
    actual knob of pretraining recipes (give me 100M tokens of src1, 30M
    of src2), including UPSAMPLING (multiple epochs) when a budget
    exceeds the source's inventory.

    ratio_s = budget_s / available_s. Every doc of source s is emitted
    floor(ratio_s) times (whole epochs), plus once more iff its md5
    60-bit uniform < frac(ratio_s) — the stratified_sample selection, so
    the chosen rows are identical on any engine/cluster/partitioning.

    Plan: one groupBy(source) for the inventory (source-count-sized,
    broadcast back), one filter+explode projection for the emission — no
    driver loop, no global window. Returns the sampled rows plus an
    `epoch` column (0-based copy index)."""
    spark = docs.sparkSession
    inv = docs.groupBy(strata_col).agg(F.sum(token_col).alias("__avail"))
    bud = spark.createDataFrame(
        [(k, float(v)) for k, v in budgets.items()],
        f"`{strata_col}` string, __budget double")
    ratios = (inv.join(bud, strata_col)
              .select(strata_col,
                      (F.col("__budget") / F.col("__avail")).alias("__ratio")))
    u = F.conv(F.substring(F.md5(F.concat(F.lit(salt + "|"),
                                          F.col(id_col).cast("string"))), 1, 15),
               16, 10).cast("decimal(20,0)")
    whole = F.floor("__ratio").cast("int")
    frac = F.col("__ratio") - F.floor("__ratio")
    extra = (u < (frac * F.lit(float(1 << 60))).cast("decimal(20,0)")).cast("int")
    out = (docs.join(F.broadcast(ratios), strata_col)
           .withColumn("__copies", whole + extra)
           .filter(F.col("__copies") > 0)
           .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__copies") - 1)))
           .drop("__ratio", "__copies"))
    return out


def mixture_sql(table: str, budgets: dict, strata_col: str = "source",
                token_col: str = "n_chars", id_col: str = "doc_id",
                salt: str = "mix", columns: str = "doc_id, source") -> str:
    """DuckDB mirror of mixture_by_token_budget."""
    vals = ", ".join(f"('{k}', {float(v)})" for k, v in budgets.items())
    return f"""
WITH inv AS (SELECT {strata_col}, sum({token_col}) AS avail FROM {table} GROUP BY {strata_col}),
bud AS (SELECT * FROM (VALUES {vals}) AS b({strata_col}, budget)),
ratios AS (SELECT i.{strata_col}, b.budget / i.avail AS ratio FROM inv i JOIN bud b USING ({strata_col})),
tagged AS (
  SELECT d.*, r.ratio,
         CAST('0x' || substring(md5('{salt}|' || CAST(d.{id_col} AS VARCHAR)), 1, 15) AS UBIGINT) AS u
  FROM {table} d JOIN ratios r USING ({strata_col})
),
copies AS (
  SELECT *, CAST(floor(ratio) AS INT)
         + CASE WHEN u < CAST((ratio - floor(ratio)) * 1152921504606846976 AS UBIGINT)
                THEN 1 ELSE 0 END AS n_copies
  FROM tagged
)
SELECT {columns}, CAST(e.epoch AS INT) AS epoch
FROM copies, unnest(range(0, n_copies)) AS e(epoch)
WHERE n_copies > 0
"""


def quality_bins(docs: DataFrame, score_col: str, n_bins: int = 10,
                 id_col: str = "doc_id") -> DataFrame:
    """Curriculum/quality binning WITHOUT a global-sort window: the bin
    thresholds are n_bins−1 exact percentiles from ONE aggregate
    (coordinator-sized, broadcast), and each row's bin is the count of
    thresholds strictly below its score — a pure projection. An NTILE
    window would funnel the corpus through one partition; this is the
    100 TB-safe shape, and the exact-percentile thresholds make it
    engine-reproducible. Returns (id, score, bin) with bin 0 = lowest."""
    qs = [i / n_bins for i in range(1, n_bins)]
    th = docs.agg(*[
        F.expr(f"percentile({score_col}, {q})").alias(f"__t{i}")
        for i, q in enumerate(qs)])
    binc = None
    for i in range(len(qs)):
        c = (F.col(score_col) > F.col(f"__t{i}")).cast("int")
        binc = c if binc is None else binc + c
    return (docs.crossJoin(F.broadcast(th))
            .select(F.col(id_col).alias("doc_id"), F.col(score_col),
                    binc.alias("bin")))


def quality_bins_sql(table: str, score_col: str, n_bins: int = 10,
                     id_col: str = "doc_id") -> str:
    """DuckDB mirror of quality_bins."""
    qs = [i / n_bins for i in range(1, n_bins)]
    ths = ", ".join(f"quantile_cont({score_col}, {q}) AS t{i}"
                    for i, q in enumerate(qs))
    binc = " + ".join(
        f"CASE WHEN d.{score_col} > t.t{i} THEN 1 ELSE 0 END"
        for i in range(len(qs)))
    return f"""
WITH t AS (SELECT {ths} FROM {table})
SELECT d.{id_col} AS doc_id, d.{score_col}, CAST({binc} AS INT) AS bin
FROM {table} d CROSS JOIN t
"""


def epoch_shuffle(df: DataFrame, epoch: int,
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic global shuffle for training-data ordering: epoch e
    orders the corpus by md5('epoch<e>|' || id) — a reproducible
    pseudo-random permutation that is INDEPENDENT across epochs and
    identical on any engine, cluster size, or partitioning (the
    property a resumable training run needs: worker k of N can read
    its slice of the epoch order without coordination).

    Plan: one projection for the key, then range-partition + local sort
    — Spark's global-sort form, ONE shuffle, no global window, no
    driver funnel; writers consume the order via sortWithinPartitions.
    Returns the frame with a `shuffle_key` column, globally ordered."""
    key = F.md5(F.concat(F.lit(f"epoch{int(epoch)}|"),
                         F.col(id_col).cast("string")))
    return (df.select("*", key.alias("shuffle_key"))
            .repartitionByRange(F.col("shuffle_key"))
            .sortWithinPartitions("shuffle_key"))


def _hashed_ngram_buckets(docs: DataFrame, target_pred: str, buckets: int,
                          id_col: str, text_col: str) -> DataFrame:
    """(doc_id, tgt, b): one row per unigram+bigram occurrence, hashed to
    a bucket id — the DSIR feature expansion. Map-side only (explode of a
    per-row array); the md5→first-8-hex→mod idiom matches the engine's
    other deterministic hashing (stratified_sample, random_score) and is
    reproducible in DuckDB as CAST('0x'||substring(md5(x),1,8) AS BIGINT)."""
    from ..extraction import simple_tokens_col

    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.expr(target_pred).alias("tgt"),
                       simple_tokens_col(F.col(text_col)).alias("tokens"))
    bigrams = F.when(
        F.size("tokens") >= 2,
        F.transform(F.sequence(F.lit(2), F.size("tokens")),
                    lambda i: F.concat_ws(
                        " ", F.element_at(F.col("tokens"), i - 1),
                        F.element_at(F.col("tokens"), i)))
    ).otherwise(F.array().cast("array<string>"))
    ng = toks.select("doc_id", "tgt",
                     F.explode(F.concat(F.col("tokens"), bigrams)).alias("ng"))
    return ng.select(
        "doc_id", "tgt",
        (F.conv(F.substring(F.md5(F.col("ng")), 1, 8), 16, 10).cast("long")
         % F.lit(int(buckets))).alias("b"))


def dsir_logratio_scores(docs: DataFrame, target_pred: str,
                         buckets: int = 1024, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """DSIR importance weights (public recipe: Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): fit
    bag-of-hashed-ngram models on a TARGET (in-domain) subset p and the
    RAW corpus q, then score every document with the importance
    log-ratio  log w(d) = Σ_b c_b(d) · (log p_b − log q_b)  over its
    hashed unigram+bigram counts, add-1 smoothed over `buckets` buckets.

    Engine exactness: the per-bucket log-ratio is floor-quantized to
    integer micro-nats BEFORE the per-doc sum (the unigram/bigram-LM
    contract), so the doc score is an exact integer sum — partition-
    invariant and bit-equal to the DuckDB mirror.

    Plan at 100 TB: one map-side feature expansion, ONE partial-
    aggregated shuffle to the `buckets`-bounded stats table, totals via
    a broadcast cross join (no driver collect), the per-bucket ratio
    broadcast-joined back (the table is ≤ `buckets` rows by
    construction), one per-doc groupBy. No windows, no corpus-sized
    broadcast. Docs with zero features (empty text) carry no score row.
    Returns (doc_id, n_features, logratio_micro)."""
    bx = _hashed_ngram_buckets(docs, target_pred, buckets, id_col, text_col)
    bs = bx.groupBy("b").agg(
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("ct"),
        F.count(F.lit(1)).alias("cq"))
    # totals as a whole-frame window over bs — bs is ≤ `buckets` rows by
    # construction, so the single-partition window is bounded (the
    # pipeline-agg pattern); a separate agg + crossJoin would RECOMPUTE
    # the corpus feature expansion for the totals (a third corpus scan)
    wall = Window.partitionBy(F.lit(0))
    tt = F.sum("ct").over(wall)
    tq = F.sum("cq").over(wall)
    lr = bs.select("b", F.floor(
        (F.log((F.col("ct") + 1.0) / (tt + float(buckets)))
         - F.log((F.col("cq") + 1.0) / (tq + float(buckets))))
        * 1e6).cast("long").alias("lr_u"))
    return (bx.join(F.broadcast(lr), "b")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_features"),
                 F.sum("lr_u").alias("logratio_micro")))


def dsir_resample(docs: DataFrame, target_pred: str, k: int,
                  buckets: int = 1024, seed: int = 0,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """DSIR selection step: sample k docs WITHOUT replacement with
    probability ∝ w(d) via the Gumbel top-k trick — key(d) =
    log w(d) + Gumbel(d), take the k largest. Gumbel noise is
    deterministic (−ln(−ln(u)), u = (first-8-hex of md5(seed|doc_id)
    + 0.5) / 2^32 ∈ (0,1) strictly), so the SAME documents are selected
    on any cluster size / partitioning, and the key is an exact integer
    (micro-nat log-weight + floor-quantized micro-nat noise).
    Returns (doc_id, key_u) for the selected docs, key desc."""
    scores = dsir_logratio_scores(docs, target_pred, buckets,
                                  id_col, text_col)
    u = ((F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{int(seed)}|"),
                       F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("double") + 0.5) / F.lit(float(2 ** 32)))
    g_u = F.floor(-F.log(-F.log(u)) * 1e6).cast("long")
    return (scores.select("doc_id",
                          (F.col("logratio_micro") + g_u).alias("key_u"))
            .orderBy(F.desc("key_u"), F.asc("doc_id"))
            .limit(int(k)))


def _dsir_scores_cte(table: str, target_pred_sql: str, buckets: int,
                     id_col: str, text_col: str) -> str:
    return f"""
tk AS (
  SELECT {id_col} AS doc_id, ({target_pred_sql}) AS tgt,
         list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9]+'),
                     t -> t <> '') AS tokens
  FROM {table}
),
ng AS (
  SELECT doc_id, tgt, unnest(tokens) AS ng FROM tk
  UNION ALL
  SELECT doc_id, tgt, tokens[i - 1] || ' ' || tokens[i] AS ng
  FROM (SELECT doc_id, tgt, tokens,
               unnest(generate_series(2, len(tokens))) AS i FROM tk)
),
bx AS (
  SELECT doc_id, tgt,
         CAST('0x' || substring(md5(ng), 1, 8) AS BIGINT) % {buckets} AS b
  FROM ng
),
bs AS (
  SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct, count(*) AS cq
  FROM bx GROUP BY b
),
tot AS (SELECT sum(ct) AS tt, sum(cq) AS tq FROM bs),
lr AS (
  SELECT b, CAST(floor((ln((ct + 1.0) / (tt + {float(buckets)}))
                      - ln((cq + 1.0) / (tq + {float(buckets)}))) * 1e6)
                 AS BIGINT) AS lr_u
  FROM bs CROSS JOIN tot
),
sc AS (
  SELECT doc_id, count(*) AS n_features,
         CAST(sum(lr_u) AS BIGINT) AS logratio_micro
  FROM bx JOIN lr USING (b) GROUP BY doc_id
)"""


def dsir_logratio_sql(table: str, target_pred_sql: str, buckets: int = 1024,
                      id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB mirror of dsir_logratio_scores — same hashing, same
    smoothing, same micro-nat quantization order."""
    cte = _dsir_scores_cte(table, target_pred_sql, buckets, id_col, text_col)
    return f"WITH {cte}\nSELECT doc_id, n_features, logratio_micro FROM sc"


def dsir_resample_sql(table: str, target_pred_sql: str, k: int,
                      buckets: int = 1024, seed: int = 0,
                      id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB mirror of dsir_resample — same Gumbel construction."""
    cte = _dsir_scores_cte(table, target_pred_sql, buckets, id_col, text_col)
    return f"""WITH {cte}
SELECT doc_id,
       logratio_micro + CAST(floor(-ln(-ln(
         (CAST('0x' || substring(md5('{int(seed)}|' || CAST(doc_id AS VARCHAR)),
               1, 8) AS BIGINT) + 0.5) / {float(2 ** 32)})) * 1e6) AS BIGINT)
         AS key_u
FROM sc
ORDER BY key_u DESC, doc_id ASC
LIMIT {int(k)}
"""
