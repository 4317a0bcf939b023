"""Inverted-index build — the engine-side half of the reference's
`client.bulk` indexing path (out_elasticsearch.rb:1158, SURVEY.md Q6).

Design (Spark-first, sized for 10^12 docs / 1000 executors):

  * **Doc-sharded layout.** Documents are hash-sharded (``shard =
    pmod(xxhash64(id), n_shards)``); each shard holds complete posting
    lists for its documents. Queries fan out per shard, compute a local
    top-k, then merge — the classic distributed-search architecture, and
    the layout that keeps query-time work proportional to query terms.
  * **Salted two-phase build.** Head terms (stopword-scale lists) would
    make a single ``groupBy(term)`` reducer a straggler. Phase 1 groups by
    ``(shard, term, salt)`` with ``salt = pmod(xxhash64(doc_id), n_salts)``
    and emits *compressed sorted partials*; phase 2 merges the (already
    compact) partials per ``(shard, term)`` and re-blocks. The heavy
    token-level shuffle is therefore always split ``n_salts`` ways —
    explicit skew handling per the north rule; AQE skew-join does not
    cover aggregation skew.
  * **Posting blocks** of 128 entries: delta-gap+varint doc ids, varint
    tfs, varint doc lengths (dl inline ⇒ query needs NO doc_stats join),
    and ``max_tfn`` — the idf-independent BM25 upper-bound factor — so
    block-max WAND bounds are ``idf × max_tfn`` with idf resolved at query
    time from the tiny per-term df lookup.
  * **Everything vectorized**: tokenization via one Arrow pandas UDF
    (extraction.doc_terms_udf) whose output is one row per doc —
    ``terms[]``, ``tfs[]``, ``doc_len``, plus ``poss[]`` when
    ``with_positions`` — for either index kind; df via a Catalyst hash
    aggregate; encode/merge via numpy inside ``applyInPandas`` (no
    per-row Python). ``with_positions`` is a column switch: the same
    plan, phase-1 encoder and phase-2 merge carry ``poss``/``pos_enc``
    or not.
  * **Resumable**: ``build_index`` can run shard-batch by shard-batch; a
    ``_manifest`` parquet records per-shard lineage (run id, app id,
    timestamps) + metrics (docs, postings, blocks, bytes, wall seconds);
    completed shards are skipped on restart (north rule: "resumable from
    checkpoint with per-partition lineage + metrics"). The settings the
    checkpoint depends on (input columns, tokenizer, shards, salts, block
    size, BM25 k1/b, positions) are recorded next to it, and a resume
    with other settings raises instead of mixing two builds.
  * **One writer**: :func:`write_index` writes every table below for
    ``build_index`` (salted partials, one call per shard group) and
    ``operators.merge.merge_indexes`` (existing blocks); ``meta.json``
    comes last and marks the index complete.

Storage layout under ``out_dir`` (parquet; Iceberg DDL is the cluster
path — the sandbox image has no Iceberg runtime jar, the layout maps 1:1
onto an Iceberg table partitioned by ``shard``):

    postings/shard=K/*.parquet   (term, block_id, n_docs, first_doc,
                                  last_doc, docs_enc, tfs_enc, dls_enc,
                                  max_tfn[, pos_enc])  sorted by
                                  (term, first_doc); codec.py header
    doc_stats/shard=K/*.parquet  (doc_id, doc_len[, url])
    term_stats/*.parquet         (term, df)           one file, sorted by term
    _tokenized/*.parquet         staging: the tokenizer output per doc
    _manifest/*.parquet          per-shard lineage + metrics rows
    _build_params.json           the settings the checkpoint was built with
    meta.json                    corpus stats + codec/scoring params
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..extraction import doc_terms_udf
from .codec import BLOCK_SIZE, decode_postings, encode_postings, gather_segments

N_TERM_BUCKETS = 64  # phase-2 merge granularity within a shard

# Conservative in-task footprint per corpus token in a phase-1 pandas group
# (per-doc term-list entries: object header + short string + two ints).
# Used only for the group-memory warning, never for allocation.
PHASE1_BYTES_PER_TOKEN = 64


def _schemas(positions: bool) -> tuple[str, str]:
    """(phase-1 partial, phase-2 block) row schemas — codec.py header."""
    enc = "docs_enc binary, tfs_enc binary, dls_enc binary"
    pos = ", pos_enc binary" if positions else ""
    return (f"shard int, term string, salt int, n_docs int, {enc}{pos}",
            f"shard int, term string, block_id int, n_docs int, first_doc long, "
            f"last_doc long, {enc}, max_tfn double{pos}")


def with_doc_id(docs: DataFrame, url_col: str = "url", out_col: str = "doc_id") -> DataFrame:
    """Derive a deterministic non-negative 63-bit doc id from the natural
    key (url — the reference's `id_key`, out_elasticsearch.rb:103). Same
    (url → id) mapping on any cluster size; used by both engine and oracle."""
    return docs.withColumn(out_col, F.shiftrightunsigned(F.xxhash64(F.col(url_col)), 1))


def _sort_postings(term_codes, ids, tfs, dls, positions):
    """Order postings by (term, doc id); each posting's positions (if any)
    follow it."""
    order = np.lexsort((ids, term_codes))
    tfs_s = tfs[order]
    if positions is not None:
        positions = gather_segments(positions, (np.cumsum(tfs) - tfs)[order], tfs_s)
    return term_codes[order], ids[order], tfs_s, dls[order], positions


def _encode_partials(pdf: pd.DataFrame) -> pd.DataFrame:
    """Phase 1 applyInPandas over one (shard, salt) group of DOC rows
    (doc_id, doc_len and the tokenizer's terms[], tfs[] and, in positional
    builds, poss[] cells) → one compressed sorted partial row per term.
    The per-doc lists are exploded HERE, numpy-side: shuffling the compact
    per-doc rows instead of exploded (doc, term, tf) rows cuts the phase-1
    shuffle ~20x (the exploded shuffle measured superlinear slowdown under
    high task parallelism from spill)."""
    counts = pdf["terms"].map(len).to_numpy(dtype=np.int64)

    def flat(col, dtype):
        return np.concatenate([np.empty(0, dtype), *(np.asarray(c, dtype) for c in pdf[col])])

    ids = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), counts)
    dls = np.repeat(pdf["doc_len"].to_numpy(dtype=np.int64), counts)
    positions = flat("poss", np.int64) if "poss" in pdf else None
    codes, uniq_terms = pd.factorize(flat("terms", object))
    codes, ids, tfs, dls, positions = _sort_postings(codes, ids, flat("tfs", np.int64), dls,
                                                     positions)
    starts = np.nonzero(np.diff(codes, prepend=-1))[0]
    return pd.DataFrame({
        "shard": np.repeat(pdf["shard"].to_numpy(dtype=np.int64)[:1], starts.size),
        "term": np.asarray(uniq_terms, dtype=object)[codes[starts]],
        "salt": np.repeat(pdf["salt"].to_numpy(dtype=np.int64)[:1], starts.size),
        "n_docs": np.diff(np.append(starts, codes.size)),
        **encode_postings(ids, tfs, dls, starts, positions),
    })


def _make_merge_fn(avgdl: float, k1: float, b: float, block_size: int,
                   positions: bool = False):
    from .wand import _tfn

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        """Phase 2 applyInPandas over one (shard, term_bucket) group: merge
        every term's salted partials and re-block — all in whole-group numpy
        passes (one concatenated decode, one lexsort, segmented re-encode).
        Group memory is bounded by one term-bucket of one shard."""
        p = decode_postings(pdf, positions=positions)
        codes, uniq_terms = pd.factorize(pdf["term"])
        term_idx, ids, tfs, dls, pos = _sort_postings(np.repeat(codes, p.n), p.ids, p.tfs,
                                                      p.dls, p.positions)
        # block boundaries: every `block_size` postings within each term run
        total = ids.size
        term_starts = np.nonzero(np.diff(term_idx, prepend=-1))[0]
        term_lens = np.diff(np.append(term_starts, total))
        pos_in_term = np.arange(total) - np.repeat(term_starts, term_lens)
        block_starts = np.nonzero(pos_in_term % block_size == 0)[0]
        block_ends = np.append(block_starts, total)[1:]
        return pd.DataFrame({
            "shard": np.repeat(pdf["shard"].to_numpy(dtype=np.int64)[:1], block_starts.size),
            "term": np.asarray(uniq_terms, dtype=object)[term_idx[block_starts]],
            "block_id": pos_in_term[block_starts] // block_size,
            "n_docs": block_ends - block_starts,
            "first_doc": ids[block_starts],
            "last_doc": ids[block_ends - 1],
            "max_tfn": np.maximum.reduceat(_tfn(tfs, dls, avgdl, k1, b), block_starts),
            **encode_postings(ids, tfs, dls, block_starts, pos),
        })

    return merge


def _tokenize(spark: SparkSession, docs: DataFrame, *, id_col: str, text_col: str | None,
              html_col: str | None, url_col: str | None, tokenizer: str, n_shards: int,
              n_salts: int, positions: bool, input_partitions: int | None) -> DataFrame:
    """Per-doc rows of the build: doc_id[, url], the tokenizer output
    (extraction.py header), shard and salt."""
    # Parallelize the extraction/tokenization map side even when the input
    # is a handful of parquet files (a 50 MB file is ONE scan partition —
    # on a 32-core runner that serializes the whole analysis chain).
    if input_partitions is None:
        input_partitions = spark.sparkContext.defaultParallelism * 2
    if docs.rdd.getNumPartitions() < input_partitions:
        docs = docs.repartition(input_partitions)
    from_html = text_col is None
    tok = doc_terms_udf(tokenizer, from_html, positions)
    url = [F.col(url_col).alias("url")] if url_col else []
    return (
        docs.select(F.col(id_col).alias("doc_id"), *url,
                    tok(F.col(html_col if from_html else text_col)).alias("tk"))
        .select("doc_id", *(["url"] if url_col else []), "tk.*")
        .withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int"))
        .withColumn("salt", F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(n_salts)).cast("int"))
    )


def _partials(toks: DataFrame, positions: bool) -> DataFrame:
    """Phase 1: tokenized doc rows → salted, compressed, sorted partials.
    It shuffles COMPACT per-doc rows (term lists), not exploded (doc,
    term, tf) rows — ~20x less shuffle; the explosion happens numpy-side
    inside each (shard, salt) group."""
    return (toks.select("shard", "salt", "doc_id", "doc_len", "terms", "tfs",
                        *(["poss"] if positions else []))
            .groupBy("shard", "salt")
            .applyInPandas(_encode_partials, _schemas(positions)[0]))


def _posting_blocks(spark: SparkSession, rows: DataFrame, n_group_shards: int, avgdl: float,
                    k1: float, b: float, block_size: int,
                    positions: bool) -> tuple[DataFrame, bool]:
    """Phase 2 over posting rows — a build's salted partials or an index's
    blocks: merge each term's rows per (shard, term_bucket) group and
    re-block. Returns (blocks, shard-clustered?). The term bucket is a
    JVM-side crc32, so every input puts a term's rows in one group."""
    rows = rows.withColumn("term_bucket", F.pmod(
        F.crc32(F.encode(F.col("term"), "utf-8")), F.lit(N_TERM_BUCKETS)).cast("int"))
    # Exchange fusion (guide §2.4), scale-adaptive: when the shard
    # count dwarfs the core count (any real cluster build), hash-
    # partition the COMPACT partials by shard once —
    # HashPartitioning(shard) satisfies the phase-2
    # ClusteredDistribution(shard, term_bucket) and the merge output
    # lands shard-clustered, so the write's partitionBy(shard) needs
    # NO third exchange of the full encoded blocks (the heaviest
    # rows). At sandbox scale (shards ≈ cores) the interleaved A/B
    # measured the opposite trade — shard-granular phase-2 tasks lose
    # more to balls-in-bins imbalance than the (tmpfs-cheap) block
    # exchange costs — so small builds keep the fine-grained
    # (shard, term_bucket) exchange and pay the extra block exchange
    # at write. Both paths produce identical files.
    fused = n_group_shards >= 2 * spark.sparkContext.defaultParallelism
    if fused:
        rows = rows.repartition(2 * n_group_shards, "shard")
    blocks = rows.groupBy("shard", "term_bucket").applyInPandas(
        _make_merge_fn(avgdl, k1, b, block_size, positions), _schemas(positions)[1])
    return blocks, fused


def build_compute_only(
    spark: SparkSession,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    html_col: str | None = None,
    tokenizer: str = "unicode",
    n_shards: int = 8,
    n_salts: int = 8,
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    avgdl: float = 120.0,
    input_partitions: int | None = None,
) -> int:
    """The full build pipeline (extract → tokenize → salted phase-1 encode →
    phase-2 merge/block) sunk into Spark's `noop` datasource: identical
    compute and shuffles, ZERO output disk I/O. This is the compute-stage
    scaling proxy — on one sandbox box both parallelism levels share a
    single disk, so constant write bandwidth structurally caps the measured
    N→4N wall-clock ratio; a real 4N cluster brings 4N disks. avgdl only
    parameterizes max_tfn arithmetic (same work shape), so a nominal value
    avoids a stats pre-pass. Returns the number of blocks produced."""
    toks = _tokenize(spark, docs, id_col=id_col, text_col=text_col, html_col=html_col,
                     url_col=None, tokenizer=tokenizer, n_shards=n_shards, n_salts=n_salts,
                     positions=False, input_partitions=input_partitions)
    # no write here, so the non-fused path needs no block exchange either
    blocks, _ = _posting_blocks(spark, _partials(toks, False), n_shards, avgdl, k1, b,
                                block_size, False)
    from pyspark.sql import Observation

    obs = Observation("compute_only")
    blocks = blocks.observe(obs, F.count(F.lit(1)).alias("n_blocks"))
    blocks.write.format("noop").mode("overwrite").save()
    return int(obs.get["n_blocks"])


def _shard_metrics(shards, positions: bool) -> list[F.Column]:
    """Per-shard blocks, postings and encoded bytes, observed on the
    written blocks (3 conditional aggs per shard — no second pass)."""
    enc_len = F.length("docs_enc") + F.length("tfs_enc") + F.length("dls_enc")
    if positions:
        enc_len = enc_len + F.length("pos_enc")
    exprs = []
    for s in shards:
        is_s = F.col("shard") == s
        exprs += [
            F.count(F.when(is_s, 1)).alias(f"blk_{s}"),
            F.sum(F.when(is_s, F.col("n_docs"))).alias(f"pst_{s}"),
            F.sum(F.when(is_s, enc_len)).alias(f"byt_{s}"),
        ]
    return exprs


def _write_manifest_rows(spark: SparkSession, out_dir: str, got: dict, shards, run_id: str,
                         wall: float, file_tag: str) -> list[dict]:
    """Write and return the 'done' manifest rows, with lineage, of the
    shards that got blocks. They are driver data (one per shard) —
    written with pyarrow directly instead of spending a Spark job per
    checkpoint. The directory stays a normal parquet table for
    spark.read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        {
            "shard": int(s), "status": "done", "run_id": run_id,
            "app_id": spark.sparkContext.applicationId,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "n_blocks": int(got[f"blk_{s}"] or 0),
            "n_postings": int(got[f"pst_{s}"] or 0),
            "enc_bytes": int(got[f"byt_{s}"] or 0),
            "wall_s": wall,
        }
        for s in shards
        if int(got[f"blk_{s}"] or 0) > 0
    ]
    if rows:
        schema = pa.schema([("shard", pa.int64()), ("status", pa.string()),
                            ("run_id", pa.string()), ("app_id", pa.string()),
                            ("ts", pa.string()), ("n_blocks", pa.int64()),
                            ("n_postings", pa.int64()), ("enc_bytes", pa.int64()),
                            ("wall_s", pa.float64())])
        path = os.path.join(out_dir, "_manifest")
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(path, f"manifest-{file_tag}.parquet"))
    return rows


def write_index(spark: SparkSession, out_dir: str, meta: dict, groups: list,
                on_batch_done=None) -> list[dict]:
    """The one writer of an index's tables (layout in the module docstring),
    for ``build_index`` and ``operators.merge.merge_indexes``.

    ``meta`` is the index's ``meta.json`` (its avgdl, k1, b, block_size,
    with_positions, n_shards and run_id drive the write). ``groups`` lists
    ``(shards, posting rows, doc rows)``: posting rows are phase-2 input —
    a build's salted partials or existing blocks — and doc rows are
    (shard, doc_id, doc_len[, url]). Per group: phase 2, the postings
    write (sorted by shard, term, first_doc) with the doc_stats write
    running concurrently, then the group's manifest rows (its checkpoint)
    and ``on_batch_done(shards)``. Then term_stats from the written
    postings, and ``meta.json`` last: it marks the index complete, so it
    is removed first and an index without it is unfinished. Returns the
    manifest rows written."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    positions, run_id = bool(meta.get("with_positions")), meta["run_id"]
    meta_path = os.path.join(out_dir, "meta.json")
    os.makedirs(out_dir, exist_ok=True)
    if os.path.exists(meta_path):
        os.remove(meta_path)
    metrics = []
    for gi, (shards, rows, docs) in enumerate(groups):
        t0 = time.time()
        # Crash safety: postings/doc_stats are APPENDED before the manifest
        # row marks a shard 'done', so a shard partition on disk that the
        # caller is writing again is a torn write from a crashed attempt —
        # appending to it would silently double its tfs and BM25 scores.
        # Delete it first. (On Iceberg this is a transactional REPLACE
        # PARTITION; this is the filesystem equivalent.)
        for table in ("postings", "doc_stats"):
            for s in shards:
                pdir = os.path.join(out_dir, table, f"shard={s}")
                if os.path.exists(pdir):
                    shutil.rmtree(pdir)
        blocks, fused = _posting_blocks(spark, rows, len(shards), meta["avgdl"], meta["k1"],
                                        meta["b"], meta["block_size"], positions)
        if not fused:
            blocks = blocks.repartition("shard")
        obs = Observation(f"shard_metrics_{gi}")
        blocks = blocks.observe(obs, *_shard_metrics(shards, positions))

        # doc_stats is written CONCURRENTLY with the postings job from a
        # second thread: its small tasks fill scheduler gaps (e.g. the
        # phase-2 skew tail) instead of appending a serial job.
        def write_doc_stats(docs=docs) -> None:
            docs.repartition("shard").write.mode("append").partitionBy(
                "shard").parquet(os.path.join(out_dir, "doc_stats"))

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(write_doc_stats)
            # Sort leads with `shard` so the writer's required ordering
            # (partition columns first) is ALREADY satisfied: a
            # sortWithinPartitions("term", ...) is silently re-sorted by
            # the writer's own (shard)-only sort, which leaves files
            # term-UNsorted. This way files come out (term, first_doc)-
            # sorted, so parquet min/max row-group pruning on `term` works
            # at scale (guide §6).
            (
                blocks.sortWithinPartitions("shard", "term", "first_doc")
                .write.mode("append")
                .partitionBy("shard")
                .parquet(os.path.join(out_dir, "postings"))
            )
            fut.result()
        metrics += _write_manifest_rows(spark, out_dir, obs.get, shards, run_id,
                                        time.time() - t0, f"{run_id}-g{gi}")
        if on_batch_done is not None:  # test hook: simulate crash mid-build
            on_batch_done(shards)

    # term stats: global df per term, derived from the written postings
    # (per-shard posting count per term sums to exact df) — no second
    # tokenize/explode pass over the corpus. One term-sorted file at every
    # shard count: an open index reads it whole into its term dictionary.
    (spark.read.parquet(os.path.join(out_dir, "postings"))
     .groupBy("term").agg(F.sum("n_docs").alias("df"))
     .repartition(1).sortWithinPartitions("term")
     .write.mode("overwrite").parquet(os.path.join(out_dir, "term_stats")))
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return metrics


def _check_resume_params(out_dir: str, params: dict) -> None:
    """Record ``params`` next to the checkpoint; if ``out_dir`` already
    holds one (staging table, manifest or postings) built with other
    settings, raise instead of mixing the two into one index."""
    path = os.path.join(out_dir, "_build_params.json")
    if any(os.path.exists(os.path.join(out_dir, p))
           for p in (os.path.join("_tokenized", "_SUCCESS"), "_manifest", "postings")):
        try:
            with open(path) as f:
                recorded = json.load(f)
        except FileNotFoundError:
            recorded = {}
        changed = [f"{k}: {recorded.get(k, '<unrecorded>')!r} -> {v!r}"
                   for k, v in params.items() if recorded.get(k, "<unrecorded>") != v]
        if changed:
            raise ValueError(f"{out_dir} holds a build checkpoint made with other settings "
                             f"({'; '.join(changed)}); build into a new directory or delete it")
    with open(path, "w") as f:
        json.dump(params, f)


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    html_col: str | None = None,
    url_col: str | None = None,
    tokenizer: str = "unicode",
    n_shards: int = 8,
    n_salts: int = 8,
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    shard_batches: int = 1,
    run_id: str | None = None,
    input_partitions: int | None = None,
    on_batch_done=None,
    with_positions: bool = False,
    max_group_bytes: int = 2 * 1024**3,
) -> dict:
    """Build the full index at ``out_dir``. ``shard_batches>1`` splits the
    build into resumable per-shard-group jobs (manifest-checkpointed); a
    re-run with the same out_dir skips completed shards, and a re-run of
    a completed build (``meta.json`` present) writes nothing.
    ``with_positions=True`` stores per-posting token positions (pos_enc)
    enabling exact phrase queries (operators/positions.py)."""
    run_id = run_id or f"run-{int(time.time())}"
    os.makedirs(out_dir, exist_ok=True)
    _check_resume_params(out_dir, dict(
        id_col=id_col, text_col=text_col, html_col=html_col, url_col=url_col,
        tokenizer=tokenizer, n_shards=n_shards, n_salts=n_salts, block_size=block_size,
        k1=k1, b=b, with_positions=with_positions))
    toks = _tokenize(spark, docs, id_col=id_col, text_col=text_col, html_col=html_col,
                     url_col=url_col, tokenizer=tokenizer, n_shards=n_shards, n_salts=n_salts,
                     positions=with_positions, input_partitions=input_partitions)
    # Materialize the tokenized layer to parquet once (the staging table an
    # Iceberg deployment would use): tokenization runs exactly once, every
    # downstream pass gets columnar pruning, and no multi-GB
    # cache sits on the driver heap.
    # Reuse is gated on Spark's _SUCCESS marker, not bare dir existence: a
    # crash mid-write leaves a partial directory that must be rebuilt.
    # Corpus stats ride the SAME job as the staging write via Observation
    # (per-build fixed job count is the scaling-efficiency tax: every extra
    # job is seconds that do not shrink with cores).
    from pyspark.sql import Observation

    tokenized_path = os.path.join(out_dir, "_tokenized")
    corpus_stats = [F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl"),
                    F.sum("doc_len").alias("total_tokens"), F.min("doc_id").alias("min_id")]
    stats = None
    if not os.path.exists(os.path.join(tokenized_path, "_SUCCESS")):
        obs = Observation("corpus_stats")
        toks.observe(obs, *corpus_stats).write.mode("overwrite").parquet(tokenized_path)
        stats = obs.get
    toks = spark.read.parquet(tokenized_path)
    if stats is None:  # resuming over an existing staging table
        stats = toks.agg(*corpus_stats).collect()[0].asDict()
    # --- phase-1 group-memory guard -------------------------------------
    # Phase 1 materializes one (shard, salt) group per applyInPandas task:
    # ~corpus/(n_shards·n_salts) of per-doc term-list entries live in that
    # task's pandas frame at once. SIZING RULE the caller must satisfy:
    #     n_shards · n_salts ≥ total_tokens × PHASE1_BYTES_PER_TOKEN
    #                          / target_group_bytes
    # (defaults 8×8 are sandbox-scale; the 600k-doc bench uses 64×8; at
    # 10^12 docs size n_shards·n_salts so a group stays under executor
    # memory). We estimate from the Observation-carried token count and
    # WARN rather than fail — the estimate is intentionally conservative
    # (every token counted as a distinct term entry).
    est_group_bytes = (
        int(stats["total_tokens"]) * PHASE1_BYTES_PER_TOKEN / (n_shards * n_salts)
    )
    if est_group_bytes > max_group_bytes:
        import warnings

        need = math.ceil(int(stats["total_tokens"]) * PHASE1_BYTES_PER_TOKEN / max_group_bytes)
        warnings.warn(
            f"phase-1 group estimate ~{est_group_bytes / 1e9:.1f} GB exceeds "
            f"max_group_bytes={max_group_bytes / 1e9:.1f} GB: raise n_shards*n_salts "
            f"to >= {need} (currently {n_shards * n_salts}) or tasks may OOM",
            ResourceWarning,
            stacklevel=2,
        )
    if stats["min_id"] is not None and int(stats["min_id"]) < 0:
        # codec stores uint64 gaps; signed/unsigned order must agree for
        # rank-identical tie-breaks — derive ids via with_doc_id() instead
        raise ValueError("doc ids must be non-negative (use with_doc_id for url-keyed corpora)")

    manifest_path = os.path.join(out_dir, "_manifest")
    done: set[int] = set()
    if os.path.exists(manifest_path):
        try:
            done = {
                int(r["shard"])
                for r in spark.read.parquet(manifest_path).filter(F.col("status") == "done").collect()
            }
        except Exception:  # crashed mid-manifest-write: treat as no checkpoint
            done = set()

    todo = [s for s in range(n_shards) if s not in done]
    meta_path = os.path.join(out_dir, "meta.json")
    if not todo and os.path.exists(meta_path):  # a finished build: nothing to redo
        with open(meta_path) as f:
            return {"meta": json.load(f), "shard_metrics": []}
    doc_cols = ["shard", "doc_id", "doc_len"] + (["url"] if url_col else [])
    groups = []
    for group in (todo[i::shard_batches] for i in range(shard_batches)):
        if group:
            part = toks.filter(F.col("shard").isin(group)) if len(group) < n_shards else toks
            groups.append((group, _partials(part, with_positions), part.select(*doc_cols)))
    meta = {
        "n_docs": int(stats["n"]),
        "avgdl": float(stats["avgdl"]),
        "total_tokens": int(stats["total_tokens"]),
        "n_shards": n_shards,
        "n_salts": n_salts,
        "block_size": block_size,
        "k1": k1,
        "b": b,
        "tokenizer": tokenizer,
        "run_id": run_id,
        "with_positions": with_positions,
    }
    return {"meta": meta,
            "shard_metrics": write_index(spark, out_dir, meta, groups, on_batch_done)}


def reindex(spark, docs, dest_dir: str, query: dict | None = None,
            source_index=None, **build_kwargs) -> dict:
    """ES _reindex: rebuild an index at dest_dir from a (optionally
    query-filtered) document source. The filter goes through the query
    AST so it pushes into the source scan — at corpus scale a selective
    reindex reads only the matching partitions/row-groups, then runs the
    standard resumable build (same manifest/lineage machinery, so a
    crashed reindex resumes like any build). `source_index` routes
    full-text (`match`) filters through an existing InvertedIndex.

    Reference: the plugin era's reindex loops (scroll + bulk re-submit,
    in_elasticsearch.rb scan → out_elasticsearch.rb bulk) become ONE
    declarative job."""
    from ..plans.query_ast import compile_query

    src = docs
    if query is not None:
        src = compile_query(docs, {"query": query}, index=source_index)
        # compile_query may attach search metadata columns (score/rank)
        # when routing through an index — strip to the source schema
        src = src.select(*[c for c in docs.columns])
    return build_index(spark, src, dest_dir, **build_kwargs)


def build_field_indexes(spark, docs, out_dir: str, fields: list[str],
                        **build_kwargs) -> dict:
    """One index per text field under ``out_dir/<field>`` — the per-field
    Lucene-index shape ES's multi_match scores against. Returns
    {field: index_path}; open each with InvertedIndex and serve via
    search.multi_match_topk. Each field build is the standard resumable
    build (own manifest/meta), so a crashed multi-field build resumes
    per field."""
    paths = {}
    for f in fields:
        p = os.path.join(out_dir, f)
        build_index(spark, docs, p, text_col=f, **build_kwargs)
        paths[f] = p
    return paths


def combined_index_key(fields: list[str], weights: dict[str, int] | None = None) -> str:
    """Canonical registry key for a combined_fields index: the serving
    router must only use an index built with the SAME fields+weights."""
    return "combined::" + ",".join(
        f"{f}^{int((weights or {}).get(f, 1))}" for f in fields)


def build_combined_field_index(spark, docs, out_dir: str, fields: list[str],
                               weights: dict[str, int] | None = None,
                               **build_kwargs) -> dict:
    """Index over the WEIGHTED FIELD CONCATENATION — the exact reduction
    bm25.combined_fields_df uses (tf sums across weighted copies, dl is
    the weighted length, df/avgdl from the combined text), so serving
    this index via search.combined_fields_topk reproduces the DataFrame
    scorer bit-for-bit. ES restricts combined_fields weights to >= 1;
    same rule here."""
    from pyspark.sql import functions as F

    parts = []
    for f in fields:
        w = int((weights or {}).get(f, 1))
        if w < 1:
            raise ValueError("combined_fields weights must be >= 1 (ES rule)")
        parts += [F.coalesce(F.col(f).cast("string"), F.lit(""))] * w
    combined = docs.withColumn("__combined", F.concat_ws(" ", *parts))
    return build_index(spark, combined, out_dir, text_col="__combined",
                       **build_kwargs)
