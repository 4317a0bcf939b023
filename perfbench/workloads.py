"""The workloads. Each drives the engine's public API in a closed loop
for a fixed number of seconds, checks every result against an oracle after
timing, and returns end-to-end metrics plus, when tracing, per-layer ones."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from fluent_plugin_elasticsearch_spark.operators import wand
from fluent_plugin_elasticsearch_spark.operators.codec import (
    delta_encode_segments,
    segmented_cumsum,
    varint_decode,
    varint_encode_segments,
)
from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
from fluent_plugin_elasticsearch_spark.operators.search import (
    WAND_FALLBACK_POSTINGS,
    InvertedIndex,
)
from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs
from fluent_plugin_elasticsearch_spark.sinks.cow_table import CowTable
from fluent_plugin_elasticsearch_spark.streaming.ingest import IngestPipeline
from fluent_plugin_elasticsearch_spark.textproc import bm25_idf, extract_text, tokenize_unicode

from . import gen
from .oracle import Bm25Oracle, LogModel
from .trace import (JobCounter, Tracer, file_sizes, live_memory_mb, peak_rss_mb, tree_bytes,
                    tree_cpu_s)

# search_serve indexes docs_per_shard docs into each of serve_shards(nproc)
# shards. At 8k docs a shard, a query whose terms include two or three
# stopword-scale or top Zipf terms carries more than WAND_FALLBACK_POSTINGS
# postings into a shard, so mode="auto" sends about a tenth to a fifth of
# the stream to block-max WAND and the rest to exhaustive scoring, on any
# core count.
SIZES = {
    "full": {"docs_per_shard": 8_000, "table_rows": 20_000, "batch_rows": 2_000},
    "smoke": {"docs_per_shard": 150, "table_rows": 2_000, "batch_rows": 200},
}
CLIENTS = 2  # 4 clients saturate local[4]; 2 leave headroom (closed loop)
K = 10
SETUP_REPEATS = 3
# The first calls in a JVM pay Python-worker start-up and code generation,
# and the next two or three still run 10-20% slow while the JIT settles. A
# server pays that once, so WARMUP_OPS untimed ops belong to set-up.
WARMUP_OPS = 4
WARMUP_BATCHES = 3  # log_ingest's batches are ~5x a query, so fewer of them
REPLAY_QUERIES = 20
AMP_BATCHES = 3  # log_ingest times at least this many batches, whatever --seconds
# log_ingest runs the aggregation this many times after each batch: a run
# fits only a handful of batches, and a median over so few reads jumps
# between the slower first reads after set-up and the settled ones.
AGG_REPEATS = 3
SERVING_TABLES = ("postings", "doc_stats", "term_stats")
ENC_COLUMNS = ("docs_enc", "tfs_enc", "dls_enc")  # every encoded posting column


def serve_shards(nproc: int) -> int:
    """One shard per core a client's query can have to itself: the shard
    tasks of the CLIENTS queries in flight fill the cores once."""
    return max(1, nproc // CLIENTS)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    sizes: dict
    tmp: str
    nproc: int
    session_s: float
    jvm_pid: int
    tracer: Tracer
    jobs: JobCounter | None  # set only when tracing


@dataclass
class Result:
    e2e: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)  # raw op timings, s


def p50(xs) -> float:
    return statistics.median(xs)


def _ms(xs) -> float:
    return p50(xs) * 1e3


def _write_corpus(ctx: Ctx, n_docs: int) -> tuple[str, object, float]:
    with ctx.tracer.span("corpus.generate", "setup"):
        t0 = time.perf_counter()
        pdf = gen.corpus(n_docs, ctx.seed)
        path = os.path.join(ctx.tmp, "corpus.parquet")
        pdf[["doc_id", "url", "html"]].to_parquet(path, index=False, row_group_size=2048)
        return path, pdf, time.perf_counter() - t0


def _build(ctx: Ctx, corpus_path: str, out_dir: str, rid: str) -> dict:
    """One build_index call with its wall time, Spark work and disk bytes."""
    spark, jobs = ctx.spark, ctx.jobs
    if jobs:
        jobs.group(rid)
        before = jobs.ungrouped()
    with ctx.tracer.span("index_build.build", rid):
        t0 = time.perf_counter()
        res = build_index(spark, spark.read.parquet(corpus_path), out_dir, id_col="doc_id",
                          text_col=None, html_col="html", url_col="url",
                          tokenizer="unicode", n_shards=serve_shards(ctx.nproc))
        wall = time.perf_counter() - t0
    info = {"wall_s": wall,
            "serving_bytes": sum(tree_bytes(os.path.join(out_dir, t)) for t in SERVING_TABLES),
            "staging_bytes": tree_bytes(os.path.join(out_dir, "_tokenized")),
            "bytes_written": tree_bytes(out_dir)}
    for key, src in (("postings", "n_postings"), ("blocks", "n_blocks"), ("enc_bytes", "enc_bytes")):
        info[key] = sum(m[src] for m in res["shard_metrics"])
    if jobs:
        info["jobs"], info["tasks"] = jobs.counts(rid, jobs.ungrouped() - before)
    return info


def _timed_search(ctx: Ctx, idx: InvertedIndex, q: str, rid: str, cold: bool):
    """search() then collect(); returns (hits, plan_s, collect_s, end)."""
    if ctx.jobs:
        ctx.jobs.group(rid)
    tr = ctx.tracer
    plan, collect = ("search.cold_lookup", "search.cold_collect") if cold else \
        ("search.plan", "search.collect")
    with tr.span("request", rid):
        t0 = time.perf_counter()
        with tr.span(plan):
            df = idx.search(q, k=K, mode="auto")
        t1 = time.perf_counter()
        with tr.span(collect):
            rows = df.collect()
        t2 = time.perf_counter()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows], t1 - t0, t2 - t1, t2


def _check_queries(oracle: Bm25Oracle, served: list[tuple[str, list]], res: Result) -> None:
    seen: dict[tuple, str | None] = {}
    for q, hits in served:
        key = (q, tuple(hits))
        if key not in seen:
            seen[key] = oracle.check(q, hits, K)
        if seen[key] is not None:
            res.failed += 1
            res.errors.append(seen[key])


def _postings(index_path: str, terms: list[str], columns=None):
    ds = pads.dataset(os.path.join(index_path, "postings"), format="parquet", partitioning="hive")
    return ds.to_table(columns=columns, filter=pads.field("term").isin(terms)).to_pandas()


def _takes_wand(shard_mass) -> bool:
    """mode="auto"'s rule: a shard runs WAND when its query-term posting
    mass reaches WAND_FALLBACK_POSTINGS."""
    return bool((np.asarray(shard_mass) >= WAND_FALLBACK_POSTINGS).any())


def _query_replays(index_path: str, queries: list[str], replay_n: int) -> dict[str, float]:
    """Exact blocks/postings read per query and the share of queries that
    take WAND on some shard, then a pandas replay of the per-shard kernel the
    engine picks and of the block decoder over the blocks each query reads."""
    meta = _meta(index_path)
    qterms = [sorted(set(tokenize_unicode(q))) for q in queries]
    blocks = _postings(index_path, sorted({t for ts in qterms for t in ts}))
    per_term = blocks.groupby("term")["n_docs"].agg(["size", "sum"])
    shard_term = blocks.groupby(["term", "shard"])["n_docs"].sum().unstack(fill_value=0)
    nb = [sum(int(per_term["size"].get(t, 0)) for t in ts) for ts in qterms]
    npst = [sum(int(per_term["sum"].get(t, 0)) for t in ts) for ts in qterms]
    wand_q = [_takes_wand(shard_term.reindex(ts, fill_value=0).sum()) for ts in qterms]
    out = {"search.blocks_per_query": float(np.mean(nb)),
           "search.postings_per_query": float(np.mean(npst)),
           "search.wand_query_share": float(np.mean(wand_q))}
    shard_max, shard_sum, dec_bytes, dec_s = [], [], 0, 0.0
    distinct = list(dict.fromkeys(tuple(t for t in ts if t in per_term.index) for ts in qterms))
    for ts in [d for d in distinct if d][:replay_n]:
        idfs = {t: bm25_idf(int(per_term["sum"][t]), meta["n_docs"]) for t in ts}
        sel = blocks[blocks["term"].isin(ts)]
        times = []
        for _, pdf in sel.groupby("shard"):
            pdf = pdf.reset_index(drop=True)
            kernel = (wand.score_shard_wand if _takes_wand(pdf["n_docs"].sum())
                      else wand.score_shard_exhaustive)
            t0 = time.perf_counter()
            kernel(pdf, idfs, K, meta["avgdl"], meta["k1"], meta["b"])
            times.append(time.perf_counter() - t0)
        shard_max.append(max(times))
        shard_sum.append(sum(times))
        bufs = [b"".join(sel[c]) for c in ENC_COLUMNS]
        t0 = time.perf_counter()
        _decode(*bufs, sel["n_docs"].to_numpy())
        dec_s += time.perf_counter() - t0
        dec_bytes += sum(map(len, bufs))
    if shard_max:
        out["wand.kernel_shard_max_ms"] = _ms(shard_max)
        out["wand.kernel_sum_ms"] = _ms(shard_sum)
        out["codec.decode_mb_per_s"] = dec_bytes / 1e6 / dec_s
    return out


def _meta(index_path: str) -> dict:
    with open(os.path.join(index_path, "meta.json")) as f:
        return json.load(f)


def _decode(docs_buf: bytes, tfs_buf: bytes, dls_buf: bytes, n_per_block: np.ndarray):
    """The kernels' decode: one varint pass per column over concatenated
    blocks, doc ids rebuilt from per-block delta gaps."""
    total = int(n_per_block.sum())
    starts = np.concatenate([[0], np.cumsum(n_per_block)[:-1]])
    ids = segmented_cumsum(varint_decode(docs_buf, total), starts, n_per_block)
    return ids, varint_decode(tfs_buf, total), varint_decode(dls_buf, total)


def _encode_replay(index_path: str, seed: int, n_terms: int = 40) -> float:
    """The build's block encoder (delta gaps + varint, segmented per block)
    over a seeded sample of built posting runs, the head terms plus random
    ones: encoded MB produced per second."""
    block_size = _meta(index_path)["block_size"]
    ts = pq.read_table(os.path.join(index_path, "term_stats")).to_pandas()
    ts = ts.sort_values(["df", "term"], ascending=[False, True])
    rng = np.random.default_rng([seed, 5])
    picks = list(ts["term"][:10]) + list(rng.choice(ts["term"].to_numpy(), n_terms - 10))
    blocks = _postings(index_path, sorted(set(picks)))
    enc_bytes, enc_s = 0, 0.0
    for _, run in blocks.sort_values("first_doc").groupby(["shard", "term"]):
        n = run["n_docs"].to_numpy()
        ids, tfs, dls = _decode(*(b"".join(run[c]) for c in ENC_COLUMNS), n)
        starts = np.arange(0, ids.size, block_size)
        t0 = time.perf_counter()
        out = (delta_encode_segments(ids, starts) + varint_encode_segments(tfs, starts)
               + varint_encode_segments(dls, starts))
        enc_s += time.perf_counter() - t0
        enc_bytes += sum(map(len, out))
    return enc_bytes / 1e6 / enc_s


def _extraction_replay(htmls, n: int = 300) -> float:
    """Single-core extract_text + tokenize_unicode, docs per second."""
    sample = list(htmls[:n])
    t0 = time.perf_counter()
    for h in sample:
        tokenize_unicode(extract_text(h))
    return len(sample) / (time.perf_counter() - t0)


def _build_layer(info: dict) -> dict[str, float]:
    return {f"index_build.{k}": float(info[k])
            for k in ("wall_s", "jobs", "tasks", "postings", "blocks", "enc_bytes",
                      "serving_bytes", "staging_bytes", "bytes_written")}


def _common_layer(ctx: Ctx, gen_s: float, e2e: dict, latency: dict, n_ops: int) -> dict:
    """Set-up spans, peak memory, wall-clock latencies and the cost of
    tracing itself: trace.op_cpu_ms against the untraced op_cpu_ms."""
    return {"session.start_s": ctx.session_s, "corpus.generate_s": gen_s,
            "session.peak_rss_mb": peak_rss_mb(ctx.jvm_pid),
            **{f"latency.{k}": v for k, v in latency.items()},
            "trace.op_cpu_ms": e2e["op_cpu_ms"],
            "trace.overhead_ms_per_op": ctx.tracer.cost_s * 1e3 / max(n_ops, 1)}


# --- search_serve ------------------------------------------------------------

def _serve(ctx: Ctx, idx: InvertedIndex, queries: list[str], rid: str, cold: bool,
           served: dict, errors: list[str], i: int) -> None:
    try:
        served[i] = (queries[i], *_timed_search(ctx, idx, queries[i], f"{rid}{i}", cold))
    except Exception as e:  # a failed request is counted, the loop goes on
        errors.append(f"{rid}{i} {queries[i]!r}: {e!r}")


def search_serve(ctx: Ctx) -> Result:
    """Build an index, answer the cold queries on it, then serve it warmed
    and term-cached to two closed-loop clients."""
    spark, tr = ctx.spark, ctx.tracer
    n_docs = ctx.sizes["docs_per_shard"] * serve_shards(ctx.nproc)
    corpus_path, pdf, gen_s = _write_corpus(ctx, n_docs)
    idx_dir = os.path.join(ctx.tmp, "serve_idx")
    build = _build(ctx, corpus_path, idx_dir, "setup_build")
    errors: list[str] = []
    # the out-of-cache read path: a fresh index, no term cache, no warm()
    cold_queries, cold = gen.cold_queries(ctx.seed), {}
    cold_idx = InvertedIndex(spark, idx_dir)
    for i in range(len(cold_queries)):
        _serve(ctx, cold_idx, cold_queries, "cold", True, cold, errors, i)
    warm_s, idx = [], None
    for _ in range(SETUP_REPEATS):
        if idx is not None:
            idx.postings().unpersist()
        with tr.span("search.open", "setup"):
            t0 = time.perf_counter()
            idx = InvertedIndex(spark, idx_dir, cache_term_stats=True).warm()
            warm_s.append(time.perf_counter() - t0)
    stream = gen.query_stream(ctx.seed, int(ctx.seconds * 200) + 100)
    t0 = time.perf_counter()
    for q in stream[:WARMUP_OPS]:
        idx.search(q, k=K, mode="auto").collect()
    setup_s = (ctx.session_s + gen_s + build["wall_s"] + sum(c[2] + c[3] for c in cold.values())
               + p50(warm_s) + time.perf_counter() - t0)
    memory_mb = live_memory_mb(spark)

    served: dict[int, tuple] = {}
    counter = itertools.count()
    cpu0 = tree_cpu_s()
    start = time.perf_counter()
    deadline = start + ctx.seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            i = next(counter)
            if i >= len(stream):
                return
            _serve(ctx, idx, stream, "q", False, served, errors, i)

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    cpu_s = tree_cpu_s() - cpu0
    wall = max((s[4] for s in served.values()), default=time.perf_counter()) - start

    res = Result(e2e={}, attempted=len(cold) + len(served) + len(errors), failed=len(errors),
                 errors=errors)
    lat = [s[2] + s[3] for s in served.values()]
    res.samples = {"op": lat, "cold": [c[2] + c[3] for c in cold.values()], "op_cpu_s": [cpu_s]}
    _check_queries(Bm25Oracle(pdf["doc_id"], list(pdf["text"])),
                   [s[:2] for s in (*cold.values(), *served.values())], res)
    html_bytes = int(pdf["html"].map(len).sum())
    # two clients share the CPU, so it is split evenly over the queries
    cpu_ms = cpu_s * 1e3 / len(lat)
    res.e2e = {"setup_s": setup_s, "op_cpu_ms": cpu_ms, "read_cpu_ms": cpu_ms,
               "disk_bytes_per_input_byte": build["serving_bytes"] / html_bytes,
               "live_memory_mb": memory_mb}
    if tr.enabled:
        counts = [ctx.jobs.counts(f"q{i}") for i in served]
        latency = {"op_p50_ms": _ms(lat), "read_p50_ms": _ms(lat),
                   "throughput_per_s": len(lat) / wall}
        layer = _common_layer(ctx, gen_s, res.e2e, latency, len(lat) + len(cold))
        layer.update(_build_layer(build))
        layer.update({
            "search.plan_ms": _ms(tr.self_times("search.plan")),
            "search.collect_ms": _ms(tr.self_times("search.collect")),
            "search.cold_lookup_ms": _ms(tr.self_times("search.cold_lookup")),
            "search.cold_collect_ms": _ms(tr.self_times("search.cold_collect")),
            "search.jobs_per_query": float(np.mean([c[0] for c in counts])),
            "search.tasks_per_query": float(np.mean([c[1] for c in counts])),
            "codec.encode_mb_per_s": _encode_replay(idx_dir, ctx.seed),
            "extraction.docs_per_core_s": _extraction_replay(pdf["html"]),
        })
        layer.update(_query_replays(idx_dir, [stream[i] for i in sorted(served)], REPLAY_QUERIES))
        # what the Spark job, Arrow transfer and Python worker add to the kernel
        layer["search.overhead_ms"] = (layer["search.collect_ms"]
                                       - layer.get("wand.kernel_shard_max_ms", 0.0))
        res.layer = layer
    idx.postings().unpersist()
    return res


# --- log_ingest --------------------------------------------------------------

def _table_state(table_path: str) -> tuple[int, int]:
    """(files named by the manifest, bytes retained in retired generations)."""
    with open(os.path.join(table_path, "manifest.json")) as f:
        m = json.load(f)
    live = sum(sum(1 for p in file_sizes(os.path.join(table_path, d)) if p.endswith(".parquet"))
               for d in m["buckets"].values() if os.path.isdir(os.path.join(table_path, d)))
    retired = sum(tree_bytes(os.path.join(table_path, d)) for d in m.get("retired", []))
    return live, retired


def _ingest_step(ctx: Ctx, pipe: IngestPipeline, table_path: str, pdf, body: dict,
                 epoch: int, rid: str, errors: list[str]) -> dict | None:
    """One run_batch, then AGG_REPEATS runs of the aggregation over the
    table it wrote."""
    spark, tr = ctx.spark, ctx.tracer
    rec = {"epoch": epoch, "pdf": pdf,
           "json_bytes": len(pdf.to_json(orient="records", lines=True, date_format="iso").encode())}
    before = file_sizes(table_path)
    df = spark.createDataFrame(pdf)
    try:
        cpu0 = tree_cpu_s()
        with tr.span("ingest.run_batch", rid):
            t0 = time.perf_counter()
            rec["stats"] = pipe.run_batch(df, epoch)
            rec["batch_s"] = time.perf_counter() - t0
        rec["batch_cpu_s"] = tree_cpu_s() - cpu0
    except Exception as e:  # the table state is now unknown: stop writing
        errors.append(f"batch {epoch}: {e!r}")
        return None
    rec["new_files"] = {p: s for p, s in file_sizes(table_path).items() if p not in before}
    rec["aggs"], rec["agg_s"], rec["agg_cpu_s"] = [], [], []
    for _ in range(AGG_REPEATS):
        try:
            cpu0 = tree_cpu_s()
            with tr.span("request", rid):
                t0 = time.perf_counter()
                with tr.span("aggs.compile"):
                    frames = compile_aggs(CowTable(spark, table_path).read(), body)
                with tr.span("aggs.collect"):
                    aggs = {name: f.collect() for name, f in frames.items()}
                rec["agg_s"].append(time.perf_counter() - t0)
            rec["agg_cpu_s"].append(tree_cpu_s() - cpu0)
            rec["aggs"].append(aggs)
        except Exception as e:
            errors.append(f"agg {epoch}: {e!r}")
    return rec


def log_ingest(ctx: Ctx) -> Result:
    """Upsert batches into a copy-on-write table, each followed by one
    aggregation over the same table."""
    spark, tr = ctx.spark, ctx.tracer
    n0, bs = ctx.sizes["table_rows"], ctx.sizes["batch_rows"]
    events = gen.LogEvents(ctx.seed)
    with tr.span("corpus.generate", "setup"):
        t0 = time.perf_counter()
        initial = events.initial(n0)
        gen_s = time.perf_counter() - t0
    pipe = IngestPipeline(os.path.join(ctx.tmp, "logs"), id_keys=["tag", "seq"],
                          write_op="index", table_format="cow", run_id="bench")
    table_path = os.path.join(ctx.tmp, "logs", "docs")
    body = gen.agg_body(ctx.seed)
    errors: list[str] = []
    checked, batches = [], []
    with tr.span("ingest.create", "setup"):
        t0 = time.perf_counter()
        pipe.run_batch(spark.createDataFrame(initial), 0)
        for epoch in range(1, WARMUP_BATCHES + 1):
            rec = _ingest_step(ctx, pipe, table_path, events.batch(bs), body, epoch, "setup",
                               errors)
            if rec is None:
                break
            checked.append(rec)
        create_s = time.perf_counter() - t0
    setup_s = ctx.session_s + gen_s + create_s
    memory_mb = live_memory_mb(spark)

    deadline = time.perf_counter() + ctx.seconds
    for epoch in itertools.count(WARMUP_BATCHES + 1):
        if errors or (time.perf_counter() >= deadline and len(batches) >= AMP_BATCHES):
            break
        rec = _ingest_step(ctx, pipe, table_path, events.batch(bs), body, epoch,
                           f"batch{epoch}", errors)
        if rec is None:
            break
        batches.append(rec)
    if len(batches) < AMP_BATCHES:  # only a failed batch stops the loop early
        raise RuntimeError(f"{len(batches)} of {AMP_BATCHES} timed batches ran: {errors}")
    checked += batches
    live_files, retired_bytes = _table_state(table_path)

    res = Result(e2e={}, errors=errors, failed=len(errors))
    model = LogModel()
    model.apply(initial)
    for rec in checked:
        model.apply(rec["pdf"])
        want = model.agg_counts(body)
        for aggs in rec["aggs"]:
            err = model.check_aggs(aggs, want)
            if err:
                res.errors.append(f"batch {rec['epoch']}: {err}")
                res.failed += 1
    table = CowTable(spark, table_path).read()
    sample = np.random.default_rng([ctx.seed, 6]).choice(len(events.keys), 200, replace=False)
    keys = {events.keys[i] for i in sample}
    rows = [r for r in table.filter(table["seq"].isin([k[1] for k in keys])).collect()
            if (r["tag"], r["seq"]) in keys]
    table_errors = model.check_rows(rows, table.count())
    if len(rows) != len(keys):
        table_errors.append(f"{len(rows)} of {len(keys)} sampled ids found")
    res.errors += table_errors
    res.failed += bool(table_errors)
    # each checked batch and its aggregations, failures, and the final table check
    res.attempted = len(checked) + sum(len(r["aggs"]) for r in checked) + len(errors) + 1

    batch_s = [r["batch_s"] for r in batches]
    agg_s = [t for r in batches for t in r["agg_s"]]
    batch_cpu = [r["batch_cpu_s"] for r in batches]
    agg_cpu = [t for r in batches for t in r["agg_cpu_s"]]
    written = [sum(r["new_files"].values()) for r in batches]
    res.samples = {"op": batch_s, "read": agg_s, "op_cpu": batch_cpu, "read_cpu": agg_cpu}
    # CPU per op is averaged, as on search_serve: a mean of the few ops a run
    # fits varies less from run to run than their median
    res.e2e = {"setup_s": setup_s, "op_cpu_ms": 1e3 * sum(batch_cpu) / len(batch_cpu),
               "read_cpu_ms": 1e3 * sum(agg_cpu) / len(agg_cpu),
               # every batch rewrites the whole growing table, so the ratio is
               # taken over a fixed number of batches, not over however many fit
               "disk_bytes_per_input_byte": sum(written[:AMP_BATCHES])
               / sum(r["json_bytes"] for r in batches[:AMP_BATCHES]),
               "live_memory_mb": memory_mb}
    if tr.enabled:
        rewritten = [sum(pq.read_metadata(os.path.join(table_path, p)).num_rows
                         for p in r["new_files"] if p.endswith(".parquet")) for r in batches]
        latency = {"op_p50_ms": _ms(batch_s), "read_p50_ms": _ms(agg_s),
                   "throughput_per_s": bs * len(batch_s) / sum(batch_s)}
        layer = _common_layer(ctx, gen_s, res.e2e, latency, len(batch_s) + len(agg_s))
        layer.update({
            "ingest.run_batch_ms": _ms(tr.self_times("ingest.run_batch")),
            "cow_table.touched_buckets": p50([len(r["stats"]["touched_buckets"]) for r in batches]),
            "cow_table.rows_rewritten": p50(rewritten),
            "cow_table.useful_row_ratio": p50([bs / n for n in rewritten]),
            "cow_table.bytes_written": p50(written),
            "cow_table.files_written": p50([sum(p.endswith(".parquet") for p in r["new_files"])
                                            for r in batches]),
            "cow_table.live_files": live_files,
            "cow_table.retired_bytes": retired_bytes,
            "aggs.compile_ms": _ms(tr.self_times("aggs.compile")),
            "aggs.collect_ms": _ms(tr.self_times("aggs.collect")),
            "functions.transform_rows_per_s": _transform_replay(spark, pipe, batches[-1]["pdf"]),
        })
        res.layer = layer
    return res


def _transform_replay(spark, pipe: IngestPipeline, pdf) -> float:
    """IngestPipeline.transform over one batch into Spark's no-op sink."""
    df = spark.createDataFrame(pdf).cache()
    df.count()
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        pipe.transform(df).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    df.unpersist()
    return len(pdf) / p50(times)


WORKLOADS = {"search_serve": search_serve, "log_ingest": log_ingest}
