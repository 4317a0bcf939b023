"""Query engine over a built index: BM25 top-k (`match`), ids query,
sorted/paged scans — the search surface the reference drives through
`client.search` (in_elasticsearch.rb:272-294, out_elasticsearch.rb:947-957).

Every posting-backed query runs one shard kernel (operators/wand.py,
operators/positions.py) on each shard's blocks of the query terms, then
merges the per-shard results into the global top-k by (score desc,
doc_id asc). ``InvertedIndex._per_shard`` picks one of two execution
paths for that kernel:

Resident (after ``warm()``): the postings are decoded once into driver
memory — per shard, the rows' numpy columns sorted by (term, first_doc),
each row's offset into the shard's decoded doc ids, tfs and doc lengths
(and positions), and each term's row range. A query takes its terms'
rows from each shard, runs the kernel in-process on postings gathered
from the decoded columns (no varint decode), merges with one numpy
lexsort and returns ``Hits``: the rows as a driver-side Arrow table, no
pandas object on the way. ``collect()``, ``toPandas()`` and
``to_es_response`` read that table — no Spark job, no JVM call. A Spark
DataFrame (a LocalTableScan over the table) is built only when the
caller composes the result with Spark (a join, ``select``,
``F.broadcast``). Memory cost: each column takes the narrowest integer
dtype that holds it, so 5 bytes per posting where doc ids and doc lengths
fit uint16 and tfs uint8, 2 more per position where positions fit uint16,
plus 17 bytes per block row: 6.3 MB for the 16k-doc perfbench index
(1.08M postings), 11.0 MB for its positional twin.

Spark (unwarmed): one job per query, started by ``collect()``
    postings.filter(term ∈ terms)            [scan limited to query terms]
  → groupBy(shard).applyInPandas(kernel)      [WAND or exhaustive numpy]
  → global orderBy(score desc, doc_id asc).limit(k)   [TakeOrderedAndProject]

Both paths hand the kernel the same rows and merge with the same
tie-break, so their rows are bit-identical (same fields, types and
values). Doc lengths ride inside the posting blocks, so query time
touches no doc-side table; the final (≤ k rows) result can be
broadcast-joined back to ``docmap``/docs for materialization.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import re
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..textproc import bm25_idf, tokenize_simple, tokenize_unicode
from . import positions as _pos
from . import wand as _wand
from .bm25 import fuse_scores, quantize_scores
from .codec import Postings, decode_postings, segment_index

_TOKENIZE = {"unicode": tokenize_unicode, "simple": tokenize_simple, "simple_udf": tokenize_simple}

TOPK_SCHEMA = "doc_id long, score double"

# Below this many postings (per shard, query terms only) the one-pass
# exhaustive decode beats the windowed MaxScore sweep: with nothing to
# skip, the sweep's per-window fixed cost is pure overhead. Both paths are
# rank-identical (property-tested), so the fallback is purely a latency
# decision.
WAND_FALLBACK_POSTINGS = 16384


def empty_topk_df(spark: SparkSession, schema: str) -> DataFrame:
    """Empty result frame: a projection of typed NULLs ``WHERE false``,
    which the optimizer folds to an empty local relation, so collecting
    it starts no Spark job (``spark.range(0)`` started one with 0 tasks,
    and ``spark.createDataFrame([], schema)`` builds an RDD-backed
    relation). Only simple "name type, ..." schemas (the TOPK shapes)
    are supported."""
    exprs = []
    for field in schema.split(","):
        name, typ = field.strip().split(None, 1)
        exprs.append(f"CAST(NULL AS {typ}) AS {name}")
    return spark.sql(f"SELECT {', '.join(exprs)} WHERE false")


_ARROW_TYPES = {"long": pa.int64(), "int": pa.int32(), "double": pa.float64()}


def _arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema of a simple "name type, ..." schema string."""
    return pa.schema([(name, _ARROW_TYPES[typ]) for name, typ in
                      (field.split() for field in schema.split(","))])


class Hits:
    """A warmed query's result rows (≤ k; every matching row without a
    k), held on the driver as one Arrow table. ``collect()``,
    ``toPandas()`` and ``count()`` read the table and never touch the
    JVM; ``collect()`` gives the Spark path's ``Row``s (same fields,
    order, Python types and values). Any other DataFrame use (``join``, ``select``,
    ``hits["score"]``, ``F.broadcast(hits)``, ``explain``…) goes to one
    Spark DataFrame over the table — a LocalTableScan — built on first
    use, at most once, safely under concurrent callers."""

    def __init__(self, spark: SparkSession, table: pa.Table):
        self.spark = spark
        self.table = table
        self._df: DataFrame | None = None
        self._lock = threading.Lock()

    def collect(self) -> list[Row]:
        row = Row(*self.table.column_names)
        return [row(*values) for values in zip(*(c.to_pylist() for c in self.table.columns))]

    def toPandas(self) -> pd.DataFrame:
        return self.table.to_pandas()

    def count(self) -> int:
        return self.table.num_rows

    def _frame(self) -> DataFrame:
        with self._lock:
            if self._df is None:
                self._df = self.spark.createDataFrame(self.table)
            return self._df

    def __getattr__(self, name):
        return getattr(self._frame(), name)

    def __getitem__(self, item):
        return self._frame()[item]


class TermDictionary:
    """An index's vocabulary, read once from ``term_stats`` by pyarrow: the
    terms in ascending order (Spark's byte order is Python's code-point
    order), their dfs as Python ints and each term's position. Every df
    and expansion comes from it, so building a query starts no Spark job."""

    def __init__(self, term_stats_path: str):
        table = pads.dataset(term_stats_path, format="parquet").to_table(
            columns=["term", "df"]).sort_by("term")
        self.terms: list[str] = table["term"].to_pylist()
        self.dfs: list[int] = table["df"].to_pylist()
        self.position = {t: i for i, t in enumerate(self.terms)}

    def cap(self, n: int) -> int:
        """A caller's cap on dictionary terms, at most their number: Spark
        sizes a sort's top-n buffer by the limit up front."""
        return min(int(n), len(self.terms))

    def scan(self, head: str, limit: int, regex: re.Pattern | None = None) -> list[int]:
        """Positions of the first ``limit`` terms that start with ``head``
        (found by bisection) and fully match ``regex``, ascending."""
        out = []
        for i in range(bisect.bisect_left(self.terms, head), len(self.terms)):
            if len(out) >= limit or not self.terms[i].startswith(head):
                break
            if regex is None or regex.fullmatch(self.terms[i]):
                out.append(i)
        return out


def _like_regex(pattern: str) -> tuple[str, re.Pattern]:
    """A SQL LIKE pattern as (its literal head, a full-match regex), by
    Spark's rules: ``%`` any run, ``_`` one character, ``\\`` escapes
    ``%``, ``_`` or itself and nothing else."""
    tokens = re.findall(r"\\.?|.", pattern, re.DOTALL)  # escape pairs or single characters
    if any(t[0] == "\\" and t[1:] not in ("%", "_", "\\") for t in tokens):
        raise ValueError(f"invalid LIKE pattern {pattern!r}: the escape character "
                         f"may precede only %, _ or itself")
    wild = {"%": ".*", "_": "."}
    n_head = next((i for i, t in enumerate(tokens) if t in wild), len(tokens))
    head = "".join(t[-1] for t in tokens[:n_head])
    regex = "".join(wild.get(t) or re.escape(t[-1]) for t in tokens)
    return head, re.compile(regex, re.DOTALL)


# Postings per decode_postings call while warm() decodes a shard. It bounds
# the decoder's temporaries (tens of bytes per encoded byte) to about 1 MB,
# which the heap reuses chunk after chunk: at 1 << 16 the process kept
# ~20 MB more resident after three warm() calls on the 16k-doc perfbench
# index, and warm() was no faster.
DECODE_CHUNK = 1 << 14


def _narrowest(values: np.ndarray) -> np.dtype:
    """The narrowest of uint8, uint16, uint32 and int64 that holds the
    int64 ``values`` exactly (promoting any two of them stays exact)."""
    if values.size and values.min() >= 0:
        t = np.min_scalar_type(values.max())
        if t.itemsize < 8:
            return t
    return np.dtype(np.int64 if values.size else np.uint8)


def _narrow(values: np.ndarray) -> np.ndarray:
    return values.astype(_narrowest(values))


def _put(col: np.ndarray, at: int, values: np.ndarray) -> np.ndarray:
    """``values`` written into ``col`` from ``at``, ``col`` first widened
    to a dtype that holds them exactly; returns ``col``."""
    dtype = np.result_type(col.dtype, _narrowest(values))
    if dtype != col.dtype:
        col = col.astype(dtype)
    col[at:at + values.size] = values
    return col


def _buffer(arr: pa.Array) -> np.ndarray:
    """The rows of a binary Arrow array joined, as a view of its data
    buffer (no Python bytes per row)."""
    _, offsets, data = arr.buffers()
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    o = np.frombuffer(offsets, width)[arr.offset:arr.offset + len(arr) + 1]
    return np.frombuffer(data, np.uint8)[o[0]:o[-1]]


def _decode_shard(part: pa.Table) -> tuple[dict[str, np.ndarray], Postings]:
    """One shard's sorted posting rows decoded once: the row columns a
    kernel reads (no ``*_enc`` bytes, no terms), each row's ``offset``
    (and ``pos_offset``) into the decoded postings, and those postings,
    each column in its narrowest dtype. ``decode_postings`` runs on
    bounded chunks of rows, read straight from the Arrow buffers, into
    preallocated columns (positions, of unknown total, are joined)."""
    enc = [c for c in ("docs_enc", "tfs_enc", "dls_enc", "pos_enc") if c in part.column_names]
    arrays = {c: part[c].combine_chunks() for c in enc}
    n = part["n_docs"].to_numpy().astype(np.int64)
    offset = np.cumsum(n) - n
    total = int(n.sum())
    # the first row at or after each chunk multiple; a multiple inside the
    # last row maps to n.size, which the appended end then repeats
    bounds = np.unique(np.append(np.searchsorted(offset, np.arange(0, total, DECODE_CHUNK)), n.size))
    cols = [np.zeros(total, np.uint8) for _ in range(3)]
    positions = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        rows = {"n_docs": n[a:b], **{c: [_buffer(arrays[c].slice(a, b - a))] for c in enc}}
        p = decode_postings(rows, positions="pos_enc" in arrays)
        cols = [_put(col, offset[a], v) for col, v in zip(cols, p)]
        if p.positions is not None:
            positions.append(_narrow(p.positions))
    rows = {c: _narrow(part[c].to_numpy()) for c in ("n_docs", "first_doc", "last_doc")}
    rows["max_tfn"] = part["max_tfn"].to_numpy()
    rows["offset"] = _narrow(offset)
    store = Postings(*cols, rows["n_docs"], None)
    if positions:
        per_row = np.add.reduceat(cols[1], offset, dtype=np.int64)
        rows["pos_offset"] = _narrow(np.cumsum(per_row) - per_row)
        store = store._replace(positions=np.concatenate(positions))
    return rows, store


class _ResidentPostings:
    """A postings table decoded into driver memory at open. Per shard, in
    (term, first_doc) order: the rows' ``n_docs``, ``first_doc``,
    ``last_doc``, ``max_tfn`` and ``offset`` (and ``pos_offset``) into
    the shard's decoded ids, tfs, dls (and positions) — a codec.Postings,
    each column in the narrowest integer dtype that holds it — and each
    term's row range (``starts[i]:starts[i + 1]`` for the term at
    position ``i`` of the index's ``TermDictionary``). It keeps no
    encoded bytes and no term strings."""

    def __init__(self, postings_path: str, vocab: TermDictionary):
        table = pads.dataset(postings_path, format="parquet",
                             partitioning="hive").to_table()
        self.vocab = vocab
        value_set = pa.array(vocab.terms, pa.string())
        self.shards = []
        for s in sorted(pc.unique(table["shard"]).to_pylist()):
            part = table.filter(pc.equal(table["shard"], s)).sort_by(
                [("term", "ascending"), ("first_doc", "ascending")])
            ids = pc.index_in(part["term"], value_set=value_set)
            if ids.null_count:
                raise ValueError(f"shard {s} has postings terms missing from term_stats")
            starts = _narrow(np.searchsorted(ids.to_numpy(), np.arange(len(vocab.terms) + 1)))
            self.shards.append((*_decode_shard(part), starts))
            del part, ids
        del table
        pa.default_memory_pool().release_unused()

    def blocks(self, terms) -> list[_wand.Resident]:
        """Each shard's rows of ``terms`` (the term column built from
        their dictionary positions) — no pandas frame, no decode; shards
        holding none of the terms are left out, as groupBy leaves them
        out."""
        position = self.vocab.position
        ids = np.array(sorted({position[t] for t in terms if t in position}), dtype=np.int64)
        if not ids.size:
            return []
        names = np.array([self.vocab.terms[i] for i in ids], dtype=object)
        out = []
        for rows, store, starts in self.shards:
            lo, counts = starts[ids], starts[ids + 1] - starts[ids]
            if counts.any():
                take = segment_index(lo, counts)
                cols = {c: v[take] for c, v in rows.items()}
                cols["term"] = np.repeat(names, counts)
                out.append(_wand.Resident(cols, store))
        return out


class InvertedIndex:
    def __init__(self, spark: SparkSession, path: str,
                 cache_term_stats: bool = False):
        """Open a built index: ``meta.json`` and its ``TermDictionary``.
        The vocabulary always lives on the driver (~100-200 B per term, so
        up to ~10^6 terms; 28k in the 16k-doc perfbench index), and no df
        lookup or term expansion runs a Spark job. ``cache_term_stats``
        has no effect; it is kept for callers that still pass it."""
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        # the BM25 corpus statistics, read once; query methods unpack
        # bm25 into locals, since a shard kernel closing over self would
        # pickle the session
        self.n_docs = self.meta["n_docs"]
        self.bm25 = (self.meta["avgdl"], self.meta["k1"], self.meta["b"])
        self.vocab = TermDictionary(os.path.join(path, "term_stats"))
        self._resident: _ResidentPostings | None = None

    def _lookup_dfs(self, terms) -> dict[str, int]:
        """term→df of the query terms the index holds, in ascending term order."""
        pos, dfs = self.vocab.position, self.vocab.dfs
        return {t: dfs[pos[t]] for t in sorted(set(terms)) if t in pos}

    def _require_positions(self) -> None:
        if not self.meta.get("with_positions"):
            raise ValueError("index was built without positions (with_positions=True)")

    # --- table accessors -------------------------------------------------
    def _table(self, name: str) -> DataFrame:
        """An index table; pyarrow reads its schema from the parquet
        footers, as Spark's inference runs a job."""
        path = os.path.join(self.path, name)
        schema = pads.dataset(path, format="parquet", partitioning="hive").schema
        return self.spark.read.schema(from_arrow_schema(schema)).parquet(path)

    def postings(self) -> DataFrame:
        return self._table("postings")

    def warm(self) -> "InvertedIndex":
        """Load the postings into driver memory — the serving-mode
        analogue of ES's segments resident on the serving node. One
        pyarrow read of the postings parquet is sorted per shard by
        (term, first_doc) and decoded once (``_ResidentPostings``): the
        rows' columns, their offsets into the shard's decoded postings
        and each term's row range, keyed by the term dictionary's
        positions. The Arrow read is freed and its buffers go back to
        the OS before ``warm()`` returns; a corrupt or truncated block
        fails it with ``ValueError``.

        From then on every posting-backed query runs its shard kernel
        in-process on the query terms' rows and returns ``Hits``, a
        driver-side Arrow table: a warmed search and its ``collect()``
        make no JVM call, empty results and prefix/wildcard expansions
        included. A Spark DataFrame over the rows is built only when the
        caller composes them with Spark. Results are bit-identical to
        the unwarmed Spark path, which decodes the stored bytes per
        query. The cost is driver memory of ~5 bytes per posting (and 2
        per position) plus 17 per block row: 6.3 MB for the 16k-doc
        perfbench index against 7.3 MB for the encoded Arrow rows it
        replaced, 11.0 MB against 10.0 MB for its positional twin, whose
        decoded positions outweigh their varint gaps. It also decodes
        every block at open; the columns are freed with the index
        object."""
        self._resident = _ResidentPostings(os.path.join(self.path, "postings"), self.vocab)
        return self

    def _empty(self, schema: str = TOPK_SCHEMA) -> DataFrame | Hits:
        if self._resident is None:
            return empty_topk_df(self.spark, schema)
        return Hits(self.spark, _arrow_schema(schema).empty_table())

    def _per_shard(self, terms, kernel, schema: str, k: int | None = None,
                   per_query: bool = False) -> DataFrame | Hits:
        """Run ``kernel`` (posting rows → numpy columns of ``schema``) on
        each shard's posting blocks of ``terms`` and merge the shards' rows:
        with ``k``, the global top k by (score desc, doc_id asc) — per
        query_id, numbered in a ``rank`` column, when ``per_query`` — and
        without it, every row. Warmed, the kernel runs in-process on the
        resident blocks and the merged rows come back as ``Hits``, a
        driver-side Arrow table, with no pandas object on the way.
        Otherwise the kernel runs in one Spark job through applyInPandas,
        whose wrapper is the one place its columns become a frame."""
        if self._resident is None:
            blocks = self.postings().filter(F.col("term").isin(list(terms)))
            local = blocks.groupBy("shard").applyInPandas(
                lambda pdf: pd.DataFrame(kernel(pdf)), schema)
            if k is None:
                return local
            if not per_query:
                return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
            return (local.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .select("query_id", "doc_id", "score", "rank"))
        fields = _arrow_schema(schema + (", rank int" if per_query else ""))
        parts = [kernel(rows) for rows in self._resident.blocks(terms)]
        cols = {f.name: np.concatenate([p[f.name] for p in parts] or [[]])
                .astype(f.type.to_pandas_dtype()) for f in fields if f.name != "rank"}
        if per_query:  # (query_id, score desc, doc_id); rank = 1 + place in the query's run
            order = np.lexsort((cols["doc_id"], -cols["score"], cols["query_id"]))
            _, starts = _wand._runs(cols["query_id"][order])
            rank = np.arange(order.size) - np.repeat(starts, np.diff(np.r_[starts, order.size])) + 1
            keep = rank <= k
            cols = {name: c[order[keep]] for name, c in cols.items()}
            cols["rank"] = rank[keep].astype(np.int32)
        elif k is not None:
            cols["doc_id"], cols["score"] = _wand._top(cols["doc_id"], cols["score"], k)
        return Hits(self.spark, pa.table(cols, schema=fields))

    def doc_stats(self) -> DataFrame:
        return self._table("doc_stats")

    def term_stats(self) -> DataFrame:
        return self._table("term_stats")

    def docmap(self) -> DataFrame:
        # url mapping lives in the combined doc_stats table
        return self.doc_stats().select("doc_id", "url")

    def manifest(self) -> DataFrame:
        return self._table("_manifest")

    # --- full-text search --------------------------------------------------
    def query_terms(self, query_text: str) -> list[str]:
        return sorted(set(_TOKENIZE[self.meta["tokenizer"]](query_text)))

    def search(self, query_text: str, k: int = 10, mode: str = "wand",
               operator: str = "or", minimum_should_match: int = 1) -> DataFrame | Hits:
        """Top-k BM25. mode='wand' (block-max skipping), 'exhaustive'
        (vectorized decode-all), or 'auto' (WAND only when the shard's
        query-term posting mass exceeds WAND_FALLBACK_POSTINGS — the serving
        default). All rank-identical to brute force.

        ES match options: operator='and' requires ALL query terms;
        minimum_should_match=m requires >= m distinct terms. Either gate
        forces the exhaustive kernel (the gate must run before top-k;
        block-max skipping would rank unqualified docs), scoring stays
        the full BM25 sum over matched terms — ES semantics. Any other
        ``operator`` or ``mode`` raises ``ValueError``."""
        if operator not in ("and", "or") or mode not in ("wand", "exhaustive", "auto"):
            raise ValueError(f"unknown operator {operator!r} or mode {mode!r}")
        terms = self.query_terms(query_text)
        msm = len(terms) if operator == "and" else int(minimum_should_match)
        dfs = self._lookup_dfs(terms)
        if not dfs:
            return self._empty()
        avgdl, k1, b = self.bm25
        idfs = {t: bm25_idf(df, self.n_docs) for t, df in dfs.items()}

        def shard_topk(rows):
            use_wand = msm <= 1 and (mode == "wand" or (
                mode == "auto" and int(rows["n_docs"].sum()) >= WAND_FALLBACK_POSTINGS
            ))
            if use_wand:
                return _wand.score_shard_wand(rows, idfs, k, avgdl, k1, b)
            return _wand.score_shard_exhaustive(rows, idfs, k, avgdl, k1, b, msm)

        return self._per_shard(dfs, shard_topk, TOPK_SCHEMA, k)

    def match_scores(self, query_terms: list[str],
                     groups: list[list[str]] | None = None,
                     weights: dict[str, float] | None = None,
                     quantize: bool = False) -> DataFrame | Hits:
        """All-matched scoring (no top-k cut): every doc containing >= 1
        query term, with its full BM25 sum over the terms it contains.
        Work is bounded by the query terms' POSTING data — never a corpus
        scan — which is what makes the multi_match / combined_fields /
        query_string serving paths index-backed (ES serves every match
        kind from the inverted index; out_elasticsearch.rb:957).
        ``groups`` forwards the query_string OR-of-AND membership gate to
        the shard kernel. Returns (doc_id, score) float; callers quantize
        in Spark and cut the global top-k on the quantized value so the
        tie-break is identical to the DataFrame scorers."""
        terms = sorted(set(query_terms))
        if groups is not None and len(terms) > 64:
            # the shard kernel's membership gate is a per-doc uint64 term
            # bitmask — raise here (driver-side, eagerly) rather than
            # mid-job inside the kernel
            raise ValueError(
                f"query_string gate supports <= 64 distinct terms, got {len(terms)}")
        dfs = self._lookup_dfs(terms)
        if not dfs:
            return self._empty()
        avgdl, k1, b = self.bm25
        if weights is None:
            idfs = {t: bm25_idf(df, self.n_docs) for t, df in dfs.items()}
        else:  # weighted clauses (fuzzy expansion): idf x clause weight
            idfs = {t: bm25_idf(df, self.n_docs) * weights.get(t, 1.0)
                    for t, df in dfs.items()}

        def shard_all(rows):
            return _wand.score_shard_matched(rows, idfs, avgdl, k1, b, groups,
                                             quantize=quantize)

        return self._per_shard(dfs, shard_all, TOPK_SCHEMA)

    def sparse_vector_scores(self, query_vector: dict) -> DataFrame | Hits:
        """Index-backed sparse_vector serving: Σ_t round(w·1e3)·tf·1000
        per doc from tf postings — bit-identical to
        relevance.sparse_vector_df's BoW-tf form (same planner-side
        integer query units, same doc-side tf·1000), with work bounded
        by the query terms' posting data instead of a corpus scan.
        Returns (doc_id, score_u) for every doc with score_u > 0; the
        caller orders/limits (the engine-wide quantized tie-break)."""
        from .relevance import _sparse_query_units

        qus = dict(_sparse_query_units(query_vector))
        dfs = self._lookup_dfs(qus)
        if not dfs:
            return self._empty("doc_id long, score_u long")
        units = {t: qus[t] for t in dfs}

        def shard_sparse(rows):
            return _wand.score_shard_weighted_tf(rows, units)

        return self._per_shard(dfs, shard_sparse, "doc_id long, score_u long")

    def expand_prefix(self, prefix: str, max_expansions: int = 1024) -> list[str]:
        """Every index term starting with ``prefix``, ascending, by
        bisection over the term dictionary. More than ``max_expansions``
        raises (the repo's raise-rather-than-silently-wrong rule) —
        quietly truncating would change which docs match, unlike ES's
        bitset rewrite which is exhaustive."""
        found = self.vocab.scan(prefix, max_expansions + 1)
        if len(found) > max_expansions:
            raise ValueError(
                f"prefix '{prefix}' expands to > {max_expansions} index "
                f"terms; raise max_expansions or use a longer prefix")
        return [self.vocab.terms[i] for i in found]

    def search_dismax(self, queries: list[str], tie_breaker: float = 0.0,
                      k: int = 10) -> DataFrame | Hits:
        """ES dis_max served FROM THE INDEX: one job decodes the union of
        the subqueries' posting blocks per shard, scores every subquery
        over the same doc-id domain, and combines with the exact Lucene
        max + tie_breaker * (sum - max) — no per-list over-fetch
        approximation (wand.score_shard_dismax). Returns (doc_id, score),
        tie (score desc, doc_id asc); the single-subquery case is
        rank-identical to search(mode='exhaustive')."""
        per_q_terms = [self.query_terms(q) for q in queries]
        dfs = self._lookup_dfs(t for ts in per_q_terms for t in ts)
        if not dfs:
            return self._empty()
        avgdl, k1, b = self.bm25
        subquery_idfs = [
            {t: bm25_idf(dfs[t], self.n_docs) for t in ts if t in dfs}
            for ts in per_q_terms
        ]
        subquery_idfs = [m for m in subquery_idfs if m]
        if not subquery_idfs:
            return self._empty()

        def shard_dismax(rows):
            return _wand.score_shard_dismax(rows, subquery_idfs, tie_breaker,
                                            k, avgdl, k1, b)

        return self._per_shard(dfs, shard_dismax, TOPK_SCHEMA, k)

    def search_batch(self, queries: dict[int, str], k: int = 10) -> DataFrame | Hits:
        """Batched multi-query top-k (offline query sets): ONE pass decodes
        the union of the queries' posting data per shard and scores every
        query — per-query cost amortizes to near-zero for large sets.
        Returns (query_id, doc_id, score, rank), rank-identical per query
        to `search()`."""
        per_query_terms = {qid: self.query_terms(q) for qid, q in queries.items()}
        dfs = self._lookup_dfs(t for ts in per_query_terms.values() for t in ts)
        if not dfs:
            return self._empty("query_id long, doc_id long, score double, rank int")
        avgdl, k1, b = self.bm25
        query_idfs = {
            qid: {t: bm25_idf(dfs[t], self.n_docs) for t in ts if t in dfs}
            for qid, ts in per_query_terms.items()
        }
        query_idfs = {qid: m for qid, m in query_idfs.items() if m}

        def shard_batch(rows):
            return _wand.score_shard_batch(rows, query_idfs, k, avgdl, k1, b)

        return self._per_shard(dfs, shard_batch, "query_id long, doc_id long, score double",
                               k, per_query=True)

    def match_phrase(self, phrase: str, k: int = 10) -> DataFrame | Hits:
        """ES match_phrase over a positional index (build_index with
        with_positions=True): per shard, decode the phrase terms'
        positional blocks, count exact adjacent alignments (phrase freq),
        BM25-score with tf=pf and idf = Σ constituent idfs (Lucene
        PhraseQuery semantics — same contract as bm25.match_phrase_df),
        then global top-k merge. Work per shard is the phrase terms'
        posting+position data only."""
        self._require_positions()

        terms = _TOKENIZE[self.meta["tokenizer"]](phrase)
        if not terms:
            return self._empty()
        dfs = self._lookup_dfs(terms)
        if len(dfs) < len(set(terms)):
            return self._empty()  # a phrase term absent from the corpus ⇒ no match
        avgdl, k1, b = self.bm25
        # idf sum in PHRASE order (duplicates counted), matching match_phrase_df
        idf_sum = sum(bm25_idf(dfs[t], self.n_docs) for t in terms)

        def shard_phrase(rows):
            return _pos.score_shard_phrase(rows, terms, idf_sum, k, avgdl, k1, b)

        return self._per_shard(dfs, shard_phrase, TOPK_SCHEMA, k)

    def match_phrase_prefix(self, phrase: str, k: int = 10,
                            max_expansions: int = 1024) -> DataFrame | Hits:
        """ES match_phrase_prefix served from the positional index: the
        last term expands through the term dictionary (expand_prefix) and
        occupies a SET slot in the same adjacency kernel match_phrase
        uses; the prefix clause's df is the distinct-doc count of the
        expansion's postings (exactly the DataFrame scorer's
        "any token startswith" df). Work per query = dictionary scan +
        the exact terms' and expansion's posting/position data — never
        the corpus (contract as relevance.match_phrase_prefix_df, which
        remains the no-index fallback)."""
        self._require_positions()

        terms = _TOKENIZE[self.meta["tokenizer"]](phrase)
        if not terms:
            return self._empty()
        exact, pref = terms[:-1], terms[-1]
        expansion = self.expand_prefix(pref, max_expansions)
        dfs = self._lookup_dfs(exact)
        if not expansion or len(dfs) < len(set(exact)):
            return self._empty()  # no expansion, or an exact term absent ⇒ no match
        avgdl, k1, b = self.bm25
        # prefix-clause df = docs containing ANY expansion term (one
        # match_scores row per doc, a postings-bounded count; > 0, as
        # every dictionary term has postings), matching the DF scorer's df
        df_prefix = self.match_scores(expansion).count()
        idf_sum = sum(bm25_idf(dfs[t], self.n_docs) for t in exact) \
            + bm25_idf(df_prefix, self.n_docs)

        def shard_phrase(rows):
            return _pos.score_shard_phrase(rows, exact, idf_sum, k, avgdl, k1, b,
                                           last_terms=expansion)

        return self._per_shard(sorted({*exact, *expansion}), shard_phrase, TOPK_SCHEMA, k)

    def span_near(self, first: str, second: str, slop: int = 0,
                  k: int = 10) -> DataFrame | Hits:
        """ES span_near (two clauses, in_order=true) served from the
        positional index: span frequency = `second` positions with a
        `first` within slop+1 tokens before (exactly
        relevance.span_near_df, which stays the no-index fallback);
        BM25 with tf=sf and summed idfs. Work per shard is the two
        terms' posting+position data only — never the corpus."""
        self._require_positions()

        dfs = self._lookup_dfs((first, second))
        if len(dfs) < len({first, second}):
            return self._empty()  # a clause term absent from the corpus ⇒ no span
        avgdl, k1, b = self.bm25
        # idf sum in CLAUSE order (first + second), matching span_near_df
        idf_sum = bm25_idf(dfs[first], self.n_docs) + bm25_idf(dfs[second], self.n_docs)

        def shard_span(rows):
            return _pos.score_shard_span_near(rows, first, second, int(slop),
                                              idf_sum, k, avgdl, k1, b)

        return self._per_shard(dfs, shard_span, TOPK_SCHEMA, k)

    def span_first(self, term: str, end: int, k: int = 10) -> DataFrame | Hits:
        """ES span_first served from the positional index: sf = the
        term's occurrences within the first `end` token positions
        (contract as relevance.span_first_df — 1-based 1..end window,
        0-based stored positions). Work = one term's posting/position
        data."""
        self._require_positions()

        dfs = self._lookup_dfs([term])
        if not dfs:
            return self._empty()
        avgdl, k1, b = self.bm25
        idf = bm25_idf(dfs[term], self.n_docs)

        def shard(rows):
            return _pos.score_shard_span_first(rows, term, int(end), idf, k,
                                               avgdl, k1, b)

        return self._per_shard([term], shard, TOPK_SCHEMA, k)

    def span_or(self, terms: list[str], k: int = 10) -> DataFrame | Hits:
        """ES span_or over single-term clauses served from the tf index:
        sf = total occurrences of ANY clause term, one saturation with
        the summed clause idfs (contract as relevance.span_or_df). No
        positions needed — postings only."""

        dfs = self._lookup_dfs(terms)
        if not dfs:
            return self._empty()
        avgdl, k1, b = self.bm25
        # idf sum in CLAUSE order over every clause term (absent terms
        # contribute df=0 idf like the DF scorer's corpus pass)
        idf_sum = sum(bm25_idf(dfs.get(t, 0), self.n_docs) for t in terms)

        def shard(rows):
            return _wand.score_shard_span_or(rows, idf_sum, k, avgdl, k1, b)

        return self._per_shard(dfs, shard, TOPK_SCHEMA, k)

    def span_not(self, include: str, exclude: str, pre: int = 0,
                 post: int = 0, k: int = 10) -> DataFrame | Hits:
        """ES span_not served from the positional index: sf = `include`
        positions with no `exclude` position in [p-pre, p+post]
        (contract as relevance.span_not_df). Docs holding `include` but
        not `exclude` match with their full tf."""
        self._require_positions()

        dfs = self._lookup_dfs((include, exclude))
        if include not in dfs:
            return self._empty()
        avgdl, k1, b = self.bm25
        idf = bm25_idf(dfs[include], self.n_docs)

        def shard(rows):
            return _pos.score_shard_span_not(rows, include, exclude, int(pre),
                                             int(post), idf, k, avgdl, k1, b)

        return self._per_shard(sorted({include, exclude}), shard, TOPK_SCHEMA, k)

    def span_multi(self, value: str, kind: str = "prefix",
                   max_expansions: int = 50, k: int = 10) -> DataFrame | Hits:
        """ES span_multi (prefix/wildcard inner query) served from the tf
        index: the pattern expands against the TERM DICTIONARY (its LIKE
        form, term-ascending, capped — same expansion as
        relevance.span_multi_df, whose contract this reproduces exactly:
        sf = Σ tf over expansion postings, one saturation with the
        integer-quantized summed expansion idfs). No positions needed;
        work per shard is the expansion terms' postings only."""
        from .relevance import _span_multi_like

        head, regex = _like_regex(_span_multi_like(value, kind))
        found = self.vocab.scan(head, int(max_expansions), regex)
        if not found:
            return self._empty()
        avgdl, k1, b = self.bm25
        idf_u = sum(math.floor(bm25_idf(self.vocab.dfs[i], self.n_docs) * 1e6)
                    for i in found)
        idf_sum = idf_u / 1e6
        terms = [self.vocab.terms[i] for i in found]

        def shard(rows):
            return _wand.score_shard_span_or(rows, idf_sum, k, avgdl, k1, b)

        return self._per_shard(terms, shard, TOPK_SCHEMA, k)

    def span_containing(self, first: str, second: str, little: str,
                        slop: int = 0, k: int = 10,
                        within: bool = False) -> DataFrame | Hits:
        """ES span_containing / span_within (within=True) served from the
        positional index — contract exactly relevance.span_containing_df
        / span_within_df (the no-index fallbacks): big = ordered
        two-clause span_near (first..second, slop), little = one
        span_term. Work per shard is the three terms' posting/position
        data only; scoring idf is the big's summed clause idfs for
        containing, the little's idf for within (the Lucene source-span
        contract)."""
        self._require_positions()

        dfs = self._lookup_dfs((first, second, little))
        if len(dfs) < len({first, second, little}):
            return self._empty()  # a clause term absent ⇒ no span anywhere
        avgdl, k1, b = self.bm25
        idf_sum = (bm25_idf(dfs[little], self.n_docs) if within
                   else bm25_idf(dfs[first], self.n_docs)
                   + bm25_idf(dfs[second], self.n_docs))

        def shard(rows):
            return _pos.score_shard_span_contain(rows, first, second, little,
                                                 int(slop), within, idf_sum, k,
                                                 avgdl, k1, b)

        return self._per_shard(dfs, shard, TOPK_SCHEMA, k)

    def span_within(self, first: str, second: str, little: str,
                    slop: int = 0, k: int = 10) -> DataFrame | Hits:
        return self.span_containing(first, second, little, slop, k,
                                    within=True)

    def intervals_match(self, terms: list[str], max_gaps: int = -1,
                        ordered: bool = False, k: int = 10) -> DataFrame | Hits:
        """ES intervals `match` rule served from the positional index
        (contract as relevance.intervals_match_df, the no-index
        fallback): ordered n-term chains via a greedy searchsorted walk,
        unordered 2-term via a two-sided window count — work bounded by
        the clause terms' posting/position data. Same guards as the
        DataFrame scorer (>= 2 terms; unordered needs exactly 2)."""
        from ..plans.query_ast import UnsupportedQuery

        if len(terms) < 2:
            raise UnsupportedQuery("intervals match needs >= 2 terms")
        if not ordered and len(terms) > 2:
            raise UnsupportedQuery("unordered intervals support exactly 2 terms")
        self._require_positions()

        dfs = self._lookup_dfs(terms)
        if len(dfs) < len(set(terms)):
            return self._empty()  # a clause term absent ⇒ no interval
        avgdl, k1, b = self.bm25
        idf_sum = sum(bm25_idf(dfs[t], self.n_docs) for t in terms)

        def shard(rows):
            return _pos.score_shard_intervals(rows, terms, int(max_gaps),
                                              bool(ordered), idf_sum, k,
                                              avgdl, k1, b)

        return self._per_shard(dfs, shard, TOPK_SCHEMA, k)

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        """Completion suggester: top-k index terms with the given prefix,
        ranked by document frequency (df desc, term asc). One scan of the
        tiny term_stats table with StringStartsWith pushed to parquet
        (term_stats is one term-sorted file, so row-group min/max stats
        prune)."""
        return (
            self.term_stats()
            .filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(self.vocab.cap(k))
        )

    def suggest_term(self, term: str, max_edits: int = 2, size: int = 5) -> DataFrame:
        """ES term suggester (spelling correction): vocabulary terms
        within max_edits Levenshtein of the input, ranked ES-style
        (distance asc, df desc, term asc), the input term itself excluded.
        A length band |len(t) - len(term)| <= max_edits prunes the vocab
        scan BEFORE the levenshtein (sargable on the term_stats length;
        ES uses an n-gram candidate index for the same purpose — at
        larger vocabularies swap the band prefilter for a deletion-
        neighborhood join)."""
        t = F.lit(term)
        cand = self.term_stats().filter(
            (F.length("term") >= F.length(t) - max_edits)
            & (F.length("term") <= F.length(t) + max_edits)
            & (F.col("term") != t)
        )
        return (
            cand.withColumn("distance", F.levenshtein(F.col("term"), t))
            .filter(F.col("distance") <= max_edits)
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(self.vocab.cap(size))
            .select("term", "distance", "df")
        )

    def search_with_urls(self, query_text: str, k: int = 10, mode: str = "wand") -> DataFrame:
        topk = self.search(query_text, k, mode)
        return (
            self.docmap()
            .join(F.broadcast(topk), "doc_id")
            .select("doc_id", "url", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    # --- ES-style structural queries (SURVEY.md §2.5) ----------------------
    def ids_query(self, ids: list[int]) -> DataFrame:
        """Q1: point lookup by doc ids — broadcast semi-join, shard-pruned."""
        ids_df = self.spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
        return self.doc_stats().join(F.broadcast(ids_df), "doc_id", "left_semi")

    def scan_page(self, after_doc_id: int = -1, page_size: int = 1000) -> DataFrame:
        """Q7 scroll-style pagination: stable order + range predicate (the
        Spark/Iceberg analogue of a scroll cursor over a snapshot)."""
        return (
            self.doc_stats()
            .filter(F.col("doc_id") > after_doc_id)
            .orderBy("doc_id")
            .limit(page_size)
        )


def _quantized_topk(scores: DataFrame, k: int) -> DataFrame:
    """floor(score * 1e6) → global top-k on the QUANTIZED value with the
    (score_u desc, doc_id asc) tie-break — must happen after quantization
    or float-distinct-but-floor-equal docs tie-break differently than the
    DataFrame scorers."""
    return quantize_scores(scores).orderBy(F.desc("score_u"), F.asc("doc_id")).limit(k)


def multi_match_topk(field_indexes: dict[str, "InvertedIndex"],
                     query_terms: list[str], k: int = 10,
                     match_type: str = "best_fields") -> DataFrame:
    """Index-backed ES `multi_match`: each field's OWN index serves
    all-matched scores from its query-term postings (no corpus scan);
    per-field quantized integers are combined exactly like
    bm25.multi_match_df — best_fields = greatest, most_fields = sum —
    then the global top-k is cut on the combined integer. Rank- and
    score-identical to the DataFrame scorer when each index was built
    over that field with the same tokenizer.

    Plan shape: one single-stage postings job per field (k fields), a
    full outer join of the (matched docs only) score tables on doc_id,
    TakeOrderedAndProject for the top-k."""
    if match_type not in ("best_fields", "most_fields"):
        raise ValueError(f"unsupported multi_match type: {match_type}")
    return fuse_scores([quantize_scores(idx.match_scores(query_terms))
                        for idx in field_indexes.values()], k,
                       "max" if match_type == "best_fields" else "sum")


def more_like_this_topk(index: "InvertedIndex", docs: DataFrame,
                        like_id: int, max_query_terms: int = 10, k: int = 10,
                        id_col: str = "doc_id", text_col: str = "text",
                        min_term_len: int = 3) -> DataFrame:
    """Index-backed ES more_like_this (single liked doc): the seed row is
    a ONE-ROW filter on docs (predicate-pushed point lookup), its
    max_query_terms most interesting terms rank by the quantized
    floor(tf · idf · 1e6) with idf from the TERM DICTIONARY
    (term_stats), and scoring runs from the selected terms' postings
    (`match_scores`), excluding the seed — never a corpus scan.
    Contract, ranking tie-breaks (interest desc, term asc) and
    quantization identical to relevance.more_like_this_df, the no-index
    fallback."""
    from collections import Counter

    row = docs.filter(F.col(id_col) == like_id).select(text_col).collect()
    if not row or row[0][0] is None:
        return index._empty("doc_id long, score_u long")
    tokens = [t for t in _TOKENIZE[index.meta["tokenizer"]](row[0][0])
              if len(t) >= min_term_len]
    if not tokens:
        return index._empty("doc_id long, score_u long")
    tfc = Counter(tokens)
    dfs = index._lookup_dfs(tfc)
    ranked = sorted(
        (-math.floor(tf * bm25_idf(dfs[t], index.n_docs) * 1e6), t)
        for t, tf in tfc.items() if t in dfs
    )
    sel = [t for _, t in ranked[:max_query_terms]]
    if not sel:
        return index._empty("doc_id long, score_u long")
    scores = index.match_scores(sel).filter(F.col("doc_id") != like_id)
    return _quantized_topk(scores, k)


def auto_fuzziness(term: str) -> int:
    """ES "AUTO" fuzziness: 0 edits for terms under 3 chars, 1 for 3-5,
    2 above (the documented ES rule)."""
    n = len(term)
    return 0 if n < 3 else (1 if n <= 5 else 2)


def fuzzy_match_topk(index: "InvertedIndex", text: str,
                     fuzziness: int | str = "AUTO",
                     max_expansions: int = 50, k: int = 10) -> DataFrame:
    """Index-backed ES `match` with `fuzziness`: each query token expands
    through the TERM DICTIONARY within its edit budget (ranked distance
    asc, df desc, term asc, capped at max_expansions), and
    each expanded term scores its BM25 contribution times the classic
    Lucene fuzzy weight 1 - distance/len(token), quantized to integer
    millionths BEFORE summing so the contract is order- and
    engine-exact:

      score_u(doc) = Σ_term floor( idf(term) · (w_u(term)/1e6)
                                   · tf_saturation(doc, term) · 1e6 )

    where w_u(term) = Σ over query tokens of floor((1 - d/len)·1e6),
    entries with w_u <= 0 dropped (a term as far as its own length
    carries no signal). Work per query = dictionary scan + the expanded
    terms' postings — never the corpus. Rank/score-identical to
    relevance.fuzzy_match_df, the no-index fallback."""
    terms = _TOKENIZE[index.meta["tokenizer"]](text)
    spark = index.spark
    uniq = sorted(set(terms))
    if not uniq:
        return index._empty("doc_id long, score_u long")
    # ONE dictionary scan expands every query token (broadcast token
    # frame x term_stats under the length band) instead of a job per
    # token — the multi-token serving latency win
    q = spark.createDataFrame(
        [(t, auto_fuzziness(t) if fuzziness == "AUTO" else int(fuzziness))
         for t in uniq],
        "input_term string, fz int")
    wq = Window.partitionBy("input_term").orderBy(
        F.asc("distance"), F.desc("df"), F.asc("term"))
    rows = (
        index.term_stats().crossJoin(F.broadcast(q))
        .filter((F.length("term") >= F.length("input_term") - F.col("fz"))
                & (F.length("term") <= F.length("input_term") + F.col("fz")))
        .withColumn("distance", F.levenshtein(F.col("term"), F.col("input_term")))
        .filter(F.col("distance") <= F.col("fz"))
        .withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= int(max_expansions))
        .select("input_term", "term", "distance").collect())
    tw: dict[str, int] = {}
    for r in rows:
        w_u = math.floor((1.0 - r["distance"] / len(r["input_term"])) * 1e6)
        if w_u > 0:
            tw[r["term"]] = tw.get(r["term"], 0) + w_u
    if not tw:
        return index._empty("doc_id long, score_u long")
    weights = {t: wu / 1e6 for t, wu in tw.items()}
    scores = index.match_scores(list(tw), weights=weights, quantize=True)
    return (
        scores.select("doc_id", F.col("score").cast("long").alias("score_u"))
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(k)
    )


def multi_match_phrase_topk(field_indexes: dict[str, "InvertedIndex"],
                            phrase: str, k: int = 10, prefix: bool = False,
                            max_expansions: int = 1024) -> DataFrame:
    """Index-backed ES `multi_match` with `type: "phrase"` /
    `"phrase_prefix"`: each field's POSITIONAL index serves its phrase
    top-k from the phrase terms' posting+position blocks (never the
    corpus), per-field quantized integers combine by MAX (phrase types
    imply best_fields / DisMax tie_breaker 0). Per-field top-k before a
    MAX combine is exact — see relevance.multi_match_phrase_df, whose
    ranks and scores this reproduces when each index was built over that
    field with the same tokenizer."""
    return fuse_scores([quantize_scores(
        idx.match_phrase_prefix(phrase, k=k, max_expansions=max_expansions)
        if prefix else idx.match_phrase(phrase, k=k))
        for idx in field_indexes.values()], k)


def query_string_topk(index: "InvertedIndex", query: str, k: int = 10) -> DataFrame:
    """Index-backed ES `query_string`-lite: the OR-of-AND boolean
    structure gates membership inside the shard kernel (per-doc term
    bitmask over the query terms' postings), scoring stays the BM25 sum
    over every query term the doc contains — identical semantics and
    quantization to bm25.query_string_df, served from postings only."""
    from .bm25 import parse_query_string

    groups = parse_query_string(query)
    if not groups:
        raise ValueError("empty query_string")
    uniq = sorted({t for g in groups for t in g})
    return _quantized_topk(index.match_scores(uniq, groups=groups), k)


def combined_fields_topk(index: "InvertedIndex", query_terms: list[str],
                         k: int = 10) -> DataFrame:
    """Index-backed ES `combined_fields`: serve from an index built over
    the weighted field concatenation (index_build.build_combined_field_index)
    — the same exact reduction bm25.combined_fields_df uses, so scores
    match it bit-for-bit. Quantize-then-top-k like every serving path."""
    return _quantized_topk(index.match_scores(query_terms), k)


def match_bool_prefix_topk(index: "InvertedIndex", query_terms: list[str],
                           k: int = 10, max_expansions: int = 1024) -> DataFrame:
    """Index-backed ES `match_bool_prefix` (search-as-you-type): full
    terms are scored BM25 clauses served from their postings; the LAST
    term is a constant-score prefix clause — term-dictionary expansion
    (`expand_prefix`) then postings membership, worth a flat 1e6 on the
    quantized scale exactly like bm25.match_bool_prefix_df, so results
    are rank- and score-identical to the DataFrame scorer when the index
    shares the field's tokenizer. Work is dictionary scan + the matched
    terms' postings — never the corpus."""
    *full, pref = query_terms
    parts = [quantize_scores(index.match_scores(full))] if full else []
    parts.append(index.match_scores(index.expand_prefix(pref, max_expansions)).select("doc_id")
                 .withColumn("score_u", F.lit(int(1e6))))
    return fuse_scores(parts, k, "sum")


def to_es_response(topk: DataFrame | Hits, index_name: str = "docs",
                   took_ms: int | None = None) -> dict:
    """Shape a top-k result into the ES search-response envelope the
    reference's downstream consumers parse (hits.total/max_score/hits[]
    with _index/_id/_score/_source). Collects — legitimate: a top-k result
    is driver-sized by construction (k rows), never the corpus. A warmed
    index's ``Hits`` collect from their driver-side Arrow table, so the
    envelope is built without the JVM; a DataFrame collects through
    Spark."""
    rows = topk.collect()
    hits = []
    for r in rows:
        d = r.asDict()
        # pop sequentially — d.pop("a", d.pop("b", None)) evaluates the
        # default eagerly and would strip "b" from _source even when "a"
        # exists (a row carrying both score and cosine lost its cosine)
        score = d.pop("score", None)
        if score is None:
            score = d.pop("cosine", None)
        _id = d.pop("doc_id", None)
        if _id is None:
            _id = d.pop("vec_id", None)
        hits.append({
            "_index": index_name,
            "_id": str(_id),
            "_score": float(score) if score is not None else None,
            "_source": d,
        })
    scores = [h["_score"] for h in hits if h["_score"] is not None]
    return {
        "took": took_ms,
        "timed_out": False,
        "hits": {
            "total": {"value": len(hits), "relation": "eq"},
            "max_score": max(scores) if scores else None,
            "hits": hits,
        },
    }
