"""Seeded input generators. The engine sees only what these produce; the same
seed always yields the same corpus, queries and log batches."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from fluent_plugin_elasticsearch_spark.corpus import (
    STOPWORDS,
    _UNICODE_TOKENS,
    _vocab,
    generate_corpus,
)

# Terms per query: % of all queries with 1, 2, 3 and more than 3 terms in an
# AltaVista log of ~1 billion search requests (Silverstein, Henzinger,
# Marais, Moricz, "Analysis of a very large web search engine query log",
# SIGIR Forum 33(1), 1999); empty queries are left out. The last class is
# capped at 4 terms.
QUERY_LENGTH_PCT = {1: 25.8, 2: 26.0, 3: 15.0, 4: 12.6}
# Assumed, not measured (no public log gives these for this corpus): the share
# of each term kind, the pool size and the popularity exponent. Stopword-scale
# head terms and the top Zipf body terms carry the posting mass that sends a
# query to WAND; unicode tokens take the CJK/accented tokenizer path; absent
# terms take the empty-df path.
TERM_MIX = {"stop": 0.30, "body": 0.55, "unicode": 0.10, "absent": 0.05}
QUERY_POOL = 400  # distinct queries; the stream repeats them Zipf-wise
QUERY_ZIPF_S = 1.0  # rank-1 query is ~15% of the stream, the top 10 ~45%
LOG_TAGS = ["app.web", "app.api", "app.db", "app.cache", "sys.auth", "sys.cron",
            "edge.lb", "edge.cdn"]
LOG_LEVELS = ["debug", "info", "info", "info", "warn", "error"]
LOG_T0 = dt.datetime(2024, 5, 1)
LOG_DAYS = 4  # events span several UTC days -> several index_name partitions


def corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """Webtext corpus with a generator-assigned dense ``doc_id``."""
    pdf = generate_corpus(n_docs, seed=seed)
    pdf.insert(0, "doc_id", np.arange(n_docs, dtype=np.int64))
    return pdf


def _term(kind: str, rng: np.random.Generator, vocab: np.ndarray) -> str:
    if kind == "stop":
        return STOPWORDS[rng.integers(len(STOPWORDS))]
    if kind == "body":
        return str(vocab[min(int(rng.zipf(1.3)) - 1, len(vocab) - 1)])
    if kind == "unicode":
        return _UNICODE_TOKENS[rng.integers(len(_UNICODE_TOKENS))]
    return f"qx{rng.integers(10**6)}"  # never in the syllable vocabulary


def query_shapes(n: int) -> list[tuple[str, ...]]:
    """Term kinds of the query at each popularity rank: a length drawn from
    QUERY_LENGTH_PCT, then that many kinds drawn from TERM_MIX. The shapes
    do not depend on the seed: latency depends mostly on a query's shape, so
    fixing the shape of each rank keeps the mix of cheap (absent-only) and
    costly queries the same from seed to seed."""
    rng = np.random.default_rng(0)
    kinds, p = list(TERM_MIX), list(TERM_MIX.values())
    lens, w = list(QUERY_LENGTH_PCT), np.array(list(QUERY_LENGTH_PCT.values()))
    return [tuple(str(k) for k in rng.choice(kinds, int(rng.choice(lens, p=w / w.sum())), p=p))
            for _ in range(n)]


def query_stream(seed: int, n: int) -> list[str]:
    """``n`` queries drawn Zipf-wise (truncated at QUERY_POOL) from a pool of
    distinct queries, so popular queries repeat as they do in real traffic.
    The pool is the same for every seed, the seed draws the stream from it:
    the top ten queries are ~45% of a stream, so with a pool drawn per seed
    the seed, not the code, would move the mean query cost."""
    vocab, pool_rng = _vocab(), np.random.default_rng([0, 1])
    pool = [" ".join(_term(k, pool_rng, vocab) for k in shape)
            for shape in query_shapes(QUERY_POOL)]
    weights = np.arange(1, QUERY_POOL + 1, dtype=np.float64) ** -QUERY_ZIPF_S
    ranks = np.random.default_rng([seed, 1]).choice(QUERY_POOL, n, p=weights / weights.sum())
    return [pool[r] for r in ranks]


COLD_SHAPES = [("stop", "stop"), ("absent", "body"), ("body", "unicode")]


def cold_queries(seed: int) -> list[str]:
    """Fixed query set for freshly built, cold indexes: a head-term query,
    then queries that each keep at least one indexed term, so every one
    reads postings."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab()
    return [" ".join(_term(k, rng, vocab) for k in shape) for shape in COLD_SHAPES]


class LogEvents:
    """Fluentd-style events (tag, seq, time, level, status, bytes, message).
    ``initial`` creates the starting table; each ``batch`` then updates a
    fixed share of existing (tag, seq) ids and inserts new ones. Ids are
    unique within a batch, so last-writer-wins is defined by batch order."""

    def __init__(self, seed: int, update_share: float = 0.3):
        self.rng = np.random.default_rng([seed, 3])
        self.update_share = update_share
        self.keys: list[tuple[str, int]] = []
        self._next_seq = 0

    def _rows(self, keys: list[tuple[str, int]]) -> pd.DataFrame:
        rng, n = self.rng, len(keys)
        secs = rng.integers(0, LOG_DAYS * 86400, n)
        words = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), (n, 6))]
        return pd.DataFrame({
            "tag": [k[0] for k in keys],
            "seq": np.array([k[1] for k in keys], dtype=np.int64),
            "time": pd.to_datetime(LOG_T0) + pd.to_timedelta(secs, unit="s"),
            "level": np.array(LOG_LEVELS)[rng.integers(0, len(LOG_LEVELS), n)],
            "status": rng.choice([200, 200, 200, 201, 304, 404, 500], n).astype(np.int32),
            "bytes": rng.integers(100, 100_000, n).astype(np.int64),
            "message": [" ".join(w) for w in words],
        })

    def _new_keys(self, n: int) -> list[tuple[str, int]]:
        tags = self.rng.integers(0, len(LOG_TAGS), n)
        keys = [(LOG_TAGS[t], self._next_seq + i) for i, t in enumerate(tags)]
        self._next_seq += n
        self.keys.extend(keys)
        return keys

    def initial(self, n_rows: int) -> pd.DataFrame:
        return self._rows(self._new_keys(n_rows))

    def batch(self, n_rows: int) -> pd.DataFrame:
        n_upd = int(round(n_rows * self.update_share))
        picks = self.rng.choice(len(self.keys), n_upd, replace=False)
        upd = [self.keys[i] for i in picks]
        return self._rows(upd + self._new_keys(n_rows - n_upd))


def agg_body(seed: int) -> dict:
    """Kibana-style body: a time range over two of the UTC days, then
    terms(index_name) -> terms(tag)."""
    day = int(np.random.default_rng([seed, 4]).integers(0, LOG_DAYS - 1))
    lo = LOG_T0 + dt.timedelta(days=day, hours=6)
    hi = lo + dt.timedelta(days=1, hours=12)
    iso = "%Y-%m-%dT%H:%M:%S"
    return {
        "query": {"range": {"@timestamp": {"gte": lo.strftime(iso), "lt": hi.strftime(iso)}}},
        "aggs": {"by_index": {"terms": {"field": "index_name", "size": 50},
                              "aggs": {"by_tag": {"terms": {"field": "tag", "size": 50}}}}},
    }
