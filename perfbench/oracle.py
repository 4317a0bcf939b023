"""Independent correctness oracles, run after timing.

* ``Bm25Oracle`` scores BM25 (k1=1.2, b=0.75, Lucene idf) from the pinned
  ``textproc`` tokenizer over the generated text, never from a built index.
  It computes what ``textproc.bm25_topk_oracle`` computes (a self-test
  checks that they agree), but from postings it collects in one pass over
  the corpus: on 24k-32k docs that scores a query in ~5 ms, where
  ``bm25_topk_oracle`` rescans every doc per term and takes ~0.3-0.4 s, too
  slow for the ~50 distinct queries a run checks.
* ``LogModel`` keeps id -> latest record for the ingest workload and derives
  the expected table rows and aggregation buckets from it.
"""

from __future__ import annotations

import base64
import hashlib
from collections import Counter

import numpy as np
import pandas as pd

from fluent_plugin_elasticsearch_spark.textproc import B, K1, bm25_idf, tokenize_unicode

REL_TOL = 1e-6


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


class Bm25Oracle:
    def __init__(self, doc_ids: np.ndarray, texts: list[str]):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        postings: dict[str, tuple[list[int], list[int]]] = {}
        lens = np.empty(len(texts), dtype=np.float64)
        for row, text in enumerate(texts):
            toks = tokenize_unicode(text)
            lens[row] = len(toks)
            for term, tf in Counter(toks).items():
                rows, tfs = postings.setdefault(term, ([], []))
                rows.append(row)
                tfs.append(tf)
        self.n_docs = len(texts)
        self.avgdl = float(lens.sum()) / self.n_docs
        self.norm = K1 * (1.0 - B + B * lens / self.avgdl)
        self.postings = {t: (np.array(r, dtype=np.int64), np.array(f, dtype=np.float64))
                         for t, (r, f) in postings.items()}

    def scores(self, query: str) -> dict[int, float]:
        """Score of every doc matching >= 1 query term, terms summed in
        sorted order (each distinct query term counted once)."""
        acc = np.zeros(self.n_docs)
        hit = np.zeros(self.n_docs, dtype=bool)
        for term in sorted(set(tokenize_unicode(query))):
            if term not in self.postings:
                continue
            rows, tfs = self.postings[term]
            idf = bm25_idf(len(rows), self.n_docs)
            acc[rows] += idf * ((K1 + 1.0) * tfs / (tfs + self.norm[rows]))
            hit[rows] = True
        return dict(zip(self.doc_ids[hit].tolist(), acc[hit].tolist()))

    def check(self, query: str, got: list[tuple[int, float]], k: int) -> str | None:
        """None when ``got`` is the top-k: same length, same order of doc ids
        (docs whose scores tie within tolerance may swap), same scores within
        tolerance. Otherwise a one-line reason."""
        full = self.scores(query)
        want = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        if len(got) != len(want):
            return f"{query!r}: {len(got)} hits, want {len(want)}"
        if len({d for d, _ in got}) != len(got):
            return f"{query!r}: duplicate doc ids"
        for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
            if not _close(gs, ws):
                return f"{query!r}: rank {i} score {gs!r}, want {ws!r}"
            if gd != wd and not (gd in full and _close(full[gd], ws)):
                return f"{query!r}: rank {i} doc {gd}, want {wd}"
        return None


def iso_timestamp(ts: pd.Series) -> pd.Series:
    """The reference's 9-digit ISO-8601 @timestamp for µs-precision input."""
    return ts.dt.strftime("%Y-%m-%dT%H:%M:%S.%f") + "000Z"


def genid(tag: str, seq: int) -> str:
    """Base64 of the raw sha1 digest of the ``tag_seq`` seed."""
    return base64.b64encode(hashlib.sha1(f"{tag}_{seq}".encode()).digest()).decode()


class LogModel:
    """id -> latest record, updated batch by batch (last writer wins)."""

    def __init__(self):
        self.rows: dict[tuple[str, int], tuple] = {}

    def apply(self, pdf: pd.DataFrame) -> None:
        ts = iso_timestamp(pdf["time"])
        index = "logstash-" + pdf["time"].dt.strftime("%Y.%m.%d")
        for rec in zip(pdf["tag"], pdf["seq"].tolist(), ts, index, pdf["level"],
                       pdf["status"].tolist(), pdf["bytes"].tolist(), pdf["message"]):
            self.rows[(rec[0], rec[1])] = rec[2:]

    def agg_counts(self, body: dict) -> dict[tuple[str, str], int]:
        """(index_name, tag) -> doc count under the body's @timestamp range."""
        rng = body["query"]["range"]["@timestamp"]
        out: Counter = Counter()
        for (tag, _), (ts, index, *_rest) in self.rows.items():
            if rng["gte"] <= ts < rng["lt"]:
                out[(index, tag)] += 1
        return dict(out)

    @staticmethod
    def check_aggs(frames: dict[str, list], want: dict[tuple[str, str], int]) -> str | None:
        rows = frames["by_index"]
        got = {(r["by_index_key"], r["by_tag_key"]): r["doc_count"] for r in rows}
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:3]
            return f"agg buckets differ, e.g. {diff}"
        parents = Counter()
        for (index, _), n in want.items():
            parents[index] += n
        for r in rows:
            if r["by_index_doc_count"] != parents[r["by_index_key"]]:
                return f"agg parent count for {r['by_index_key']} is {r['by_index_doc_count']}"
        return None

    def check_rows(self, rows: list, n_table_rows: int) -> list[str]:
        """``rows``: table rows for a sample of ids. Checks row count, the
        latest values and the generated id of each sampled row."""
        errors = []
        if n_table_rows != len(self.rows):
            errors.append(f"table has {n_table_rows} rows, want {len(self.rows)}")
        for r in rows:
            key = (r["tag"], r["seq"])
            want = self.rows.get(key)
            got = (r["@timestamp"], r["index_name"], r["level"], r["status"],
                   r["bytes"], r["message"])
            if want != got:
                errors.append(f"row {key}: {got}, want {want}")
            if r["doc_id"] != genid(*key):
                errors.append(f"row {key}: doc_id {r['doc_id']}, want {genid(*key)}")
        return errors
