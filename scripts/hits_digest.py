"""Digest of an index's query results, one line per query entry.

    python scripts/hits_digest.py [--cold] <index_dir>

Opens and warms the index (with ``--cold``, leaves it unwarmed: every
request then runs its shard kernels in a Spark job, on postings decoded
from the stored bytes), and runs the perfbench query pool (the
400 pool queries ``perfbench.gen.query_stream`` draws from, 336 of them
distinct), plus queries of the index's own head terms, through each
posting-backed entry: ``search`` in ``auto``, ``wand`` and
``exhaustive`` mode, ``search_batch``, ``search_dismax``,
``match_scores``, ``sparse_vector_scores``, ``span_or`` and
``span_multi`` (prefix, and wildcards with ``*``/``?`` at the start,
middle and end), and on a positional index also ``match_phrase``,
``match_phrase_prefix`` and the span and intervals entries. Prints
``<entry> <sha256>`` per entry, over the result rows in the order they
come back, each row's floats as ``float.hex()``; a request that raises
``ValueError`` (an expansion over its cap) adds its message instead. Two
runs give the same lines exactly when every row, score bit, row order
and error is the same: run it in two checkouts, or warm and ``--cold``,
and ``diff``.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex  # noqa: E402
from fluent_plugin_elasticsearch_spark.session import get_spark  # noqa: E402
from perfbench import gen  # noqa: E402

K = 10


def query_pool() -> list[str]:
    """The pool's distinct queries, sorted: a stream long enough to draw
    every one (the least likely is drawn ~100 times)."""
    return sorted(set(gen.query_stream(0, 100 * gen.QUERY_POOL)))


def head_queries(idx: InvertedIndex, n: int = 40) -> list[str]:
    """Queries of two and three of the index's (up to) ``n`` most frequent
    terms, so an index whose vocabulary the pool misses is exercised too."""
    head = [r["term"] for r in idx.term_stats().orderBy(F.desc("df"), F.asc("term"))
            .limit(n).collect()]
    return ([" ".join(head[i:i + 3]) for i in range(len(head) - 2)]
            + [f"{t} {head[(i + 5) % len(head)]}" for i, t in enumerate(head)])


def _row(values) -> str:
    return repr(tuple(v.hex() if isinstance(v, float) else v for v in values))


def entries(idx: InvertedIndex, pool: list[str]):
    """(entry name, one request per call) for every entry the index serves."""
    terms = [idx.query_terms(q) for q in pool]
    multi = [ts for ts in terms if len(ts) >= 2]
    yield "search_batch", [lambda: idx.search_batch(dict(enumerate(pool)), k=K)]
    for mode in ("auto", "wand", "exhaustive"):
        yield f"search_{mode}", [lambda q=q, m=mode: idx.search(q, k=K, mode=m) for q in pool]
    yield "search_dismax", [lambda i=i: idx.search_dismax(pool[i:i + 2], 0.3, k=K)
                            for i in range(0, len(pool), 2)]
    yield "match_scores", [lambda ts=ts: idx.match_scores(ts) for ts in terms if ts]
    yield "sparse_vector_scores", [
        lambda ts=ts: idx.sparse_vector_scores({t: 0.5 + i for i, t in enumerate(ts)})
        for ts in terms if ts]
    yield "span_or", [lambda ts=ts: idx.span_or(ts, k=K) for ts in terms if ts]
    lasts = [ts[-1] for ts in terms if ts]
    yield "span_multi_prefix", [lambda t=t: idx.span_multi(t[:3], "prefix", k=K) for t in lasts]
    shapes = (lambda t: "*" + t[-2:], lambda t: "?" + t[1:], lambda t: t[:1] + "?" + t[2:],
              lambda t: t[:1] + "*" + t[-1:], lambda t: t[:2] + "*")
    yield "span_multi_wildcard", [lambda t=t, f=f: idx.span_multi(f(t), "wildcard", k=K)
                                  for t in lasts for f in shapes]
    if not idx.meta.get("with_positions"):
        return
    yield "match_phrase", [lambda q=q: idx.match_phrase(q, k=K) for q in pool]
    yield "match_phrase_prefix", [lambda q=q: idx.match_phrase_prefix(q, k=K) for q in pool]
    yield "span_near", [lambda ts=ts: idx.span_near(ts[0], ts[1], slop=2, k=K) for ts in multi]
    yield "span_first", [lambda ts=ts: idx.span_first(ts[0], 5, k=K) for ts in terms if ts]
    yield "span_not", [lambda ts=ts: idx.span_not(ts[0], ts[1], 1, 1, k=K) for ts in multi]
    for within in (False, True):
        yield ("span_within" if within else "span_containing"), [
            lambda ts=ts, w=within: idx.span_containing(ts[0], ts[-1], ts[1], 3, k=K, within=w)
            for ts in multi]
    yield "intervals_ordered", [lambda ts=ts: idx.intervals_match(ts[:3], 4, True, k=K)
                                for ts in multi]
    yield "intervals_unordered", [lambda ts=ts: idx.intervals_match(ts[:2], 1, False, k=K)
                                  for ts in multi]


def main(index_dir: str, cold: bool) -> None:
    spark = get_spark(cores=2)
    idx = InvertedIndex(spark, index_dir)
    if not cold:
        idx.warm()
    for name, calls in entries(idx, query_pool() + head_queries(idx)):
        h = hashlib.sha256()
        for call in calls:
            try:
                for row in call().collect():
                    h.update(_row(row).encode())
            except ValueError as e:
                h.update(f"raise {e}".encode())
            h.update(b"|")
        print(name, h.hexdigest(), flush=True)
    spark.stop()


if __name__ == "__main__":
    args = sys.argv[1:]
    cold = args[:1] == ["--cold"]
    if len(args) != 1 + cold:
        sys.exit(__doc__)
    main(args[-1], cold)
