"""Vectorized (Arrow-batched) Spark wrappers over the pinned textproc
implementations — the analysis chain the reference delegates to
Elasticsearch (`client.bulk` → ES analyzer; out_elasticsearch.rb:1158).

No per-row Python UDFs anywhere (BASELINE.json input_hint): everything is
``pandas_udf`` — one Python invocation per Arrow batch. The index build's
tokenizer (``doc_terms_udf``) emits one struct per doc, the same layout
for tf-only and positional indexes:

    terms    the doc's distinct terms
    tfs      their term frequencies, in ``terms`` order
    poss     positional builds only: every term's token positions,
             ascending within a term, terms concatenated in ``terms`` order
    doc_len  token count

The simple tokenizer additionally has a pure-JVM column-expression form
(``simple_tokens_col``) used on hot paths and for oracle-matched queries.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textproc import extract_text, tokenize_simple, tokenize_unicode


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


def _doc_terms_schema(positions: bool) -> T.StructType:
    ints = T.ArrayType(T.IntegerType())
    return T.StructType(
        [T.StructField("terms", T.ArrayType(T.StringType())), T.StructField("tfs", ints)]
        + ([T.StructField("poss", ints)] if positions else [])
        + [T.StructField("doc_len", T.IntegerType())]
    )


def _doc_terms(series: pd.Series, tokenize, positions: bool) -> pd.DataFrame:
    """The tokenizer output (module header) of one Arrow batch. Fusing the
    per-doc term-frequency aggregation into the tokenizer removes the
    corpus-scale (doc, term) hash aggregation from the build: a groupBy
    over ~30M exploded rows spills and anti-scales with task parallelism."""
    tok_lists = [tokenize(t) for t in series]
    n = len(tok_lists)
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int32, count=n)
    if not positions:
        counts = [Counter(toks) for toks in tok_lists]
        return pd.DataFrame({"terms": [list(c) for c in counts],
                             "tfs": [list(c.values()) for c in counts], "doc_len": lens})
    # positional: one factorize + one stable lexsort across the whole batch
    # (a per-token python dict version was 5x slower end-to-end at 600k
    # docs); the stable sort keeps each (doc, term) run's positions in
    # token order, so they come out ascending
    total = int(lens.sum())
    flat = np.empty(total, dtype=object)
    flat[:] = [t for toks in tok_lists for t in toks]
    codes, vocab = pd.factorize(flat)
    doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    pos_in_doc = np.arange(total) - np.repeat(np.cumsum(lens, dtype=np.int64) - lens, lens)
    order = np.lexsort((codes, doc_idx))
    d_s, c_s = doc_idx[order], codes[order]
    # entry = (doc, term) run
    entry_starts = np.nonzero((np.diff(d_s, prepend=-1) != 0) | (np.diff(c_s, prepend=-1) != 0))[0]
    tf = np.diff(np.append(entry_starts, total)).astype(np.int32)
    entry_terms = np.asarray(vocab, dtype=object)[c_s[entry_starts]]
    # per-doc slice boundaries in entry space and position space
    e_bounds = np.searchsorted(d_s[entry_starts], np.arange(n + 1))
    p_bounds = np.searchsorted(d_s, np.arange(n + 1))
    p_s = pos_in_doc[order].astype(np.int32)
    return pd.DataFrame({
        "terms": [entry_terms[e_bounds[i]:e_bounds[i + 1]] for i in range(n)],
        "tfs": [tf[e_bounds[i]:e_bounds[i + 1]] for i in range(n)],
        "poss": [p_s[p_bounds[i]:p_bounds[i + 1]] for i in range(n)],
        "doc_len": lens,
    })


def doc_terms_udf(tokenizer: str, from_html: bool, positions: bool):
    """The build's tokenizer UDF. ``from_html`` fuses extraction into it:
    chained pandas UDFs plan as two ArrowEvalPython nodes and ship the
    extracted text JVM→Python twice; fused, the raw html crosses once."""
    tokenize = tokenize_unicode if tokenizer == "unicode" else tokenize_simple

    @F.pandas_udf(_doc_terms_schema(positions))
    def doc_terms(col: pd.Series) -> pd.DataFrame:
        return _doc_terms(col.map(extract_text) if from_html else col, tokenize, positions)

    return doc_terms


def simple_tokens_col(text: Column) -> Column:
    """JVM-side equivalent of textproc.tokenize_simple: stays inside
    whole-stage codegen (no Python worker roundtrip). Same semantics as
    DuckDB `regexp_split_to_array(lower(x), '[^a-z0-9]+')` + empty filter,
    which is what the correctness oracle runs."""
    toks = F.split(F.lower(text), "[^a-z0-9]+")
    return F.filter(toks, lambda t: t != F.lit(""))
