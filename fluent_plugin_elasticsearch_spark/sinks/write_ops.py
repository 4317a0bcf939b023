"""Write-op semantics — the engine equivalents of the reference's bulk
write ops `index` / `create` / `update` / `upsert`
(append_record_to_messages out_elasticsearch.rb:747-765, update_body
:770-784, op constants elasticsearch_constants.rb:5-8; SURVEY.md K2-K6).

MERGE-style dataflows (dedup aggregate + anti-join + union); on Iceberg each maps 1:1
onto ``MERGE INTO`` clauses (documented per function). ``sinks/cow_table``
applies ``MERGE_OPS`` to the touched buckets of its table. Joins broadcast
when the incoming batch is small (the common streaming case), so the target
table is never shuffled unnecessarily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hint_small(df: DataFrame, small: bool) -> DataFrame:
    """Broadcast ONLY when the caller vouches the frame is small.

    `small_batch=True` (default) fits the reference's streaming shape —
    micro-batches of bulk actions are KB-MB against a large target table,
    and a forced broadcast avoids shuffling the target. For a bulk
    BACKFILL through the same API the batch can be executor-memory-sized:
    pass small_batch=False and the hint is dropped, so AQE/statistics pick
    broadcast vs shuffle join from the actual sizes instead of OOMing the
    executors on a forced build side."""
    return F.broadcast(df) if small else df


def dedup_latest(batch: DataFrame, id_col: str, order_col: str | None = None,
                 keep: str = "last") -> DataFrame:
    """One row per id within a batch, as ES applies a chunk's bulk actions
    for one _id in order (out_elasticsearch.rb:747-784):

      * ``keep="last"`` — the id's last row (``index``: each action
        replaces the doc);
      * ``keep="first"`` — its first row (``create``: the later rows are
        409 duplicates);
      * ``keep="merge"`` — each column's last non-null value (``update``:
        each partial doc applies in turn); a column no row sets stays
        null, which ``op_update`` reads as "keep the stored value".

    Batch order is the order ``collect()`` returns — partition, then
    position — read by ``monotonically_increasing_id()`` before the
    grouping shuffle; ``order_col``, when given, orders first and batch
    order breaks its ties.  One ``groupBy`` of ``max_by``/``min_by``
    aggregates: one shuffle."""
    if keep not in ("last", "first", "merge"):
        raise ValueError(f"unknown keep {keep!r}; expected 'last', 'first' or 'merge'")
    cols = [c for c in batch.columns if c != id_col]
    if not cols:  # an id-only batch: its rows are indistinguishable
        return batch.dropDuplicates([id_col])
    seq = F.monotonically_increasing_id()
    if order_col is not None:
        seq = F.struct(F.col(order_col), seq)
    pick = F.min_by if keep == "first" else F.max_by
    aggs = [pick(c, F.when(F.col(c).isNotNull(), F.col("__seq")) if keep == "merge"
                 else F.col("__seq")).alias(c) for c in cols]
    return batch.withColumn("__seq", seq).groupBy(id_col).agg(*aggs).select(*batch.columns)


def op_index(target: DataFrame, batch: DataFrame, id_col: str,
             small_batch: bool = True) -> DataFrame:
    """`index` op (K2): upsert-by-id — replace matching rows, insert the
    rest. Iceberg: MERGE INTO … WHEN MATCHED UPDATE * WHEN NOT MATCHED
    INSERT *. Emulation: target rows not in batch ∪ batch. See
    _hint_small for the small_batch broadcast gate."""
    batch = dedup_latest(batch, id_col)
    keep = target.join(_hint_small(batch.select(id_col), small_batch), id_col, "left_anti")
    return keep.unionByName(batch)


def op_create(target: DataFrame, batch: DataFrame, id_col: str,
              drop_missing_id: bool = True) -> tuple[DataFrame, DataFrame]:
    """`create` op (K3): insert-only. Records without an id are dropped
    (emit_error_for_missing_id=false path, out_elasticsearch.rb:146,912-916);
    duplicates of existing ids are rejected like ES 409s — counted, not
    retried (elasticsearch_error_handler.rb:95-96). Returns (new_target, rejected_duplicates)."""
    fresh, dup = create_split(target, batch, id_col, drop_missing_id)
    return target.unionByName(fresh), dup


def create_split(target: DataFrame, batch: DataFrame, id_col: str,
                 drop_missing_id: bool = True) -> tuple[DataFrame, DataFrame]:
    """`create`'s (fresh rows to insert, rejected duplicates): one row per
    id, split on presence in ``target`` — what an append-only sink writes."""
    if drop_missing_id:
        batch = batch.filter(F.col(id_col).isNotNull())
    batch = dedup_latest(batch, id_col, keep="first")
    ids = target.select(id_col)
    return batch.join(ids, id_col, "left_anti"), batch.join(ids, id_col, "left_semi")


def op_update(target: DataFrame, batch: DataFrame, id_col: str,
              update_cols: list[str] | None = None,
              remove_keys_on_update: list[str] | None = None,
              small_batch: bool = True) -> DataFrame:
    """`update` op (K4): partial update of EXISTING docs only (no insert).
    `remove_keys_on_update` strips keys from the update doc only (K6,
    remove_keys out_elasticsearch.rb:786-793). Iceberg: MERGE INTO … WHEN
    MATCHED UPDATE SET (no insert clause)."""
    batch = dedup_latest(batch, id_col, keep="merge")
    cols = update_cols or [c for c in batch.columns if c != id_col]
    if remove_keys_on_update:
        cols = [c for c in cols if c not in set(remove_keys_on_update)]
    upd = batch.select(id_col, *cols)
    joined = target.alias("t").join(
        _hint_small(upd, small_batch).alias("u"),
        F.col(f"t.{id_col}") == F.col(f"u.{id_col}"), "left"
    )
    matched = F.col(f"u.{id_col}").isNotNull()
    out_cols = [
        (
            F.when(matched, F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}"))).otherwise(F.col(f"t.{c}"))
            if c in cols
            else F.col(f"t.{c}")
        ).alias(c)
        for c in target.columns
    ]
    return joined.select(*out_cols)


def op_upsert(target: DataFrame, batch: DataFrame, id_col: str,
              remove_keys_on_update: list[str] | None = None,
              small_batch: bool = True) -> DataFrame:
    """`upsert` op (K5): update-or-insert (doc_as_upsert,
    update_body out_elasticsearch.rb:776-783). Full MERGE INTO with both
    clauses. Note: the inserted doc keeps removed keys (reference inserts
    the original record as the upsert doc), removal applies to updates only."""
    updated = op_update(target, batch, id_col,
                        remove_keys_on_update=remove_keys_on_update,
                        small_batch=small_batch)
    # a fresh id's actions insert its first row, then update it in turn
    fresh = dedup_latest(batch, id_col, keep="merge").join(
        target.select(id_col), id_col, "left_anti")
    return updated.unionByName(fresh.select(*updated.columns))


MERGE_OPS = {"index": op_index, "update": op_update,
             "create": lambda target, batch, id_col: op_create(target, batch, id_col)[0]}


def affinity_target_index(batch: DataFrame, docs: DataFrame, id_col: str = "doc_id",
                          index_col: str = "index_name",
                          computed_index_col: str = "index_name",
                          small_batch: bool = True) -> DataFrame:
    """K11 — affinity-targeted update routing (get_affinity_target_indices,
    out_elasticsearch.rb:935-965): for each incoming id, find the OLDEST
    date-index already holding it and route the update there instead of
    today's index (`sort: _index desc` + first-wins loop :953-962 keeps the
    oldest). Spark shape: groupBy(min) over the docs id→index projection,
    broadcast-joined to the batch, coalesce(existing, computed)."""
    existing = (
        docs.select(F.col(id_col), F.col(index_col).alias("__existing_idx"))
        .join(_hint_small(batch.select(id_col).distinct(), small_batch), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.min("__existing_idx").alias("__existing_idx"))
    )
    return (
        batch.join(_hint_small(existing, small_batch), id_col, "left")
        .withColumn(computed_index_col, F.coalesce(F.col("__existing_idx"), F.col(computed_index_col)))
        .drop("__existing_idx")
    )


# --- K9: bulk-response triage ----------------------------------------------

# status classes per elasticsearch_error_handler.rb:38-143
UNRECOVERABLE_TYPES = ("out_of_memory_error", "es_rejected_execution_exception")


def _triage_class(status_col: str, error_type_col: str):
    s = F.col(status_col)
    return (
        F.when((s >= 200) & (s < 300), "success")
        .when(s == 409, "duplicate")
        .when(F.col(error_type_col).isin(*UNRECOVERABLE_TYPES), "abort")
        .when(s == 400, "dead_letter")
        .otherwise("retry")
    )


def triage(batch_with_status: DataFrame, status_col: str = "status",
           error_type_col: str = "error_type") -> dict[str, DataFrame]:
    """K9 — per-record partial-failure triage (handle_error,
    elasticsearch_error_handler.rb:38-143): 2xx → success; 409 → duplicate
    (counted, not retried); 400 → dead-letter; unrecoverable error types →
    abort; everything else → retry stream. Returns the four routed frames;
    callers append retry to the next micro-batch (RetryStreamError re-emit,
    out_elasticsearch.rb:1165-1174) and persist dead_letter/duplicates to
    quarantine tables."""
    tagged = batch_with_status.withColumn("__class", _triage_class(status_col, error_type_col))
    return {
        name: tagged.filter(F.col("__class") == name).drop("__class")
        for name in ("success", "duplicate", "dead_letter", "retry", "abort")
    }


def triage_stats(batch_with_status: DataFrame, status_col: str = "status",
                 error_type_col: str = "error_type") -> DataFrame:
    """Error-stat counters (stats = Hash.new(0),
    elasticsearch_error_handler.rb:47,117,134) as a groupBy().count()."""
    return (batch_with_status.groupBy(_triage_class(status_col, error_type_col).alias("class"))
            .agg(F.count("*").alias("n")))


def delete_by_query(target: DataFrame, body: dict) -> DataFrame:
    """ES _delete_by_query: remove every doc matching the query body's
    filter; returns the surviving table (Iceberg: DELETE FROM … WHERE).
    The predicate compiles through the same AST as search (plans/query_ast),
    so it pushes down into the scan."""
    from ..plans.query_ast import _compile_clause

    query = (body or {}).get("query")
    if not query:
        raise ValueError("_delete_by_query requires a query")
    # null predicate (e.g. range over a NULL cell) must KEEP the row —
    # ES only deletes definite matches
    pred = _compile_clause(query)
    return target.filter(~F.coalesce(pred, F.lit(False)))


def update_by_query(target: DataFrame, body: dict, set_cols: dict) -> DataFrame:
    """ES _update_by_query with a (vectorized) script: rows matching the
    query get `set_cols` column expressions applied; everything else is
    untouched (Iceberg: UPDATE … SET … WHERE). `set_cols` maps column name
    → Column — the engine's T14-style replacement for per-row painless
    scripts."""
    from ..plans.query_ast import _compile_clause

    query = (body or {}).get("query")
    if not query:
        raise ValueError("_update_by_query requires a query")
    pred = F.coalesce(_compile_clause(query), F.lit(False))
    # ONE projection: every set expression evaluates against the ORIGINAL
    # row (chained withColumn would leak earlier updates into later exprs
    # and into the predicate)
    out_cols = [
        (F.when(pred, set_cols[c]).otherwise(F.col(c)).alias(c) if c in set_cols else F.col(c))
        for c in target.columns
    ]
    out_cols += [
        F.when(pred, expr).alias(name)
        for name, expr in set_cols.items()
        if name not in target.columns
    ]
    return target.select(*out_cols)
