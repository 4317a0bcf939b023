"""Structured-Streaming ingest — the engine form of the reference's
buffered streaming write path (§3.1): chunks ≈ micro-batches, flush
interval ≈ trigger, retry-with-backpressure ≈ checkpointed foreachBatch,
at-least-once + id-dedup ⇒ effectively-once (K3 + T11, README.md:737-760).

``IngestPipeline.run_batch`` is also the batch-mode entry (same transforms,
one chunk); ``start_stream`` wraps it in foreachBatch with a checkpoint.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame

from ..functions.genid import add_genid
from ..functions.transforms import inject_lineage, inject_timestamp, target_index
from ..sinks.write_ops import create_split


class IngestPipeline:
    """tag/time/record events → transformed docs appended to a
    date-partitioned docs table (plus quarantine on id conflicts).

    Parameters mirror the reference config (out_elasticsearch.rb):
    id_keys → genid seed columns (T11); time_key (T3); logstash naming (T5);
    write_op ∈ {index, create} (K2/K3).
    """

    def __init__(self, docs_dir: str, *, id_keys: list[str] | None = None,
                 hash_type: str = "sha1", time_key: str | None = None,
                 event_time_col: str = "time", logstash_prefix: str = "logstash",
                 write_op: str = "index", run_id: str | None = None,
                 max_records_per_file: int | None = None,
                 table_format: str = "parquet", n_buckets: int = 16):
        self.docs_dir = docs_dir
        self.id_keys = id_keys
        self.hash_type = hash_type
        self.time_key = time_key
        self.event_time_col = event_time_col
        self.logstash_prefix = logstash_prefix
        self.write_op = write_op
        self.run_id = run_id or f"ing-{int(time.time())}"
        # K7 — request/file size splitting on the table sink (the analogue
        # of bulk_message_request_threshold; Iceberg: write.target-file-size)
        self.max_records_per_file = max_records_per_file
        # table_format="cow": write through the copy-on-write bucketed
        # table (sinks/cow_table) — write_op becomes CowTable.upsert's op,
        # a per-id merge that rewrites only touched buckets, instead of the
        # append + full-table anti-join scan. Requires id_keys (merge
        # needs a doc identity).
        if table_format not in ("parquet", "cow"):
            raise ValueError(f"unknown table_format: {table_format}")
        if table_format == "cow" and not id_keys:
            raise ValueError("table_format='cow' requires id_keys")
        self.table_format = table_format
        self.n_buckets = n_buckets
        self._cow = None

    def transform(self, batch: DataFrame) -> DataFrame:
        out = inject_timestamp(batch, time_key=self.time_key, event_time_col=self.event_time_col)
        out = target_index(out, logstash_prefix=self.logstash_prefix,
                           time_col="@timestamp", event_time_col=self.event_time_col)
        if self.id_keys:
            out = add_genid(out, self.id_keys, self.hash_type, hash_id_key="doc_id")
        out = inject_lineage(out, self.run_id)
        return out

    def run_batch(self, batch: DataFrame, epoch_id: int = 0) -> dict:
        docs = self.transform(batch)
        path = os.path.join(self.docs_dir, "docs")
        stats = {"epoch": epoch_id}
        if self.table_format == "cow":
            from ..sinks.cow_table import CowTable

            if self._cow is None:
                self._cow = CowTable(batch.sparkSession, path,
                                     id_col="doc_id", n_buckets=self.n_buckets)
            # the write op's merge rule runs on the pinned touched buckets;
            # the first batch creates the table with what the rule stores
            # on an empty one
            stats.update(self._cow.upsert(docs, op=self.write_op))
            return stats
        if self.write_op == "create" and self.id_keys:
            # insert-only: append just the fresh rows (target untouched)
            ids = (batch.sparkSession.read.parquet(path) if os.path.exists(path)
                   else docs.limit(0)).select("doc_id")
            fresh, dup = create_split(ids, docs, "doc_id")
            self._writer(fresh).parquet(path)
            stats.update(duplicates=dup.count())
        else:
            self._writer(docs).parquet(path)
        return stats

    def _writer(self, df: DataFrame):
        w = df.write.mode("append").partitionBy("index_name")
        if self.max_records_per_file:
            w = w.option("maxRecordsPerFile", self.max_records_per_file)
        return w

    def start_stream(self, stream_df: DataFrame, checkpoint_dir: str, trigger_sec: int = 5):
        """Checkpointed stream: task retries + checkpoint give at-least-once;
        create-op dedup makes it effectively-once (reference duplicate-hazard
        discussion README.md:737-760)."""
        return (
            stream_df.writeStream.foreachBatch(lambda df, eid: self.run_batch(df, eid))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_sec} seconds")
            .start()
        )


def incremental_index_update(spark, docs_batch: DataFrame, index_dir: str, **build_kw) -> dict:
    """Q6 incremental: index a new micro-batch into a fresh index
    generation dir; ``operators.merge.compact_generations`` force-merges
    the accumulated increments into one index (byte-equivalent to a
    from-scratch build over the union corpus — tested)."""
    from ..operators.index_build import build_index

    gen = int(time.time() * 1000)
    out = os.path.join(index_dir, f"gen={gen}")
    return build_index(spark, docs_batch, out, **build_kw)


def dedup_stream(stream: DataFrame, id_cols: list[str], ts_col: str,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup — the live twin of the batch md5/groupBy
    dedup and the reference's create-op effectively-once semantics
    (out_elasticsearch.rb `write_operation create` drops id duplicates):
    the FIRST record per id is emitted, later duplicates are dropped for
    as long as their event time is inside the watermark. State is keyed
    by the id columns (hash-partitioned, scales with executors) and
    expired by the watermark — bounded memory at any throughput."""
    return (stream
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(id_cols))
