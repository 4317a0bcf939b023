"""Copy-on-write bucketed table — per-id upserts and deletes that rewrite
only the buckets they touch, committed as atomic manifest snapshots.

The reference gets per-document `index`/`create`/`update` from
Elasticsearch (out_elasticsearch.rb:761-784); the plain-parquet MERGE
emulations in ``sinks/write_ops.py`` rewrite their whole target. This
table applies the same ``write_ops`` rules to the touched buckets only,
with the mechanism Iceberg/Delta use, sized to what the sandbox image
allows (no table-format jar ships here):

  * rows are hash-bucketed on the id (``pmod(xxhash64(id), n_buckets)``);
    each bucket's current data lives in one immutable directory
  * each commit writes ONE parquet file per touched bucket: the staged
    rows are repartitioned by bucket before the partitioned write, so
    one task writes each bucket (Iceberg's ``write.distribution-mode=
    hash``) and the next merge and every read open one file per bucket.
    The trade-off: a commit's write parallelism is its number of touched
    buckets — widen the table with ``compact(target_buckets=…)`` as it
    grows
  * a JSON **manifest** names the current directory per bucket, the
    bucket count and the table schema — the table state IS the manifest
    (Iceberg's snapshot file list); ``read()`` unions the named
    directories with the recorded schema, so it infers nothing and (up to
    Spark's 32-path parallel-listing threshold) starts no Spark job; a
    plan built before a later swap keeps reading its snapshot (old
    directories are retained until ``vacuum``)

**One transaction.** ``upsert``, ``delete_where``, ``delete_ids`` and
``compact`` each hand :meth:`_transact` a plan: given the pinned
manifest, the touched buckets and their new rows.  The transaction
stages those rows under a fresh uuid directory (partitioned by bucket,
hashed with the pinned — or, for ``compact``, the new — bucket count),
then :meth:`_commit_buckets` checks that every touched bucket still
names the directory the plan read and swaps them.  A concurrent commit
on an overlapping bucket raises :class:`CommitConflict` and the plan
reruns on the new snapshot, up to ``max_retries`` times.  A crash at
any point leaves the old manifest or the new one; the staged directory
of an attempt that never committed is an orphan ``vacuum`` removes.

**One manifest writer.** Every manifest write (``create``, each commit,
``vacuum``) goes through :meth:`_write_manifest`: under the commit lock
it loads the current manifest, applies the change, writes a temp file
and ``os.replace``-s it.  The lock is an exclusive ``fcntl.flock`` on
``_commit.lock``, a file that is never unlinked.  ``flock`` belongs to
the open file description, so it excludes other processes and other
threads that open the file alike, and the kernel releases it when its
holder exits, killed or not: a crashed writer leaves no lock behind.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .write_ops import MERGE_OPS

_MANIFEST = "manifest.json"
_LOCK = "_commit.lock"


class CommitConflict(RuntimeError):
    """Another writer committed a touched bucket between this writer's
    snapshot read and its manifest swap.  The mutation methods catch this
    internally and retry from the new snapshot (up to ``max_retries``);
    it escapes only when retries are exhausted."""


def _result(generation: int, touched) -> dict:
    return {"generation": generation,
            "touched_buckets": sorted(int(b) for b in touched)}


class CowTable:
    """Bucketed copy-on-write table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str, id_col: str = "doc_id",
                 n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self._create_buckets = n_buckets
        if self.exists():
            self.id_col = self._load_manifest()["id_col"]

    @property
    def n_buckets(self) -> int:
        """The current snapshot's bucket count (before ``create``, the
        count it will use)."""
        if self.exists():
            return self._load_manifest()["n_buckets"]
        return self._create_buckets

    # --- manifest ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def exists(self) -> bool:
        return os.path.exists(self._manifest_path())

    def _load_manifest(self) -> dict:
        with open(self._manifest_path()) as f:
            m = json.load(f)
        if "schema" not in m:
            raise ValueError(f"{self._manifest_path()} has no 'schema' key (written before "
                             f"tables recorded their schema); recreate the table")
        return m

    @contextlib.contextmanager
    def _commit_lock(self, timeout: float = 60.0):
        """Advisory commit lock (protocol in the module docstring).  Held
        only for a manifest write — never across a Spark job."""
        lockp = os.path.join(self.path, _LOCK)
        fd = os.open(lockp, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            deadline = time.monotonic() + timeout
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"commit lock at {lockp} not released in {timeout}s") from None
                    time.sleep(0.02)
            yield
        finally:
            os.close(fd)  # closing the descriptor releases the lock

    def _write_manifest(self, update) -> dict:
        """The one manifest writer: under the commit lock, ``update`` maps
        the current manifest (None before ``create``) to the next one,
        which is written to a temp file and swapped in with ``os.replace``."""
        with self._commit_lock():
            m = update(self._load_manifest() if self.exists() else None)
            m["updated_utc"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
            tmp = self._manifest_path() + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(m, f, indent=1)
            os.replace(tmp, self._manifest_path())
        return m

    def _commit_buckets(self, base_dirs: dict[str, str],
                        new_dirs: dict[str, str]) -> dict:
        """Optimistic commit (Iceberg's validate-from-snapshot): every
        bucket in ``base_dirs`` must still name the directory the plan
        read; those entries are retired and ``new_dirs`` take their place.
        Writers touching disjoint buckets commit without conflict."""
        def swap(m):
            moved = sorted(b for b, d in base_dirs.items() if m["buckets"].get(b) != d)
            if moved:
                raise CommitConflict(f"buckets {moved} were committed by another "
                                     f"writer since this plan's snapshot")
            buckets = {b: d for b, d in m["buckets"].items() if b not in base_dirs}
            buckets.update(new_dirs)
            m["buckets"] = {str(b): buckets[str(b)] for b in range(len(buckets))}
            m["n_buckets"] = len(buckets)
            m["generation"] += 1
            m["retired"] = m["retired"] + list(base_dirs.values())
            return m

        return _result(self._write_manifest(swap)["generation"], new_dirs)

    # --- staging and the transaction --------------------------------------

    def _bucket_col(self, n_buckets: int):
        return F.pmod(F.xxhash64(F.col(self.id_col).cast("string")),
                      F.lit(n_buckets)).cast("int")

    def _buckets_of(self, df: DataFrame, n_buckets: int) -> list[int]:
        rows = (df.select(self._bucket_col(n_buckets).alias("__b"))
                .distinct().collect())  # bounded: ≤ n_buckets ints
        return sorted(r["__b"] for r in rows)

    def _stage(self, rows: DataFrame, n_buckets: int, gen: int,
               sort_by: list[str] | None = None) -> str:
        """Write ``rows`` partitioned by bucket into a fresh directory and
        return its table-relative path.  The rows are hash-distributed by
        bucket first, so one task writes each touched bucket: one parquet
        file per bucket per commit (``sort_by`` then only orders rows
        within it).  The directory is unique per write ATTEMPT (uuid), so
        a redelivered batch after a crash between this write and the
        manifest swap never appends into the crashed attempt's files."""
        rel = os.path.join("data", f"gen={gen}-{uuid.uuid4().hex[:12]}")
        tagged = (rows.withColumn("__bucket", self._bucket_col(n_buckets))
                  .repartition("__bucket"))
        if sort_by:
            tagged = tagged.sortWithinPartitions("__bucket", *sort_by)
        tagged.write.partitionBy("__bucket").parquet(os.path.join(self.path, rel))
        return rel

    def _transact(self, plan, max_retries: int,
                  sort_by: list[str] | None = None) -> dict:
        """The one mutation path. ``plan(m)`` returns (touched buckets of
        the pinned manifest ``m``, their new rows, the bucket count to hash
        them with); a new count replaces every bucket (``compact``)."""
        for attempt in range(max_retries + 1):
            m = self._load_manifest()
            touched, rows, n = plan(m)
            if not touched:
                return _result(m["generation"], [])
            rel = self._stage(rows, n, m["generation"] + 1, sort_by)
            base_dirs = {str(b): m["buckets"][str(b)] for b in touched}
            new = touched if n == m["n_buckets"] else range(n)
            try:
                return self._commit_buckets(
                    base_dirs, {str(b): f"{rel}/__bucket={b}" for b in new})
            except CommitConflict:
                if attempt == max_retries:
                    raise
                # the staged dir is an orphan → swept by vacuum()

    # --- API --------------------------------------------------------------

    def create(self, df: DataFrame) -> dict:
        """Initialize the table from a DataFrame (generation 0), recording
        its schema (every field nullable) in the manifest.  An id repeated
        in ``df`` keeps its last row, as ``index`` would."""
        return self._create(df, "index")

    def _create(self, df: DataFrame, op: str) -> dict:
        """``create`` storing what the ``write_ops`` rule ``op`` stores on
        an empty table: ``"index"`` keeps an id's last row, ``"create"``
        its first, ``"update"`` none — one staging write."""
        if self.exists():
            raise ValueError(f"table already exists at {self.path}")
        os.makedirs(self.path, exist_ok=True)
        n = self._create_buckets
        rel = self._stage(MERGE_OPS[op](df.limit(0), df, self.id_col), n, 0)
        schema = StructType([StructField(f.name, f.dataType, True, f.metadata)
                             for f in df.schema])

        def init(m):
            if m is not None:  # lost the create race — the staged dir is an orphan
                raise ValueError(f"table already exists at {self.path}")
            return {"id_col": self.id_col, "n_buckets": n, "generation": 0,
                    "schema": schema.jsonValue(),
                    "buckets": {str(b): f"{rel}/__bucket={b}" for b in range(n)},
                    "retired": []}

        return self._write_manifest(init)

    def read(self, buckets: list[int] | None = None,
             manifest: dict | None = None) -> DataFrame:
        """Current snapshot (or a pruned subset of buckets), typed by the
        recorded schema.  The plan binds to the directories named by the
        manifest AT CALL TIME — later swaps don't affect it (snapshot
        isolation).  ``manifest`` pins an already-loaded snapshot."""
        m = manifest if manifest is not None else self._load_manifest()
        sel = range(m["n_buckets"]) if buckets is None else buckets
        dirs = [os.path.join(self.path, m["buckets"][str(b)]) for b in sel]
        return (self.spark.read.schema(StructType.fromJson(m["schema"]))
                .parquet(*[d for d in dirs if os.path.exists(d)]))

    def upsert(self, batch: DataFrame, op: str = "index",
               max_retries: int = 3) -> dict:
        """Apply the ``write_ops`` rule ``op`` to the batch's touched
        buckets: ``"index"`` replaces or inserts each id, ``"create"``
        inserts only ids absent from the table (present ones keep their
        row), ``"update"`` changes existing ids only, and a null cell in
        the batch keeps the stored value (ES partial update).  The batch
        is cast to the recorded schema.  Concurrent-writer safe: a
        conflicting commit reruns the merge on the new snapshot, so both
        batches land exactly once (Iceberg optimistic concurrency / ES
        per-doc versioned upserts, out_elasticsearch.rb:761-784).  On an
        absent table the batch creates it, storing what ``op`` stores on
        an empty table."""
        if op not in MERGE_OPS:
            raise ValueError(f"unknown write op {op!r}; expected one of {sorted(MERGE_OPS)}")
        if not self.exists():
            m = self._create(batch, op)
            return _result(m["generation"], range(m["n_buckets"]))

        def plan(m):
            n = m["n_buckets"]
            b = batch.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                               for f in StructType.fromJson(m["schema"])])
            touched = self._buckets_of(b, n)
            return touched, MERGE_OPS[op](self.read(touched, m), b, self.id_col), n

        return self._transact(plan, max_retries)

    def delete_where(self, predicate, max_retries: int = 3) -> dict:
        """DELETE FROM … WHERE predicate — rewrites only buckets that
        contain at least one matching row.  The find-hits scan reads all
        buckets (an arbitrary predicate can match anywhere); when deleting
        by id, use :meth:`delete_ids`, which prunes the scan itself."""
        def plan(m):
            n = m["n_buckets"]
            touched = self._buckets_of(self.read(manifest=m).filter(predicate), n)
            return (touched, self.read(touched, m).filter(
                ~F.coalesce(predicate, F.lit(False))), n)

        return self._transact(plan, max_retries)

    def delete_ids(self, ids: list, max_retries: int = 3) -> dict:
        """DELETE by id list.  The bucket of every id is known from the
        hash alone, so ONLY touched buckets are scanned (ES delete-by-_id,
        ``out_elasticsearch.rb`` op ``delete``)."""
        # the id frame is string-typed; joining it straight onto a bigint
        # id column would coerce BOTH sides to double (ids >= 2^53 silently
        # stop matching — ADVICE r5).  Join on an explicit cast(id as
        # string) instead, the same representation _bucket_col hashes.
        id_df = self.spark.createDataFrame(
            [(str(i),) for i in ids], "`__del_id` string")

        def plan(m):
            n = m["n_buckets"]
            touched = self._buckets_of(
                id_df.withColumnRenamed("__del_id", self.id_col), n)
            return touched, self.read(touched, m).join(
                F.broadcast(id_df),
                F.col(self.id_col).cast("string") == F.col("__del_id"),
                "left_anti"), n

        return self._transact(plan, max_retries)

    def compact(self, target_buckets: int | None = None,
                max_retries: int = 3,
                sort_by: list[str] | None = None) -> dict:
        """Rewrite EVERY bucket into one fresh generation (Iceberg's
        rewrite_data_files).  Every commit already writes one file per
        bucket, so this re-buckets, sorts, or brings a table written
        before that rule to one file per bucket.  ``target_buckets``
        re-buckets the table (e.g. widen 16 → 512 as it grows: a
        commit's write parallelism is its number of touched buckets).
        ``sort_by`` additionally sorts rows WITHIN each rewritten bucket
        (ES index sorting / Iceberg's sort-order rewrite): parquet
        row-group min/max stats on the sort columns become tight ranges,
        so subsequent range/equality scans on those columns prune row
        groups instead of reading whole buckets.  The sort is a
        partition-local sort after the staging write's bucket
        repartition (one shuffle, no global order).  Compaction touches
        every bucket, so any commit that lands mid-compaction conflicts
        and the compaction reruns."""
        def plan(m):
            return (list(range(m["n_buckets"])), self.read(manifest=m),
                    target_buckets or m["n_buckets"])

        return self._transact(plan, max_retries, sort_by)

    def vacuum(self) -> int:
        """Drop retired generation directories AND orphan staging dirs
        (crashed write attempts whose manifest swap never happened).
        Breaks snapshot isolation for still-running readers of OLD
        snapshots AND would sweep a concurrent writer's not-yet-committed
        staging dir as an orphan — call when quiesced, like Iceberg's
        expire_snapshots.  The manifest update goes through the locked
        writer, so it can never clobber a commit that lands mid-vacuum."""
        retired = []

        def clear(m):
            retired.extend(m["retired"])
            m["retired"] = []
            return m

        live = set(self._write_manifest(clear)["buckets"].values())
        n = 0
        for rel in retired:
            p = os.path.join(self.path, rel)
            if rel not in live and os.path.exists(p):
                shutil.rmtree(p)
                n += 1
        # orphan sweep: any data/gen=* dir no live bucket points into
        live_gen_dirs = {rel.split("/__bucket=")[0] for rel in live}
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for name in os.listdir(data_root):
                if os.path.join("data", name) not in live_gen_dirs:
                    shutil.rmtree(os.path.join(data_root, name))
                    n += 1
        return n
