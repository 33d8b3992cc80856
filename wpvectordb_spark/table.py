"""User-facing facades mirroring the reference's two classes 1:1.

``VectorTable`` (src/VectorTable.php) and ``VectorTableQueue``
(src/VectorTableQueue.php) re-expressed over parquet-backed state: every
method name and argument shape matches the reference so a caller can
switch engines without relearning the API, while the implementations
delegate to the operator modules (all lazy DataFrame plans).

Storage model: each table is a parquet directory; mutating calls rewrite
the snapshot (single-writer, like the reference's un-transactional MySQL
usage — VectorTableQueue.php:189-223).  At production scale the same
facade sits over Delta/Iceberg and mutations become MERGEs; the operator
layer is unchanged.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wpvectordb_spark.operators import queue_ops as Q
from wpvectordb_spark.operators import search as S
from wpvectordb_spark.operators import table_ops as TO
from wpvectordb_spark.schemas import QUEUE_SCHEMA, VECTOR_TABLE_SCHEMA


def _utcnow() -> _dt.datetime:
    """Timezone-aware UTC now.  A NAIVE utcnow() literal would be
    interpreted in the Spark session timezone — queue timestamps would
    skew by the UTC offset on non-UTC sessions and the 15-minute stuck
    timeout would misfire (utcnow() is also deprecated in 3.12+)."""
    return _dt.datetime.now(_dt.timezone.utc)


def _check_local_path(path: str) -> str:
    """The facades manage snapshots with driver-local os/shutil calls; a
    remote URI (hdfs://, s3a://) would read/write fine through Spark but
    ALWAYS look absent to os.path — init() would then overwrite the
    existing remote table with an empty one.  Refuse loudly; production
    state belongs in a transactional table format anyway.

    ``file:`` URIs are NORMALIZED to a plain local path rather than
    merely allowed through: os.path/os.rename do not understand URIs, so
    the raw string would hit the exact data-loss the guard exists for
    (table_exists() false -> create_table() overwrites).  A non-local
    authority (file://host/...) is refused like any remote scheme.

    URI detection matches ANY scheme prefix (``re``: letter then
    letters/digits/+.-, then ``:/``), not just ``://``: Hadoop and Spark
    canonicalize local paths to the SINGLE-slash form (``file:/x``,
    ``hdfs:/x``), so a path copy-pasted from logs or ``inputFiles()``
    must not slip past the guard as a weird relative path.  Two-plus
    letter schemes only: a Windows drive path (``C:/data``) is a local
    path, not a scheme ``C`` URI (no registered URI scheme is a single
    letter, so nothing real is lost).  A slashless ``file:relative``
    form is refused explicitly — it is neither a canonical Hadoop form
    nor a plain path, and silently treating it as a literal local
    filename named ``file:relative`` helps no one."""
    import re

    if re.match(r"^file:(?![/])", path, re.IGNORECASE):
        raise ValueError(
            f"malformed file: URI {path!r} (no slash) — pass a plain "
            "local path or a canonical file:/ URI"
        )
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):/", path)
    if m is None or len(m.group(1)) == 1:
        return path
    if m.group(1).lower() == "file":
        from urllib.parse import urlparse

        parsed = urlparse(path)
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"file:// URI with remote authority {parsed.netloc!r} — "
                "VectorTable/VectorTableQueue manage LOCAL paths only"
            )
        return parsed.path
    raise ValueError(
        f"VectorTable/VectorTableQueue manage LOCAL paths only, got "
        f"{path!r} — use Delta/Iceberg (or the operators directly) "
        "for remote storage"
    )


def _recover_snapshot(path: str) -> None:
    """Close _write_snapshot's one remaining crash window: a kill between
    'rename old aside' and 'rename staging in' leaves ``path`` absent
    with the data intact in ``path__old``.  Every existence check and
    write first renames that orphan back — otherwise init() would
    silently recreate the table EMPTY and the next write's cleanup would
    delete the only copy."""
    old = path + "__old"
    if not os.path.exists(path) and os.path.isdir(old):
        os.rename(old, path)


def _write_snapshot(
    path: str, df: DataFrame, partition_by: list[str] | None = None
) -> None:
    """Snapshot rewrite via a staging dir (parquet cannot overwrite in
    place while reading) — the ONE shared implementation for both
    facades.  A stale staging dir from a crashed earlier write is
    removed first so the fresh write never lands inside it.

    Crash-safe swap order: the OLD snapshot is renamed aside (atomic),
    the new one renamed in (atomic), and only then is the old copy
    deleted — a kill between steps leaves either the old or the new
    snapshot in place, never zero copies.  (The delete-then-rename
    order lost the table on a kill in the gap: init() would then
    silently recreate it EMPTY.)  Delta/Iceberg replaces this with
    MERGE/commit.

    ``partition_by`` writes the staging copy Hive-partitioned (used by
    partition-preserving compaction — operators/maintenance.py); the
    swap itself is layout-agnostic."""
    _recover_snapshot(path)
    staging = path + "__staging"
    old = path + "__old"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


class VectorTable:
    """Parquet-backed vector table with the reference's method surface
    (VectorTable.php:30-633).

    Read methods return LAZY DataFrames over the current snapshot:
    consume them before the next mutating call — a write swaps the
    snapshot files out underneath a pending plan (collect first, as
    ``get_next_batch`` does, when interleaving reads and writes)."""

    def __init__(self, spark: SparkSession, path: str, vector_length: int = 1024):
        self.spark = spark
        self.path = _check_local_path(path)
        self.vector_length = vector_length  # VectorTable.php:37 default 1024

    # -- DDL (C11, VectorTable.php:464-513) ---------------------------------
    def init(self) -> None:
        if not self.table_exists():
            self.create_table()

    def create_table(self) -> None:
        empty = self.spark.createDataFrame([], VECTOR_TABLE_SCHEMA)
        empty.write.mode("overwrite").parquet(self.path)

    def drop_table(self) -> None:
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        # a crashed write's staging/old copies would otherwise be
        # orphaned full-table snapshots
        shutil.rmtree(self.path + "__staging", ignore_errors=True)
        shutil.rmtree(self.path + "__old", ignore_errors=True)

    def table_exists(self) -> bool:
        _recover_snapshot(self.path)
        return os.path.exists(os.path.join(self.path, "_SUCCESS")) or (
            os.path.isdir(self.path)
            and any(f.endswith(".parquet") for f in os.listdir(self.path))
        )

    # -- state --------------------------------------------------------------
    def df(self) -> DataFrame:
        _recover_snapshot(self.path)
        return self.spark.read.schema(VECTOR_TABLE_SCHEMA).parquet(self.path)

    def _write(self, df: DataFrame) -> None:
        _write_snapshot(self.path, df)

    # -- reads (C1-C6) ------------------------------------------------------
    def id(self, id_: int) -> DataFrame:
        return TO.by_id(self.df(), id_)

    def ids(self, ids_: list[int]) -> DataFrame:
        return TO.by_ids(self.df(), ids_)

    def get(self, post_id: int, sequence_no: int) -> DataFrame:
        return TO.get(self.df(), post_id, sequence_no)

    def get_all_for_post(self, post_id: int) -> DataFrame:
        return TO.get_all_for_post(self.df(), post_id)

    def get_latest_updated(self, post_id: int) -> DataFrame:
        return TO.get_latest_updated(self.df(), post_id)

    def get_all(self) -> DataFrame:
        return TO.get_all(self.df())

    def get_vector_count(self) -> int:
        return TO.vector_count(self.df())

    # -- writes (C7-C9) ------------------------------------------------------
    def _check_length(self, vector: list[float]) -> None:
        """``vector_length`` is load-bearing in the reference (it iterates
        exactly that many bits — VectorTable.php:128); accepting a
        mismatched vector here would pack a different word count and its
        NULL Hamming distance would rank FIRST in search.  Reject early."""
        if self.vector_length and len(vector) != self.vector_length:
            raise ValueError(
                f"vector has {len(vector)} dims; table is declared "
                f"vector_length={self.vector_length}"
            )

    def upsert(
        self,
        post_id: int,
        sequence_no: int,
        vector: list[float],
        vector_type: str = "",
    ) -> None:
        self._check_length(vector)
        table = self.df()
        # upsert keeps every stored row: a replaced key keeps its id
        # through table_ops.upsert's carry, a new key takes max(id) + 1
        first_id = self._next_id(table)
        new = self._new_rows(post_id, [sequence_no], [vector], first_id, vector_type)
        self._commit(TO.upsert(table, new), first_id)

    def insert_all(self, post_id: int, vectors: list[list[float]]) -> None:
        """C8 (VectorTable.php:401-425): replace every chunk of
        ``post_id`` with ``vectors``, numbered 0..n-1.

        Four Spark jobs and no Python worker: the new rows go to the JVM
        as one Arrow batch, and one scalar aggregate over the rows the
        write keeps resolves their ids on the driver (``_next_id``), so
        the commit plan is table_ops.insert_all over two local inputs.
        Only a snapshot that already holds unnumbered rows takes the
        ``_with_ids`` window numbering instead."""
        for v in vectors:
            self._check_length(v)
        table = self.df()
        first_id = self._next_id(
            table.where(~F.col("post_id").eqNullSafe(F.lit(post_id)))
        )
        new = self._new_rows(post_id, range(len(vectors)), vectors, first_id)
        self._commit(TO.insert_all(table, post_id, new), first_id)

    def delete(self, id_: int) -> None:
        self._write(TO.delete(self.df(), id_))

    def _new_rows(
        self,
        post_id: int,
        sequence_nos: list[int] | range,
        vectors: list[list[float]],
        first_id: int | None,
        vector_type: str | None = None,
    ) -> DataFrame:
        """Incoming chunks as a DataFrame built from a ``pyarrow.Table``,
        which the JVM reads directly (a ``LocalTableScan``): a list of
        tuples would become a pickled ``Scan ExistingRDD`` that starts a
        Python worker on every action over the plan.  The ``float32``
        conversion rounds to nearest, overflows to inf and keeps NaN,
        like Java's ``Double.floatValue``.  ``first_id`` numbers the
        rows in the given order; None leaves ``id`` NULL for
        ``_with_ids``."""
        cols = {
            "post_id": pa.array([int(post_id)] * len(vectors), pa.int64()),
            "sequence_no": pa.array([int(s) for s in sequence_nos], pa.int32()),
            "vector": pa.array(
                [[float(x) for x in v] for v in vectors], pa.list_(pa.float32())
            ),
            "vector_type": pa.array([vector_type] * len(vectors), pa.string()),
        }
        if first_id is not None:
            cols["id"] = pa.array(range(first_id, first_id + len(vectors)), pa.int64())
        return self.spark.createDataFrame(pa.table(cols))

    def _next_id(self, kept: DataFrame) -> int | None:
        """AUTO_INCREMENT on the driver: max(id) + 1 over the rows a
        write keeps, from ONE scalar aggregate (a single-row collect).
        None when any kept row is unnumbered — only a snapshot written
        outside the facade has such rows, and numbering them needs
        ``_with_ids``."""
        max_id, unnumbered = kept.agg(
            F.max("id"), F.count_if(F.col("id").isNull())
        ).first()
        return None if unnumbered else (max_id or 0) + 1

    def _commit(self, merged: DataFrame, first_id: int | None) -> None:
        self._write(merged if first_id is not None else self._with_ids(merged))

    def _with_ids(self, df: DataFrame) -> DataFrame:
        """Assign stable surrogate ids to rows missing one (AUTO_INCREMENT
        analog): contiguous ids in (post_id nulls first, sequence_no)
        order starting at max(id) + 1.

        The fallback of the facade writes: ``_next_id`` numbers a
        facade write's new rows on the driver, so this runs only when
        the stored snapshot already holds unnumbered rows (one written
        outside the facade, e.g. raw ``table_ops.derive`` output), and
        then numbers stored and new rows together.

        Scale shape — no global window and no collect: row_number runs
        per ``post_id`` partition; the per-post starting offsets come
        from a window over the tiny per-post count aggregate (rows =
        #posts, not #chunks) broadcast back; max(id) rides the same
        broadcast as a 1-row cross join."""
        from pyspark.sql import Window

        missing = df.where(F.col("id").isNull())
        counts = missing.groupBy("post_id").agg(F.count("*").alias("_n"))
        # bounded(<=#posts): window over the per-post COUNT aggregate —
        # one row per post needing ids, never the chunk table
        w_off = (
            Window.orderBy(F.col("post_id").asc_nulls_first())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # window over the per-post aggregate only: one row per post
        offsets = counts.select(
            F.col("post_id").alias("_off_post"),
            F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset"),
        )
        mx = df.agg(F.coalesce(F.max("id"), F.lit(0)).alias("_max_id"))
        w_local = Window.partitionBy("post_id").orderBy(F.col("sequence_no").asc())
        # eqNullSafe: groupBy keeps a NULL post_id group, so a plain join
        # on post_id would silently DROP missing-id rows with NULL keys
        numbered = (
            missing.join(
                F.broadcast(offsets),
                F.col("post_id").eqNullSafe(F.col("_off_post")),
            )
            .crossJoin(F.broadcast(mx))
            .withColumn(
                "id",
                F.col("_max_id") + F.col("_offset") + F.row_number().over(w_local),
            )
            .drop("_off_post", "_offset", "_max_id")
        )
        return df.where(F.col("id").isNotNull()).unionByName(numbered)

    # -- maintenance ----------------------------------------------------------
    def compact(
        self,
        target_file_bytes: int | None = None,
        sort_by: tuple[str, ...] = ("post_id", "sequence_no"),
    ) -> dict:
        """OPTIMIZE the snapshot: bin-pack small files and cluster on the
        read-path key so C1-C5 point/post lookups prune files by parquet
        min/max stats (operators/maintenance.py).  The MySQL reference
        gets this from InnoDB's clustered primary key for free
        (VectorTable.php:472 PRIMARY KEY (id)); a parquet snapshot has to
        re-establish it after enough incremental writes.  Same crash-safe
        swap as every other write."""
        from wpvectordb_spark.operators import maintenance as M

        return M.compact_table(
            self.spark,
            self.path,
            target_file_bytes=target_file_bytes or M.DEFAULT_TARGET_FILE_BYTES,
            sort_by=list(sort_by),
        )

    # -- search (S1-S8) ------------------------------------------------------
    def search(
        self,
        vector: list[float],
        n: int = S.DEFAULT_N,
        builder=None,
        documents: DataFrame | None = None,
        doc_meta: DataFrame | None = None,
    ) -> DataFrame:
        # a mismatched query dimension packs a different word count,
        # nulls every Hamming distance, and silently returns arbitrary
        # rows — the same reject-early rule as the write path
        self._check_length(vector)
        return S.search(
            self.df(),
            [float(x) for x in vector],
            n=n,
            builder=builder,
            documents=documents,
            doc_meta=doc_meta,
        )


class VectorTableQueue:
    """Parquet-backed job queue with the reference's method surface
    (VectorTableQueue.php:20-447)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = _check_local_path(path)

    def init(self) -> None:
        # same existence rule as VectorTable.table_exists: a bare
        # pre-created directory (deployment mkdir, crash debris) must
        # still get the schema'd empty snapshot
        _recover_snapshot(self.path)
        has_data = os.path.exists(os.path.join(self.path, "_SUCCESS")) or (
            os.path.isdir(self.path)
            and any(f.endswith(".parquet") for f in os.listdir(self.path))
        )
        if not has_data:
            self.spark.createDataFrame([], QUEUE_SCHEMA).write.mode("overwrite").parquet(self.path)

    def df(self) -> DataFrame:
        _recover_snapshot(self.path)
        return self.spark.read.schema(QUEUE_SCHEMA).parquet(self.path)

    def _write(self, df: DataFrame) -> None:
        _write_snapshot(self.path, df)

    def _next_job_id(self) -> int:
        return ((self.df().agg(F.max("job_id")).collect()[0][0]) or 0) + 1

    def add_post(self, post_id: int, now: _dt.datetime | None = None) -> None:
        self.add_posts([post_id], now)

    def add_posts(self, post_ids: list[int], now: _dt.datetime | None = None) -> None:
        now = now or _utcnow()
        base = self._next_job_id()
        # Arrow-built, like VectorTable._new_rows: no pickled RDD scan
        jobs = self.spark.createDataFrame(
            pa.table({
                "job_id": pa.array(range(base, base + len(post_ids)), pa.int64()),
                "post_id": pa.array([int(p) for p in post_ids], pa.int64()),
            })
        )
        self._write(Q.add_posts(self.df(), jobs, now))

    def get_next_batch(
        self, batch_size: int = Q.BATCH_SIZE, now: _dt.datetime | None = None
    ) -> DataFrame:
        """Returns the PRE-claim snapshot of the batch rows (status still
        pending/failed, start_time NULL) while the persisted state flips
        them to processing — reference parity: the PHP SELECT-then-UPDATE
        returns the selected rows as they were
        (VectorTableQueue.php:186-223).  Re-read the table for the
        post-claim view."""
        now = now or _utcnow()
        claimed_rows = Q.dequeue_priority(self.df(), batch_size).collect()
        if claimed_rows:
            # rebuild the state from the ALREADY-collected ids — embedding
            # dequeue_priority in the rewrite would run the whole-queue
            # priority sort a second time.  Nothing claimed = no rewrite:
            # an idle polling worker must not pay (or crash-risk) a full
            # snapshot swap per empty poll.
            self._write(
                Q.mark_processing(self.df(), [r["job_id"] for r in claimed_rows], now)
            )
        return self.spark.createDataFrame(claimed_rows, QUEUE_SCHEMA)

    def update_status(
        self,
        job_ids: list[int],
        status: str,
        error_message: str | None = None,
        now: _dt.datetime | None = None,
    ) -> None:
        now = now or _utcnow()
        self._write(Q.update_status(self.df(), job_ids, status, now, error_message))

    def get_stats(self) -> dict[str, int]:
        return {r["status"]: r["n"] for r in Q.stats(self.df()).collect()}

    def cleanup(self, now: _dt.datetime | None = None) -> None:
        now = now or _utcnow()
        self._write(Q.cleanup(self.df(), now))

    def get_posts_to_retry(self) -> DataFrame:
        return Q.posts_to_retry(self.df())

    def reset_post(self, post_id: int) -> None:
        self._write(Q.reset_post(self.df(), post_id))

    def delete_post(self, post_id: int) -> None:
        self._write(Q.delete_post(self.df(), post_id))

    def delete_record(self, job_id: int) -> None:
        self._write(Q.delete_record(self.df(), job_id))

    def compact(self, target_file_bytes: int | None = None) -> dict:
        """OPTIMIZE the queue snapshot, clustered on job_id (the claim /
        update / delete key).  Long-lived queues accumulate one rewrite's
        worth of files per mutation; scheduled compaction keeps listing
        and scan cost flat (operators/maintenance.py)."""
        from wpvectordb_spark.operators import maintenance as M

        return M.compact_table(
            self.spark,
            self.path,
            target_file_bytes=target_file_bytes or M.DEFAULT_TARGET_FILE_BYTES,
            sort_by=["job_id"],
        )

    def get_page_of_records(
        self, page: int, per_page: int = Q.PAGE_SIZE, documents: DataFrame | None = None
    ) -> DataFrame:
        return Q.page_of_records(self.df(), page, per_page, documents)

    def get_total_records(self) -> int:
        return Q.total_records(self.df())
