"""End-to-end facade tests: the reference's class API driven through a
full lifecycle over parquet-backed state."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wpvectordb_spark.table import VectorTable, VectorTableQueue


def test_vector_table_lifecycle(spark, tmp_path):
    vt = VectorTable(spark, str(tmp_path / "vectors"), vector_length=4)
    vt.init()
    assert vt.table_exists()
    assert vt.get_vector_count() == 0

    # insert_all: document with 2 chunks
    vt.insert_all(100, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    assert vt.get_vector_count() == 2
    chunks = vt.get_all_for_post(100).orderBy("sequence_no").collect()
    assert [c["sequence_no"] for c in chunks] == [0, 1]
    assert chunks[0]["magnitude"] == pytest.approx(1.0)
    assert chunks[0]["binary_code"] == [8]  # bits 1000 -> 8

    # upsert replaces one chunk, derived columns refresh
    vt.upsert(100, 0, [3.0, 4.0, 0.0, 0.0])
    got = vt.get(100, 0).collect()[0]
    assert got["magnitude"] == pytest.approx(5.0)
    assert vt.get_vector_count() == 2

    # point reads
    some_id = vt.get_all().collect()[0]["id"]
    assert vt.id(some_id).count() == 1
    assert vt.ids([some_id]).count() == 1
    assert vt.get_latest_updated(100).count() == 1

    # search end-to-end over stored index
    top = vt.search([3.0, 4.0, 0.0, 0.0], n=1).collect()
    assert top[0]["post_id"] == 100
    assert top[0]["cosine_similarity"] == pytest.approx(1.0, abs=1e-9)

    # delete + drop
    vt.delete(some_id)
    assert vt.get_vector_count() == 1
    vt.drop_table()
    assert not vt.table_exists()


def test_vector_table_replacement_semantics(spark, tmp_path):
    vt = VectorTable(spark, str(tmp_path / "v2"), vector_length=2)
    vt.init()
    vt.insert_all(7, [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])
    assert vt.get_all_for_post(7).count() == 3
    vt.insert_all(7, [[9.0, 9.0]])  # document replacement (C8)
    assert vt.get_all_for_post(7).count() == 1


def test_queue_lifecycle(spark, tmp_path):
    q = VectorTableQueue(spark, str(tmp_path / "queue"))
    q.init()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    q.add_posts([10, 20, 30], now=t0)
    q.add_post(20, now=t0)  # duplicate -> dropped
    assert q.get_total_records() == 3
    assert q.get_stats() == {"completed": 0, "failed": 0, "pending": 3, "processing": 0}

    batch = q.get_next_batch(2, now=t0 + dt.timedelta(minutes=1))
    assert batch.count() == 2
    assert q.get_stats() == {"completed": 0, "failed": 0, "pending": 1, "processing": 2}

    claimed_ids = [r["job_id"] for r in batch.collect()]
    q.update_status([claimed_ids[0]], "completed", now=t0 + dt.timedelta(minutes=2))
    q.update_status([claimed_ids[1]], "failed", "boom", now=t0 + dt.timedelta(minutes=2))
    st = q.get_stats()
    assert st["completed"] == 1 and st["failed"] == 1

    retry = q.get_posts_to_retry().collect()
    assert [r["job_id"] for r in retry] == [claimed_ids[1]]

    q.reset_post(30)
    q.delete_record(claimed_ids[0])
    assert q.get_total_records() == 2
    page = q.get_page_of_records(1, per_page=10)
    assert page.count() == 2


def test_snapshot_swap_is_crash_safe(spark, tmp_path):
    """At every instant of a snapshot rewrite, at least one full copy of
    the table exists on disk (old or new) — the delete-then-rename order
    lost the table if the process died in the gap, and init() would then
    recreate it EMPTY."""
    import os

    from wpvectordb_spark import table as TBL

    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1,)], "x long")
    df2 = spark.createDataFrame([(2,)], "x long")
    TBL._write_snapshot(path, df1)
    real_rename = os.rename
    seen = []

    def spy(a, b):
        # before each rename, SOME readable copy of the data must exist
        seen.append(
            os.path.exists(path) or os.path.exists(path + "__old")
            or os.path.exists(path + "__staging")
        )
        real_rename(a, b)

    os.rename = spy
    try:
        TBL._write_snapshot(path, df2)
    finally:
        os.rename = real_rename
    assert seen and all(seen)
    assert [r["x"] for r in spark.read.parquet(path).collect()] == [2]
    assert not os.path.exists(path + "__old")


def test_facade_guards(spark, tmp_path):
    import pytest as _pytest

    from wpvectordb_spark.table import VectorTable, VectorTableQueue

    with _pytest.raises(ValueError, match="LOCAL"):
        VectorTable(spark, "s3a://bucket/vectors")
    with _pytest.raises(ValueError, match="LOCAL"):
        VectorTableQueue(spark, "hdfs://nn/queue")
    vt = VectorTable(spark, str(tmp_path / "v"), vector_length=4)
    vt.init()
    with _pytest.raises(ValueError):
        vt.search([0.1] * 3)  # dimension mismatch rejected, not NULL-ranked
    # queue init seeds a schema'd snapshot even into a pre-created bare dir
    qdir = tmp_path / "q"
    qdir.mkdir()
    q = VectorTableQueue(spark, str(qdir))
    q.init()
    assert q.get_total_records() == 0


def test_file_uri_normalized_to_local_path(spark, tmp_path):
    """file:// URIs are stripped to plain local paths: os.path-based
    existence checks must see the same table Spark writes — the raw URI
    made table_exists() False and init() overwrote the data."""
    import pytest as _pytest

    plain = str(tmp_path / "vectors")
    vt_uri = VectorTable(spark, f"file://{plain}", vector_length=4)
    assert vt_uri.path == plain
    vt_uri.init()
    vt_uri.insert_all(1, [[1.0, 0.0, 0.0, 0.0]])
    assert vt_uri.table_exists()
    # a second handle via the URI must NOT see the table as absent
    vt2 = VectorTable(spark, f"file://{plain}", vector_length=4)
    assert vt2.table_exists()
    vt2.init()  # must be a no-op, not an overwrite
    assert vt2.get_vector_count() == 1
    # non-local authority is remote storage in disguise
    with _pytest.raises(ValueError, match="authority"):
        VectorTable(spark, "file://other-host/data/v")
    # Hadoop/Spark canonicalize local paths to the SINGLE-slash URI form
    # (file:/x) — it must normalize like file:///x, and single-slash
    # remote schemes must still be refused (not treated as relative paths)
    assert VectorTable(spark, f"file:{plain}", vector_length=4).path == plain
    with _pytest.raises(ValueError, match="LOCAL"):
        VectorTable(spark, "hdfs:/data/v")
    with _pytest.raises(ValueError, match="LOCAL"):
        VectorTableQueue(spark, "s3a:/bucket/q")
    # a Windows drive path is a LOCAL path, not a scheme-'C' URI (no
    # registered URI scheme is one letter); slashless file: is neither a
    # canonical URI nor a plain path — refused, not a literal filename
    from wpvectordb_spark.table import _check_local_path

    assert _check_local_path("C:/data/vectors") == "C:/data/vectors"
    with _pytest.raises(ValueError, match="malformed"):
        _check_local_path("file:relative/path")


def test_snapshot_old_copy_recovered_after_crash(spark, tmp_path):
    """A kill between 'rename old aside' and 'rename staging in' leaves
    only path__old: every facade entry point must rename it back instead
    of recreating the table empty (and then gc'ing the only copy)."""
    import os

    path = str(tmp_path / "vectors")
    vt = VectorTable(spark, path, vector_length=4)
    vt.init()
    vt.insert_all(7, [[1.0, 0.0, 0.0, 0.0]])
    # simulate the crash window: snapshot renamed aside, new never landed
    os.rename(path, path + "__old")
    assert vt.table_exists()  # recovery happened
    assert not os.path.exists(path + "__old")
    assert vt.get_vector_count() == 1
    vt.init()  # still a no-op after recovery
    assert vt.get_vector_count() == 1
    # same for the queue facade
    qpath = str(tmp_path / "queue")
    q = VectorTableQueue(spark, qpath)
    q.init()
    q.add_post(42)
    os.rename(qpath, qpath + "__old")
    assert q.get_total_records() == 1
    # and a write-first sequence (no read between crash and write)
    os.rename(qpath, qpath + "__old")
    q.add_post(43)
    assert q.get_total_records() == 2


def _jobs_in(spark, group, fn):
    """Spark jobs started while ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_facade_writes_commit_in_few_jobs_without_python_workers(
    spark, tmp_path, monkeypatch
):
    """A facade write into a populated table costs one scalar id
    aggregate plus the commit itself: insert_all <= 4 Spark jobs (9 when
    the rows were pickled and numbered by windows), upsert <= 5 (11-15).
    The new rows reach the JVM as an Arrow batch, so the commit plan has
    no pickled ``Scan ExistingRDD`` and starts no Python worker."""
    from wpvectordb_spark.operators import table_ops as TO

    path = str(tmp_path / "vectors")
    TO.derive(
        spark.range(400).select(
            (F.col("id") + 1).alias("id"),
            (F.col("id") % 100).alias("post_id"),
            (F.col("id") / 100).cast("int").alias("sequence_no"),
            F.array(*[F.sin(F.col("id") + k).cast("float") for k in range(4)]).alias(
                "vector"
            ),
        )
    ).write.parquet(path)
    vt = VectorTable(spark, path, vector_length=4)
    plans = []
    write = VectorTable._write

    def spy(self, df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        write(self, df)

    monkeypatch.setattr(VectorTable, "_write", spy)
    vecs = [[0.1, 0.2, 0.3, 0.4], [0.5, 0.6, 0.7, 0.8], [1.0, 0.0, 1.0, 0.0]]
    assert 1 <= _jobs_in(spark, "facade-insert-all", lambda: vt.insert_all(7, vecs)) <= 4
    assert 1 <= _jobs_in(spark, "facade-upsert-new", lambda: vt.upsert(500, 0, vecs[0])) <= 5
    assert 1 <= _jobs_in(spark, "facade-upsert-old", lambda: vt.upsert(8, 2, vecs[1])) <= 5
    assert len(plans) == 3
    for plan in plans:
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan
    got = {(r["post_id"], r["sequence_no"]): r["id"] for r in vt.df().collect()}
    assert len(got) == 400 - 4 + 3 + 1
    assert [got[(7, s)] for s in range(3)] == [401, 402, 403]
    assert got[(500, 0)] == 404
    assert got[(8, 2)] == 209  # a replaced key keeps its id


def _unnumbered_snapshot(spark, path):
    """A snapshot holding rows with NULL ``id``: ``table_ops.derive``
    output written without an id column (as a pipeline outside the facade
    would), next to one numbered row.  Read through VECTOR_TABLE_SCHEMA,
    the id-less file's rows come back unnumbered."""
    from wpvectordb_spark.operators import table_ops as TO

    raw = "post_id long, sequence_no int, vector array<float>"
    TO.derive(
        spark.createDataFrame([(10, 1, 0, [1.0, 1.0])], "id long, " + raw)
    ).write.parquet(path)
    TO.derive(
        spark.createDataFrame(
            [
                (5, 1, [0.0, 1.0]),
                (5, 0, [1.0, 0.0]),
                (None, 0, [2.0, 0.0]),
                (2, 3, [0.0, 2.0]),
            ],
            raw,
        )
    ).write.mode("append").parquet(path)


def test_writes_number_an_unnumbered_snapshot(spark, tmp_path):
    """Fallback numbering: when stored rows lack ids, a write numbers the
    stored and the new unnumbered rows together, contiguous from
    max(id) + 1 in (post_id nulls first, sequence_no) order."""
    path = str(tmp_path / "v")
    vt = VectorTable(spark, path, vector_length=2)
    ids = lambda: {(r["post_id"], r["sequence_no"]): r["id"] for r in vt.df().collect()}

    _unnumbered_snapshot(spark, path)
    vt.insert_all(5, [[3.0, 3.0]])
    assert ids() == {(1, 0): 10, (None, 0): 11, (2, 3): 12, (5, 0): 13}

    vt.drop_table()
    _unnumbered_snapshot(spark, path)
    vt.upsert(2, 3, [4.0, 4.0])  # replaces a stored unnumbered key
    assert ids() == {(1, 0): 10, (None, 0): 11, (2, 3): 12, (5, 0): 13, (5, 1): 14}
    vt.upsert(8, 0, [5.0, 5.0])  # snapshot now fully numbered
    assert ids()[(8, 0)] == 15


def test_insert_all_edge_inputs(spark, tmp_path):
    """An empty batch still deletes every chunk of the post; integers,
    NaN and values outside float32 range store as Java's
    ``Double.floatValue`` gives them (round to nearest, overflow to
    +-inf, underflow to 0 or a subnormal, NaN kept)."""
    import math

    import numpy as np

    vt = VectorTable(spark, str(tmp_path / "v"), vector_length=9)
    vt.init()
    odd = [1, -3, 2**24 + 1, float("nan"), 1e40, -1e40, 1e-50, 1e-40, 0.1]
    vt.insert_all(1, [[0.5] * 9, [0.25] * 9])
    vt.insert_all(2, [odd])
    vt.insert_all(1, [])
    assert vt.get_all_for_post(1).count() == 0
    (row,) = vt.get_all_for_post(2).collect()
    with np.errstate(over="ignore"):
        want = [float(np.float32(float(x))) for x in odd]
    assert want[2] == 16777216.0 and want[4] == math.inf and want[6] == 0.0
    got = row["vector"]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (math.isnan(g) and math.isnan(w)) or g == w
    assert row["id"] == 3
