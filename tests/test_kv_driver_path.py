"""KV engine driver path: collections whose log fits under
`materialize_threshold` are flushed, promoted and compacted with pyarrow
on the driver. These tests pin that the driver compaction equals the
Spark one, that the small-collection lifecycle runs no Spark job, and
that a flush's temp file never becomes part of the log."""

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gotsdb_spark.storage.engine import LOG_SCHEMA, Engine

T0 = dt.datetime(2024, 1, 1, 12, 0, tzinfo=dt.timezone.utc)


def test_driver_compaction_matches_spark(spark, tmp_path):
    """One log mixing a Spark-written segment (INT96 write_ts) and a
    pyarrow one (µs UTC, no column statistics): the driver's
    latest-per-key rows equal `Engine._compacted` over the same files,
    and the seq floor finds the max seq in the stats-less segment."""
    data = str(tmp_path / "data")
    path = os.path.join(data, "mix")
    naive = T0.replace(tzinfo=None)
    spark.createDataFrame(
        [
            ("tie", "spark-seq1", naive, 1),
            ("nullts", "null-ts-loses", None, 9),
            ("tsfirst", "newer-ts-wins", naive + dt.timedelta(seconds=1), 1),
            ("solo", "only-row", None, 4),
        ],
        LOG_SCHEMA,
    ).write.parquet(path)
    assert pq.ParquetFile(
        next(os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-"))
    ).schema.column(2).physical_type == "INT96"
    schema = pa.schema(
        [
            ("key", pa.string()),
            ("value", pa.string()),
            ("write_ts", pa.timestamp("us", tz="UTC")),
            ("seq", pa.int64()),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"key": "tie", "value": "arrow-seq2", "write_ts": T0, "seq": 2},
                {"key": "nullts", "value": "dated-wins", "write_ts": T0, "seq": 3},
                {"key": "tsfirst", "value": "older-ts-loses", "write_ts": T0, "seq": 17},
            ],
            schema=schema,
        ),
        os.path.join(path, "part-arrow.parquet"),
        write_statistics=False,
    )

    want = Engine(spark, data)._compacted(spark.read.schema(LOG_SCHEMA).parquet(path))
    want_rows = sorted(tuple(r) for r in want.collect())
    assert {r[0]: r[1] for r in want_rows} == {
        "tie": "arrow-seq2",
        "nullts": "dated-wins",
        "tsfirst": "newer-ts-wins",
        "solo": "only-row",
    }

    engine = Engine(spark, data)
    engine.load_collection("mix")
    assert engine._hot_dict["mix"] == {r[0]: r[1] for r in want_rows}
    snap = engine.snapshot("mix")
    assert snap.schema == LOG_SCHEMA
    assert sorted(tuple(r) for r in snap.collect()) == want_rows
    assert engine._log_seq_floor("mix") == 17


def _lifecycle_jobs(spark, data: str, threshold: int) -> int:
    """Spark jobs run by write/flush/promote/read/compact of a 20-key
    collection."""
    sc = spark.sparkContext
    group = f"kv-lifecycle-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "kv lifecycle")
    try:
        e1 = Engine(spark, data, materialize_threshold=threshold)
        for i in range(20):
            e1.write_key("c", f"k{i}", f"v{i}")
        e1.flush_collection("c")
        e2 = Engine(spark, data, materialize_threshold=threshold)
        assert e2.read_key("c", "k3") == "v3"  # cold promotion
        e2.write_key("c", "k3", "new")
        e2.flush_collection("c")
        e2.compact("c")
        assert e2.read_key("c", "k3") == "new"
        assert e2.read_key("c", "k4") == "v4"
        e2.snapshot("c")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_collection_lifecycle_runs_no_spark_job(spark, tmp_path):
    assert _lifecycle_jobs(spark, str(tmp_path / "small"), 1_000_000) == 0
    # Above the threshold the same sequence goes through Spark, so the
    # job count above is a real observation.
    assert _lifecycle_jobs(spark, str(tmp_path / "large"), 10) >= 1


def test_flush_temp_file_is_never_read(spark, tmp_path):
    """A flush killed before its rename leaves a dot-prefixed temp file;
    Spark, pyarrow and a fresh Engine all skip it, and every flush adds
    exactly one visible parquet file."""
    data = str(tmp_path / "data")
    path = os.path.join(data, "c")

    def visible():
        return [f for f in os.listdir(path) if f.endswith(".parquet") and f[0] not in "._"]

    e = Engine(spark, data)
    e.write_key("c", "a", "1")
    e.write_key("c", "b", "2")
    e.flush_collection("c")
    assert len(visible()) == 1
    with open(os.path.join(path, f".part-{uuid.uuid4().hex}.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 torn write")
    e.write_key("c", "a", "3")
    e.flush_collection("c")
    assert len(visible()) == 2

    assert spark.read.parquet(path).count() == 3
    assert ds.dataset(path, format="parquet").count_rows() == 3
    fresh = Engine(spark, data)
    assert fresh.read_key("c", "a") == "3"
    assert fresh.read_key("c", "b") == "2"
    fresh.write_key("c", "b", "4")
    fresh.flush_collection("c")
    assert len(visible()) == 3
    assert Engine(spark, data).read_key("c", "b") == "4"
