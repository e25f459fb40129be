"""The Parquet schema memo never serves a stale schema, and the
job-free row counts and events readers agree with the Spark actions
they replace."""

import datetime as dt

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from vfs_spark.queries.graph import _edges
from vfs_spark.sources.parquet import (
    load_table,
    parquet_row_count,
    parquet_schema,
    table_path,
)
from vfs_spark.streaming.ingest import read_event_stream


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    """A table rewritten in place with another schema is read with the
    new schema and rows, even though the old one is memoized."""
    sf = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2, 3]}), table_path(sf, "region"))
    assert load_table(spark, sf, "region").columns == ["k"]
    assert sorted(r[0] for r in load_table(spark, sf, "region").collect()) == [1, 2, 3]

    pq.write_table(
        pa.table({"name": ["a", "b"], "w": [0.5, 1.5]}), table_path(sf, "region")
    )
    df = load_table(spark, sf, "region")
    assert df.schema == T.StructType(
        [
            T.StructField("name", T.StringType(), True),
            T.StructField("w", T.DoubleType(), True),
        ]
    )
    assert sorted(tuple(r) for r in df.collect()) == [("a", 0.5), ("b", 1.5)]


def test_memoized_schema_equals_inferred(spark, sf_dir):
    """The memoized schema is what Spark infers from the same files."""
    for name in ("documents", "embeddings", "lineitem"):
        path = table_path(sf_dir, name)
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_empty_directory_raises(spark, tmp_path):
    """Inference errors propagate; nothing is memoized for them."""
    with pytest.raises(Exception):
        parquet_schema(spark, str(tmp_path))


def test_edges_footer_count_equals_count(spark, sf_dir):
    """The documents footer count that sizes the link graph equals
    ``count()``, and the graph built from it equals the counted one."""
    docs = load_table(spark, sf_dir, "documents")
    n = parquet_row_count(table_path(sf_dir, "documents"))
    assert n == docs.count()
    assert sorted(_edges(docs, n).collect()) == sorted(_edges(docs).collect())


_T0 = dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)
_OFFSETS_US = (0, 1_500_000, 3_600_000_007)


def _events(ts_type: pa.DataType, unit_scale: int) -> pa.Table:
    t0 = int(_T0.timestamp()) * 10**6
    ts = pa.array([t0 + m for m in _OFFSETS_US], pa.int64())
    return pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pc.multiply(ts, unit_scale).cast(ts_type),
            "user_id": pa.array([7, 8, 9], pa.int64()),
            "event_type": ["click", "view", "click"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }
    )


@pytest.mark.parametrize(
    "ts_type, unit_scale",
    [(pa.timestamp("ns"), 1000), (pa.timestamp("us"), 1)],
    ids=["nanos", "micros"],
)
def test_stream_and_batch_events_readers_agree(spark, tmp_path, ts_type, unit_scale):
    """The file stream and the batch loader normalize the events ``ts``
    to the same type for a nanos-encoded and a timestamp[us] file, and
    the batch values keep microsecond precision."""
    sf = str(tmp_path)
    pq.write_table(_events(ts_type, unit_scale), table_path(sf, "events"))
    batch = load_table(spark, sf, "events")
    stream = read_event_stream(spark, sf)
    assert batch.schema["ts"].dataType == T.TimestampType()
    assert stream.schema["ts"].dataType == batch.schema["ts"].dataType
    got = sorted(r["ts"] for r in batch.select("ts").collect())
    # collected TIMESTAMPs come back as naive local datetimes
    assert got == [
        (_T0 + dt.timedelta(microseconds=m)).astimezone().replace(tzinfo=None)
        for m in _OFFSETS_US
    ]
