"""The custom Python DataSource (synthetic_events): registration, the
partitioned-read contract, and exact determinism across reads."""

import pytest
from pyspark.sql import functions as F

from map_reduce_go_spark.sources.synthetic import (
    EVENT_TYPES,
    SyntheticEventsDataSource,
    _row,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(SyntheticEventsDataSource)
    return spark


def _load(spark, **opts):
    r = spark.read.format("synthetic_events")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_row_count_and_schema(registered):
    df = _load(registered, rows=5000, partitions=8, users=100)
    assert df.count() == 5000
    assert df.columns == ["event_id", "ts", "user_id", "event_type", "value"]
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_partition_contract(registered):
    df = _load(registered, rows=1000, partitions=7)
    assert df.rdd.getNumPartitions() == 7
    # Every row generated exactly once across partitions.
    assert df.select("event_id").distinct().count() == 1000


def test_deterministic_across_reads(registered):
    a = sorted(map(tuple, _load(registered, rows=2000, partitions=4).collect()))
    b = sorted(map(tuple, _load(registered, rows=2000, partitions=16).collect()))
    assert a == b  # same data regardless of partitioning
    # Spot-check against the pure-Python generator.
    want = _row(1234, 50)
    got = next(
        iter(
            _load(registered, rows=2000, partitions=4)
            .where(F.col("event_id") == 1234)
            .collect()
        )
    )
    assert (got[0], got[2], got[3], got[4]) == (want[0], want[2], want[3], want[4])
    assert got[1] == want[1]


def test_source_feeds_engine_operators(registered):
    """The generated frame must flow through the engine's own event
    operators — e.g. the funnel — like any other events-shaped input."""
    from map_reduce_go_spark.plans.funnel import funnel_over

    df = _load(registered, rows=20000, partitions=8, users=200)
    out = funnel_over(df)
    assert out.count() > 0
    assert out.where(F.col("view_epoch").isNull()).count() == 0
    types = {r["event_type"] for r in df.select("event_type").distinct().collect()}
    assert types == set(EVENT_TYPES)


def test_stream_reader_one_batch(registered, tmp_path):
    """The streaming form must emit exactly the first rowsPerBatch rows of
    the deterministic sequence in its first micro-batch."""
    import uuid

    name = f"syn_{uuid.uuid4().hex[:8]}"
    stream = (
        registered.readStream.format("synthetic_events")
        .option("rowsPerBatch", 64)
        .option("users", 50)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(once=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, registered.table(name).collect()))
    want = sorted(_row(r, 50) for r in range(64))
    assert [g[0] for g in got] == [w[0] for w in want]
    assert got == want

