"""The one stream-start helper (`events._start_stream`): state partitions
sized to the session's cores, session confs restored after a start that
succeeds or fails, both full-outer arms stopped when one fails, and the
stream-join bucket keys on event times before 1970."""
from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from gdalos_spark.datamodel import epoch_micros
from gdalos_spark.streaming import events as SE
from tests.conftest import SF_DIR

SP = "spark.sql.shuffle.partitions"


@pytest.fixture
def oversized_partitions(spark):
    """More shuffle partitions than cores, so the state-partition rule
    has something to cut on any host."""
    old = spark.conf.get(SP)
    spark.conf.set(SP, str(spark.sparkContext.defaultParallelism + 3))
    yield spark
    spark.conf.set(SP, old)


def _confs(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in (SP, SE._STATE_PROVIDER_CONF)}


@pytest.mark.parametrize("key, query_name", [
    ("streaming_dedup", SE.DEDUP_QUERY_NAME),
    # heavy_state: RocksDB provider flip, two concurrent arms
    ("streaming_stream_full_outer_join", SE.SSFOJ_QUERY_NAME),
])
def test_state_partitions_follow_cores(oversized_partitions, key, query_name):
    spark = oversized_partitions
    before = _confs(spark)
    entrymod.queries()[key](spark, SF_DIR).collect()
    assert _confs(spark) == before
    want = min(int(before[SP]), spark.sparkContext.defaultParallelism)
    rows = SE.LAST_STATE_METRICS[query_name]
    assert rows and {r["shuffle_partitions"] for r in rows} == {want}
    # the full-outer entry merges its arms; their own entries are dropped
    assert not {f"{query_name}_l", f"{query_name}_r"} & SE.LAST_STATE_METRICS.keys()


def test_failed_start_restores_confs(oversized_partitions):
    spark = oversized_partitions
    before = _confs(spark)
    writer = spark.readStream.format("rate").load().writeStream.format("no.such.sink")
    with pytest.raises(Exception):
        SE._start_stream(spark, writer, "gdalos_test_bad_start", heavy_state=True)
    assert _confs(spark) == before
    assert not spark.streams.active


def test_full_outer_arm_failure_stops_both_arms(spark, monkeypatch):
    def fail(q):
        raise RuntimeError("await failed")

    monkeypatch.setattr(SE, "_await_done", fail)
    with pytest.raises(RuntimeError, match="await failed"):
        SE.streaming_stream_full_outer_join(spark, SF_DIR)
    assert not spark.streams.active


def test_stream_join_buckets_hold_before_1970(spark, tmp_path):
    """The bucketed stream join equals the plain batch range join on a
    tiny file of clicks and purchases around and before the epoch,
    including pairs that straddle a bucket boundary and the epoch. The
    join's plan runs as a batch here: a streaming run starts from
    watermark 0 and drops every event at or before the epoch as late."""
    assert [r[0] for r in spark.sql(
        f"SELECT {SE._floor_div('x', 4)} FROM VALUES (-5), (-4), (-1), (0), (3) t(x)"
    ).collect()] == [-2, -1, -1, 0, 0]
    h = 3600
    spec = [  # (user, type, seconds from the epoch)
        (1, "click", -4 * h - 600), (1, "purchase", -4 * h + 600),
        (1, "click", -5 * h), (1, "purchase", -h),
        (2, "click", -1800), (2, "purchase", 1800),
        (2, "click", -8 * h - 1), (2, "purchase", -4 * h - 1),
        (3, "click", -12 * h + 5), (3, "purchase", -8 * h),
        (3, "click", -20 * h), (3, "purchase", -15 * h),
    ]
    epoch = dt.datetime(1970, 1, 1)
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(spec)), pa.int64()),
        "ts": pa.array(
            [epoch + dt.timedelta(seconds=s, microseconds=7 * i)
             for i, (_, _, s) in enumerate(spec)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([u for u, _, _ in spec], pa.int64()),
        "event_type": [t for _, t, _ in spec],
    }), path)

    got = SE._ssjoin_plan(lambda: spark.read.parquet(path)).collect()

    ev = spark.read.parquet(path)
    ev = ev.select("user_id", "event_id", "event_type", epoch_micros(ev).alias("us"))
    c, p = ev.filter("event_type = 'click'").alias("c"), ev.filter("event_type = 'purchase'").alias("p")
    range_us = SE.SSJOIN_RANGE_H * 3600 * 1_000_000
    want = c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.us") <= F.col("p.us"))
        & (F.col("c.us") >= F.col("p.us") - range_us),
    ).select(
        F.col("c.user_id"), F.col("c.event_id"), F.col("p.event_id"),
        F.expr("(p.us - c.us) div 1000000"),
    ).collect()
    assert len(want) == 5
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
