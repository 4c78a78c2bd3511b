"""Spark-native streaming dedup: ``dropDuplicatesWithinWatermark``
suppresses a repeated key across micro-batches of separate query runs
that share a checkpoint, with its state bounded by the watermark.
"""

from __future__ import annotations


def test_drop_duplicates_within_watermark_across_batches(spark, tmp_path):
    """Spark-native streaming dedup: dropDuplicatesWithinWatermark keeps
    one row per dvj_id while its state lives, across micro-batches —
    the engine-level alternative to the snapshot-store repeated-key
    suppression the poller implements (state bounded by the watermark
    instead of growing forever like the reference's in-memory list)."""
    import datetime as dt

    src = str(tmp_path / "dsrc")
    ckpt = str(tmp_path / "dckpt")
    sink = str(tmp_path / "dsink")

    def write(rows):
        spark.createDataFrame(
            [(k, dt.datetime(2024, 1, 1, 10, m)) for k, m in rows],
            "dvj_id string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema("dvj_id string, ts timestamp")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["dvj_id"])
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(
            (r.dvj_id, r.ts.minute) for r in spark.read.parquet(sink).collect()
        )

    # batch 1: duplicate "a" inside one batch collapses to its first row
    write([("a", 0), ("a", 1), ("b", 2)])
    assert run() == [("a", 0), ("b", 2)]

    # batch 2 (fresh query, same checkpoint): "a" again within the
    # watermark -> suppressed by recovered state; "c" is new
    write([("a", 3), ("c", 5)])
    assert run() == [("a", 0), ("b", 2), ("c", 5)]
