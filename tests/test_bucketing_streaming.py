"""Streaming watermark windows match the batch result."""

from pii_detection_redaction_spark.streaming.windows import windowed_event_counts


def test_streaming_windowed_counts_match_batch(spark, sf001_dir, tmp_path):
    import os

    src = tmp_path / "ev_in"
    src.mkdir()
    os.symlink(f"{sf001_dir}/events.parquet", src / "part-0.parquet")

    batch = spark.read.parquet(f"{sf001_dir}/events.parquet")
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(batch).collect()
    }

    stream = (
        spark.readStream.schema(batch.schema).format("parquet").load(str(src))
    )
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from win_counts").collect()
    }
    assert got == expected
    assert len(got) > 10
