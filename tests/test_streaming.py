"""Structured Streaming stream-stream join (availableNow trigger, memory
sink) -- beyond-reference addition; batch/stream parity asserted."""


def test_stream_stream_conversion_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (click -> purchase pairs
    within 30 min) emits exactly the batch join's pairs."""
    import datetime as dt

    from redactify_spark.streaming.joins import conversion_pairs_stream

    def ts(minute):
        return dt.datetime(2024, 1, 1, 10 + minute // 60, minute % 60)

    rows = [
        (0, 1, "click", ts(0)),
        (1, 1, "purchase", ts(10)),    # pair (0, 1)
        (2, 1, "purchase", ts(29)),    # pair (0, 2): still inside 30 min
        (3, 1, "purchase", ts(31)),    # outside the window
        (4, 2, "click", ts(5)),
        (5, 2, "view", ts(6)),         # wrong type
        (6, 3, "purchase", ts(7)),     # wrong user for click 4
        (7, 2, "click", ts(50)),
        (8, 2, "purchase", ts(55)),    # pairs with click 7 only
    ]
    d = str(tmp_path / "ev")
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    df.repartition(3).write.mode("overwrite").parquet(d)

    batch = conversion_pairs_stream(spark.read.parquet(d))
    want = {(r.user_id, r.click_id, r.purchase_id, r.delay_us)
            for r in batch.collect()}
    assert want == {(1, 0, 1, 10 * 60_000_000),
                    (1, 0, 2, 29 * 60_000_000),
                    (2, 7, 8, 5 * 60_000_000)}

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    out = conversion_pairs_stream(stream)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("conv_pairs")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.click_id, r.purchase_id, r.delay_us)
           for r in spark.sql("select * from conv_pairs").collect()}
    assert got == want
