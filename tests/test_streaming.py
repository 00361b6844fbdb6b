"""Structured Streaming tests — file source + availableNow trigger so the
exact production code path runs deterministically.

Stream-stream joins only emit (and expire state) once the event-time
watermark passes, so tests advance the watermark with a later
"heartbeat" event and re-trigger (each availableNow run resumes from the
checkpoint — the streaming twin of the reference's cron ticks)."""

from __future__ import annotations

import datetime as dt

from analytics_data_platform_spark.streaming import streams

T0 = dt.datetime(2024, 1, 1, 10, 0, 0)
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _heartbeat(spark, src, minutes=240):
    """Advance event time so the watermark closes all earlier windows."""
    _write_events(
        spark, src, [(999, T0 + dt.timedelta(minutes=minutes), 99, "hb", 0.0, "{}")]
    )


def _read_stream(spark, src):
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(src)


def _drain(stream_df, checkpoint, out_path):
    """Drain everything currently available to parquet and stop; each call
    processes exactly the new data, once, via the checkpoint."""
    (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
        .awaitTermination()
    )


def test_stream_stream_time_range_join(spark, tmp_path):
    """Purchases join the same user's clicks from the preceding 30 minutes;
    state on both sides expires via watermark + time-bound (SURVEY §2.10)."""
    src, out, ckpt = str(tmp_path / "src2"), str(tmp_path / "out_ss"), str(tmp_path / "ck_ss")
    rows = [
        (10, T0, 7, "click", 1.0, "{}"),
        (11, T0 + dt.timedelta(minutes=5), 7, "click", 1.0, "{}"),
        (12, T0 + dt.timedelta(minutes=10), 7, "purchase", 99.0, "{}"),
        (13, T0 - dt.timedelta(minutes=40), 7, "click", 1.0, "{}"),  # outside horizon
        (14, T0 + dt.timedelta(minutes=10), 8, "purchase", 50.0, "{}"),  # no clicks
        (15, T0 + dt.timedelta(minutes=2), 9, "click", 1.0, "{}"),  # other user
    ]
    _write_events(spark, src, rows)

    def build():
        ev = _read_stream(spark, src)
        return streams.join_purchases_with_clicks(
            ev.where(ev.event_type == "click"),
            ev.where(ev.event_type == "purchase"),
        )

    _drain(build(), ckpt, out)
    _heartbeat(spark, src, minutes=240)
    _drain(build(), ckpt, out)

    got = {
        (r.purchase_id, r.click_id) for r in spark.read.parquet(out).collect()
    }
    assert got == {(12, 10), (12, 11)}

    # incremental tick: a late purchase within the (advanced) watermark region
    # still joins nothing new for user 8, and re-running adds no duplicates
    _drain(build(), ckpt, out)
    again = {
        (r.purchase_id, r.click_id) for r in spark.read.parquet(out).collect()
    }
    assert again == got


def test_stream_stream_left_outer_emits_clickless_after_watermark(spark, tmp_path):
    """left_outer: a purchase with no clicks emits null click columns —
    only after the watermark proves no match can still arrive."""
    src, out, ckpt = str(tmp_path / "src3"), str(tmp_path / "out_lo"), str(tmp_path / "ck_lo")
    rows = [
        (20, T0, 7, "click", 1.0, "{}"),
        (21, T0 + dt.timedelta(minutes=10), 7, "purchase", 99.0, "{}"),
        (22, T0 + dt.timedelta(minutes=10), 8, "purchase", 50.0, "{}"),  # no clicks
    ]
    _write_events(spark, src, rows)

    def build():
        ev = _read_stream(spark, src)
        return streams.join_purchases_with_clicks(
            ev.where(ev.event_type == "click"),
            ev.where(ev.event_type == "purchase"),
            how="left_outer",
        )

    def _hb_both(minutes):
        # the global watermark is the MIN across both sides' watermark
        # operators, and the type filters run BEFORE withWatermark — so a
        # generic heartbeat event advances neither side. Send one per side.
        _write_events(spark, src, [
            (900 + minutes, T0 + dt.timedelta(minutes=minutes), 99, "click", 0.0, "{}"),
            (901 + minutes, T0 + dt.timedelta(minutes=minutes), 99, "purchase", 0.0, "{}"),
        ])

    _drain(build(), ckpt, out)
    _hb_both(240)
    _drain(build(), ckpt, out)
    # outer-null results surface on state EVICTION, which runs one
    # micro-batch after the watermark advance — tick once more
    _hb_both(300)
    _drain(build(), ckpt, out)

    got = {(r.purchase_id, r.click_id) for r in spark.read.parquet(out).collect()}
    assert (21, 20) in got
    assert (22, None) in got, f"click-less purchase never emitted: {got}"
