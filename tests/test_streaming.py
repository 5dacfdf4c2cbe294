"""Structured Streaming tests: ingest normalization, streaming OHLCV with
watermark, and batch == stream bar equivalence (SURVEY §5.2.4)."""

from __future__ import annotations

import json
import time

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import bars
from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.normalizer import (
    normalize_trades,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
    ingest,
    ohlcv,
)


def _await(query, timeout=60):
    query.awaitTermination(timeout)
    if query.isActive:
        query.stop()


@pytest.fixture()
def tick_json_dir(spark, tmp_path):
    """A file-source stream of tick JSON frames (deterministic)."""
    rng = np.random.default_rng(42)
    rows = []
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    for i in range(600):
        rows.append(json.dumps({
            "t": int((t0 + pd.Timedelta(seconds=i)).timestamp() * 1000),
            "s": ["AAPL", "MSFT"][i % 2],
            "p": round(100 + float(rng.normal(0, 1)), 4),
            "v": float(i % 7 + 1),
        }))
    # malformed + invalid frames the normalizer must drop
    rows += ["not json at all", json.dumps({"p": 1.0}), json.dumps({"s": "X"})]
    d = tmp_path / "frames"
    d.mkdir()
    (d / "part1.txt").write_text("\n".join(rows[:300]))
    (d / "part2.txt").write_text("\n".join(rows[300:]))
    return str(d)



def _stamp_dir(d):
    """Give micro-batch input files strictly increasing mtimes in NAME
    order: the file stream source orders by modification time, and
    same-instant writes (filesystem mtime granularity) can replay files
    out of order — scrambling every state-carrying equivalence test."""
    import os
    import time as _t

    base = _t.time() - 120
    for i, pth in enumerate(sorted(d.glob("*.json"))):
        os.utime(pth, (base + 2 * i, base + 2 * i))


def test_streaming_ingest_normalizes_and_drops(spark, tick_json_dir, tmp_path):
    raw = spark.readStream.format("text").load(tick_json_dir)
    q = ingest.ingest_to_memory(raw.withColumnRenamed("value", "value"),
                                query_name="ticks_mem_t1")
    _await(q)
    got = spark.sql("SELECT * FROM ticks_mem_t1")
    assert got.count() == 600  # 3 invalid frames dropped
    assert got.filter(F.col("price").isNull()).count() == 0
    syms = {r.symbol for r in got.select("symbol").distinct().collect()}
    assert syms == {"AAPL", "MSFT"}


def test_stream_batch_ohlcv_equivalence(spark, tick_json_dir):
    """The SAME rows through the streaming watermarked aggregation and the
    batch kernel must produce identical bars."""
    raw_stream = spark.readStream.format("text").load(tick_json_dir)
    ticks_stream = normalize_trades(raw_stream)
    q = ohlcv.run_streaming_ohlcv_to_memory(
        ticks_stream, "bars_mem_t2", freq="1min", complete=True)
    _await(q)
    stream_bars = (spark.sql("SELECT * FROM bars_mem_t2").toPandas()
                   .sort_values(["symbol", "ts"]).reset_index(drop=True))

    raw_batch = spark.read.format("text").load(tick_json_dir)
    batch_bars = (
        bars.ticks_to_ohlcv(normalize_trades(raw_batch), "1min")
        .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True)
    )
    assert len(stream_bars) == len(batch_bars) > 0
    for c in ["open", "high", "low", "close", "volume", "n_ticks"]:
        np.testing.assert_allclose(stream_bars[c], batch_bars[c], rtol=1e-12)
    assert (stream_bars["ts"].values == batch_bars["ts"].values).all()


def test_streaming_parquet_sink_checkpoint(spark, tick_json_dir, tmp_path):
    """End-to-end ingest pipeline parity (§3.1): stream -> normalize ->
    partitioned parquet with checkpoint."""
    raw = spark.readStream.format("text").load(tick_json_dir)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ticks = normalize_trades(raw)
    q = (ticks.writeStream.foreachBatch(
            lambda b, _: b.write.mode("append").partitionBy("symbol")
            .parquet(sink))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    _await(q)
    back = spark.read.parquet(sink)
    assert back.count() == 600
    assert set(back.columns) == {"ts", "symbol", "price", "volume"}


def test_rate_tick_source_shape(spark):
    src = ingest.rate_tick_source(spark, rows_per_second=50)
    q = ingest.ingest_to_memory(src, query_name="rate_mem", once=False)
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) FROM rate_mem").first()[0]
            if n > 0:
                break
            time.sleep(1)
        assert n > 0
        row = spark.sql("SELECT * FROM rate_mem LIMIT 1").first()
        assert row.symbol in {"AAPL", "MSFT", "GOOGL"}
        assert row.price > 0 and row.volume >= 1
    finally:
        q.stop()


def test_streaming_loss_alerts(spark):
    pdf = pd.DataFrame({
        "symbol": ["A", "A", "B"],
        "ts": pd.date_range("2024-01-01", periods=3, freq="1min"),
        "open": [100.0, 100.0, 50.0],
        "close": [93.0, 99.5, 44.0],  # -7% warning, ok, -12% critical
    })
    out = ohlcv.streaming_loss_alerts(spark.createDataFrame(pdf),
                                      max_bar_loss_pct=0.05)
    got = {(r.symbol, r.level) for r in out.collect()}
    assert got == {("A", "warning"), ("B", "critical")}


def test_stateful_trailing_stops_across_batches(spark, tmp_path):
    """State (running max) must persist across micro-batches and match the
    batch operator on the same rows."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import risk
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        stateful,
    )

    rows = []
    prices = [100.0, 110.0, 105.0, 120.0, 95.0, 118.0]
    t0 = pd.Timestamp("2024-01-01")
    for i, p in enumerate(prices):
        rows.append({"ts": (t0 + pd.Timedelta(minutes=i)).isoformat(),
                     "symbol": "A", "price": p})
    d = tmp_path / "stream_in"
    d.mkdir()
    # two files -> two micro-batches in availableNow file streaming
    pd.DataFrame(rows[:3]).to_json(d / "b1.json", orient="records",
                                   lines=True)
    pd.DataFrame(rows[3:]).to_json(d / "b2.json", orient="records",
                                   lines=True)
    _stamp_dir(d)
    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, price double")
           .option("maxFilesPerTrigger", 1).load(str(d)))
    out = stateful.streaming_trailing_stops(src, trail_pct=0.05)
    q = (out.writeStream.format("memory").queryName("tstops")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = (spark.sql("SELECT * FROM tstops").toPandas()
           .sort_values("ts").reset_index(drop=True))
    assert len(got) == 6
    batch = (risk.trailing_stops(
        spark.createDataFrame(pd.DataFrame({
            "symbol": "A",
            "ts": pd.date_range("2024-01-01", periods=6, freq="1min"),
            "close": prices})), 0.05, price_col="close")
        .toPandas().sort_values("ts").reset_index(drop=True))
    np.testing.assert_allclose(got["stop_price"], batch["stop_price"])
    assert (got["stop_hit"].values == batch["stop_hit"].values).all()


def test_stateful_position_tracker(spark, tmp_path):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        stateful,
    )

    fills = [
        {"ts": "2024-01-01T00:00:00", "symbol": "A", "side": "buy",
         "quantity": 10.0, "price": 100.0},
        {"ts": "2024-01-01T00:01:00", "symbol": "A", "side": "buy",
         "quantity": 5.0, "price": 102.0},
        {"ts": "2024-01-01T00:02:00", "symbol": "A", "side": "sell",
         "quantity": 8.0, "price": 105.0},
    ]
    d = tmp_path / "fills_in"
    d.mkdir()
    pd.DataFrame(fills).to_json(d / "f.json", orient="records", lines=True)
    _stamp_dir(d)
    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, side string, "
                   "quantity double, price double").load(str(d)))
    out = stateful.streaming_position_tracker(src, initial_cash=10_000.0)
    q = (out.writeStream.format("memory").queryName("postrack")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = spark.sql(
        "SELECT * FROM postrack ORDER BY n_events DESC LIMIT 1").first()
    assert got.position == 7.0                      # 10 + 5 - 8
    exp_cash = 10_000.0 - 10 * 100.0 - 5 * 102.0 + 8 * 105.0
    assert got.cash == pytest.approx(exp_cash)
    assert got.equity == pytest.approx(exp_cash + 7.0 * 105.0)


def test_watermark_append_finalizes_bars(spark, tmp_path):
    """Append mode + watermark: bars emit only once the watermark passes the
    window end; data later than the watermark is dropped from finalized
    bars — the defined late-data semantics the reference lacks."""
    d = tmp_path / "wm_in"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def frame(minute, second, price):
        ts = t0 + pd.Timedelta(minutes=minute, seconds=second)
        return {"ts": ts.isoformat(), "symbol": "A",
                "price": price, "volume": 1.0}

    # Watermark mechanics (batch-N planning uses batch-N-1's event times,
    # and dropping too-late data is best-effort until the window's state is
    # evicted): b1 = minutes 0-1; b2 advances event time to 00:30; b3 keeps
    # the stream moving so minute-0 state evicts+emits under the 00:25
    # watermark; b4 then delivers a too-late minute-0 tick, which must NOT
    # resurrect or duplicate the already-finalized bar.
    import os

    pd.DataFrame([frame(0, 10, 100.0), frame(0, 40, 101.0),
                  frame(1, 10, 102.0)]).to_json(
        d / "b1.json", orient="records", lines=True)
    pd.DataFrame([frame(30, 0, 110.0)]).to_json(
        d / "b2.json", orient="records", lines=True)
    pd.DataFrame([frame(31, 0, 111.0)]).to_json(
        d / "b3.json", orient="records", lines=True)
    pd.DataFrame([frame(0, 50, 999.0)]).to_json(
        d / "b4.json", orient="records", lines=True)
    # file-source batches follow modification time: force the order
    for i, name in enumerate(["b1.json", "b2.json", "b3.json", "b4.json"]):
        os.utime(d / name, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.ohlcv import (
        streaming_ohlcv,
    )

    _stamp_dir(d)
    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, price double, volume double")
           .option("maxFilesPerTrigger", 1).load(str(d)))
    b = streaming_ohlcv(src, freq="1min", watermark="5 minutes")
    q = (b.writeStream.format("memory").queryName("wm_bars")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(90)
    got = (spark.sql("SELECT * FROM wm_bars").toPandas()
           .sort_values("ts").reset_index(drop=True))
    m0 = got[got.ts == t0]
    assert len(m0) == 1
    # the 999.0 late tick (arrived after watermark passed minute 0) is NOT
    # in the finalized minute-0 bar
    assert m0.iloc[0]["high"] == 101.0
    assert m0.iloc[0]["n_ticks"] == 2


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicates re-delivered in a later micro-batch (reconnect replay)
    are dropped; distinct rows all survive."""
    d = tmp_path / "dups_in"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def row(i, price):
        return {"ts": (t0 + pd.Timedelta(seconds=i)).isoformat(),
                "symbol": "A", "price": price, "volume": 1.0}

    batch1 = [row(i, 100.0 + i) for i in range(5)]
    batch2 = batch1[2:] + [row(i, 100.0 + i) for i in range(5, 8)]  # replay
    pd.DataFrame(batch1).to_json(d / "b1.json", orient="records", lines=True)
    pd.DataFrame(batch2).to_json(d / "b2.json", orient="records", lines=True)
    import os

    os.utime(d / "b1.json", (1_700_000_000, 1_700_000_000))
    os.utime(d / "b2.json", (1_700_000_060, 1_700_000_060))

    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.stateful import (
        streaming_dedup,
    )

    _stamp_dir(d)
    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, price double, volume double")
           .option("maxFilesPerTrigger", 1).load(str(d)))
    q = (streaming_dedup(src, subset=["symbol", "ts"])
         .writeStream.format("memory")
         .queryName("dedup_mem").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = spark.sql("SELECT * FROM dedup_mem").toPandas()
    assert len(got) == 8  # 5 + 3 new, 3 replays dropped
    assert got.ts.nunique() == 8


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        stateful,
    )

    rows = [
        {"ts": "2024-01-01T00:00:00", "symbol": "A", "seq": 1},
        {"ts": "2024-01-01T00:00:00", "symbol": "A", "seq": 1},  # dup
        {"ts": "2024-01-01T00:01:00", "symbol": "A", "seq": 2},
        {"ts": "2024-01-01T00:01:00", "symbol": "B", "seq": 2},
    ]
    d = tmp_path / "dedup_in"
    d.mkdir()
    pd.DataFrame(rows).to_json(d / "r.json", orient="records", lines=True)
    _stamp_dir(d)
    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, seq long").load(str(d)))
    out = stateful.streaming_dedup(src, subset=["symbol", "seq"])
    q = (out.writeStream.format("memory").queryName("sdedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = spark.sql("SELECT * FROM sdedup").toPandas()
    assert len(got) == 3
    assert set(zip(got.symbol, got.seq)) == {("A", 1), ("A", 2), ("B", 2)}


def test_idempotent_sink_survives_epoch_replay(spark, tmp_path):
    """Replaying a micro-batch with the same batch_id (checkpoint recovery
    semantics) must not duplicate rows; a later batch_id must append; a
    crashed half-commit (stage dir present, no marker) must be repaired."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import ingest

    sink = str(tmp_path / "sink")
    write = ingest.idempotent_parquet_sink(sink)
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=4, freq="1min"),
        "symbol": ["A", "A", "B", "B"], "price": [1.0, 2.0, 3.0, 4.0],
        "volume": [1.0] * 4,
    })
    b0 = spark.createDataFrame(pdf)

    write(b0, 0)
    assert spark.read.parquet(sink).count() == 4
    # exact replay of epoch 0 -> no-op
    write(b0, 0)
    assert spark.read.parquet(sink).count() == 4
    # replay with different data but same id (same epoch content in real
    # recovery) -> still exactly the committed batch, no duplicates
    write(b0.limit(2), 0)
    assert spark.read.parquet(sink).count() == 4

    # crashed attempt: stage dir exists without marker -> replay repairs
    import os
    os.makedirs(os.path.join(sink, "_staging.batch_id=1"), exist_ok=True)
    write(b0.limit(3), 1)
    back = spark.read.parquet(sink)
    assert back.count() == 7
    assert set(r.batch_id for r in back.select("batch_id").distinct()
               .collect()) == {0, 1}

    # end-to-end through a real streaming query
    d = tmp_path / "e1_in"
    d.mkdir()
    rows = [{"t": 1704067200000 + i * 1000, "s": "AAPL", "p": 100.0 + i,
             "v": 1.0} for i in range(5)]
    (d / "a.txt").write_text("\n".join(json.dumps(r) for r in rows))
    raw = spark.readStream.format("text").load(str(d))
    sink2 = str(tmp_path / "sink2")
    q = ingest.ingest_stream_exactly_once(
        raw, sink2, str(tmp_path / "ckpt2"), trigger_seconds=1)
    deadline = time.time() + 60
    import os.path
    while time.time() < deadline:
        if os.path.exists(os.path.join(sink2, "batch_id=0", "_COMMITTED")):
            break
        time.sleep(0.5)
    q.stop()
    assert spark.read.parquet(sink2).count() == 5


def test_streaming_order_book_matches_batch(spark, tmp_path):
    """The streaming book (applyInPandasWithState, state = full book +
    stops + last + fill counter) produces EXACTLY the batch replay's fills
    when the same events arrive split across micro-batches — resting
    orders must survive the batch boundary and fill later."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import orderbook
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        stateful,
    )

    t0 = pd.Timestamp("2024-01-01")

    def ev(sec, kind, **kw):
        base = {"ts": (t0 + pd.Timedelta(seconds=sec)).isoformat(),
                "symbol": kw.pop("symbol", "A"), "kind": kind,
                "order_id": None, "side": None, "order_type": None,
                "quantity": None, "price": None, "stop_price": None}
        base.update(kw)
        return base

    events = [
        ev(0, "tick", price=100.0),
        # resting buy limit below market — must survive into batch 2
        ev(1, "order", order_id="o1", side="buy", order_type="limit",
           quantity=5.0, price=99.0),
        # stop-limit armed above market — triggers in batch 2
        ev(2, "order", order_id="o2", side="buy", order_type="stop_limit",
           quantity=3.0, price=100.5, stop_price=101.0),
        ev(3, "tick", price=100.4),
        # ---- micro-batch boundary ----
        ev(4, "tick", price=101.2),   # triggers o2 -> resting limit @100.5
        ev(5, "order", order_id="o3", side="sell", order_type="market",
           quantity=2.0),
        ev(6, "tick", price=98.5),    # crosses o1@99 AND o2's limit@100.5
        ev(7, "order", order_id="o4", side="sell", order_type="limit",
           quantity=4.0, price=98.0),  # marketable vs last
    ]
    schema = ("ts timestamp, symbol string, kind string, order_id string, "
              "side string, order_type string, quantity double, "
              "price double, stop_price double")
    d = tmp_path / "book_in"
    d.mkdir()
    pd.DataFrame(events[:4]).to_json(d / "b0.json", orient="records",
                                     lines=True)
    pd.DataFrame(events[4:]).to_json(d / "b1.json", orient="records",
                                     lines=True)
    _stamp_dir(d)
    src = (spark.readStream.format("json").schema(schema)
           .option("maxFilesPerTrigger", 1).load(str(d)))
    out = stateful.streaming_order_book(src, slippage_pct=0.001)
    q = (out.writeStream.format("memory").queryName("sbook")
         .outputMode("append").trigger(availableNow=True).start())
    # under a fully loaded suite the pandas workers can take minutes to
    # spin up; a silent timeout here shows up as a row-count mismatch
    assert q.awaitTermination(300), "streaming book query did not finish"
    got = (spark.sql("SELECT * FROM sbook").toPandas()
           .sort_values("trade_id").reset_index(drop=True))

    # batch replay of the same merged events through the same kernel
    pdf = pd.DataFrame(events)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    merged = spark.createDataFrame(pdf, schema)
    orders_df = merged.filter(F.col("kind") == "order").drop("kind")
    ticks_df = (merged.filter(F.col("kind") == "tick")
                .select("ts", "symbol", "price"))
    batch = (orderbook.simulate_order_book(orders_df, ticks_df,
                                           slippage_pct=0.001)
             .toPandas().sort_values("trade_id").reset_index(drop=True))
    assert len(got) == len(batch) > 0
    for col in ["trade_id", "ts", "symbol", "side", "order_id"]:
        assert got[col].tolist() == batch[col].tolist(), col
    np.testing.assert_allclose(got["quantity"], batch["quantity"])
    np.testing.assert_allclose(got["price"], batch["price"])
    # the resting limit and the converted stop-limit filled across the
    # micro-batch boundary
    assert {"o1", "o2", "o3", "o4"} <= set(batch["order_id"])


def test_stream_batch_sessionization_equivalence(spark, tmp_path):
    """sessionize() is built on session_window, so the batch result must
    equal the streaming result over the same (fully-replayed) events —
    the session-window twin of the OHLCV batch==stream test."""
    import datetime

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import sessions

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for u in range(4):
        for k in range(12):
            # sessions split every 3 events (45-min gap after 2x5min steps)
            minute = (k // 3) * 60 + (k % 3) * 5
            rows.append({
                "user_id": u,
                "ts": (t0 + datetime.timedelta(minutes=minute)
                       ).strftime("%Y-%m-%dT%H:%M:%S"),
                "value": float(u + k),
            })
    d = tmp_path / "ev"
    d.mkdir()
    import json as _json
    (d / "a.json").write_text("\n".join(_json.dumps(r) for r in rows[:24]))
    (d / "b.json").write_text("\n".join(_json.dumps(r) for r in rows[24:]))

    schema = "user_id long, ts timestamp, value double"
    batch = spark.read.schema(schema).json(str(d))
    expected = sorted(
        (r.user_id, r.session_start, r.n_events, float(r.value_sum))
        for r in sessions.sessionize(batch, gap="30 minutes").collect()
    )
    assert len(expected) == 16  # 4 users x 4 sessions

    _stamp_dir(d)
    src = (spark.readStream.schema(schema).json(str(d))
           .withWatermark("ts", "2 hours"))
    sess = sessions.sessionize(src, gap="30 minutes")
    q = (sess.writeStream.format("memory").queryName("sess_eq")
         .outputMode("complete").trigger(availableNow=True).start())
    _await(q, 90)
    got = sorted(
        (r.user_id, r.session_start, r.n_events, float(r.value_sum))
        for r in spark.sql("select * from sess_eq").collect()
    )
    assert got == expected


def test_streaming_backtest_matches_batch(spark, tmp_path):
    """The flagship §2.5 kernel batch==stream (r3 VERDICT #4): the same
    signal-annotated bars replayed over 3 micro-batches through
    streaming_backtest must reproduce the batch backtest_signals frame —
    positions/trades/costs exactly, the exp∘sum∘log1p equity curve to
    float precision (JVM log1p vs numpy log1p differ in the last ulp)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        backtest,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        stateful,
    )

    rng = np.random.default_rng(11)
    t0 = pd.Timestamp("2024-01-01")
    rows = []
    for sym, base in [("A", 100.0), ("B", 50.0)]:
        px = base
        for i in range(30):
            px *= 1.0 + float(rng.normal(0, 0.01))
            rows.append({
                "ts": (t0 + pd.Timedelta(minutes=i)).isoformat(),
                "symbol": sym, "close": round(px, 4),
                "signal": float([1, 0, -1][i % 3]),
            })
    pdf = pd.DataFrame(rows)
    d = tmp_path / "bt_stream_in"
    d.mkdir()
    # 3 files, each a time-slice across BOTH symbols -> 3 micro-batches
    by_ts = pdf.sort_values(["ts", "symbol"]).reset_index(drop=True)
    for k, lo, hi in [(1, 0, 20), (2, 20, 40), (3, 40, 60)]:
        by_ts.iloc[lo:hi].to_json(d / f"b{k}.json", orient="records",
                                  lines=True)
    _stamp_dir(d)
    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, close double, "
                   "signal double")
           .option("maxFilesPerTrigger", 1).load(str(d)))
    out = stateful.streaming_backtest(src, position_size=2.0)
    q = (out.writeStream.format("memory").queryName("sbt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql("SELECT * FROM sbt").toPandas()
           .sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert len(got) == 60

    bdf = spark.createDataFrame(pdf.assign(ts=pd.to_datetime(pdf["ts"])))
    batch = (backtest.backtest_signals(bdf, position_size=2.0)
             .toPandas().sort_values(["symbol", "ts"])
             .reset_index(drop=True))
    for col in ["price", "signal", "position", "trade", "costs"]:
        np.testing.assert_array_equal(got[col].values, batch[col].values,
                                      err_msg=col)
    for col in ["returns", "strategy_returns", "net_returns", "equity"]:
        np.testing.assert_allclose(got[col].values, batch[col].values,
                                   rtol=1e-12, err_msg=col)


def test_live_pipeline_matches_batch(spark, tmp_path):
    """The full reference loop live: ticks -> watermarked streaming OHLCV
    -> durable bar log -> stateless signal -> stateful kernel, as two
    chained queries (Spark disallows applyInPandasWithState after a
    streaming agg - streaming/pipeline.py documents the architecture).
    The composed stream must equal the composed batch pipeline."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        backtest,
        bars as bars_ops,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        pipeline,
    )

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(240):
        rows.append({"ts": (t0 + pd.Timedelta(seconds=15 * i)).isoformat(),
                     "symbol": ["A", "B"][i % 2],
                     "price": 100.0 + ((i * 7) % 40) / 10.0,
                     "volume": float(i % 5 + 1)})
    # sentinel ticks far ahead advance the watermark so every real 1min
    # window finalizes in append mode (one per symbol; excluded below)
    for sym in ["A", "B"]:
        rows.append({"ts": (t0 + pd.Timedelta(hours=2)).isoformat(),
                     "symbol": sym, "price": 100.0, "volume": 1.0})
    d = tmp_path / "ticks_in"
    d.mkdir()
    pd.DataFrame(rows[:120]).to_json(d / "b1.json", orient="records",
                                     lines=True)
    pd.DataFrame(rows[120:]).to_json(d / "b2.json", orient="records",
                                     lines=True)
    _stamp_dir(d)
    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, price double, "
                   "volume double")
           .option("maxFilesPerTrigger", 1).load(str(d)))
    wd = str(tmp_path / "pipe")
    q1 = pipeline.start_bar_stage(src, wd, freq="1min")
    q1.awaitTermination(120)
    q2 = pipeline.start_backtest_stage(spark, wd,
                                       query_name="live_bt_test")
    q2.awaitTermination(120)
    cutoff = t0 + pd.Timedelta(hours=1)
    got = (spark.sql("select * from live_bt_test").toPandas()
           .query("ts < @cutoff")
           .sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert len(got) == 120  # 60 one-minute bars per symbol

    # batch replica with the SAME operators
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    ticks_b = spark.createDataFrame(pdf)
    bars_b = bars_ops.ticks_to_ohlcv(ticks_b, "1min")
    from pyspark.sql import functions as F
    sig_b = bars_b.withColumn(
        "signal",
        F.when(F.col("close") > F.col("open"), 1.0).otherwise(-1.0))
    res_b = backtest.backtest_signals(sig_b)
    exp = (res_b.toPandas().query("ts < @cutoff")
           .sort_values(["symbol", "ts"]).reset_index(drop=True))
    for col in ["price", "signal", "position", "trade", "costs"]:
        np.testing.assert_array_equal(got[col].values, exp[col].values,
                                      err_msg=col)
    for col in ["returns", "net_returns", "equity"]:
        np.testing.assert_allclose(got[col].values, exp[col].values,
                                   rtol=1e-12, err_msg=col)


def test_watermark_late_within_is_incorporated(spark, tmp_path):
    """r4 VERDICT #4 (the other half of the late-data contract): a row
    arriving AFTER its window closed but WITHIN the watermark must be
    incorporated into the finalized bar, and the finalized bars must
    equal the batch aggregation over the in-watermark rows."""
    d = tmp_path / "wm_late_in"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def frame(minute, second, price):
        ts = t0 + pd.Timedelta(minutes=minute, seconds=second)
        return {"ts": ts.isoformat(), "symbol": "A",
                "price": price, "volume": 1.0}

    # b1: minute-0 and minute-2 ticks (event time reaches 02:00 -> next
    # batch's watermark = 02:00 - 5min < 0, minute-0 still open).
    # b2: a LATE minute-0 tick (window closed, within watermark) + a
    # far-future tick pushing event time to 30:00.
    # b3: keeps the stream moving so the 25:00 watermark finalizes all.
    pd.DataFrame([frame(0, 10, 100.0), frame(2, 0, 105.0)]).to_json(
        d / "b1.json", orient="records", lines=True)
    pd.DataFrame([frame(0, 50, 103.0), frame(30, 0, 110.0)]).to_json(
        d / "b2.json", orient="records", lines=True)
    pd.DataFrame([frame(31, 0, 111.0)]).to_json(
        d / "b3.json", orient="records", lines=True)
    _stamp_dir(d)

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        bars as bars_ops,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.ohlcv import (
        streaming_ohlcv,
    )

    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, price double, volume double")
           .option("maxFilesPerTrigger", 1).load(str(d)))
    b = streaming_ohlcv(src, freq="1min", watermark="5 minutes")
    q = (b.writeStream.format("memory").queryName("wm_late")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(90)
    got = (spark.sql("SELECT * FROM wm_late").toPandas()
           .sort_values("ts").reset_index(drop=True))
    m0 = got[got.ts == t0]
    assert len(m0) == 1
    # the late 103.0 tick IS in the finalized minute-0 bar
    assert m0.iloc[0]["n_ticks"] == 2
    assert m0.iloc[0]["close"] == 103.0
    assert m0.iloc[0]["high"] == 103.0

    # batch == stream on the full in-watermark set (nothing was beyond)
    all_rows = pd.concat([pd.read_json(d / f, orient="records", lines=True,
                                       convert_dates=["ts"])
                          for f in ["b1.json", "b2.json", "b3.json"]])
    bdf = spark.createDataFrame(all_rows)
    batch = (bars_ops.ticks_to_ohlcv(bdf, "1min").toPandas()
             .sort_values("ts").reset_index(drop=True))
    merged = got.merge(batch, on=["symbol", "ts"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    for c in ["open", "high", "low", "close", "volume", "n_ticks"]:
        assert (merged[f"{c}_s"] == merged[f"{c}_b"]).all(), c


def test_reorder_gate_orders_late_and_drops_beyond(spark, tmp_path):
    """The ordered-replay gate (stateful.reorder_within_watermark):
    within-watermark late rows re-emit in exact event-time order;
    beyond-watermark arrivals are dropped deterministically."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        stateful,
    )

    d = tmp_path / "gate_in"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def row(minute, close, signal=1.0):
        return {"ts": (t0 + pd.Timedelta(minutes=minute)).isoformat(),
                "symbol": "A", "close": close, "signal": signal}

    # b1: minutes 0,1,4 (disorder pending: 2,3 missing)
    # b2: minutes 3,2 LATE but within the 10min watermark, + minute 20
    #     (watermark after b2 = 10:00 -> 0..4 all emittable next batch)
    # b3: minute 0 again — now BEYOND the watermark (10:00) -> dropped;
    #     + minute 40 to flush everything through 30:00
    # b4: minute 41 keeps the stream moving (watermark 31:00 > 20:00)
    pd.DataFrame([row(0, 100.0), row(1, 101.0), row(4, 104.0)]).to_json(
        d / "b1.json", orient="records", lines=True)
    pd.DataFrame([row(3, 103.0), row(2, 102.0), row(20, 120.0)]).to_json(
        d / "b2.json", orient="records", lines=True)
    pd.DataFrame([row(0, 999.0), row(40, 140.0)]).to_json(
        d / "b3.json", orient="records", lines=True)
    pd.DataFrame([row(41, 141.0)]).to_json(
        d / "b4.json", orient="records", lines=True)
    _stamp_dir(d)

    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, close double, "
                   "signal double")
           .option("maxFilesPerTrigger", 1).load(str(d)))
    gated = stateful.reorder_within_watermark(src, watermark="10 minutes")
    q = (gated.writeStream.format("memory").queryName("gate_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(90)
    got = spark.sql("SELECT * FROM gate_mem").toPandas()
    # emitted in arrival-of-emission order; per-symbol event-time order
    closes = got["close"].tolist()
    # the beyond-watermark 999.0 replay of minute 0 is NOT present
    assert 999.0 not in closes
    # minutes 0..4 emitted in exact order despite 3,2 arriving late
    emitted_ts = got["ts"].tolist()
    assert emitted_ts == sorted(emitted_ts)
    assert closes[:5] == [100.0, 101.0, 102.0, 103.0, 104.0]


def test_streaming_backtest_behind_gate_matches_batch(spark, tmp_path):
    """Composition pin: disordered source -> reorder gate -> (ordered
    replay) -> streaming_backtest == batch backtest_signals over the
    in-watermark rows. Spark allows ONE applyInPandasWithState per
    query, so the gate and the kernel run as two chained streaming
    queries with a file sink between them — the same topology as
    gate -> Kafka topic -> kernel in production."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        backtest,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        stateful,
    )

    d = tmp_path / "gate_bt_in"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def row(minute, close, signal):
        return {"ts": (t0 + pd.Timedelta(minutes=minute)).isoformat(),
                "symbol": "A", "close": close, "signal": signal}

    inorder = [row(m, 100.0 + m, float([1, 0, -1][m % 3]))
               for m in range(8)]
    # batch 1 delivers 0,1,2,5 ; batch 2 delivers 4,3 (late, within
    # watermark) then 6,7 + a future sentinel; batch 3 flushes
    pd.DataFrame([inorder[0], inorder[1], inorder[2], inorder[5]]).to_json(
        d / "b1.json", orient="records", lines=True)
    pd.DataFrame([inorder[4], inorder[3], inorder[6], inorder[7],
                  row(60, 200.0, 0.0)]).to_json(
        d / "b2.json", orient="records", lines=True)
    pd.DataFrame([row(61, 201.0, 0.0)]).to_json(
        d / "b3.json", orient="records", lines=True)
    _stamp_dir(d)

    src = (spark.readStream.format("json")
           .schema("ts timestamp, symbol string, close double, "
                   "signal double")
           .option("maxFilesPerTrigger", 1).load(str(d)))
    gated = stateful.reorder_within_watermark(src, watermark="10 minutes")
    mid = tmp_path / "gate_out"
    ckpt1 = tmp_path / "gate_ckpt"
    q1 = (gated.writeStream.format("json").option("path", str(mid))
          .option("checkpointLocation", str(ckpt1))
          .outputMode("append").trigger(availableNow=True).start())
    q1.awaitTermination(120)

    # stage 2: the kernel replays the gate's ordered output. The gate
    # emits each micro-batch's eligible rows as one file, already in
    # event-time order, so the kernel's cross-batch order contract holds.
    src2 = (spark.readStream.format("json")
            .schema("symbol string, ts timestamp, close double, "
                    "signal double")
            .option("maxFilesPerTrigger", 1).load(str(mid)))
    out = stateful.streaming_backtest(src2, position_size=2.0)
    q2 = (out.writeStream.format("memory").queryName("gate_bt")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    got = (spark.sql("SELECT * FROM gate_bt WHERE ts < '2024-01-01 00:30'")
           .toPandas().sort_values("ts").reset_index(drop=True))
    assert len(got) == 8

    bdf = spark.createDataFrame(
        pd.DataFrame(inorder).assign(
            ts=lambda f: pd.to_datetime(f["ts"])))
    batch = (backtest.backtest_signals(bdf, position_size=2.0)
             .toPandas().sort_values("ts").reset_index(drop=True))
    for col in ["price", "signal", "position", "trade", "costs"]:
        np.testing.assert_array_equal(got[col].values, batch[col].values,
                                      err_msg=col)
    for col in ["returns", "strategy_returns", "net_returns", "equity"]:
        np.testing.assert_allclose(got[col].values, batch[col].values,
                                   rtol=1e-12, err_msg=col)


def test_idempotent_jdbc_sink_exactly_once(spark, tmp_path):
    """The epoch-ledger JDBC sink (database twin of the parquet ledger
    sink): replayed epochs no-op, a crashed half-written epoch is erased
    and rewritten on replay, and only the ledger insert makes an epoch
    count — at-least-once delivery becomes exactly-once table contents
    in a REAL database (embedded Derby, as in test_jdbc_round_trip)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.io import (
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/e1db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    write = ingest.idempotent_jdbc_sink(
        url, "ticks", properties=props, column_types="symbol VARCHAR(20)")
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=4, freq="1min"),
        "symbol": ["A", "A", "B", "B"], "price": [1.0, 2.0, 3.0, 4.0],
        "volume": [1.0] * 4,
    })
    b0 = spark.createDataFrame(pdf)

    write(b0, 0)
    assert read_jdbc(spark, url, "ticks", properties=props).count() == 4
    # exact replay of epoch 0 -> ledger hit, no-op
    write(b0, 0)
    assert read_jdbc(spark, url, "ticks", properties=props).count() == 4
    # same epoch id, fewer rows (recovery re-delivers the same epoch):
    # committed contents stand, no duplicates
    write(b0.limit(2), 0)
    assert read_jdbc(spark, url, "ticks", properties=props).count() == 4

    # crashed attempt: rows tagged with epoch 1 landed but the ledger
    # insert never happened -> replay must erase them and rewrite
    write_jdbc(b0.limit(1).withColumn("batch_id", F.lit(1)),
               url, "ticks", properties=props, mode="append")
    write(b0.limit(3), 1)
    back = read_jdbc(spark, url, "ticks", properties=props)
    assert back.count() == 7
    per_epoch = {r["batch_id"]: r["n"] for r in back.groupBy("batch_id")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_epoch == {0: 4, 1: 3}

    # end-to-end through a real streaming query (availableNow via the
    # foreachBatch writer directly, checkpointed)
    d = tmp_path / "jdbc_e1_in"
    d.mkdir()
    rows = [{"t": 1704067200000 + i * 1000, "s": "AAPL", "p": 100.0 + i,
             "v": 1.0} for i in range(5)]
    (d / "a.txt").write_text("\n".join(json.dumps(r) for r in rows))
    raw = spark.readStream.format("text").load(str(d))
    sink_fn = ingest.idempotent_jdbc_sink(
        url, "ticks_stream", properties=props,
        column_types="symbol VARCHAR(20)")
    q = (normalize_trades(raw).writeStream
         .foreachBatch(sink_fn)
         .option("checkpointLocation", str(tmp_path / "jdbc_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = read_jdbc(spark, url, "ticks_stream", properties=props)
    assert got.count() == 5
    # restart over the same checkpoint: nothing new, nothing duplicated
    q2 = (normalize_trades(spark.readStream.format("text").load(str(d)))
          .writeStream.foreachBatch(sink_fn)
          .option("checkpointLocation", str(tmp_path / "jdbc_ckpt"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert read_jdbc(spark, url, "ticks_stream",
                     properties=props).count() == 5


def test_streaming_asof_enrich_matches_batch_and_join_variant(
        spark, tmp_path):
    """The merge-based stream-stream as-of (streaming/joins.py
    streaming_asof_enrich — the dense-quote scale path: O(n+m) per batch,
    one-quote state) must equal BOTH its own batch run and the
    interval-join variant (streaming_quote_enrich) bit-exactly: same
    election (latest in-tolerance quote, (bid, ask) tie-break on equal
    q_ts), same null pass-through when the quote gap exceeds tolerance."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        joins as sjoins,
    )

    t0 = pd.Timestamp("2024-01-01")
    trows, qrows = [], []
    for sym, base in [("A", 100.0), ("B", 50.0)]:
        for i in range(40):
            # trades every 60s; a dead zone (no quotes) around i in 20..25
            trows.append({
                "ts": (t0 + pd.Timedelta(seconds=60 * i)).isoformat(),
                "symbol": sym, "seq": i,
                "price": round(base + i * 0.1, 2), "volume": 10.0 + i,
            })
        for i in range(200):
            if 20 * 60 <= i * 12 <= 26 * 60:
                continue  # quote gap > tolerance -> null enrichment
            q_ts = t0 + pd.Timedelta(seconds=12 * i)
            px = base + (i % 37) * 0.05
            qrows.append({
                "ts": q_ts.isoformat(), "symbol": sym,
                "bid": round(px - 0.01, 4), "ask": round(px + 0.01, 4),
            })
            if i % 9 == 0:  # equal-ts duplicate -> (bid, ask) tie-break
                qrows.append({
                    "ts": q_ts.isoformat(), "symbol": sym,
                    "bid": round(px - 0.02, 4), "ask": round(px + 0.03, 4),
                })
    tpdf = pd.DataFrame(trows)
    qpdf = pd.DataFrame(qrows)

    td = tmp_path / "asof_trades"
    qd = tmp_path / "asof_quotes"
    td.mkdir(), qd.mkdir()
    # 4 aligned time slices -> micro-batches preserve per-symbol
    # event-time order across batches (the operator's stated contract)
    cuts = [0, 10 * 60, 20 * 60, 30 * 60, 10 ** 9]
    for k in range(4):
        lo = t0 + pd.Timedelta(seconds=cuts[k])
        hi = t0 + pd.Timedelta(seconds=cuts[k + 1])
        tslice = tpdf[(pd.to_datetime(tpdf.ts) >= lo)
                      & (pd.to_datetime(tpdf.ts) < hi)]
        qslice = qpdf[(pd.to_datetime(qpdf.ts) >= lo)
                      & (pd.to_datetime(qpdf.ts) < hi)]
        tslice.to_json(td / f"b{k}.json", orient="records", lines=True)
        qslice.to_json(qd / f"b{k}.json", orient="records", lines=True)
    _stamp_dir(td)
    _stamp_dir(qd)

    tschema = "ts timestamp, symbol string, seq long, price double, volume double"
    qschema = "ts timestamp, symbol string, bid double, ask double"
    st = (spark.readStream.format("json").schema(tschema)
          .option("maxFilesPerTrigger", 1).load(str(td)))
    sq = (spark.readStream.format("json").schema(qschema)
          .option("maxFilesPerTrigger", 1).load(str(qd)))
    out = sjoins.streaming_asof_enrich(st, sq, tolerance="3 minutes")
    q = (out.writeStream.format("memory").queryName("asof_merge")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql("SELECT * FROM asof_merge").toPandas()
           .sort_values(["symbol", "seq"]).reset_index(drop=True))
    assert len(got) == 80

    bt = spark.createDataFrame(tpdf.assign(ts=pd.to_datetime(tpdf.ts)))
    bq = spark.createDataFrame(qpdf.assign(ts=pd.to_datetime(qpdf.ts)))
    batch_merge = (sjoins.streaming_asof_enrich(bt, bq,
                                                tolerance="3 minutes")
                   .toPandas().sort_values(["symbol", "seq"])
                   .reset_index(drop=True))
    batch_join = (sjoins.streaming_quote_enrich(bt, bq,
                                                tolerance="3 minutes")
                  .toPandas().sort_values(["symbol", "seq"])
                  .reset_index(drop=True))
    pd.testing.assert_frame_equal(got, batch_merge)
    pd.testing.assert_frame_equal(
        got, batch_join[got.columns.tolist()].astype(got.dtypes.to_dict()))
    # the dead zone actually exercised the null path
    assert got["bid"].isna().sum() > 0
