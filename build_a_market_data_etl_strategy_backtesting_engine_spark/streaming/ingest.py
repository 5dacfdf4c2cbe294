"""Streaming ingest pipeline: source -> normalize -> validated sink.

Reference pipeline (``/root/reference/etl/pipeline.py:62-82`` +
``etl/websocket_client.py:14-204`` + ``etl/database_writer.py:95-163``,
traced in SURVEY §3.1): WebSocket JSON frames -> normalize -> bounded queue
-> micro-batches of >=100 -> buffered Postgres inserts of 1000, with
reconnect, heartbeat, stats counters and SIGTERM flush.

On Spark the queue/batching/retry/shutdown collapse into framework features:

- source: any streaming DataFrame of JSON strings (socket, Kafka ``value``,
  files); tests use ``rate-micro-batch`` mapped onto synthetic tick JSON.
- the SAME normalizer expressions as batch (sources/normalizer.py) — one
  code path for both, which is what makes batch==stream equivalence testable.
- sink: ``foreachBatch`` -> parquet/JDBC append, with checkpointing giving
  at-least-once into an idempotent sink (exactly-once with Delta); the
  reference's failed-flush re-buffer (at-least-once, may duplicate) is
  strictly weaker.
- backpressure: ``maxOffsetsPerTrigger``/trigger interval — lossless,
  unlike the reference's drop-newest-on-full-queue (documented divergence,
  SURVEY §2.10).
- stats: ``StreamingQueryListener`` replaces the counter thread.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.normalizer import (
    normalize_trades,
)


def rate_tick_source(
    spark: SparkSession,
    rows_per_second: int = 1000,
    symbols: list[str] | None = None,
    start_price: float = 100.0,
) -> DataFrame:
    """Deterministic synthetic tick JSON stream from the rate source —
    the test stand-in for a WebSocket/Kafka feed (paper_trading.py:230-295's
    simulated feed). Price is a hash-driven walk around start_price so the
    payloads exercise the full normalizer."""
    symbols = symbols or ["AAPL", "MSFT", "GOOGL"]
    sym_arr = F.array(*[F.lit(s) for s in symbols])
    n = len(symbols)
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second).load()
    wiggle = (F.xxhash64("value").cast("double") / F.lit(2.0 ** 63)) * 0.01
    price = F.lit(start_price) * (1.0 + wiggle)
    payload = F.to_json(F.struct(
        F.unix_millis("timestamp").alias("t"),
        F.element_at(sym_arr, (F.col("value") % n + 1).cast("int")).alias("s"),
        price.alias("p"),
        (F.col("value") % 97 + 1).cast("double").alias("v"),
    ))
    return rate.select(payload.alias("value"))


def socket_tick_source(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 9999
) -> DataFrame:
    """Live line-delimited JSON feed over TCP — the integration path a user
    points at a real feed endpoint (the closest in-engine analogue of the
    reference's WebSocket client, ``etl/websocket_client.py:92-125``:
    connect, read frames, hand each to the normalizer). Reconnection is the
    stream restart policy (checkpoint + supervisor re-``start()``), not an
    in-source loop; subscription handshakes belong in the feed bridge that
    terminates the WebSocket and re-emits newline-delimited JSON — which
    now exists in-engine: :mod:`..streaming.websocket` provides the RFC
    6455 client (``WebSocketClient``), the reference-parity live loop with
    reconnect/heartbeat/seq-resume (``LiveWsETL``), and ``ws_tick_source``
    which terminates a real ``ws://`` endpoint into this source.

    Compose with ``normalize_trades``/``normalize_trades_with_rejects`` and
    any sink in this module; tests/test_socket_source.py drives it end-to-end
    against a real TCP server emitting the reference's aliased frame shapes.
    """
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def ingest_stream(
    raw: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    trigger_seconds: int = 5,
    partition_by: list[str] | None = None,
):
    """raw JSON stream -> normalized ticks -> partitioned parquet.

    Equivalent of ETLPipeline.run: the normalizer drops invalid frames, the
    checkpoint replaces the writer buffer/retry, the trigger interval is the
    micro-batch cadence."""
    ticks = normalize_trades(raw)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(sink_path)

    return (
        ticks.writeStream
        .foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def idempotent_parquet_sink(sink_path: str,
                            partition_by: list[str] | None = None):
    """Exactly-once foreachBatch writer without a table format: each
    micro-batch commits transactionally under ``sink/batch_id=<id>/`` via
    stage-dir -> atomic rename -> ``_COMMITTED`` marker. A replayed epoch
    (checkpoint recovery re-delivers the last batch with the SAME batch_id)
    sees its marker and no-ops, so at-least-once delivery + idempotent
    commit = exactly-once output — the same ledger idea a transaction log
    gives you, keyed by Spark's epoch id. Readers just
    ``spark.read.parquet(sink)``: batch_id becomes a partition column and
    underscore-prefixed markers/stages are ignored by the reader.

    Single-filesystem rename semantics (POSIX/HDFS); on object stores use a
    real table format instead."""
    import os
    import shutil

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        final = os.path.join(sink_path, f"batch_id={batch_id}")
        marker = os.path.join(final, "_COMMITTED")
        if os.path.exists(marker):
            return  # replayed epoch: already durable
        staging = os.path.join(sink_path, f"_staging.batch_id={batch_id}")
        if os.path.exists(staging):
            shutil.rmtree(staging)  # leftover from a crashed attempt
        w = batch_df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        if os.path.exists(final):
            shutil.rmtree(final)  # crashed after rename, before marker
        os.rename(staging, final)
        open(marker, "w").close()

    return _write


def idempotent_jdbc_sink(url: str, table: str,
                         properties: dict[str, str] | None = None,
                         batch_size: int = 1000,
                         column_types: str | None = None,
                         ledger_table: str | None = None):
    """Exactly-once ``foreachBatch`` JDBC writer — the database twin of
    :func:`idempotent_parquet_sink`, closing the reference's streaming →
    Postgres path (etl/pipeline.py:62-82 feeding database_writer.py:110-163,
    which is only at-least-once: its failed-flush re-buffer can duplicate).

    Epoch-ledger commit protocol, keyed by Spark's micro-batch id:

    1. ledger hit → no-op (replayed epoch after checkpoint recovery —
       already durable).
    2. ``DELETE FROM target WHERE batch_id = ?`` — erases any half-written
       rows from a crashed attempt of THIS epoch (idempotent).
    3. executor-parallel batched INSERT of the rows tagged with
       ``batch_id`` (Spark's JDBC writer, reference-parity 1000-row
       batches).
    4. driver inserts ``batch_id`` into the ledger — the single atomic
       commit point. A crash anywhere before (4) leaves the epoch
       uncommitted and step (2) of the replay makes its partial rows
       invisible.

    At-least-once delivery + idempotent commit = exactly-once table
    contents. Scale shape: the data path stays executor-parallel; the
    driver only ever touches the 1-row ledger. The target table carries
    one extra BIGINT ``batch_id`` column (also the natural partition
    column for :func:`~..sources.io.read_jdbc` back-reads)."""
    props = dict(properties or {})
    ledger = ledger_table or f"{table}_epochs"

    def _connect(jvm):
        if "driver" in props:
            jvm.java.lang.Class.forName(props["driver"])
        if "user" in props:
            return jvm.java.sql.DriverManager.getConnection(
                url, props["user"], props.get("password", ""))
        return jvm.java.sql.DriverManager.getConnection(url)

    def _exec(conn, sql, ignore_states=()):
        st = conn.createStatement()
        try:
            st.executeUpdate(sql)
            return True
        except Exception as exc:  # py4j wraps SQLException
            if any(s in str(exc) for s in ignore_states):
                return False
            raise
        finally:
            st.close()

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.io import (
            write_jdbc,
        )

        bid = int(batch_id)
        jvm = batch_df.sparkSession._jvm
        conn = _connect(jvm)
        try:
            # ledger table: create on first use (Derby/Postgres lack a
            # portable IF NOT EXISTS here — 'already exists' is benign)
            _exec(conn,
                  f"CREATE TABLE {ledger} (batch_id BIGINT PRIMARY KEY)",
                  ignore_states=("already exists", "X0Y32", "42P07"))
            st = conn.createStatement()
            rs = st.executeQuery(
                f"SELECT batch_id FROM {ledger} WHERE batch_id = {bid}")
            seen = rs.next()
            rs.close()
            st.close()
            if seen:
                return  # replayed epoch: already durable
            # crashed-attempt cleanup; target may not exist yet. Spark's
            # JDBC writer passes the TABLE name through verbatim but
            # QUOTES every column at CREATE (case-sensitive 'batch_id'),
            # so the driver-side SQL must spell them the same way.
            _exec(conn, f'DELETE FROM {table} WHERE "batch_id" = {bid}',
                  ignore_states=("does not exist", "42X05", "42P01"))
            tagged = batch_df.withColumn("batch_id", F.lit(bid))
            write_jdbc(tagged, url, table, properties=props,
                       batch_size=batch_size, mode="append",
                       column_types=column_types)
            # the commit point: only now does the epoch count
            _exec(conn, f"INSERT INTO {ledger} VALUES ({bid})")
        finally:
            conn.close()

    return _write


def ingest_stream_exactly_once(
    raw: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    trigger_seconds: int = 5,
    partition_by: list[str] | None = None,
):
    """``ingest_stream`` with the idempotent batch-committed sink: safe
    against micro-batch replay after checkpoint recovery (the plain append
    sink would duplicate the replayed epoch's rows)."""
    ticks = normalize_trades(raw)
    return (
        ticks.writeStream
        .foreachBatch(idempotent_parquet_sink(sink_path, partition_by))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def ingest_stream_exactly_once_jdbc(
    raw: DataFrame,
    url: str,
    table: str,
    checkpoint_dir: str,
    properties: dict[str, str] | None = None,
    trigger_seconds: int = 5,
    column_types: str | None = None,
):
    """``ingest_stream`` into a database with the epoch-ledger sink: the
    streaming twin of the reference's pipeline→Postgres path, upgraded
    from its at-least-once re-buffer to exactly-once."""
    ticks = normalize_trades(raw)
    return (
        ticks.writeStream
        .foreachBatch(idempotent_jdbc_sink(
            url, table, properties=properties, column_types=column_types))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def ingest_to_memory(
    raw: DataFrame, query_name: str = "ticks_mem", once: bool = True
):
    """Normalize into an in-memory sink — used by equivalence tests."""
    ticks = normalize_trades(raw)
    writer = (
        ticks.writeStream.format("memory").queryName(query_name)
        .outputMode("append")
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class StatsListener:
    """StreamingQueryListener surface of the reference's stats counters
    (websocket_client.py:185-204): rows/sec, batch durations, totals."""

    def __init__(self):
        self.progress = []

    def attach(self, spark: SparkSession):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append({
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "inputRowsPerSecond": p.inputRowsPerSecond,
                    "durationMs": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = _L()
        spark.streams.addListener(listener)
        return listener

