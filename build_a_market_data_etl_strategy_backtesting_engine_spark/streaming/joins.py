"""Stream-stream as-of enrichment: trades joined to the prevailing quote.

The reference enriches trades against quotes only in batch (its
normalizer aligns them offline); live enrichment is the canonical
stream-stream problem — a trade must meet a quote that may arrive in an
EARLIER or LATER micro-batch. Structured Streaming's watermarked interval
join holds exactly the in-horizon slice of both streams in state and
pairs across micro-batch boundaries; a chained event-time-windowed
``max_by`` then elects the latest in-tolerance quote per trade (multiple
stateful operators per query — native Spark 4 capability, zero Python).

Semantics (identical to the batch ``operators/joins.asof_join`` with
``direction='backward'`` and a tolerance, pinned by test): for each trade
the last quote of the same symbol with ``quote.ts`` in
``[trade.ts - tolerance, trade.ts]``; trades with no such quote pass
through with null quote fields.

State bound: per symbol, the join buffers one tolerance + watermark
horizon of each stream; the election agg holds one open window per
(symbol, window). Both are watermark-evicted — no unbounded state.

Scale shape: ONE exchange per side on (symbol) for the join, the
election reuses the join's output partitioning. Skewed symbols salt the
same way batch ticks do (operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "streaming_quote_enrich",
    "streaming_asof_enrich",
    "asof_enrich",
    "asof_enrich_sharded",
    "shard_hot_symbols",
    "elect_sharded",
    "estimate_quote_density",
    "select_asof_mode",
]

#: shard-tag separator inside the symbol key — ASCII unit separator,
#: which no exchange ticker contains
HOT_SHARD_SEP = "\x1f"


def streaming_quote_enrich(
    trades: DataFrame,
    quotes: DataFrame,
    tolerance: str = "5 minutes",
    watermark: str = "10 seconds",
    window: str = "1 minute",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    seq_col: str = "seq",
) -> DataFrame:
    """Enrich each trade with the latest in-tolerance quote (bid/ask/mid,
    spread, quote age) via a watermarked stream-stream interval join.

    .. warning:: SPARSE-QUOTE shape. The join materializes one row per
       (trade x in-tolerance quote) before electing — at 20k quotes/s
       per side with a 30 s tolerance ONE micro-batch exceeded 120 s
       (measured r8, SCALING.md). Prefer :func:`asof_enrich`, which
       picks this join only below a measured density ceiling and the
       merge-based :func:`streaming_asof_enrich` above.

    ``window`` buckets the election aggregate's event time (required for
    the chained stateful operator to be watermark-bounded); it does NOT
    affect semantics — the group key is the trade identity, the window
    merely scopes state eviction.

    Works identically on batch frames (the interval join degrades to a
    plain range join, the watermark is a no-op) — the batch==stream
    equivalence test relies on that.
    """
    t = trades.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("t_ts"),
        F.col(seq_col).alias("t_seq"),
        F.col("price"),
        F.col("volume"),
    )
    q = quotes.select(
        F.col(symbol_col).alias("q_symbol"),
        F.col(ts_col).alias("q_ts"),
        F.col("bid"),
        F.col("ask"),
    )
    if trades.isStreaming:
        t = t.withWatermark("t_ts", watermark)
    if quotes.isStreaming:
        q = q.withWatermark("q_ts", watermark)

    joined = t.join(
        q,
        (F.col("symbol") == F.col("q_symbol"))
        & (F.col("q_ts") <= F.col("t_ts"))
        & (F.col("q_ts") >= F.col("t_ts") - F.expr(f"INTERVAL {tolerance}")),
        "leftOuter",
    )

    # ordering key is struct(q_ts, bid, ask): latest quote wins, and two
    # quotes sharing an identical q_ts within tolerance resolve by the
    # lexicographic (bid, ask) tie-break instead of engine/run order —
    # the election is deterministic without requiring callers to
    # pre-dedupe quotes per (symbol, ts) (r5 ADVICE)
    best = F.max_by(
        F.struct("bid", "ask", "q_ts"),
        F.struct(F.col("q_ts"), F.col("bid"), F.col("ask")),
    ).alias("_q")
    # the trade instant rides through the aggregate as a PLAIN long
    # (unix micros): only window(t_ts) may remain an event-time column in
    # the chained stateful aggregate — grouping by the raw watermarked
    # t_ts as well makes the event-time column ambiguous and the query
    # fails at runtime
    enriched = (
        joined.withColumn("_t_us", F.unix_micros("t_ts"))
        .groupBy(
            F.window("t_ts", window).alias("_w"),
            "symbol", "t_seq", "_t_us", "price", "volume",
        )
        .agg(best)
        .select(
            "symbol",
            F.timestamp_micros("_t_us").alias("ts"),
            F.col("t_seq").alias("seq"),
            "price", "volume",
            F.col("_q.bid").alias("bid"),
            F.col("_q.ask").alias("ask"),
            F.round((F.col("_q.bid") + F.col("_q.ask")) / 2.0, 8)
            .alias("mid"),
            F.round(F.col("_q.ask") - F.col("_q.bid"), 8).alias("spread"),
            (F.col("_t_us") - F.unix_micros("_q.q_ts"))
            .alias("quote_age_us"),
        )
    )
    return enriched


def streaming_asof_enrich(
    trades: DataFrame,
    quotes: DataFrame,
    tolerance: str = "5 minutes",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    seq_col: str = "seq",
) -> DataFrame:
    """Merge-based stream-stream as-of enrichment — the DENSE-quote scale
    path. Same semantics and output schema as
    :func:`streaming_quote_enrich` (latest same-symbol quote with
    ``q_ts in [t_ts - tolerance, t_ts]``; equal-``q_ts`` quotes resolve
    by the lexicographic (bid, ask) tie-break; no-quote trades pass
    through with nulls), different machinery and a different cost model:

    * ``streaming_quote_enrich`` (interval join + election) materializes
      one row per (trade x in-tolerance quote) before electing — cost
      ``trades x quote_density x tolerance``. Measured r8: at 20k
      quotes/s/side over 5 symbols with a 30 s tolerance, ONE micro-batch
      exceeds 120 s on local[16] — dense quotes make the join shape
      unusable regardless of cluster size, because the amplification is
      per-trade.
    * this operator unions the two streams, groups by symbol, and runs a
      per-symbol ``merge_asof`` against state that carries exactly ONE
      quote (the prevailing one) — cost ``O(trades + quotes)`` per batch,
      state O(symbols), zero amplification. 100 TB/day of quotes changes
      nothing but batch size.

    Ordering contract (same as every sequence-dependent stateful operator
    here): per-symbol event-time order ACROSS micro-batches — compose
    ``reorder_within_watermark`` upstream for out-of-order feeds. Within
    a batch rows are sorted here.

    Batch frames take the same code path via ``applyInPandas`` (no state;
    the whole history is one "batch"), which is what the batch==stream
    and join==merge parity tests pin.
    """
    import pandas as pd

    tol_us = int(pd.Timedelta(tolerance).value // 1000)

    # Event time crosses the Python boundary as epoch MICROS (long), never
    # as a timestamp: Arrow hands Spark timestamps to pandas as
    # session-timezone-naive datetimes, so any epoch arithmetic on them
    # inside the UDF would shift by the session offset under a non-UTC
    # driver (caught by the hostile-tz sweep: quote_age_us off by exactly
    # UTC-5 under America/New_York). Integer epoch in, integer epoch out
    # — the memory-bank fix pattern for every tz-sensitive key.
    t = trades.select(
        F.col(symbol_col).alias("symbol"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.lit(1).cast("int").alias("kind"),
        F.col(seq_col).cast("long").alias("seq"),
        F.col("price").cast("double").alias("price"),
        F.col("volume").cast("double").alias("volume"),
        F.lit(None).cast("double").alias("bid"),
        F.lit(None).cast("double").alias("ask"),
    )
    q = quotes.select(
        F.col(symbol_col).alias("symbol"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.lit(0).cast("int").alias("kind"),
        F.lit(None).cast("long").alias("seq"),
        F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("double").alias("volume"),
        F.col("bid").cast("double").alias("bid"),
        F.col("ask").cast("double").alias("ask"),
    )
    both = t.unionByName(q)

    out_schema = (
        "symbol string, ts_us long, seq long, price double, "
        "volume double, bid double, ask double, q_ts_us long"
    )

    def _merge(symbol, pdf, state_row):
        """One ordered pass: seed quotes with the carried state quote,
        pandas merge_asof (backward, tolerance) on int64 epoch micros,
        return enriched trades + the new state (latest quote)."""
        pdf = pdf.sort_values(["ts_us", "kind", "bid", "ask"],
                              kind="mergesort")
        qs = pdf[pdf["kind"] == 0][["ts_us", "bid", "ask"]]
        if state_row is not None:
            seed = pd.DataFrame({
                "ts_us": pd.array([state_row[0]], dtype="int64"),
                "bid": [state_row[1]], "ask": [state_row[2]],
            })
            # re-sort after seeding: merge_asof requires sorted right
            # keys, and the carried quote may postdate this batch's
            # earliest quotes (independent sources drift across
            # micro-batch boundaries)
            qs = pd.concat([seed, qs], ignore_index=True).sort_values(
                ["ts_us", "bid", "ask"], kind="mergesort")
        tr = pdf[pdf["kind"] == 1][["ts_us", "seq", "price", "volume"]]
        if len(qs):
            # merge_asof keeps the LAST in-order match; qs is sorted by
            # (ts_us, bid, ask), so equal-ts quotes elect max(bid, ask) —
            # the interval-join version's tie-break exactly
            enr = pd.merge_asof(
                tr.reset_index(drop=True),
                qs.rename(columns={"ts_us": "q_ts_us"})
                .reset_index(drop=True),
                left_on="ts_us", right_on="q_ts_us", direction="backward",
                tolerance=tol_us,
            )
        else:
            enr = tr.reset_index(drop=True).assign(
                q_ts_us=pd.array([None] * len(tr), dtype="Int64"),
                bid=None, ask=None)
        out = pd.DataFrame({
            "symbol": symbol, "ts_us": enr["ts_us"], "seq": enr["seq"],
            "price": enr["price"], "volume": enr["volume"],
            "bid": enr["bid"], "ask": enr["ask"],
            "q_ts_us": enr["q_ts_us"].astype("Int64"),
        })
        if len(qs):
            last = qs.iloc[-1]
            new_state = (int(last["ts_us"]),
                         float(last["bid"]), float(last["ask"]))
        else:
            new_state = state_row
        return out, new_state

    if both.isStreaming:
        from pyspark.sql.streaming.state import (
            GroupState,
            GroupStateTimeout,
        )

        def update(key, pdfs, state: GroupState):
            # one merge per (group, micro-batch): the Arrow CHUNKS of a
            # group are not mutually time-ordered, so chunk-at-a-time
            # merging would hand a stale state quote to an earlier chunk
            (symbol,) = key
            st = state.get if state.exists else None
            chunks = [p for p in pdfs if len(p)]
            if chunks:
                pdf = (chunks[0] if len(chunks) == 1
                       else pd.concat(chunks, ignore_index=True))
                out, st = _merge(symbol, pdf, st)
                yield out
            if st is not None:
                state.update(tuple(st))

        enriched = both.groupBy("symbol").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="q_us long, bid double, ask double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    else:

        def run(key, pdf):
            (symbol,) = key
            out, _ = _merge(symbol, pdf, None)
            return out

        enriched = both.groupBy("symbol").applyInPandas(
            run, schema=out_schema)

    return enriched.select(
        "symbol", F.timestamp_micros("ts_us").alias("ts"), "seq",
        "price", "volume", "bid", "ask",
        F.round((F.col("bid") + F.col("ask")) / 2.0, 8).alias("mid"),
        F.round(F.col("ask") - F.col("bid"), 8).alias("spread"),
        (F.col("ts_us") - F.col("q_ts_us")).alias("quote_age_us"),
    )


# ------------------------------------------------------- auto-dispatch

#: default ceiling on the interval join's row amplification (expected
#: in-tolerance quotes PER TRADE). Above this the join shape's
#: (trades x density) intermediate dominates everything downstream —
#: the measured r8 failure was density = 20k quotes/s x 30 s = 600k,
#: where ONE micro-batch could not finish in 120 s on local[16].
DEFAULT_MAX_JOIN_AMPLIFICATION = 32.0


def estimate_quote_density(
    quotes: DataFrame,
    tolerance: str = "5 minutes",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
) -> float:
    """Worst-case (hottest-symbol) expected number of in-tolerance quotes
    per trade: ``max_sym quote_rate(sym) * tolerance_seconds`` — exactly
    the interval join's per-trade row amplification.

    One map-combinable aggregate over ``quotes`` (count + min/max ts per
    symbol), one driver row per symbol — cheap relative to the join it
    guards at any scale. Batch frames only (a streaming plan cannot be
    eagerly aggregated); for streams pass a static/historical sample to
    :func:`asof_enrich` via ``density_sample``."""
    import pandas as pd

    tol_s = pd.Timedelta(tolerance).total_seconds()
    stats = quotes.groupBy(symbol_col).agg(
        F.count("*").alias("n"),
        (F.unix_micros(F.max(ts_col))
         - F.unix_micros(F.min(ts_col))).alias("span_us"),
    ).collect()
    density = 0.0
    for r in stats:
        if r.n <= 1:
            density = max(density, float(r.n))
            continue
        span_s = r.span_us / 1e6
        if span_s <= 0.0:
            # all quotes at one instant: every in-tolerance trade sees
            # them all
            density = max(density, float(r.n))
        else:
            density = max(density, (r.n - 1) / span_s * tol_s)
    return density


def select_asof_mode(
    quotes: DataFrame,
    tolerance: str = "5 minutes",
    density_sample: DataFrame | None = None,
    max_join_amplification: float = DEFAULT_MAX_JOIN_AMPLIFICATION,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
) -> str:
    """Pick ``"join"`` or ``"merge"`` for :func:`asof_enrich`.

    The decision depends ONLY on the quotes side (the trades side never
    enters the amplification model — r9 ADVICE dropped the misleading
    ``trades`` parameter). The estimate source is ``density_sample`` when
    given (required to get a join on a streaming pair — a stream cannot
    be eagerly sampled), else the batch ``quotes`` frame itself. With NO
    estimable source (streaming quotes, no sample) the answer is
    ``"merge"``: its O(trades + quotes) cost is density-independent, so
    it is the only safe blind default — the join shape's failure mode is
    a micro-batch that never finishes (measured r8)."""
    sample = density_sample
    if sample is None and not quotes.isStreaming:
        sample = quotes
    if sample is None:
        return "merge"
    density = estimate_quote_density(
        sample, tolerance, ts_col=ts_col, symbol_col=symbol_col)
    return "merge" if density > max_join_amplification else "join"


def asof_enrich(
    trades: DataFrame,
    quotes: DataFrame,
    tolerance: str = "5 minutes",
    density_sample: DataFrame | None = None,
    max_join_amplification: float = DEFAULT_MAX_JOIN_AMPLIFICATION,
    watermark: str = "10 seconds",
    window: str = "1 minute",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    seq_col: str = "seq",
) -> DataFrame:
    """Unified as-of enrichment entry point (r8 VERDICT #2): same
    semantics and output schema from either implementation, with the
    implementation picked by the measured cost model instead of the
    caller having to know it.

    :func:`select_asof_mode` estimates the hottest symbol's quote
    density x tolerance (:func:`estimate_quote_density`, from
    ``density_sample`` if given else batch ``quotes``) and takes the
    interval join (:func:`streaming_quote_enrich`) below
    ``max_join_amplification``, the merge path
    (:func:`streaming_asof_enrich`) above it. A streaming pair with no
    sample takes the merge (density-independent cost). A caller who
    needs one implementation calls that function directly.

    Trade-off being arbitrated: the join is zero-Python and
    natively order-tolerant (watermarked state) but materializes
    (trades x in-tolerance quotes) before electing; the merge is
    O(trades + quotes) with O(symbols) state but crosses Python/Arrow
    and serializes each symbol onto one task (see SCALING.md for the
    single-hot-symbol ceiling)."""
    mode = select_asof_mode(
        quotes, tolerance,
        density_sample=density_sample,
        max_join_amplification=max_join_amplification,
        ts_col=ts_col, symbol_col=symbol_col)
    if mode == "merge":
        return streaming_asof_enrich(
            trades, quotes, tolerance=tolerance,
            ts_col=ts_col, symbol_col=symbol_col, seq_col=seq_col)
    return streaming_quote_enrich(
        trades, quotes, tolerance=tolerance, watermark=watermark,
        window=window, ts_col=ts_col, symbol_col=symbol_col,
        seq_col=seq_col)


# --------------------------------------------- hot-symbol shard + elect

def shard_hot_symbols(
    trades: DataFrame,
    quotes: DataFrame,
    n_shards: int,
    hot_symbols: list[str] | None = None,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
) -> tuple[DataFrame, DataFrame]:
    """Pre-stage for :func:`asof_enrich_sharded`: lift the merge path's
    single-hot-symbol ceiling by splitting ONE symbol's merge work
    across ``n_shards`` parallel tasks.

    The merge as-of serializes each symbol onto one task (SCALING.md r9
    measured the ceiling: 1 symbol sustains ~217k union rows/s vs ~530k
    at 20 symbols). Dense-feed regimes are quote-dominated, so the
    shard splits the QUOTES ``n_shards`` ways (deterministic
    ``xxhash64(ts, bid, ask) % n``) and REPLICATES the trades into every
    shard — per shard the merge costs ``O(trades + quotes/n)``, and the
    per-trade global answer is recoverable because the prevailing quote
    lives in exactly one shard: the replica that landed in that shard
    carries it, and :func:`elect_sharded` takes the max over replicas
    with the merge's own tie-break (latest ``q_ts``, then lexicographic
    ``(bid, ask)``). Sharding the trades instead would be wrong without
    replicating quotes (a trade must see ALL quotes) and replicating
    quotes is the expensive side by regime.

    ``hot_symbols=None`` shards every symbol; a list shards only those
    (other symbols pass through on shard 0 with NO trade replication —
    the fan-out cost is paid exactly where the ceiling is).

    Works on batch and streaming frames alike (stateless column ops).
    Returns ``(trades', quotes')`` whose symbol key is
    ``symbol + HOT_SHARD_SEP + shard`` — feed them to
    :func:`streaming_asof_enrich`, then :func:`elect_sharded`.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards={n_shards}: expected >= 1")
    sym = F.col(symbol_col)
    all_shards = F.array(*[F.lit(i) for i in range(n_shards)])
    if hot_symbols is None:
        t_shards = all_shards
        q_shard = F.pmod(
            F.xxhash64(F.col(ts_col), F.col("bid"), F.col("ask")),
            F.lit(n_shards)).cast("int")
    else:
        hot = sym.isin(list(hot_symbols))
        t_shards = F.when(hot, all_shards).otherwise(F.array(F.lit(0)))
        q_shard = F.when(
            hot,
            F.pmod(F.xxhash64(F.col(ts_col), F.col("bid"), F.col("ask")),
                   F.lit(n_shards)).cast("int"),
        ).otherwise(F.lit(0))

    def _tag(df: DataFrame, shard) -> DataFrame:
        return df.withColumn(
            symbol_col,
            F.concat(sym, F.lit(HOT_SHARD_SEP), shard.cast("string")))

    t = trades.withColumn("_shard", F.explode(t_shards))
    t = _tag(t, F.col("_shard")).drop("_shard")
    q = _tag(quotes, q_shard)
    return t, q


def elect_sharded(
    enriched: DataFrame,
    watermark: str = "10 seconds",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    seq_col: str = "seq",
) -> DataFrame:
    """Post-stage for :func:`asof_enrich_sharded`: collapse the
    ``n_shards`` enriched replicas of each trade back to the global
    as-of answer.

    Each shard enriched the trade against ITS quotes only; the global
    prevailing quote is the best of the shard candidates under exactly
    the merge's election order — a quote beats no-quote, later ``q_ts``
    beats earlier (equivalently: smaller ``quote_age_us``, the trade's
    ``ts`` being fixed), equal ``q_ts`` breaks by lexicographic
    ``(bid, ask)`` max. One ``max_by`` per trade identity
    ``(symbol, ts, seq)`` — JVM-side, no Python.

    Streaming frames get ``withWatermark(ts)`` before the aggregation
    (grouping includes the watermarked event-time column, so append
    mode emits each trade's election once the watermark passes its
    ``ts``). ``watermark`` is ignored for batch frames.
    """
    df = enriched
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    base_sym = F.split_part(
        F.col(symbol_col), F.lit(HOT_SHARD_SEP), F.lit(1))
    # election key: has-quote first, then latest q_ts (= smallest age),
    # then (bid, ask) — nulls only occur in all-null candidates, where
    # the coalesced key makes every replica equal (payloads equal too)
    key = F.struct(
        F.col("quote_age_us").isNotNull().cast("int").alias("has_q"),
        (-F.coalesce(F.col("quote_age_us"), F.lit(0))).alias("neg_age"),
        F.coalesce(F.col("bid"), F.lit(float("-inf"))).alias("bid"),
        F.coalesce(F.col("ask"), F.lit(float("-inf"))).alias("ask"),
    )
    payload = F.struct("price", "volume", "bid", "ask", "mid", "spread",
                       "quote_age_us")
    return (
        df.withColumn(symbol_col, base_sym)
        .groupBy(symbol_col, ts_col, seq_col)
        .agg(F.max_by(payload, key).alias("_w"))
        .select(
            symbol_col, ts_col, seq_col,
            "_w.price", "_w.volume", "_w.bid", "_w.ask", "_w.mid",
            "_w.spread", "_w.quote_age_us")
    )


def asof_enrich_sharded(
    trades: DataFrame,
    quotes: DataFrame,
    n_shards: int,
    tolerance: str = "5 minutes",
    hot_symbols: list[str] | None = None,
    watermark: str = "10 seconds",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    seq_col: str = "seq",
) -> DataFrame:
    """Merge-based as-of enrichment with the hot-symbol ceiling lifted:
    :func:`shard_hot_symbols` → :func:`streaming_asof_enrich` →
    :func:`elect_sharded`, output schema and semantics identical to the
    unsharded merge (pinned batch==sharded and batch==stream by test).

    Use when ONE instrument's union feed exceeds the per-task merge
    ceiling (~217k rows/s measured on this box, SCALING.md r9): with
    quotes split ``n_shards`` ways the per-task rate drops to
    ``trades + quotes/n``, at the cost of replicating the (small by
    regime) trades stream ``n_shards``-fold and one extra shuffle for
    the election. ``n_shards=1`` degenerates to the plain merge plus a
    no-op election."""
    t, q = shard_hot_symbols(
        trades, quotes, n_shards, hot_symbols=hot_symbols,
        ts_col=ts_col, symbol_col=symbol_col)
    enr = streaming_asof_enrich(
        t, q, tolerance=tolerance, ts_col=ts_col,
        symbol_col=symbol_col, seq_col=seq_col)
    return elect_sharded(
        enr, watermark=watermark, ts_col=ts_col,
        symbol_col=symbol_col, seq_col=seq_col)
