"""Round-5 hardening tests: LSH stop-band cap, tickgen timezone
independence, binomial conf hygiene, q112 exact-sigmoid derivation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    dedup,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


# ------------------------------------------------------- LSH stop-band cap

def test_lsh_stop_band_cap_bounds_hot_band(spark):
    """Adversarial corpus: 500 docs share one identical boilerplate
    prefix long enough to dominate every minhash band -> uncapped LSH
    would emit ~125k pairs from that one bucket. With the cap the hot
    band is dropped and the pair count collapses to the genuinely
    similar tail."""
    boiler = "terms of service apply to all content " * 6
    rows = [(i, boiler) for i in range(500)]
    # two genuinely near-dup docs that do NOT contain the boilerplate
    rows += [(1000, "a unique document about owls and trees xyzzy"),
             (1001, "a unique document about owls and trees xyzzyq")]
    sigs = dedup.minhash_signatures(_docs(spark, rows), num_hashes=8)
    capped = dedup.lsh_candidate_pairs(
        sigs, num_hashes=8, bands=4, max_band_df=50)
    got = capped.collect()
    # every boilerplate band has df=500 > 50 -> dropped; only the owl
    # pair (df=2 bands) survives
    assert {(r.doc_a, r.doc_b) for r in got} == {(1000, 1001)}
    uncapped_n = dedup.lsh_candidate_pairs(
        sigs, num_hashes=8, bands=4).count()
    assert uncapped_n >= 500 * 499 / 2


def test_lsh_cap_preserves_recall_on_normal_corpus(spark):
    """On a corpus with no hot bands, a sane cap must not change the
    candidate set at all (recall pin)."""
    import hashlib

    def blob(i):
        return " ".join(
            hashlib.md5(f"{i}:{j}".encode()).hexdigest() for j in range(4))

    rows = [(i, blob(i)) for i in range(60)]
    rows += [(200, "nearly identical pair of documents right here ok"),
             (201, "nearly identical pair of documents right here okk")]
    sigs = dedup.minhash_signatures(_docs(spark, rows), num_hashes=16)
    base = {(r.doc_a, r.doc_b, r.n_shared_bands)
            for r in dedup.lsh_candidate_pairs(sigs).collect()}
    capped = {(r.doc_a, r.doc_b, r.n_shared_bands)
              for r in dedup.lsh_candidate_pairs(
                  sigs, max_band_df=30).collect()}
    assert capped == base
    assert any(p[0] == 200 and p[1] == 201 for p in base)


def test_minhash_dedup_passes_cap_through(spark):
    rows = [(i, "same boilerplate everywhere " * 8) for i in range(80)]
    out = dedup.minhash_dedup(
        _docs(spark, rows), num_hashes=8, bands=4, threshold=0.5,
        max_band_df=10)
    assert out.count() == 0  # hot band capped away, nothing else similar


# ------------------------------------------- tickgen timezone independence

def test_tickgen_instants_are_session_tz_independent(spark):
    """r4 ADVICE: the Python DataSource used to yield naive datetimes,
    which Spark reads in the SESSION zone — the epoch instant (and any
    bar bucketing) shifted per environment. Now it yields tz-aware UTC:
    the unix timestamp of every tick must be identical under UTC and
    under a half-hour-offset hostile zone (Asia/Kolkata, +05:30, where
    even whole-hour-invariant aggregates would shift)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
        ensure_package_on_executors,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.sources import (
        datasource as dsrc,
    )

    ensure_package_on_executors(spark)
    dsrc.register(spark)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = [r.u for r in
               spark.read.format("tickgen").option("n_ticks", 64).load()
               .select(F.unix_timestamp("ts").alias("u"), "seq")
               .orderBy("seq").collect()]
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        ist = [r.u for r in
               spark.read.format("tickgen").option("n_ticks", 64).load()
               .select(F.unix_timestamp("ts").alias("u"), "seq")
               .orderBy("seq").collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert utc == ist
    assert utc[0] == 1_700_000_000  # the documented start_ms instant


# ------------------------------------------- option pricers build lazily

def test_pricers_build_without_jobs_or_session_state(spark, sf_dir):
    """Building q108 (implied vol) and q120 (binomial American) starts no
    Spark job, leaves every session conf as it was and registers no temp
    view: each pricer is one lazy plan over the caller's frame."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark import (
        queries as q,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
        load_tables,
    )

    load_tables(spark, sf_dir, ["part"])  # schema inference runs a job
    conf = dict(spark.conf.getAll)
    views = {t.name for t in spark.catalog.listTables()}
    sc = spark.sparkContext
    group = "pricers-build"
    sc.setJobGroup(group, "building must not run jobs")
    try:
        built = [q.spark_queries()[name](spark, sf_dir) for name in
                 ("q108_implied_vol", "q120_binomial_american")]
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("other", "")
    assert jobs == []
    assert dict(spark.conf.getAll) == conf
    assert {t.name for t in spark.catalog.listTables()} == views
    assert [df.columns for df in built] == [["id", "iv"], ["id", "price"]]


# ------------------------------------ q112 exact-sigmoid derivation (ADVICE)

def test_hashed_ngram_score_sigmoid_from_integer_sum(spark):
    """quality_prob must be a pure function of (w_sum_x1024, n_features)
    — the exact integer representation — not of the float avg, so both
    engines run the identical float expression on identical inputs."""
    import math

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        text as text_ops,
    )

    d = _docs(spark, [(1, "alpha beta gamma delta"),
                      (2, "one two three four five six")])
    rows = text_ops.hashed_ngram_score(d, n_buckets=1024).collect()
    for r in rows:
        z = r.w_sum_x1024 / 1024.0 / r.n_features
        assert r.quality_prob == pytest.approx(
            1.0 / (1.0 + math.exp(-z)), abs=0.0)


# --------------------------------------- stream-stream quote enrichment

def _write_rows(path, rows):
    import pandas as pd

    pd.DataFrame(rows).to_json(path, orient="records", lines=True)


def _stamp(d):
    import os
    import time as _t

    base = _t.time() - 120
    for i, pth in enumerate(sorted(d.glob("*.json"))):
        os.utime(pth, (base + 2 * i, base + 2 * i))


def _enrich_fixture(tmp_path):
    """Trades/quotes across 3 micro-batch files each; the decisive quote
    for trade seq=2 arrives one BATCH LATER than the trade (within
    watermark) — the cross-batch case only a stream-stream join handles.
    ZZZ sentinels in the last files advance both watermarks so append
    mode flushes everything real."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def tr(sym, m, s, price, seq):
        return {"ts": (t0 + pd.Timedelta(minutes=m, seconds=s)).isoformat(),
                "symbol": sym, "price": price, "volume": 1.0, "seq": seq}

    def qt(sym, m, s, bid, ask):
        return {"ts": (t0 + pd.Timedelta(minutes=m, seconds=s)).isoformat(),
                "symbol": sym, "bid": bid, "ask": ask}

    td = tmp_path / "trades"
    qd = tmp_path / "quotes"
    td.mkdir()
    qd.mkdir()
    _write_rows(td / "b1.json", [tr("A", 0, 10, 100.0, 1),
                                 tr("A", 2, 30, 101.0, 2),
                                 tr("B", 1, 0, 50.0, 3)])
    _write_rows(qd / "b1.json", [qt("A", 0, 5, 99.0, 101.0),
                                 qt("B", 0, 59, 49.0, 51.0),
                                 qt("A", 2, 0, 100.0, 101.0)])
    # trade with NO quote inside its 5-minute tolerance
    _write_rows(td / "b2.json", [tr("A", 30, 0, 102.0, 4)])
    # the late cross-batch quote that must win for seq=2
    _write_rows(qd / "b2.json", [qt("A", 2, 20, 100.5, 101.5)])
    _write_rows(td / "b3.json", [tr("ZZZ", 240, 0, 1.0, 99)])
    _write_rows(qd / "b3.json", [qt("ZZZ", 239, 59, 1.0, 1.0)])
    _stamp(td)
    _stamp(qd)
    return str(td), str(qd)


TRADE_SCHEMA = "ts timestamp, symbol string, price double, volume double, seq long"
QUOTE_SCHEMA = "ts timestamp, symbol string, bid double, ask double"


def test_streaming_quote_enrich_cross_batch_and_batch_equivalence(
        spark, tmp_path):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.joins import (
        streaming_quote_enrich,
    )

    td, qd = _enrich_fixture(tmp_path)
    ts = (spark.readStream.format("json").schema(TRADE_SCHEMA)
          .option("maxFilesPerTrigger", 1).load(td))
    qs = (spark.readStream.format("json").schema(QUOTE_SCHEMA)
          .option("maxFilesPerTrigger", 1).load(qd))
    out = streaming_quote_enrich(
        ts, qs, tolerance="5 minutes", watermark="30 minutes")
    q = (out.writeStream.format("memory").queryName("enrich_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.seq: r for r in
           spark.sql("SELECT * FROM enrich_mem WHERE symbol <> 'ZZZ'")
           .collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1].bid == 99.0 and got[1].ask == 101.0
    # seq=2: the 02:20 quote arrived a micro-batch AFTER the trade and
    # still beats the 02:00 quote delivered alongside it
    assert got[2].bid == 100.5 and got[2].quote_age_us == 10_000_000
    assert got[3].bid == 49.0
    # seq=4: nothing within tolerance -> null passthrough
    assert got[4].bid is None and got[4].mid is None

    # batch == stream: the same function over batch frames
    tb = spark.read.format("json").schema(TRADE_SCHEMA).load(td)
    qb = spark.read.format("json").schema(QUOTE_SCHEMA).load(qd)
    bres = {r.seq: r for r in streaming_quote_enrich(
        tb, qb, tolerance="5 minutes").collect() if r.symbol != "ZZZ"}
    assert set(bres) == set(got)
    for s in got:
        for c in ("bid", "ask", "mid", "spread", "quote_age_us"):
            assert getattr(bres[s], c) == getattr(got[s], c), (s, c)


def test_streaming_quote_enrich_matches_batch_asof(spark, tmp_path):
    """Semantic pin: the stream-stream election == the batch as-of join
    (backward, same tolerance) on the same data."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        joins,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.joins import (
        streaming_quote_enrich,
    )

    td, qd = _enrich_fixture(tmp_path)
    tb = spark.read.format("json").schema(TRADE_SCHEMA).load(td)
    qb = spark.read.format("json").schema(QUOTE_SCHEMA).load(qd)
    enriched = {r.seq: r for r in streaming_quote_enrich(
        tb, qb, tolerance="5 minutes").collect()}
    asof = {r.seq: r for r in joins.asof_join(
        tb, qb.withColumnRenamed("ts", "ts"),
        on="ts", by="symbol", value_cols=["bid", "ask"],
        tolerance="5 minutes", direction="backward").collect()}
    assert set(enriched) == set(asof)
    for s in enriched:
        assert enriched[s].bid == asof[s].bid, s
        assert enriched[s].ask == asof[s].ask, s
