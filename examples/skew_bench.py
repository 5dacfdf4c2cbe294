#!/usr/bin/env python3
"""Hot-key skew benchmark: AQE skew-join vs manual salting, measured.

Scenario: a shuffle join where 90% of the fact rows carry one symbol — the
volume-concentration shape real market data has (SCALING.md "skew" section).
Broadcast is disabled so the join MUST shuffle both sides (at 100TB the dim
side of a symbol->metadata join can exceed broadcast budgets); the question
is what handles the hot partition best:

  plain        sort-merge join, AQE off          (the naive baseline)
  aqe          sort-merge join, AQE skew-join on (runtime split of hot parts)
  salted       fact gets a k-way salt, dim is exploded k ways, join on
               (symbol, salt)                     (static split, k=16)

Run: python3 examples/skew_bench.py   (~5M fact rows)
Numbers from this box are recorded in SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark import get_spark

N_FACT = 5_000_000
N_SYMBOLS = 100
DIM_ROWS_PER_SYMBOL = 10  # keep join fan-out bounded: skew cost must come
                          # from the hot shuffle partition, not row explosion
SALT = 16


def make_frames(spark):
    # 90% of rows on symbol s00 (the hot key), rest uniform
    fact = spark.range(N_FACT).select(
        F.when(F.col("id") % 10 < 9, F.lit("s00"))
        .otherwise(F.concat(F.lit("s"),
                            F.lpad((F.col("id") % (N_SYMBOLS - 1) + 1)
                                   .cast("string"), 2, "0"))).alias("symbol"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    dim = spark.range(N_SYMBOLS * DIM_ROWS_PER_SYMBOL).select(
        F.concat(F.lit("s"),
                 F.lpad((F.col("id") % N_SYMBOLS).cast("string"), 2, "0"))
        .alias("symbol"),
        (F.col("id") % 7).cast("double").alias("w"),
    )
    return fact, dim


def run_plain(fact, dim):
    j = fact.join(dim, "symbol")
    j.groupBy("symbol").agg(F.sum(F.col("v") * F.col("w")).alias("x")) \
        .write.format("noop").mode("overwrite").save()


def run_salted(fact, dim):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.skew import salted_join

    j = salted_join(fact, dim, "symbol", n_salt=SALT, salt_from=["v"])
    j.groupBy("symbol").agg(F.sum(F.col("v") * F.col("w")).alias("x")) \
        .write.format("noop").mode("overwrite").save()


def timed(tag, spark, fn, fact, dim, aqe: bool, tuned: bool = False):
    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(aqe).lower())
    # At this bench's scale the hot partition (~90 MB) is BELOW AQE's
    # default 256 MB skew threshold, so stock AQE never splits it — the
    # "tuned" variant lowers the thresholds the way a 100 TB job would
    # size them relative to its partition budget.
    thresh = "16m" if tuned else "256m"
    advisory = "8m" if tuned else "64m"
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", thresh)
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
    # The downstream groupBy("symbol") shares the join's hash distribution,
    # so by default AQE REFUSES to split the skewed partition (splitting
    # would force an extra shuffle before the agg). force = accept that
    # trade — the split + re-shuffle still beats one straggler task.
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin",
                   str(tuned).lower())
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn(fact, dim)
        best = min(best, time.perf_counter() - t0)
    print(f"{tag:28s} {best:7.2f}s")
    return best


def main():
    spark = get_spark("skew-bench", shuffle_partitions=32, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.driver.memory": "8g",
    })
    spark.sparkContext.setLogLevel("ERROR")
    fact, dim = make_frames(spark)
    fact.write.format("noop").mode("overwrite").save()  # warm codegen

    r = {}
    r["plain (AQE off)"] = timed("plain (AQE off)", spark, run_plain,
                                 fact, dim, aqe=False)
    r["AQE skew-join"] = timed("AQE skew-join", spark, run_plain,
                               fact, dim, aqe=True)
    r["AQE skew-join (tuned)"] = timed("AQE skew-join (tuned)", spark,
                                       run_plain, fact, dim, aqe=True,
                                       tuned=True)
    r["salted k=16 (AQE off)"] = timed("salted k=16 (AQE off)", spark,
                                       run_salted, fact, dim, aqe=False)
    r["salted k=16 (AQE on)"] = timed("salted k=16 (AQE on)", spark,
                                      run_salted, fact, dim, aqe=True)
    spark.stop()


if __name__ == "__main__":
    main()
