"""SQL surface: the engine's scalar library registered as Spark SQL
functions, view helpers, and the literal/identifier quoting every module
that emits SQL text shares — the whole engine queryable as SQL (SURVEY
§7.0 design goal; also what makes DuckDB-oracle checking natural).

Spark 4 SQL UDFs (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``) keep
these as catalyst expressions — no Python round-trip, fully codegen'd,
identical formulas to the Column builders in ``functions/`` (generated from
the same ``*_sql`` sources). The metric suite (``operators/metrics.py``)
and the text-scoring expressions (``operators/text.py``) are defined only
as SQL text built with the quoting helpers below.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
    derivatives as deriv,
    mathx,
)


def sql_str(s: str) -> str:
    """Single-quoted Spark SQL string literal. Backslashes must be
    doubled (default escapedStringLiterals=false processes escapes) so
    the parsed literal is byte-identical to the Python string."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_tmpl_ident(name: str) -> str:
    """:func:`sql_ident` for statement text that goes through
    ``str.format`` (:func:`layered_sql`): braces are doubled, so a column
    named ``a{b}`` stays a literal name."""
    return sql_ident(name).replace("{", "{{").replace("}", "}}")


def with_columns_sql(columns: Sequence[str], outputs: dict[str, str],
                     ) -> list[str]:
    """Select list with ``DataFrame.withColumns`` semantics: an output
    named like an input column (case-insensitively) takes its place, the
    others follow in order. ``outputs`` maps names to SQL expressions."""
    by_low = {k.lower(): k for k in outputs}
    sel, done = [], set()
    for c in columns:
        k = by_low.get(c.lower())
        sel.append(sql_tmpl_ident(c) if k is None
                   else f"{outputs[k]} AS {sql_tmpl_ident(k)}")
        if k is not None:
            done.add(k)
    return sel + [f"{e} AS {sql_tmpl_ident(k)}"
                  for k, e in outputs.items() if k not in done]


def layered_sql(df: DataFrame, layers: Sequence[Sequence[str]],
                group_by: Sequence[str] = (), source: str = "{df}",
                **frames: DataFrame) -> DataFrame:
    """One ``spark.sql`` statement over ``df``. Every layer but the last
    is a subquery selecting its items from the one before it, starting at
    ``source``; the last layer is the final select list, grouped by
    ``group_by``. An operator emits one layer per window dependency, so a
    whole operator is one Catalyst analysis and a handful of py4j calls.

    The layers nest as subqueries, not CTEs: Spark keeps a statement's
    CTEs as ``WithCTE`` nodes in its analyzed plan, and every later
    analysis over that lineage pays for them (a MACD -> backtest ->
    metrics build took about twice as long with CTEs). The text goes
    through ``str.format`` with ``df`` and ``frames`` as relations: quote
    identifiers with :func:`sql_tmpl_ident`."""
    rel = source
    for i, items in enumerate(layers[:-1]):
        rel = f"(SELECT {', '.join(items)} FROM {rel}) AS _l{i}"
    text = f"SELECT {', '.join(layers[-1])} FROM {rel}"
    if group_by:
        text += f" GROUP BY {', '.join(group_by)}"
    return df.sparkSession.sql(text, df=df, **frames)


def sql_double(v: float) -> str:
    """A SQL literal that parses as DoubleType with the exact bits of
    ``v``. A bare ``0.5`` parses as DECIMAL(1,1) in Spark SQL — a
    different type and comparison semantics than the Column API's
    ``lit(0.5)`` — so always emit scientific notation (17 significant
    digits round-trips any double exactly)."""
    return f"{float(v):.17e}"


def sql_in(vals) -> str:
    """Comma-separated string literals for an ``IN (...)`` list."""
    return ", ".join(sql_str(v) for v in vals)


_ARGS5 = "s DOUBLE, k DOUBLE, t DOUBLE, sigma DOUBLE, r DOUBLE"


def _fn(name: str, args: str, body: str) -> str:
    return (f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS DOUBLE RETURN {body}")


def register_functions(spark: SparkSession) -> list[str]:
    """Register the scalar function library; returns the names registered."""
    defs = {
        "erf": ("x DOUBLE", mathx.erf_sql("x")),
        "norm_cdf": ("x DOUBLE", mathx.norm_cdf_sql("x")),
        "norm_pdf": ("x DOUBLE", mathx.norm_pdf_sql("x")),
        "bs_d1": (_ARGS5, deriv.d1_sql("s", "k", "t", "sigma", "r")),
        "bs_call": (_ARGS5, deriv.bs_call_sql("s", "k", "t", "sigma", "r")),
        "bs_put": (_ARGS5, deriv.bs_put_sql("s", "k", "t", "sigma", "r")),
        "bs_gamma": (_ARGS5, deriv.bs_gamma_sql("s", "k", "t", "sigma", "r")),
        "bs_delta_call": (_ARGS5,
                          mathx.norm_cdf_sql(
                              deriv.d1_sql("s", "k", "t", "sigma", "r"))),
        "futures_pnl_long": (
            "entry DOUBLE, current DOUBLE, contracts DOUBLE, mult DOUBLE",
            "(current - entry) * contracts * mult"),
        "cost_of_carry": (
            "spot DOUBLE, r DOUBLE, storage DOUBLE, t DOUBLE",
            "spot * exp((r + storage) * t)"),
        "kelly_quarter": (
            "p DOUBLE, avg_win DOUBLE, avg_loss DOUBLE",
            "least(greatest(((p * (avg_win / abs(avg_loss)) - (1.0 - p))"
            " / (avg_win / abs(avg_loss))) / 4.0, 0.0), 0.25)"),
        "simple_return": ("cur DOUBLE, prev DOUBLE",
                          "CASE WHEN prev IS NULL THEN 0.0"
                          " ELSE cur / prev - 1.0 END"),
        # deterministic sampling from SQL: WHERE sample_bucket(key) < 10000*rate
        # (same xxhash64 bucket as operators/sampling.py hash_bucket)
        "sample_bucket": ("k STRING",
                          "CAST(pmod(xxhash64(k), 10000) AS DOUBLE)"),
        # tz-proof session keys (r4): integer epoch arithmetic, immune to
        # the session timezone — the SQL twins of microstructure._utc_day
        # and _utc_minute_of_day (date_trunc/hour truncate in session tz)
        "epoch_day_us": ("ts TIMESTAMP",
                         "CAST(unix_micros(ts)"
                         " - pmod(unix_micros(ts), 86400000000) AS DOUBLE)"),
        "minute_of_day": ("ts TIMESTAMP",
                          "CAST(CAST(pmod(unix_micros(ts), 86400000000)"
                          " / 60000000 AS INT) AS DOUBLE)"),
    }
    for name, (args, body) in defs.items():
        spark.sql(_fn(name, args, body))
    return list(defs)


def register_views(spark: SparkSession, sf_dir: str) -> dict:
    """Temp-view every testdata table + derived ticks/bars views so the full
    pipeline is runnable as pure SQL."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
        events_as_ticks,
        load_tables,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        bars,
    )

    tables = load_tables(spark, sf_dir)
    if "events" in tables:
        ticks = events_as_ticks(tables["events"])
        ticks.createOrReplaceTempView("ticks")
        bars.ticks_to_ohlcv(ticks, "1H").createOrReplaceTempView("bars_1h")
        bars.ticks_to_ohlcv(ticks, "1min").createOrReplaceTempView("bars_1min")
    return tables
