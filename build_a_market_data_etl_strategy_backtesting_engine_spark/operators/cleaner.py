"""Data cleaning: dedup, price validation, outlier filters, gap fill.

Reference semantics in ``/root/reference/data_processing/cleaner.py``:
- validate_prices (:199-228): split (valid, invalid) on ``min_price <= p
  [<= max_price]``, min default 0.01.
- IQR outlier filter (:39-47): keep ``Q1 - k*IQR <= x <= Q3 + k*IQR`` with
  quartiles over the WHOLE column, k=3.0. pandas ``quantile`` linearly
  interpolates -> we use Spark's exact ``percentile`` (same interpolation),
  never ``percentile_approx``, in correctness paths (SURVEY §7.7.8).
- z-score filter (:49-52): keep ``abs(x-mean)/std < k``, sample std (ddof=1).
- deduplicate (:109-132): drop_duplicates(subset, keep in first|last|False).
- gap fill (:159-197): reindex onto a complete time spine, then ffill/bfill/
  linear interpolate.
- clean_pipeline (:230-266): dedup -> validate -> outliers (order observable).

Scale notes
-----------
Dedup, the outlier filters and ``clean_pipeline`` are each one ``spark.sql``
statement built from SQL text; ``clean_pipeline`` composes the fragments the
others use. Global statistics (quartiles / mean / std) are single-row
aggregates attached with a broadcast cross-join, so the whole clean stays
one lazy plan with no ``collect`` in the data path. The stats branch and
the main branch plan the same dedup exchange, and Spark reuses it: a pass
scans the input once. That needs the null-``ts`` filter of the validation
step below the fork; a filter that only the main branch gets (``window``
adds one in ``bars``) makes the two branches differ.
Keyed dedup is one shuffle on the subset columns; ``keep=first`` uses a
``row_number`` window which AQE handles fine even with skewed keys (the
partition count tracks data volume). Staging columns get ``_fresh`` names,
so a caller column named ``_rn`` or ``_q`` survives.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.signals import (  # noqa: E501
    _fresh,
    _staged,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    sql_double,
    sql_tmpl_ident,
)


def _idents(cols: Sequence[str]) -> str:
    return ", ".join(sql_tmpl_ident(c) for c in cols)


def validate_prices(
    df: DataFrame,
    price_col: str = "price",
    min_price: float = 0.01,
    max_price: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return (valid, invalid) split by price bounds (cleaner.py:199-228)."""
    cond = F.col(price_col) >= F.lit(float(min_price))
    if max_price is not None:
        cond = cond & (F.col(price_col) <= F.lit(float(max_price)))
    return df.filter(cond), df.filter(~cond | F.col(price_col).isNull())


def _with_stats_sql(df: DataFrame, rel: str, stats: dict[str, str],
                    keep: str, group_cols: Sequence[str] | None) -> str:
    """Rows of ``rel`` (a relation over ``df``'s columns) that satisfy
    ``keep``, a condition over ``stats`` (staging name -> aggregate) taken
    over all of ``rel``, or per ``group_cols`` with an inner join on them
    (the keys lead the output, as in ``DataFrame.join(on=...)``)."""
    aggs = ", ".join(f"{e} AS {n}" for n, e in stats.items())
    if not group_cols:
        return (f"SELECT /*+ BROADCAST(_s) */ {_idents(df.columns)}"
                f" FROM {rel} AS _r CROSS JOIN (SELECT {aggs} FROM {rel}"
                f" AS _r) AS _s WHERE {keep}")
    keys = _idents(group_cols)
    rest = [c for c in df.columns if c not in group_cols]
    return (f"SELECT /*+ BROADCAST(_s) */ {_idents([*group_cols, *rest])}"
            f" FROM {rel} AS _r JOIN (SELECT {keys}, {aggs} FROM {rel}"
            f" AS _r GROUP BY {keys}) AS _s USING ({keys}) WHERE {keep}")


def _iqr_sql(df: DataFrame, rel: str, col: str, k: float,
             group_cols: Sequence[str] | None, approx: bool,
             approx_accuracy: int = 10_000) -> str:
    c = sql_tmpl_ident(col)
    (q,) = _staged(df, "_q")
    fn = (f"approx_percentile({c}, array(0.25, 0.75), {int(approx_accuracy)})"
          if approx else f"percentile({c}, array(0.25, 0.75))")
    kk, q1, q3 = sql_double(k), f"{q}[0]", f"{q}[1]"
    keep = (f"{c} >= {q1} - {kk} * ({q3} - {q1})"
            f" AND {c} <= {q3} + {kk} * ({q3} - {q1})")
    return _with_stats_sql(df, rel, {q: fn}, keep, group_cols)


def remove_outliers_iqr(
    df: DataFrame,
    col: str = "price",
    k: float = 3.0,
    group_cols: Sequence[str] | None = None,
    approx: bool = False,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Keep rows inside ``[Q1 - k*IQR, Q3 + k*IQR]``; quartiles exact,
    linearly interpolated (matches pandas / DuckDB quantile_cont).

    ``group_cols`` extends the reference (per-symbol bounds instead of global)
    — pass None for reference-exact global behavior.

    ``approx=True`` is the 100TB path: ``approx_percentile`` (one-pass
    KLL-style sketch, rank error <= 1/approx_accuracy) instead of the exact
    sort-based percentile. The filter bound shifts by at most that rank
    error — acceptable for a k-IQR fence, never used where an oracle
    compares values (FIXTURES.md tolerance table).
    """
    return df.sparkSession.sql(
        _iqr_sql(df, "{df}", col, k, group_cols, approx, approx_accuracy),
        df=df)


def _zscore_sql(df: DataFrame, rel: str, col: str, k: float,
                group_cols: Sequence[str] | None) -> str:
    c = sql_tmpl_ident(col)
    mu, sd = _staged(df, "_mu", "_sd")
    return _with_stats_sql(
        df, rel, {mu: f"avg({c})", sd: f"stddev_samp({c})"},
        f"abs({c} - {mu}) / {sd} < {sql_double(k)}", group_cols)


def remove_outliers_zscore(
    df: DataFrame,
    col: str = "price",
    k: float = 3.0,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keep rows with ``abs(x - mean)/std_samp < k`` (cleaner.py:49-52)."""
    return df.sparkSession.sql(
        _zscore_sql(df, "{df}", col, k, group_cols), df=df)


def _dedup_sql(df: DataFrame, rel: str, subset: Sequence[str] | None,
               keep: str | bool, order_col: str,
               tiebreaker: str | None) -> str:
    if subset is None:
        if keep in ("first", "last"):
            # identical rows -> any representative is fine; one shuffle.
            return f"SELECT DISTINCT * FROM {rel} AS _r"
        subset = df.columns
    part = f"PARTITION BY {_idents(subset)}"
    if keep is False:
        (flag,) = _staged(df, "_cnt")
        over, cond = f"count(1) OVER ({part})", f"{flag} = 1"
    elif keep in ("first", "last"):
        (flag,) = _staged(df, "_rn")
        desc = " DESC" if keep == "last" else ""
        order = ", ".join(sql_tmpl_ident(c) + desc
                          for c in [order_col, tiebreaker] if c)
        over = f"row_number() OVER ({part} ORDER BY {order})"
        cond = f"{flag} = 1"
    else:
        raise ValueError(f"keep must be 'first', 'last' or False, got {keep!r}")
    return (f"SELECT {_idents(df.columns)} FROM (SELECT *, {over} AS {flag}"
            f" FROM {rel} AS _r) AS _d WHERE {cond}")


def deduplicate(
    df: DataFrame,
    subset: Sequence[str] | None = None,
    keep: str | bool = "first",
    order_col: str = "ts",
    tiebreaker: str | None = None,
) -> DataFrame:
    """``drop_duplicates(subset, keep)`` semantics (cleaner.py:109-132).

    keep='first'/'last' is positional in pandas; position must be an explicit
    ordering here (SURVEY §7.7.5): ``order_col`` (+ optional ``tiebreaker``).
    ``keep=False`` drops every member of a duplicate group.
    """
    return df.sparkSession.sql(
        _dedup_sql(df, "{df}", subset, keep, order_col, tiebreaker), df=df)


def fill_missing_timestamps(
    df: DataFrame,
    freq_seconds: int,
    method: str = "ffill",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Reindex each symbol onto a complete time spine and fill gaps
    (cleaner.py:159-197).

    Spine = ``sequence(min_ts, max_ts, interval)`` exploded per symbol, then a
    left join of the data and windowed ffill/bfill. Linear interpolation
    carries both neighbor values + timestamps and lerps.

    The spine is built per symbol from that symbol's own min/max (matches the
    reference's per-frame ``date_range``). sequence+explode is generated
    JVM-side; no driver materialization.
    """
    value_cols = list(value_cols or [c for c in df.columns
                                     if c not in (ts_col, symbol_col)])
    interval = F.expr(f"INTERVAL {int(freq_seconds)} SECONDS")
    lo, hi = _fresh(df, "_lo", "_hi")
    spine = (
        df.groupBy(symbol_col)
        .agg(F.min(ts_col).alias(lo), F.max(ts_col).alias(hi))
        .select(symbol_col,
                F.explode(F.sequence(lo, hi, interval)).alias(ts_col))
    )
    joined = spine.join(df, on=[symbol_col, ts_col], how="left")
    w = Window.partitionBy(symbol_col).orderBy(ts_col)
    w_back = (
        Window.partitionBy(symbol_col)
        .orderBy(ts_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_fwd = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = joined
    for c in value_cols:
        if method == "ffill":
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w_fwd))
        elif method == "bfill":
            out = out.withColumn(c, F.first(c, ignorenulls=True).over(w_back))
        elif method == "interpolate":
            prev_v = F.last(c, ignorenulls=True).over(w_fwd)
            next_v = F.first(c, ignorenulls=True).over(w_back)
            prev_t = F.last(F.when(F.col(c).isNotNull(), F.col(ts_col)),
                            ignorenulls=True).over(w_fwd)
            next_t = F.first(F.when(F.col(c).isNotNull(), F.col(ts_col)),
                             ignorenulls=True).over(w_back)
            span = F.unix_timestamp(next_t) - F.unix_timestamp(prev_t)
            frac = F.when(span > 0,
                          (F.unix_timestamp(ts_col) - F.unix_timestamp(prev_t))
                          / span).otherwise(F.lit(0.0))
            lerp = prev_v + (next_v - prev_v) * frac
            out = out.withColumn(
                c,
                F.when(F.col(c).isNotNull(), F.col(c))
                .when(prev_v.isNull(), next_v)
                .when(next_v.isNull(), prev_v)
                .otherwise(lerp),
            )
        else:
            raise ValueError(f"unknown fill method {method!r}")
    return out


# Above this estimated input size the composed pipeline switches the IQR
# quartiles to the one-pass approx_percentile sketch: an exact global
# percentile is a full-column sort-aggregate — fine for oracle-sized data,
# a scale-killer at 100 TB (the fence only needs rank accuracy ~1e-4).
AUTO_APPROX_BYTES = 1 << 30


def _estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's lazy size estimate for the plan's output (file sizes /
    range bounds — no job runs). None when the private API is unavailable
    (e.g. Spark Connect)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:
        return None


def clean_pipeline(
    df: DataFrame,
    price_col: str = "price",
    dedup_subset: Sequence[str] | None = None,
    min_price: float = 0.01,
    max_price: float | None = None,
    outlier_method: str | None = "iqr",
    outlier_k: float = 3.0,
    order_col: str = "ts",
    approx: bool | None = None,
) -> DataFrame:
    """Composed clean in the reference's observable order
    (cleaner.py:230-266): dedup -> validate -> outlier filter.

    ``approx`` controls the IQR quartile path: True = one-pass
    approx_percentile sketch (the 100 TB path), False = exact interpolated
    percentile (oracle parity), None (default) = auto — exact below
    ``AUTO_APPROX_BYTES`` of Catalyst-estimated input, sketch above, so the
    default composition is scale-safe without a config flag.

    Validation also drops rows whose ``order_col`` is NULL (when the frame
    has that column): such a tick has no bar to land in, and the filter
    below the stats fork lets both branches share one scan."""
    rel = f"({_dedup_sql(df, '{df}', dedup_subset, 'first', order_col, None)})"
    valid = ([f"{sql_tmpl_ident(order_col)} IS NOT NULL"]
             if order_col in df.columns else [])
    if price_col in df.columns:
        p = sql_tmpl_ident(price_col)
        valid.append(f"{p} >= {sql_double(min_price)}")
        if max_price is not None:
            valid.append(f"{p} <= {sql_double(max_price)}")
    text = f"SELECT * FROM {rel} AS _r"
    if valid:
        text += f" WHERE {' AND '.join(valid)}"
    if price_col not in df.columns or outlier_method is None:
        return df.sparkSession.sql(text, df=df)
    if outlier_method == "iqr":
        if approx is None:
            est = _estimated_plan_bytes(df)
            approx = est is not None and est > AUTO_APPROX_BYTES
        text = _iqr_sql(df, f"({text})", price_col, outlier_k, None, approx)
    elif outlier_method == "zscore":
        text = _zscore_sql(df, f"({text})", price_col, outlier_k, None)
    else:
        raise ValueError(f"unknown outlier method {outlier_method!r}")
    return df.sparkSession.sql(text, df=df)
