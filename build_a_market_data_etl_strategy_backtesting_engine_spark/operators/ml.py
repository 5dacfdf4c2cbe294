"""ML strategy bridge: feature engineering, time splits, walk-forward
validation, batch inference.

Reference: ``/root/reference/backtesting/ml_strategy.py`` — feature set
(:125-175), train/test time split 80/20 (:412-434), walk-forward windows
(:437-488), model predict bridge (:50-71), ensemble vote (:312-356).

Spark design: features are the §2.4 window expressions (signals.py), splits
are timestamp filters (no shuffle — partition pruning when stored by date),
inference is an Arrow-batched pandas UDF wrapping any ``predict``-style
callable, ensembles are a weighted column average + threshold.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import signals


def engineer_features(
    bars: DataFrame,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "close",
) -> DataFrame:
    """The reference feature battery (ml_strategy.py:125-175): returns, SMA
    ratios, RSI, Bollinger position, rolling volatility, volume ratio."""
    keys = (symbol_col, ts_col)
    df = bars
    df = df.withColumn("ret_1", signals.pct_change(price_col, 1, *keys))
    df = df.withColumn("ret_5", signals.pct_change(price_col, 5, *keys))
    df = df.withColumn(
        "sma_ratio_10",
        F.col(price_col) / signals.rolling_mean(price_col, 10, *keys))
    df = df.withColumn(
        "sma_ratio_20",
        F.col(price_col) / signals.rolling_mean(price_col, 20, *keys))
    df = signals.with_rsi(df, 14, price_col, symbol_col, ts_col)
    df = signals.with_bollinger(df, 20, 2.0, price_col, symbol_col, ts_col)
    df = df.withColumn(
        "bb_pos",
        (F.col(price_col) - F.col("bb_lower"))
        / (F.col("bb_upper") - F.col("bb_lower")))
    df = signals.with_rolling_volatility(df, 20, price_col, symbol_col, ts_col)
    if "volume" in bars.columns:
        df = signals.with_volume_ratio(df, 20, "volume", symbol_col, ts_col)
    return df


def make_labels(
    df: DataFrame,
    horizon: int = 1,
    threshold: float = 0.0,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "close",
) -> DataFrame:
    """Forward-return labels: +1/-1/0 on the next-``horizon`` return
    (ml_strategy.py:86-98); the lead is per symbol, no look-ahead leak into
    features."""
    w = signals.sym_window(symbol_col, ts_col)
    fwd = F.lead(price_col, horizon).over(w) / F.col(price_col) - 1
    lab = (F.when(fwd > threshold, 1)
           .when(fwd < -threshold, -1).otherwise(0)).cast("int")
    return df.withColumn("label", lab)


def time_split(
    df: DataFrame, train_frac: float = 0.8, ts_col: str = "ts"
) -> tuple[DataFrame, DataFrame]:
    """Time-ordered train/test split (ml_strategy.py:412-434): cut at the
    train_frac quantile of ts — a filter, not a shuffle."""
    cut = df.select(
        F.expr(f"percentile(unix_micros({ts_col}), {float(train_frac)!r})")
    ).first()[0]
    cut_expr = F.unix_micros(F.col(ts_col)) <= F.lit(int(cut))
    return df.filter(cut_expr), df.filter(~cut_expr)


def walk_forward_splits(
    df: DataFrame, n_splits: int = 5, ts_col: str = "ts"
) -> list[tuple[DataFrame, DataFrame]]:
    """Expanding-window walk-forward (ml_strategy.py:437-488): split the time
    axis into n_splits+1 equal slices; fold i trains on slices [0..i] and
    tests on slice i+1. Pure timestamp filters."""
    lo, hi = df.select(
        F.min(F.unix_micros(ts_col)), F.max(F.unix_micros(ts_col))
    ).first()
    step = (hi - lo) // (n_splits + 1)
    folds = []
    for i in range(1, n_splits + 1):
        cut, end = lo + i * step, lo + (i + 1) * step
        us = F.unix_micros(F.col(ts_col))
        folds.append((df.filter(us <= cut),
                      df.filter((us > cut) & (us <= end if i < n_splits
                                              else F.lit(True)))))
    return folds


def predict_with_model(
    df: DataFrame,
    model_predict: Callable[[pd.DataFrame], "pd.Series | list"],
    feature_cols: Sequence[str],
    out_col: str = "prediction",
) -> DataFrame:
    """Batch inference: any fitted model's ``predict`` callable applied over
    Arrow batches (ml_strategy.py:50-71's predict bridge). The model must be
    picklable (broadcast to executors once)."""
    cols = list(feature_cols)
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` double"

    def _run(it):
        for pdf in it:
            x = pdf[cols].fillna(0.0)
            pdf[out_col] = pd.Series(model_predict(x)).astype(float).values
            yield pdf

    return df.mapInPandas(_run, schema)


class NumpyLogit:
    """Deterministic numpy logistic-regression — the in-env stand-in for the
    ``model_class(**kwargs).fit(X, y)`` the reference trains with sklearn
    (ml_strategy.py:73-104; no sklearn in this container). Binary logit on
    ``y > 0`` with L2 regularization, full-batch gradient descent, fixed
    iteration count and zero init — bit-reproducible across runs, picklable,
    so it broadcasts cleanly into ``predict_with_model``.

    ``predict`` emits +1/-1 (the reference's signal convention);
    ``predict_proba`` the raw sigmoid. ``feature_importance`` is |coef|
    (ml_strategy.py:391-402's importance surface for linear models).
    """

    def __init__(self, lr: float = 0.1, n_iter: int = 500, l2: float = 1e-3):
        self.lr, self.n_iter, self.l2 = float(lr), int(n_iter), float(l2)
        self.coef_ = None
        self.intercept_ = 0.0
        self.feature_names_ = None

    @staticmethod
    def _sigmoid(z):
        import numpy as np

        return 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))

    def fit(self, X, y):
        import numpy as np

        Xv = np.asarray(X, dtype="float64")
        Xv = np.nan_to_num(Xv, nan=0.0, posinf=0.0, neginf=0.0)
        yb = (np.asarray(y, dtype="float64") > 0).astype("float64")
        n, d = Xv.shape
        # standardize for conditioning; fold back at the end so predict
        # works on raw features.
        mu, sd = Xv.mean(axis=0), Xv.std(axis=0)
        sd = np.where(sd > 0, sd, 1.0)
        Xs = (Xv - mu) / sd
        w = np.zeros(d)
        b = 0.0
        for _ in range(self.n_iter):
            p = self._sigmoid(Xs @ w + b)
            g = Xs.T @ (p - yb) / n + self.l2 * w
            w -= self.lr * g
            b -= self.lr * float((p - yb).mean())
        self.coef_ = w / sd
        self.intercept_ = b - float((w * mu / sd).sum())
        if hasattr(X, "columns"):
            self.feature_names_ = list(X.columns)
        return self

    def predict_proba(self, X):
        import numpy as np

        Xv = np.nan_to_num(
            np.asarray(X, dtype="float64"), nan=0.0, posinf=0.0, neginf=0.0)
        return self._sigmoid(Xv @ self.coef_ + self.intercept_)

    def predict(self, X):
        import numpy as np

        return np.where(self.predict_proba(X) > 0.5, 1.0, -1.0)

    def feature_importance(self) -> pd.DataFrame:
        import numpy as np

        names = self.feature_names_ or [
            f"f{i}" for i in range(len(self.coef_))]
        imp = np.abs(self.coef_)
        tot = imp.sum() or 1.0
        return (
            pd.DataFrame({"feature": names, "importance": imp / tot})
            .sort_values("importance", ascending=False)
            .reset_index(drop=True)
        )


def train_model(
    train: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "label",
    model: "NumpyLogit | None" = None,
    max_rows: int = 1_000_000,
) -> NumpyLogit:
    """Spark-side of ``MLStrategy.train_model`` (ml_strategy.py:73-104):
    features/labels are computed distributed, then the training set crosses
    to the driver for the single-node ``fit`` — exactly the reference's
    topology (sklearn fit is single-node too). ``max_rows`` caps the driver
    transfer with a deterministic hash-sample; at 100 TB you train on a
    sample or hand the same columns to a distributed trainer, the feature
    plan is identical either way."""
    cols = list(feature_cols)
    df = train.select(*cols, label_col).na.drop(subset=[label_col])
    n = df.count()
    if n > max_rows:
        frac = max_rows / n
        df = df.filter(
            (F.abs(F.xxhash64(*cols, F.lit(42))) % 1_000_000)
            < int(frac * 1_000_000)
        )
    pdf = df.toPandas()
    model = model or NumpyLogit()
    return model.fit(pdf[cols].fillna(0.0), pdf[label_col])


def ensemble_signal(
    df: DataFrame,
    signal_cols: Sequence[str],
    weights: Sequence[float] | None = None,
    threshold: float = 0.5,
    out_col: str = "signal",
) -> DataFrame:
    """Weighted signal vote -> thresholded ensemble (ml_strategy.py:312-356):
    avg = sum(w_i * s_i)/sum(w), signal = +1 if avg > thr, -1 if < -thr."""
    cols = list(signal_cols)
    ws = list(weights) if weights else [1.0] * len(cols)
    num = sum(F.col(c) * F.lit(float(w)) for c, w in zip(cols, ws))
    avg = num / F.lit(float(sum(ws)))
    sig = (F.when(avg > threshold, 1)
           .when(avg < -threshold, -1).otherwise(0)).cast("int")
    return df.withColumn(out_col, sig)


def build_sequences(
    df: DataFrame,
    feature_cols: Sequence[str],
    seq_len: int = 10,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    out_col: str = "sequence",
) -> DataFrame:
    """Sliding-window sequence tensors for sequence models
    (ml_strategy.py:223-249's numpy 3-D builder, relational form): per row,
    an array of the last ``seq_len`` feature structs — NULL during warm-up
    like every rolling operator here. array<struct> columns feed
    Arrow-batched inference without a driver-side tensor materialization."""
    w = signals.sym_window(symbol_col, ts_col)
    frame = w.rowsBetween(-(seq_len - 1), 0)
    seq = F.collect_list(F.struct(*[F.col(c) for c in feature_cols])).over(frame)
    gated = F.when(F.row_number().over(w) >= seq_len, seq)
    return df.withColumn(out_col, gated)


def rl_strategy_signals(
    bars: DataFrame,
    agent: Callable[["np.ndarray"], int] | object,
    state_size: int = 10,
    price_col: str = "close",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
) -> DataFrame:
    """ReinforcementLearningStrategy twin (ml_strategy.py:252-309): the
    state at row i is the previous ``state_size`` returns (zeros before
    warm-up), the signal is ``agent.predict(state)`` — an arbitrary
    user-supplied policy, so this is an Arrow-batched ``applyInPandas``
    boundary by necessity (SCALING.md boundary policy: user Python code,
    never a per-row Python UDF). Groups run parallel per symbol; state
    windows are built vectorized with a strided view, and the agent is
    invoked per row exactly like the reference's loop (agents may be
    stateful across consecutive calls).

    ``agent``: object with ``predict(state: np.ndarray shape (1, n)) ->
    action`` (or a bare callable). Rows inside the warm-up emit signal 0
    (reference: loop starts at index state_size).

    Returns bars + ``signal`` (int)."""
    import numpy as np
    import pyspark.sql.types as T

    predict = agent.predict if hasattr(agent, "predict") else agent
    n_state = int(state_size)
    # StructType.add mutates in place — never call it on a DataFrame's
    # cached schema object; build a fresh StructType.
    out_schema = T.StructType(
        list(bars.schema.fields)
        + [T.StructField("signal", T.IntegerType())]
    )
    cols = [f.name for f in out_schema.fields]

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        px = pdf[price_col].astype("float64")
        rets = px.pct_change().fillna(0.0).to_numpy()
        sig = np.zeros(len(pdf), dtype="int32")
        for i in range(n_state, len(pdf)):
            state = rets[i - n_state:i]
            sig[i] = int(predict(state.reshape(1, -1)))
        pdf["signal"] = sig
        return pdf[cols]

    return bars.groupBy(symbol_col).applyInPandas(_run, out_schema)


def triple_barrier_labels(
    bars: DataFrame,
    horizon: int = 5,
    profit_take: float = 0.02,
    stop_loss: float = 0.02,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    close_col: str = "close",
) -> DataFrame:
    """Triple-barrier event labeling (Lopez de Prado, *Advances in
    Financial Machine Learning* ch.3): each bar is labeled by the FIRST
    barrier its forward close path touches — +1 profit-take at
    ``+profit_take``, -1 stop-loss at ``-stop_loss``, 0 if neither is hit
    within ``horizon`` bars. The supervised-learning label generator for
    every trading-ML pipeline (``make_labels``'s fixed-horizon label is
    its degenerate no-barrier case).

    Relational formulation: a bounded ``horizon``-way offset explode +
    ONE (symbol, idx) equi-join fans each bar to its forward closes; two
    conditional min-aggs find the first crossing per side; the label is
    pure CASE arithmetic. No window-into-the-future tricks, no Python.
    Cost at 100 TB: fan-out is a constant factor = horizon on the BAR
    table (already reduced from ticks), join keys are
    partition-colocated.

    Bars with fewer than ``horizon`` future closes are dropped (a
    timeout label needs the full window to mean "no barrier"). Emits
    (symbol, ts, close, label, t_hit): ``t_hit`` = bars until the
    deciding barrier (horizon for timeouts).
    """
    w = Window.partitionBy(symbol_col).orderBy(ts_col)
    base = bars.select(
        symbol_col, ts_col, close_col,
        (F.row_number().over(w)).alias("_idx"),
    )
    fwd = base.select(
        F.col(symbol_col), F.col("_idx").alias("_fidx"),
        F.col(close_col).alias("_fclose"),
    )
    fan = base.select(
        symbol_col, ts_col, close_col, "_idx",
        F.explode(
            F.sequence(F.lit(1), F.lit(int(horizon)))
        ).alias("_k"),
    ).withColumn("_fidx", F.col("_idx") + F.col("_k"))
    j = fan.join(fwd, [symbol_col, "_fidx"]).withColumn(
        "_ret", F.col("_fclose") / F.col(close_col) - 1.0
    )
    agg = j.groupBy(symbol_col, ts_col, close_col).agg(
        F.count(F.lit(1)).alias("_nf"),
        F.min(F.when(F.col("_ret") >= float(profit_take), F.col("_k")))
        .alias("_kpt"),
        F.min(F.when(F.col("_ret") <= -float(stop_loss), F.col("_k")))
        .alias("_ksl"),
    )
    kpt = F.coalesce(F.col("_kpt"), F.lit(int(horizon) + 1))
    ksl = F.coalesce(F.col("_ksl"), F.lit(int(horizon) + 1))
    label = (
        F.when(kpt < ksl, F.lit(1))
        .when(ksl < kpt, F.lit(-1))
        .otherwise(F.lit(0))
    )
    t_hit = F.least(kpt, ksl, F.lit(int(horizon))).cast("int")
    return (
        agg.where(F.col("_nf") >= int(horizon))
        .select(
            symbol_col, ts_col, close_col,
            label.alias("label"), t_hit.alias("t_hit"),
        )
    )
