"""Ingest-boundary robustness: every external-input loader must tolerate the
schema vintages the driver has actually shipped (and plausible next ones).

Round 2 post-mortem: the driver regenerated ``events.parquet`` with
``ts: timestamp[us]`` while ``load_tables`` still hard-coded the int64-ns
``div 1000`` cast — a single line that errored 29/50 driver queries and the
whole bench. These tests pin the fix (session._normalize_events_ts) by
writing tiny fixtures in EACH vintage and pushing them through the same
loader code path.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
    load_tables,
)

# Two rows, exact microsecond payloads. 1_700_000_000_123_456 us epoch and a
# +1s neighbor; the ns vintage carries extra sub-us digits that must truncate.
US = [1_700_000_000_123_456, 1_700_000_001_987_654]
NS = [u * 1000 + 789 for u in US]  # sub-us residue -> must floor away


def _write_events(tmpdir: str, ts_array: pa.Array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    path = os.path.join(tmpdir, "events.parquet")
    pq.write_table(table, path)
    return tmpdir


def _load_ts(spark, sf_dir):
    from pyspark.sql import functions as F

    df = load_tables(spark, sf_dir, ["events"])["events"]
    dtype = dict(df.dtypes)["ts"]
    # epoch-us via the engine (unix_micros), not Python .timestamp() whose
    # naive-datetime handling depends on the process-local timezone.
    rows = (
        df.orderBy("event_id")
        .select(F.unix_micros("ts").alias("us"))
        .collect()
    )
    return dtype, [r.us for r in rows]


@pytest.mark.parametrize(
    "label,arr",
    [
        ("int64_ns", pa.array(NS, pa.int64())),
        ("timestamp_us", pa.array(US, pa.timestamp("us"))),
        ("timestamp_ns", pa.array(NS, pa.timestamp("ns"))),
        ("timestamp_us_utc", pa.array(US, pa.timestamp("us", tz="UTC"))),
    ],
)
def test_events_ts_vintages(spark, tmp_path, label, arr):
    """All four plausible parquet vintages of events.ts land on the same
    microsecond wall-clock timestamps through load_tables."""
    d = _write_events(str(tmp_path), arr)
    dtype, got = _load_ts(spark, d)
    assert dtype == "timestamp", (label, dtype)
    assert got == US, (label, got)


def test_embeddings_float_vs_double(spark, tmp_path):
    """similarity.py casts embedding to array<float>; both array<float> and
    array<double> parquet vintages must produce identical top-k input."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.similarity import (
        brute_force_topk,
    )

    vecs = [[1.0, 0.0, 0.0], [0.6, 0.8, 0.0], [0.0, 0.0, 1.0]]
    for typ, sub in ((pa.float32(), "f32"), (pa.float64(), "f64")):
        table = pa.table(
            {
                "vec_id": pa.array([1, 2, 3], pa.int64()),
                "embedding": pa.array(vecs, pa.list_(typ)),
            }
        )
        d = str(tmp_path / sub)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "embeddings.parquet"))
        emb = load_tables(spark, d, ["embeddings"])["embeddings"]
        top = brute_force_topk(emb, [1.0, 0.0, 0.0], k=2)
        rows = [(r.vec_id, round(r.cosine, 6)) for r in top.collect()]
        assert rows == [(1, 1.0), (2, 0.6)], (sub, rows)


def test_documents_passthrough(spark, tmp_path):
    """documents has no boundary conversion; loader must not mangle it."""
    table = pa.table(
        {
            "doc_id": pa.array([1], pa.int64()),
            "text": pa.array(["hello world"]),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "documents.parquet"))
    docs = load_tables(spark, str(tmp_path), ["documents"])["documents"]
    assert docs.collect()[0].text == "hello world"


def test_directory_entry_vanishing_mid_scan(spark, tmp_path, monkeypatch):
    """A part file deleted between the directory listing and its stat (a
    concurrent rewrite) is skipped by the freshness scan, not raised."""
    d = tmp_path / "documents.parquet"
    d.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64()),
                             "text": pa.array(["hello world"])}),
                   str(d / "part-0.parquet"))

    class Vanished:
        def stat(self):
            raise FileNotFoundError("part-1.parquet")

    real_scandir = os.scandir

    def scandir(path="."):
        if os.path.realpath(path) != os.path.realpath(d):
            return real_scandir(path)
        return iter([*real_scandir(path), Vanished()])

    monkeypatch.setattr(os, "scandir", scandir)
    docs = load_tables(spark, str(tmp_path), ["documents"])["documents"]
    assert docs.collect()[0].text == "hello world"


@pytest.mark.parametrize(
    "label,arr",
    [
        ("int64_ns", pa.array(NS, pa.int64())),
        ("timestamp_us", pa.array(US, pa.timestamp("us"))),
        ("timestamp_us_utc", pa.array(US, pa.timestamp("us", tz="UTC"))),
    ],
)
def test_events_ts_vintages_non_utc_session(spark, tmp_path, label, arr):
    """The driver imports __spark_entry__ with its OWN SparkSession, which
    need not be UTC — the ingest normalization must yield the same epoch
    micros under ANY session timezone. Round-3 post-mortem: the NTZ
    vintage was normalized with a bare cast("timestamp"), which
    reinterprets the wall clock in the SESSION tz; under America/New_York
    every epoch shifted +5h and daily bars grew a 31st day. Pinned here
    by flipping the session tz around the same loader path."""
    d = _write_events(str(tmp_path), arr)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        dtype, got = _load_ts(spark, d)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert dtype == "timestamp", (label, dtype)
    assert got == US, (label, got)
