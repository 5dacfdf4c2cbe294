"""Seeded benchmark inputs, written with NumPy and pyarrow only.

The engine never sees this module: it receives the files written here
(tick parquet, bar parquet, JSON-lines feed files). Every parameter below
carries the reason it has the value it has; ``cached`` stores the reasons
next to the files in ``manifest.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-02 14:30 UTC, a regular US session open.
SESSION_START_US = 1_704_205_800 * 10**6

TICKS = {
    "n_ticks": (200_000, "large enough that shuffle, sort and write execution "
                "outweigh driver build in a warm pass, small enough that a cold "
                "pass plus thirteen warm passes fit one timed run on 4 cores"),
    "n_symbols": (100, "a mid-sized universe: enough keys to spread the "
                  "(symbol, minute) shuffle over every partition"),
    "zipf_a": (1.1, "tick counts per symbol are Zipf-skewed in real feeds; "
               "at 1.1 the busiest symbol holds ~19% of ticks, a skewed "
               "partition for the dedup and bar shuffles"),
    "session_hours": (6.5, "one US equity session: 390 one-minute bars per "
                      "active symbol"),
    "dup_frac": (0.01, "~1% exact re-sent rows, the duplicate rate the "
                 "cleaner's dedup step exists for"),
    "invalid_frac": (0.005, "~0.5% zero or negative prices for the "
                     "validate step to drop"),
    "jump_frac": (0.01, "~1% fat-finger prints at 20-40x the price; the "
                  "expensive ones fall outside the exact IQR fence"),
    "tie_frac": (0.02, "2% of ticks share their predecessor's timestamp, "
                 "so open/close depend on the seq tiebreaker"),
    "n_files": (8, "arrival order split into parquet parts, so the scan "
                "runs as parallel tasks"),
}

BARS = {
    "n_symbols": (40, "a research universe that fits one screen of results"),
    "n_bars": (500, "about two years of daily bars: the paper's "
               "'year of daily data' regime with room for 100-bar windows"),
}

FEED = {
    "rate_per_s": (10_000, "the reference's sustained-ingest claim "
                   "(10k ticks/s)"),
    "file_interval_s": (0.5, "two landing files per second: several files "
                        "per micro-batch at a 1 s trigger"),
    "n_symbols": (20, "a live watch-list; every symbol ticks every second"),
    "malformed_per_file": (6, "a few broken frames per file (bad JSON, "
                           "missing price, missing symbol) for the "
                           "normalizer to drop"),
    "backlog_files": (24, "a 12 s outage worth of files for the drain phase"),
    "backlog_stamp_step_s": (10, "backlog files are stamped 10 s apart, four "
                             "minutes of event time, so the drain finalizes "
                             "bars the check can compare"),
    "max_files_per_trigger": (8, "drains the backlog in three micro-batches"),
}


# Input sets of one kind kept on disk; older ones are removed.
KEEP_INPUT_SETS = 6


def values(params: dict) -> dict:
    return {k: v for k, (v, _why) in params.items()}


def cached(root: str, kind: str, seed: int, params: dict, build):
    """Return ``(directory, manifest, hit)`` for the inputs of ``kind``.

    ``build(dir, seed, values)`` writes the files and returns a dict of
    facts about them. A directory is complete once its manifest exists, so
    an interrupted build is rebuilt. Only the ``KEEP_INPUT_SETS`` newest
    input sets of a kind stay on disk."""
    vals = values(params)
    key = hashlib.sha1(json.dumps([kind, seed, vals], sort_keys=True)
                       .encode()).hexdigest()[:12]
    base = os.path.join(root, "inputs")
    final = os.path.join(base, f"{kind}-{seed}-{key}")
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return final, json.load(f), True
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    facts = build(tmp, seed, vals)
    manifest = {"kind": kind, "seed": seed, "params": vals,
                "why": {k: why for k, (_v, why) in params.items()},
                "facts": facts}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    siblings = sorted(
        (e for e in os.scandir(base)
         if e.name.startswith(kind + "-") and not e.name.endswith(".tmp")),
        key=lambda e: e.stat().st_mtime, reverse=True)
    for e in siblings[KEEP_INPUT_SETS:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return final, manifest, False


def tick_table(seed: int, p: dict) -> pa.Table:
    """Raw ticks ``(ts, symbol, price, volume, seq)`` in shuffled arrival
    order, with duplicates, invalid prices, jumps and timestamp ties."""
    rng = np.random.default_rng([seed, 1])
    n, k = p["n_ticks"], p["n_symbols"]
    w = 1.0 / np.arange(1, k + 1) ** p["zipf_a"]
    sym = rng.choice(k, size=n, p=w / w.sum())
    ts_ms = rng.integers(0, int(p["session_hours"] * 3_600_000), n)
    order = np.lexsort((ts_ms, sym))
    sym, ts_ms = sym[order], ts_ms[order]
    same = np.r_[False, sym[1:] == sym[:-1]]
    tie = np.flatnonzero(same & (rng.random(n) < p["tie_frac"]))
    ts_ms[tie] = ts_ms[tie - 1]
    # per-symbol geometric random walk around a log-uniform base price
    steps = rng.normal(0.0, 2e-4, n)
    cs = np.cumsum(steps)
    first = np.maximum.accumulate(np.where(~same, np.arange(n), 0))
    walk = cs - (cs[first] - steps[first])
    base = np.exp(rng.uniform(np.log(5.0), np.log(500.0), k))
    price = np.round(base[sym] * np.exp(walk), 2)
    invalid = rng.random(n) < p["invalid_frac"]
    price[invalid] = np.where(rng.random(int(invalid.sum())) < 0.5, 0.0,
                              -price[invalid])
    jump = ~invalid & (rng.random(n) < p["jump_frac"])
    price[jump] = np.round(price[jump] * rng.uniform(20.0, 40.0,
                                                     int(jump.sum())), 2)
    volume = rng.integers(1, 500, n).astype(np.float64)
    # exchange sequence number: time order, random among equal timestamps
    seq = np.empty(n, dtype=np.int64)
    seq[np.lexsort((rng.random(n), ts_ms))] = np.arange(n)
    dup = rng.choice(n, int(n * p["dup_frac"]), replace=False)
    rows = np.concatenate([np.arange(n), dup])
    rows = rows[rng.permutation(len(rows))]
    ts_us = SESSION_START_US + ts_ms[rows] * 1000
    return pa.table({
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "symbol": pa.array([f"SYM{i:03d}" for i in sym[rows]]),
        "price": pa.array(price[rows]),
        "volume": pa.array(volume[rows]),
        "seq": pa.array(seq[rows]),
    })


def write_ticks(out: str, seed: int, p: dict) -> dict:
    t = tick_table(seed, p)
    d = os.path.join(out, "ticks")
    os.makedirs(d)
    parts = p["n_files"]
    step = -(-t.num_rows // parts)
    for i in range(parts):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(d, f"part-{i:03d}.parquet"))
    return {"rows": t.num_rows, "path": "ticks"}


def bar_table(seed: int, p: dict) -> pa.Table:
    """Daily OHLCV bars ``(symbol, ts, open, high, low, close, volume)``."""
    rng = np.random.default_rng([seed, 2])
    k, n = p["n_symbols"], p["n_bars"]
    days = np.busday_offset(np.datetime64("2022-01-03"), np.arange(n),
                            roll="forward")
    ts_us = days.astype("datetime64[us]").astype(np.int64)
    cols = {c: [] for c in ("symbol", "ts", "open", "high", "low", "close",
                            "volume")}
    for s in range(k):
        mu, sigma = rng.normal(3e-4, 5e-4), rng.uniform(0.01, 0.03)
        close = rng.uniform(20, 300) * np.exp(np.cumsum(rng.normal(mu, sigma, n)))
        prev = np.r_[close[0], close[:-1]]
        opn = prev * np.exp(rng.normal(0.0, sigma / 4, n))
        high = np.maximum(opn, close) * (1 + np.abs(rng.normal(0, sigma / 2, n)))
        low = np.minimum(opn, close) * (1 - np.abs(rng.normal(0, sigma / 2, n)))
        cols["symbol"] += [f"EQ{s:02d}"] * n
        cols["ts"].append(ts_us)
        cols["open"].append(opn)
        cols["high"].append(high)
        cols["low"].append(low)
        cols["close"].append(close)
        cols["volume"].append(rng.integers(10_000, 1_000_000, n).astype(float))
    return pa.table({
        "symbol": pa.array(cols["symbol"]),
        "ts": pa.array(np.concatenate(cols["ts"]), pa.timestamp("us", tz="UTC")),
        **{c: pa.array(np.concatenate(cols[c]))
           for c in ("open", "high", "low", "close", "volume")},
    })


def write_bars(out: str, seed: int, p: dict) -> dict:
    t = bar_table(seed, p)
    pq.write_table(t, os.path.join(out, "bars.parquet"))
    return {"rows": t.num_rows, "path": "bars.parquet"}


def _iso_ms(ms: int) -> str:
    s, r = divmod(int(ms), 1000)
    return (np.datetime64(s, "s").astype(str) + f".{r:03d}Z")


def feed_file(seed: int, p: dict, index: int, after_ms: int, newest_ms: int):
    """One landing file of JSON lines and the valid ticks it carries.

    The ticks were created since the previous file: stamps run evenly
    over ``(after_ms, newest_ms]``. Content other than the stamps depends
    only on ``(seed, index)``. Frames use the reference feed's alias
    shapes, and a few are malformed. Returns
    ``(text, [(symbol, ts_ms), ...])``."""
    rng = np.random.default_rng([seed, 3, index])
    m = int(p["rate_per_s"] * p["file_interval_s"])
    stamps = after_ms - (-(newest_ms - after_ms) * (np.arange(m) + 1) // m)
    syms = rng.integers(0, p["n_symbols"], m)
    px = np.round(100.0 + rng.normal(0, 1, m), 2)
    vol = rng.integers(1, 100, m)
    shape = rng.integers(0, 4, m)
    lines, valid = [], []
    for sym_i, t, price, v, sh in zip(syms.tolist(), stamps.tolist(),
                                      px.tolist(), vol.tolist(), shape.tolist()):
        sym = f"LV{sym_i:02d}"
        if sh == 0:
            frame = {"s": sym, "p": price, "v": v, "t": t}
        elif sh == 1:
            frame = {"symbol": sym, "price": price, "volume": v,
                     "timestamp": t / 1000}
        elif sh == 2:
            frame = {"data": {"ticker": sym, "last": str(price),
                              "size": str(v), "ts": str(t)}}
        else:
            frame = {"ticker": sym, "last": price, "timestamp": _iso_ms(t)}
        lines.append(json.dumps(frame))
        valid.append((sym, t))
    bad = [lambda: '{"s": "LV00", "p": ',
           lambda: json.dumps({"s": "LV01", "v": 5, "t": int(newest_ms)}),
           lambda: json.dumps({"p": 101.5, "t": int(newest_ms)})]
    for j in range(p["malformed_per_file"]):
        lines.insert(int(rng.integers(0, len(lines))), bad[j % len(bad)]())
    return "\n".join(lines) + "\n", valid


def write_backlog(out: str, seed: int, p: dict) -> dict:
    """Pre-landed files for the drain phase, stamped on a fixed timeline."""
    d = os.path.join(out, "backlog")
    os.makedirs(d)
    span = int(p["backlog_stamp_step_s"] * 1000)
    t0 = SESSION_START_US // 1000
    valid = []
    for i in range(p["backlog_files"]):
        text, v = feed_file(seed, p, 1_000_000 + i, t0 + i * span,
                            t0 + (i + 1) * span)
        with open(os.path.join(d, f"f{i:06d}.json"), "w") as f:
            f.write(text)
        valid += v
    with open(os.path.join(out, "backlog_valid.json"), "w") as f:
        json.dump(valid, f)
    return {"files": p["backlog_files"], "valid_ticks": len(valid),
            "path": "backlog"}
