"""Generator determinism: the same seed gives the same inputs."""

import json

import pyarrow.parquet as pq

from perfbench import gen

SMALL_TICKS = {**gen.TICKS, "n_ticks": (5_000, ""), "n_files": (2, "")}
SMALL_BARS = {**gen.BARS, "n_symbols": (3, ""), "n_bars": (60, "")}


def test_ticks_same_seed_same_table():
    p = gen.values(SMALL_TICKS)
    assert gen.tick_table(7, p).equals(gen.tick_table(7, p))
    assert not gen.tick_table(7, p).equals(gen.tick_table(8, p))


def test_ticks_carry_the_advertised_defects():
    p = gen.values(SMALL_TICKS)
    t = gen.tick_table(3, p).to_pandas()
    assert len(t) == p["n_ticks"] + int(p["n_ticks"] * p["dup_frac"])
    assert t.duplicated().sum() == int(p["n_ticks"] * p["dup_frac"])
    assert (t["price"] < 0.01).any()
    assert t.drop_duplicates()["seq"].is_unique
    # arrival order is shuffled, not time order
    assert not t["seq"].is_monotonic_increasing


def test_bars_same_seed_same_table():
    p = gen.values(SMALL_BARS)
    a, b = gen.bar_table(1, p), gen.bar_table(1, p)
    assert a.equals(b)
    assert not a.equals(gen.bar_table(2, p))
    assert a.num_rows == 3 * 60


def test_feed_file_depends_only_on_seed_index_and_stamps():
    p = gen.values(gen.FEED)
    a = gen.feed_file(5, p, 3, 1_000, 1_500)
    assert a == gen.feed_file(5, p, 3, 1_000, 1_500)
    assert a != gen.feed_file(6, p, 3, 1_000, 1_500)
    text, valid = a
    lines = text.splitlines()
    assert len(valid) == int(p["rate_per_s"] * p["file_interval_s"])
    assert len(lines) == len(valid) + p["malformed_per_file"]
    stamps = [t for _, t in valid]
    assert min(stamps) > 1_000 and max(stamps) == 1_500
    assert stamps == sorted(stamps)


def test_cached_reuses_complete_inputs(tmp_path):
    calls = []

    def build(out, seed, vals):
        calls.append(seed)
        pq.write_table(gen.bar_table(seed, vals), f"{out}/bars.parquet")
        return {"rows": 180}

    d1, m1, hit1 = gen.cached(str(tmp_path), "bars", 4, SMALL_BARS, build)
    d2, m2, hit2 = gen.cached(str(tmp_path), "bars", 4, SMALL_BARS, build)
    assert (hit1, hit2) == (False, True) and d1 == d2 and calls == [4]
    with open(f"{d1}/manifest.json") as f:
        assert json.load(f)["why"].keys() == SMALL_BARS.keys()
    gen.cached(str(tmp_path), "bars", 5, SMALL_BARS, build)
    assert calls == [4, 5]
