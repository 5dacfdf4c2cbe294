"""Unit tests for the round-2 extension operators: chunking, boilerplate
n-grams, vocabulary coverage, semantic dedup, source overlap, rolling
beta, pairs screen, trade markouts, sessionization, funnel."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    corpus,
    dedup,
    factors,
    microstructure as micro,
    sessions,
    text,
)


def _t(minute, second=0):
    return datetime.datetime(2024, 1, 1, minute // 60, minute % 60, second)


# ------------------------------------------------------------- chunking

def test_chunk_documents_exact_windows(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g h i j")]
    )
    out = text.chunk_documents(df, chunk_tokens=4, stride=3).orderBy(
        "chunk_id"
    ).collect()
    assert [(r.chunk_id, r.chunk_text, r.n_tokens) for r in out] == [
        (0, "a b c d", 4),
        (1, "d e f g", 4),
        (2, "g h i j", 4),
        (3, "j", 1),
    ]


def test_chunk_documents_short_doc_single_chunk(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="x y")])
    out = text.chunk_documents(df, chunk_tokens=64, stride=48).collect()
    assert len(out) == 1
    assert out[0].chunk_text == "x y" and out[0].n_tokens == 2


def test_chunk_documents_no_token_dropped(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"t{j}" for j in range(n)))
         for i, n in enumerate([1, 47, 48, 49, 64, 65, 200])]
    )
    out = text.chunk_documents(df, chunk_tokens=64, stride=48)
    # every token position 0..n-1 appears in some chunk
    covered = (
        out.select(
            "doc_id",
            F.explode(F.split("chunk_text", " ")).alias("tok"),
        )
        .distinct()
        .groupBy("doc_id")
        .count()
        .collect()
    )
    expect = {i: n for i, n in enumerate([1, 47, 48, 49, 64, 65, 200])}
    assert {r.doc_id: r["count"] for r in covered} == expect


# ------------------------------------------------------ boilerplate grams

def test_boilerplate_coverage_hand_case(spark):
    # gram "a b c" appears in docs 1,2,3 -> boilerplate at min_docs=3
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c x"),
            Row(doc_id=2, text="z a b c"),
            Row(doc_id=3, text="a b c"),
            Row(doc_id=4, text="p q r s"),
        ]
    )
    cov = {
        r.doc_id: (r.n_grams, r.n_boilerplate)
        for r in text.boilerplate_coverage(df, n=3, min_docs=3).collect()
    }
    # doc1 grams: "a b c","b c x" -> 1 boiler; doc3 has exactly 1 gram
    assert cov[1] == (2, 1)
    assert cov[2] == (2, 1)
    assert cov[3] == (1, 1)
    assert cov[4] == (2, 0)


def test_boilerplate_within_doc_repeat_not_counted(spark):
    # "a b c" twice in one doc is still doc_freq 1 -> not boilerplate
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c a b c"), Row(doc_id=2, text="q r s")]
    )
    assert text.boilerplate_grams(df, n=3, min_docs=2).count() == 0


# ------------------------------------------------------------ vocab stats

def test_vocab_coverage_ranks_and_shares(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="a c")]
    )
    rows = {r.term: r for r in text.vocab_coverage(df).collect()}
    assert rows["a"].term_count == 3 and rows["a"].doc_freq == 2
    assert rows["a"].rank == 1
    assert rows["a"].cum_share == pytest.approx(3 / 5)
    # b and c tie on count 1 -> alphabetical tiebreak
    assert rows["b"].rank == 2 and rows["c"].rank == 3
    assert rows["c"].cum_share == pytest.approx(1.0)


# ---------------------------------------------------------- semantic dedup

def test_semantic_dedup_prunes_later_near_dup(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=1, label=0, embedding=[1.0, 0.0]),
            Row(vec_id=2, label=0, embedding=[0.99, 0.01]),  # near v1
            Row(vec_id=3, label=0, embedding=[0.0, 1.0]),    # orthogonal
            Row(vec_id=4, label=1, embedding=[1.0, 0.0]),    # other cluster
        ]
    )
    out = {r.vec_id: r for r in dedup.semantic_dedup(
        df, cluster_col="label", threshold=0.9).collect()}
    assert not out[1].pruned and out[1].max_prior_sim is None
    assert out[2].pruned and out[2].max_prior_sim == pytest.approx(
        0.99 / (0.99**2 + 0.01**2) ** 0.5, rel=1e-9
    )
    assert not out[3].pruned
    assert not out[4].pruned  # same direction but different cluster
    # a caller column named like the prior-sim id staging column
    # passes through untouched
    tagged = df.withColumn("_id", F.col("vec_id") * 10)
    out = {r.vec_id: r for r in dedup.semantic_dedup(
        tagged, cluster_col="label", threshold=0.9).collect()}
    assert {k: r._id for k, r in out.items()} == {
        1: 10, 2: 20, 3: 30, 4: 40}
    assert [k for k, r in sorted(out.items()) if r.pruned] == [2]
    # caller columns named like the outputs are replaced in place, the
    # way withColumns replaces them
    stale = df.withColumns({"max_prior_sim": F.lit(-1.0),
                            "pruned": F.lit(True), "tail": F.lit(7)})
    res = dedup.semantic_dedup(stale, cluster_col="label", threshold=0.9)
    assert res.columns == ["vec_id", "label", "embedding",
                           "max_prior_sim", "pruned", "tail"]
    out = {r.vec_id: r for r in res.collect()}
    assert [k for k, r in sorted(out.items()) if r.pruned] == [2]
    assert out[1].max_prior_sim is None and out[1].tail == 7
    assert out[2].max_prior_sim == pytest.approx(
        0.99 / (0.99**2 + 0.01**2) ** 0.5, rel=1e-9)


# ---------------------------------------------------------- source overlap

def test_source_overlap_jaccard(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, source="s1", text="a b c"),
            Row(doc_id=2, source="s2", text="b c d e"),
        ]
    )
    r = corpus.source_overlap(df).collect()[0]
    assert (r.src_a, r.src_b) == ("s1", "s2")
    assert r.n_inter == 2 and r.na == 3 and r.nb == 4
    assert r.jaccard == pytest.approx(2 / 5)


# ------------------------------------------------------------ rolling beta

def test_rolling_beta_exact_linear_relation(spark):
    # r_sym = 2 * r_mkt exactly -> beta 2, alpha 0, r2 1
    mkt_r = [0.01, -0.02, 0.015, 0.005, -0.01]
    px, p = [], 100.0
    for r in [None] + mkt_r:
        p = p if r is None else p * (1 + 2 * r)
        px.append(p)
    bars_df = spark.createDataFrame(
        [Row(symbol="X", ts=_t(i), close=v) for i, v in enumerate(px)]
    )
    mkt = spark.createDataFrame(
        [Row(ts=_t(i + 1), r_mkt=r) for i, r in enumerate(mkt_r)]
    )
    out = factors.rolling_beta(
        bars_df, window=3, market=mkt
    ).orderBy("ts").collect()
    warm = [r for r in out if r.beta is not None]
    assert len(warm) == 3  # 5 obs, window 3
    for r in warm:
        assert r.beta == pytest.approx(2.0, rel=1e-9)
        assert r.alpha == pytest.approx(0.0, abs=1e-12)
        assert r.r2 == pytest.approx(1.0, rel=1e-9)


def test_rolling_beta_warmup_gated(spark):
    bars_df = spark.createDataFrame(
        [Row(symbol="X", ts=_t(i), close=100.0 + i) for i in range(4)]
    )
    out = factors.rolling_beta(bars_df, window=10).collect()
    assert all(r.beta is None for r in out)


# ------------------------------------------------------------ pairs screen

def test_pairs_screen_perfect_pair(spark):
    rows = []
    import math
    for i in range(30):
        # A and B move in lockstep (B = half the return of A)
        ra = 0.01 * math.sin(i)
        rows.append(Row(symbol="A", ts=_t(i), close=100 * (1 + ra)))
        rows.append(Row(symbol="B", ts=_t(i), close=50 * (1 + ra / 2)))
    # build closes as a price path instead of one-shot levels
    pa, pb, rows = 100.0, 50.0, []
    for i in range(30):
        ra = 0.01 * math.sin(i + 1)
        pa *= 1 + ra
        pb *= 1 + ra / 2
        rows.append(Row(symbol="A", ts=_t(i), close=pa))
        rows.append(Row(symbol="B", ts=_t(i), close=pb))
    df = spark.createDataFrame(rows)
    out = factors.pairs_screen(df, min_obs=20).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.sym_a, r.sym_b) == ("A", "B") and r.n_obs == 29
    assert r.corr == pytest.approx(1.0, rel=1e-9)
    assert r.hedge_ratio == pytest.approx(2.0, rel=1e-6)
    assert r.resid_vol == pytest.approx(0.0, abs=1e-9)


def test_pairs_screen_min_obs_filter(spark):
    rows = [
        Row(symbol=s, ts=_t(i), close=100.0 + i)
        for s in ("A", "B") for i in range(5)
    ]
    assert factors.pairs_screen(
        spark.createDataFrame(rows), min_obs=20
    ).count() == 0


# ---------------------------------------------------------- trade markouts

def test_trade_markouts_hand_tape(spark):
    # uptick at t1 (sign +1), downtick at t2 (-1), uptick t3 (+1)
    px = [100.0, 101.0, 100.0, 102.0]
    ticks = spark.createDataFrame(
        [Row(symbol="X", ts=_t(i), price=p, volume=1.0, seq=i)
         for i, p in enumerate(px)]
    )
    signed = micro.tick_rule_signs(ticks)
    out = micro.trade_markouts(signed, horizons=(1,)).collect()[0]
    # markout_1 per trade: t0 sign0 -> 0*(101-100)=0; t1 +1*(100-101)=-1;
    # t2 -1*(102-100)=-2; t3 no lead
    assert out.n_trades == 4 and out.n_1 == 3
    assert out.markout_1 == pytest.approx((0 - 1 - 2) / 3)


# ---------------------------------------------------------- sessionization

def test_sessionize_gap_semantics(spark):
    ev = spark.createDataFrame(
        [
            Row(user_id=1, ts=_t(0), value=1.0),
            Row(user_id=1, ts=_t(29), value=2.0),   # 29min -> same session
            Row(user_id=1, ts=_t(60), value=3.0),   # 31min -> new session
            Row(user_id=2, ts=_t(0), value=4.0),
        ]
    )
    out = sessions.sessionize(ev, gap="30 minutes").orderBy(
        "user_id", "session_start"
    ).collect()
    assert [(r.user_id, r.n_events, r.value_sum) for r in out] == [
        (1, 2, 3.0), (1, 1, 3.0), (2, 1, 4.0),
    ]
    assert out[0].session_end == _t(29)


def test_session_stats(spark):
    ev = spark.createDataFrame(
        [
            Row(user_id=1, ts=_t(0), value=1.0),
            Row(user_id=1, ts=_t(10), value=1.0),
            Row(user_id=1, ts=_t(120), value=1.0),
        ]
    )
    s = sessions.session_stats(sessions.sessionize(ev)).collect()[0]
    assert s.n_sessions == 2
    assert s.avg_events == pytest.approx(1.5)
    assert s.avg_duration_s == pytest.approx(300.0)  # (600 + 0) / 2


# ----------------------------------------------------------------- funnel

def test_funnel_order_dependence(spark):
    ev = spark.createDataFrame(
        [
            # user 1: full ordered funnel
            Row(user_id=1, ts=_t(0), event_type="view"),
            Row(user_id=1, ts=_t(1), event_type="click"),
            Row(user_id=1, ts=_t(2), event_type="purchase"),
            # user 2: click BEFORE view -> click step not completed
            Row(user_id=2, ts=_t(0), event_type="click"),
            Row(user_id=2, ts=_t(1), event_type="view"),
            Row(user_id=2, ts=_t(2), event_type="purchase"),
        ]
    )
    out = {r.user_id: r for r in sessions.funnel(
        ev, steps=("view", "click", "purchase")).collect()}
    assert out[1].t_click == _t(1) and out[1].t_purchase == _t(2)
    assert out[2].t_view == _t(1)
    assert out[2].t_click is None and out[2].t_purchase is None
    summ = sessions.funnel_summary(
        sessions.funnel(ev), ("view", "click", "purchase")
    ).collect()[0]
    assert (summ.n_view, summ.n_click, summ.n_purchase) == (2, 1, 1)


def test_funnel_purchase_needs_prior_click_time(spark):
    # purchase exists but before the click completion -> excluded
    ev = spark.createDataFrame(
        [
            Row(user_id=1, ts=_t(0), event_type="view"),
            Row(user_id=1, ts=_t(5), event_type="purchase"),
            Row(user_id=1, ts=_t(10), event_type="click"),
        ]
    )
    r = sessions.funnel(ev).collect()[0]
    assert r.t_click == _t(10) and r.t_purchase is None


# --------------------------------------------------- fingerprint overlap

def test_fingerprint_overlap_detects_copied_passage(spark):
    passage = "the quick brown fox jumps over the lazy dog again"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="A unique prefix here. " + passage),
            Row(doc_id=2, text=passage + " And a different suffix."),
            Row(doc_id=3, text="entirely unrelated content with no reuse"),
        ]
    )
    out = dedup.fingerprint_overlap_pairs(
        df, k=8, window=4, min_shared=2, max_df=None
    ).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in out}
    assert (1, 2) in pairs
    assert pairs[(1, 2)].containment > 0.3
    assert all(3 not in p for p in pairs)


def test_fingerprint_overlap_max_df_drops_ubiquitous(spark):
    common = "shared boilerplate line appearing everywhere ok"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=common) for i in range(5)]
    )
    # every fingerprint is in all 5 docs -> df cap 4 kills all pairs
    assert dedup.fingerprint_overlap_pairs(
        df, min_shared=1, max_df=4
    ).count() == 0
    assert dedup.fingerprint_overlap_pairs(
        df, min_shared=1, max_df=None
    ).count() == 10  # C(5,2)


def test_fingerprint_portable_matches_xxhash_structure(spark):
    # portable and prod fingerprints must produce identical OVERLAP
    # structure (same shared positions), though hash values differ
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="abcdefghijklmnop"),
            Row(doc_id=2, text="abcdefghijklmnop"),
        ]
    )
    a = dedup.fingerprint_overlap_pairs(
        df, min_shared=1, max_df=None, portable=False).collect()
    b = dedup.fingerprint_overlap_pairs(
        df, min_shared=1, max_df=None, portable=True).collect()
    # winnowing SELECTS different grams per hash function, but identical
    # docs must reach full containment under either hash
    assert [(r.doc_a, r.doc_b, r.containment) for r in a] == [(1, 2, 1.0)]
    assert [(r.doc_a, r.doc_b, r.containment) for r in b] == [(1, 2, 1.0)]


# ------------------------------------------------------------- BPE pairs

def test_bpe_pair_counts_hand_case(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="abab ab x"), Row(doc_id=2, text="ab")]
    )
    got = {r.pair: r.pair_count for r in
           __import__("build_a_market_data_etl_strategy_backtesting_engine_spark.operators.text",
                      fromlist=["text"]).bpe_pair_counts(df).collect()}
    # words: abab(1), ab(2), x(1); pairs: abab -> ab,ba,ab; ab -> ab
    assert got["ab"] == 1 * 2 + 2 * 1
    assert got["ba"] == 1
    assert "x" not in got  # single-char word contributes nothing


# ------------------------------------------------- cross-sectional momentum

def test_xs_momentum_long_short_assignment(spark):
    # 4 symbols: W strongest past return, Z weakest; next-day returns fixed
    rows = []
    paths = {
        "W": [100, 100, 100, 110, 121],  # mom day3->4 high, fwd known
        "X": [100, 100, 100, 105, 105],
        "Y": [100, 100, 100, 102, 102],
        "Z": [100, 100, 100, 95, 90.25],
    }
    for s, px in paths.items():
        for i, p in enumerate(px):
            rows.append(Row(symbol=s, ts=_t(i * 60), close=float(p)))
    df = spark.createDataFrame(rows)
    out = factors.cross_sectional_momentum(
        df, lookback=3, n_tiles=2
    ).collect()
    assert len(out) == 1
    r = out[0]
    # ranked by 3-bar momentum at t3: W(10%) X(5%) | Y(2%) Z(-5%)
    assert r.n_long == 2 and r.n_short == 2
    assert r.long_r == pytest.approx(((121 / 110 - 1) + 0.0) / 2, rel=1e-9)
    assert r.short_r == pytest.approx((0.0 + (90.25 / 95 - 1)) / 2, rel=1e-9)
    assert r.ls_r == pytest.approx(r.long_r - r.short_r, rel=1e-9)


# ------------------------------------------------------------ vwap execution

def test_vwap_execution_flat_profile_equals_vwap(spark):
    # one symbol, one day, two slots with EQUAL total volume across days
    # -> historical weights proportional to day volumes -> sched == vwap
    rows = [
        Row(symbol="X", ts=_t(0, 10), price=10.0, volume=2.0, seq=1),
        Row(symbol="X", ts=_t(20), price=20.0, volume=2.0, seq=2),
    ]
    out = micro.vwap_execution(
        spark.createDataFrame(rows), "15min"
    ).collect()[0]
    assert out.arrival_px == 10.0
    assert out.day_vwap == pytest.approx(15.0)
    assert out.sched_px == pytest.approx(15.0)
    assert out.sched_vs_vwap_bps == pytest.approx(0.0, abs=1e-9)
    assert out.sched_vs_arrival_bps == pytest.approx(5000.0)


def test_vwap_execution_schedule_uses_history(spark):
    # day1 volume concentrated in slot0, day2 in slot1; the historical
    # curve is 50/50, so each day's sched price is the 50/50 slot blend
    day2 = datetime.timedelta(days=1)
    rows = [
        Row(symbol="X", ts=_t(0), price=10.0, volume=3.0, seq=1),
        Row(symbol="X", ts=_t(20), price=20.0, volume=1.0, seq=2),
        Row(symbol="X", ts=_t(0) + day2, price=30.0, volume=1.0, seq=3),
        Row(symbol="X", ts=_t(20) + day2, price=40.0, volume=3.0, seq=4),
    ]
    out = {r.day.day: r for r in micro.vwap_execution(
        spark.createDataFrame(rows), "15min").collect()}
    d1, d2 = out[1], out[2]
    # hist volume per slot: slot0 = 3+1 = 4, slot1 = 1+3 = 4 -> 50/50
    assert d1.sched_px == pytest.approx((10.0 + 20.0) / 2)
    assert d2.sched_px == pytest.approx((30.0 + 40.0) / 2)
    assert d1.day_vwap == pytest.approx((10 * 3 + 20 * 1) / 4)


# --------------------------------------------------------------- BPE train

def test_train_bpe_classic_example(spark):
    # the canonical low/lower/newest/widest corpus: greedy merges must
    # produce (e,s)(es,t)(l,o)(lo,w)(e,w)(ew,est) with lexicographic ties
    df = spark.createDataFrame(
        [Row(doc_id=1,
             text=" ".join(["low"] * 5 + ["lower"] * 2
                           + ["newest"] * 6 + ["widest"] * 3))]
    )
    merges, vocab = text.train_bpe(df, n_merges=6)
    assert [(a, b) for a, b, _ in merges] == [
        ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"),
        ("e", "w"), ("ew", "est"),
    ]
    segs = {r.word: list(r.symbols) for r in vocab.collect()}
    assert segs["newest"] == ["n", "ewest"]
    assert segs["low"] == ["low"]
    assert segs["lower"] == ["low", "e", "r"]
    assert segs["widest"] == ["w", "i", "d", "est"]
    vocab.unpersist()


def test_merge_pair_overlap_leftmost_first(spark):
    df = spark.createDataFrame([Row(s=["a", "a", "a"])])
    out = df.select(
        text._merge_pair_expr(F.col("s"), "a", "a").alias("m")
    ).collect()[0].m
    assert list(out) == ["aa", "a"]


# ------------------------------------------------------ product quantization

def test_pq_recovers_clustered_neighbors(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import similarity as sim

    # 3 tight clusters in 8-dim space; PQ must place same-cluster vectors
    # nearest to a same-cluster query
    import random
    rng = random.Random(7)
    base = {0: [5.0] * 8, 1: [-5.0] * 8,
            2: [5.0] * 4 + [-5.0] * 4}
    rows = []
    for vid in range(30):
        c = vid % 3
        rows.append(Row(
            vec_id=vid,
            embedding=[x + rng.uniform(-0.3, 0.3) for x in base[c]],
        ))
    df = spark.createDataFrame(rows)
    cb = sim.pq_train(df, m=4, k=4, iterations=4)
    assert len(cb) == 4 and len(cb[0]) == 4 and len(cb[0][0]) == 2
    enc = sim.pq_encode(df, cb)
    qv = base[0]
    top = sim.pq_topk(enc, qv, cb, k=10).collect()
    got = {r.vec_id for r in top}
    expect = {v for v in range(30) if v % 3 == 0}
    assert got == expect


def test_pq_encode_is_deterministic_and_compact(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), float(-i), 1.0, 0.0])
         for i in range(8)]
    )
    cb = sim.pq_train(df, m=2, k=2, iterations=2)
    a = sim.pq_encode(df, cb).orderBy("vec_id").collect()
    b = sim.pq_encode(df, cb).orderBy("vec_id").collect()
    assert [list(r.pq_code) for r in a] == [list(r.pq_code) for r in b]
    assert all(len(r.pq_code) == 2 for r in a)
    assert all(0 <= c <= 1 for r in a for c in r.pq_code)


# --------------------------------------------------------- almgren-chriss

def test_almgren_chriss_conserves_and_frontloads(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        microstructure as m,
    )

    out = m.almgren_chriss_schedule(
        spark, total_qty=5000.0, n_slices=13, kappa=0.8
    ).orderBy("slice_id").collect()
    assert len(out) == 13
    assert sum(r.slice_qty for r in out) == pytest.approx(5000.0, rel=1e-9)
    # urgency > 0 -> strictly decreasing slices, remaining hits ~0
    assert all(out[i].slice_qty > out[i + 1].slice_qty
               for i in range(12))
    assert out[-1].x_remaining == pytest.approx(0.0, abs=1e-9)
    with pytest.raises(ValueError):
        m.almgren_chriss_schedule(spark, kappa=0.0)


# ------------------------------------------------------------ implied vol

def test_implied_vol_round_trip(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        derivatives as deriv,
    )

    rows = [Row(id=i, s=100.0, k=90.0 + 5 * i, t_y=0.25 + 0.25 * i,
                r=0.03, sigma=0.12 + 0.07 * i) for i in range(5)]
    df = spark.createDataFrame(rows)
    priced = df.withColumn(
        "price",
        deriv.bs_call(F.col("s"), F.col("k"), F.col("t_y"),
                      F.col("sigma"), F.col("r")),
    )
    out = {r.id: r.iv for r in deriv.implied_vol(
        spark, priced.select("id", "s", "k", "t_y", "r", "price")
    ).collect()}
    for i in range(5):
        assert out[i] == pytest.approx(0.12 + 0.07 * i, abs=2e-6)
    # Spark's sequence(1, 0) is [1, 0]: an unchecked fold would run 2 steps
    for iters in (0, -3):
        with pytest.raises(ValueError, match="iters"):
            deriv.implied_vol(spark, priced, iters=iters)


def test_implied_vol_put_parity(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        derivatives as deriv,
    )

    df = spark.createDataFrame(
        [Row(id=1, s=50.0, k=55.0, t_y=1.0, r=0.01, sigma=0.4)]
    )
    priced = df.withColumn(
        "price",
        deriv.bs_put(F.col("s"), F.col("k"), F.col("t_y"),
                     F.col("sigma"), F.col("r")),
    )
    out = deriv.implied_vol(
        spark, priced.select("id", "s", "k", "t_y", "r", "price"),
        call=False,
    ).collect()[0]
    assert out.iv == pytest.approx(0.4, abs=2e-6)


# -------------------------------------------------------- weighted sample

def test_weighted_sample_respects_weights(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import sampling

    # 1000 rows: ids 0..99 weight 100, ids 100..999 weight 1 ->
    # heavy rows dominate a k=50 sample overwhelmingly
    rows = [Row(key=i, w=100.0 if i < 100 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows)
    got = sampling.weighted_sample(df, "w", "key", k=50).collect()
    heavy = sum(1 for r in got if r.key < 100)
    assert heavy >= 40
    # deterministic across invocations
    again = sampling.weighted_sample(df, "w", "key", k=50).collect()
    assert [r.key for r in got] == [r.key for r in again]


def test_weighted_sample_excludes_nonpositive(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import sampling

    df = spark.createDataFrame(
        [Row(key=1, w=0.0), Row(key=2, w=-1.0), Row(key=3, w=2.0)]
    )
    got = sampling.weighted_sample(df, "w", "key", k=10).collect()
    assert [r.key for r in got] == [3]


# ------------------------------------------------------- key skew profile

def test_key_skew_profile_flags_hot_key(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import skew

    rows = ([Row(k="hot")] * 90) + [Row(k=f"c{i}") for i in range(10)]
    df = spark.createDataFrame(rows)
    out = skew.key_skew_profile(df, "k", top=3).collect()
    assert out[0].key == "hot" and out[0].key_count == 90
    assert out[0].n_keys == 11
    # mean = 100/11; skew factor = 90/(100/11) = 9.9
    assert out[0].skew_factor == pytest.approx(9.9)
    assert all(r.max_skew == pytest.approx(9.9) for r in out)


# ------------------------------------------------------------- line dedup

def test_line_dedup_drops_shared_lines(spark):
    # 2-word lines; "x y" appears in docs 1 and 2 -> dropped everywhere
    df = spark.createDataFrame([
        Row(doc_id=1, text="x y a b"),
        Row(doc_id=2, text="x y c d"),
        Row(doc_id=3, text="e f g h"),
    ])
    out = {r.doc_id: r for r in text.line_dedup(
        df, line_words=2, min_docs=2
    ).collect()}
    assert out[1].n_lines == 2 and out[1].n_dup_lines == 1
    assert out[1].dup_frac == pytest.approx(0.5)
    assert out[3].n_dup_lines == 0
    # kept text is the surviving lines in position order
    import hashlib
    assert out[2].kept_md5 == hashlib.md5(b"c d").hexdigest()
    assert out[3].kept_md5 == hashlib.md5(b"e f g h").hexdigest()


def test_line_dedup_all_dropped_gives_empty_md5(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="x y"),
        Row(doc_id=2, text="x y"),
    ])
    import hashlib
    out = text.line_dedup(df, line_words=2, min_docs=2).collect()
    assert all(r.kept_md5 == hashlib.md5(b"").hexdigest() for r in out)


# ------------------------------------------------- hashed n-gram scoring

def test_hashed_ngram_score_shape_and_bounds(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="a b c d"),
        Row(doc_id=2, text="a b c d"),
        Row(doc_id=3, text="zz"),
    ])
    out = {r.doc_id: r for r in text.hashed_ngram_score(df).collect()}
    # 4 unigrams + 3 bigrams
    assert out[1].n_features == 7
    assert out[3].n_features == 1
    # identical text -> identical score (deterministic, no RNG)
    assert out[1].score == out[2].score
    for r in out.values():
        assert -1.0 <= r.score <= 1.0
        assert 0.0 < r.quality_prob < 1.0


# ------------------------------------------------------ EWMA volatility

def test_ewma_variance_matches_pandas_recursion(spark):
    import pandas as pd
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import ewm as ewm_fns

    closes = [100.0, 101.0, 99.5, 102.0, 101.2, 103.1, 102.8, 104.0]
    rows = [Row(symbol="A", ts=_t(i), close=c) for i, c in enumerate(closes)]
    out = ewm_fns.ewma_volatility(
        spark.createDataFrame(rows), lam=0.94
    ).orderBy("ts").collect()
    s = pd.Series(closes)
    r = s.pct_change().dropna().reset_index(drop=True)
    # RiskMetrics recursion == pandas ewm(alpha=1-lam, adjust=False) on r^2
    expected = (r * r).ewm(alpha=0.06, adjust=False).mean()
    assert len(out) == len(expected)
    for row, ev in zip(out, expected):
        assert row.ewma_var == pytest.approx(ev, rel=1e-9)
        assert row.ewma_vol == pytest.approx(ev ** 0.5, rel=1e-9)
    # lam = 0: no decay memory, v_t = r_t^2 (no 1/lam to multiply by)
    out0 = ewm_fns.ewma_volatility(
        spark.createDataFrame(rows), lam=0.0
    ).orderBy("ts").collect()
    assert [row.ewma_var for row in out0] == pytest.approx(
        list(r * r), rel=1e-12)
    # lam > 1 would weight old returns negatively: negative variances
    for bad in (-0.5, 1.5):
        with pytest.raises(ValueError, match="lam"):
            ewm_fns.ewma_volatility(spark.createDataFrame(rows), lam=bad)


# ----------------------------------------------------- lead-lag corr

def test_lead_lag_corr_detects_follower(spark):
    # symbol B replays A's daily move one day later -> corr peak at lag +1
    import math
    prices_a = [100.0]
    moves = [0.01, -0.02, 0.015, 0.03, -0.01, 0.02, -0.015, 0.01,
             0.025, -0.02, 0.01, 0.005, -0.03, 0.02, 0.01]
    for m in moves:
        prices_a.append(prices_a[-1] * (1 + m))
    prices_b = [50.0]
    for m in [0.0] + moves:  # same returns, shifted one day
        prices_b.append(prices_b[-1] * (1 + m))
    base = datetime.datetime(2024, 1, 1)
    rows = [Row(symbol="A", ts=base + datetime.timedelta(days=i), close=p)
            for i, p in enumerate(prices_a)]
    rows += [Row(symbol="B", ts=base + datetime.timedelta(days=i), close=p)
             for i, p in enumerate(prices_b)]
    out = factors.lead_lag_corr(
        spark.createDataFrame(rows), max_lag=2, min_obs=5
    ).collect()
    by_lag = {r.lag: r for r in out}
    assert by_lag[1].xcorr == pytest.approx(1.0, abs=1e-9)
    assert abs(by_lag[0].xcorr) < 0.9
    # a<b ordering: only (A, B) rows
    assert all(r.sym_a == "A" and r.sym_b == "B" for r in out)


# ------------------------------------------------------------- ACF / VR

def test_acf_detects_alternating_series(spark):
    # strictly alternating +1%/-1% returns -> ACF(1) ~ -1, ACF(2) ~ +1
    prices = [100.0]
    for i in range(40):
        prices.append(prices[-1] * (1.01 if i % 2 == 0 else 0.99))
    base = datetime.datetime(2024, 1, 1)
    rows = [Row(symbol="A", ts=base + datetime.timedelta(days=i), close=p)
            for i, p in enumerate(prices)]
    out = {r.lag: r for r in factors.acf(
        spark.createDataFrame(rows), max_lag=3
    ).collect()}
    assert out[1].acf == pytest.approx(-1.0, abs=1e-6)
    assert out[2].acf == pytest.approx(1.0, abs=1e-6)
    # Ljung-Box accumulates and is monotone in lag
    assert out[1].ljung_box_q > 0
    assert out[3].ljung_box_q >= out[2].ljung_box_q >= out[1].ljung_box_q


def test_variance_ratio_random_walk_near_one(spark):
    # deterministic pseudo-random walk: VR should sit near 1
    import math
    prices = [100.0]
    for i in range(400):
        r = 0.01 * math.sin(1e4 * (i * 0.731 % 1.0))
        prices.append(prices[-1] * (1 + r))
    base = datetime.datetime(2024, 1, 1)
    rows = [Row(symbol="A", ts=base + datetime.timedelta(days=i), close=p)
            for i, p in enumerate(prices)]
    out = {r.k: r for r in factors.variance_ratio(
        spark.createDataFrame(rows), horizons=[2, 5]
    ).collect()}
    assert 0.5 < out[2].vr < 1.5
    assert out[2].n_k == 399  # n - k + 1 overlapping sums


def test_variance_ratio_trending_above_one(spark):
    # constant positive drift, zero noise: k-sums scale with k^2
    prices = [100.0 * (1.01 ** i) for i in range(60)]
    # add alternating wiggle so var(r) > 0
    prices = [p * (1 + (0.002 if i % 2 else -0.002))
              for i, p in enumerate(prices)]
    base = datetime.datetime(2024, 1, 1)
    rows = [Row(symbol="A", ts=base + datetime.timedelta(days=i), close=p)
            for i, p in enumerate(prices)]
    out = {r.k: r for r in factors.variance_ratio(
        spark.createDataFrame(rows), horizons=[2]
    ).collect()}
    # alternating noise -> negative serial corr -> VR(2) < 1 (sanity
    # direction check; exact value is data-defined)
    assert out[2].vr < 1.0


# ------------------------------------------------------ drawdown table

def test_drawdown_episodes_finds_the_dip(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import metrics as m

    closes = [100, 101, 99, 98, 101.5, 102, 100, 101, 103]
    base = datetime.datetime(2024, 1, 1)
    rows = [Row(symbol="A", ts=base + datetime.timedelta(days=i),
                close=float(c)) for i, c in enumerate(closes)]
    out = m.drawdown_episodes(spark.createDataFrame(rows), top=3).collect()
    eps = sorted(out, key=lambda r: r.rank)
    # deepest: 99->98 under the 101 peak (depth 98/101-1)
    assert eps[0].rank == 1
    assert eps[0].depth == pytest.approx(98.0 / 101.0 - 1.0, abs=1e-12)
    assert eps[0].duration == 2
    # second: 100,101 under 102
    assert eps[1].depth == pytest.approx(100.0 / 102.0 - 1.0, abs=1e-12)
    assert eps[1].duration == 2


# --------------------------------------------------- length histogram

def test_length_histogram_buckets_and_shares(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a"),              # 1 token  -> bucket 0
        Row(doc_id=2, text="a b c"),          # 3 tokens -> bucket 1
        Row(doc_id=3, text="a b c d"),        # 4 tokens -> bucket 2
        Row(doc_id=4, text=" ".join(["x"] * 8)),  # 8 -> bucket 3
    ])
    out = {r.bucket: r for r in text.length_histogram(docs).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[3].total_tokens == 8
    assert sum(r.token_share for r in out.values()) == pytest.approx(1.0)
    assert out[3].cum_share == pytest.approx(1.0)


# ------------------------------------------------------------ BPE encode

def test_bpe_encode_applies_merges_in_rank_order(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="stater stat")])
    merges = [("s", "t"), ("a", "t"), ("st", "at"), ("e", "r")]
    out = text.bpe_encode(docs, merges=merges).orderBy("tok_pos").collect()
    toks = [r.token for r in out]
    # "stater": s t a t e r -> st at er -> stat er ; "stat" -> stat
    assert toks == ["stat", "er", "stat"]
    assert [r.tok_pos for r in out] == [0, 1, 2]


def test_bpe_encode_no_merge_applies(spark):
    docs = spark.createDataFrame([Row(doc_id=7, text="xyz")])
    out = text.bpe_encode(docs, merges=[("q", "q")]).collect()
    assert [r.token for r in out] == ["x", "y", "z"]


# -------------------------------------------------- binomial American

def test_binomial_american_put_bounds(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        derivatives as deriv,
    )

    opts = spark.createDataFrame([
        Row(id=1, s=100.0, k=100.0, t_y=1.0, r=0.05, sigma=0.2),
        Row(id=2, s=60.0, k=100.0, t_y=0.5, r=0.05, sigma=0.2),  # deep ITM
    ])
    put = {r.id: r.price for r in deriv.binomial_american(
        spark, opts, n_steps=64
    ).collect()}
    bs = {r.id: r.p for r in opts.select(
        "id",
        deriv.bs_put(F.col("s"), F.col("k"), F.col("t_y"),
                     F.col("sigma"), F.col("r")).alias("p"),
    ).collect()}
    # American >= European, and >= intrinsic for the deep ITM case
    assert put[1] > bs[1]
    assert put[2] >= 100.0 - 60.0
    # American call on a non-dividend stock == European (within tree err)
    call = deriv.binomial_american(
        spark, opts.where(F.col("id") == 1), n_steps=64, call=True
    ).collect()[0].price
    bs_c = opts.where(F.col("id") == 1).select(
        deriv.bs_call(F.col("s"), F.col("k"), F.col("t_y"),
                      F.col("sigma"), F.col("r")).alias("c")
    ).collect()[0].c
    assert call == pytest.approx(bs_c, rel=0.01)
    # a zero-step tree would divide by zero only when the plan executes
    for n_steps in (0, -1):
        with pytest.raises(ValueError, match="n_steps"):
            deriv.binomial_american(spark, opts, n_steps=n_steps)


# ------------------------------------------------- component risk / VaR

def test_component_risk_euler_sums(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import risk as risk_ops

    base = datetime.datetime(2024, 1, 1)
    rows = []
    vals = {"A": [0.01, -0.02, 0.015, 0.005, -0.01, 0.02],
            "B": [0.02, -0.01, 0.005, 0.01, -0.02, 0.01],
            "C": [-0.01, 0.01, -0.005, 0.02, 0.01, -0.015]}
    for sym, rs in vals.items():
        for i, r in enumerate(rs):
            rows.append(Row(symbol=sym, ts=base + datetime.timedelta(days=i),
                            ret=r))
    out = risk_ops.component_risk(spark.createDataFrame(rows)).collect()
    assert len(out) == 3
    port_vol = out[0].port_vol
    # Euler: risk contributions sum exactly to portfolio vol
    assert sum(r.risk_contrib for r in out) == pytest.approx(
        port_vol, rel=1e-12
    )
    assert sum(r.pct_contrib for r in out) == pytest.approx(1.0, rel=1e-12)
    # numpy cross-check of portfolio vol under equal weights
    import numpy as np
    m = np.array([vals["A"], vals["B"], vals["C"]])
    cov = np.cov(m)
    w = np.full(3, 1 / 3)
    assert port_vol == pytest.approx(float(np.sqrt(w @ cov @ w)), rel=1e-9)
    for r in out:
        assert r.component_var == pytest.approx(
            1.6448536269514722 * r.risk_contrib, rel=1e-12
        )


# ------------------------------------------------------ Kneser-Ney LM

def test_kneser_ney_matches_reference_impl(spark):
    docs = [(1, "a b a b c"), (2, "a b c a")]
    out = {r.doc_id: r for r in text.kneser_ney_score(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).collect()}

    # hand-rolled reference
    import math
    from collections import Counter
    D = 0.75
    bigrams = []
    per_doc = {}
    for did, t in docs:
        toks = t.split(" ")
        bs = list(zip(toks, toks[1:]))
        per_doc[did] = bs
        bigrams += bs
    c12 = Counter(bigrams)
    c1 = Counter(w1 for w1, _ in bigrams)
    fw = Counter(w1 for (w1, _), _ in c12.items())
    bw = Counter(w2 for (_, w2), _ in c12.items())
    T = len(c12)

    def pkn(w1, w2):
        return (max(c12[(w1, w2)] - D, 0) / c1[w1]
                + D * fw[w1] / c1[w1] * bw[w2] / T)

    for did, bs in per_doc.items():
        mean = sum(math.log(pkn(*b)) for b in bs) / len(bs)
        assert out[did].n_bigrams == len(bs)
        assert out[did].mean_logp == pytest.approx(mean, rel=1e-12)
        assert out[did].perplexity == pytest.approx(
            math.exp(-mean), rel=1e-12
        )


# ------------------------------------------------- turnover / IC / dow

def test_portfolio_turnover_counts_entries_and_exits(spark):
    base = datetime.datetime(2024, 1, 1)
    t0, t1 = base, base + datetime.timedelta(days=1)
    w = spark.createDataFrame([
        Row(symbol="A", ts=t0, w=0.5), Row(symbol="B", ts=t0, w=0.5),
        Row(symbol="B", ts=t1, w=0.5), Row(symbol="C", ts=t1, w=0.5),
    ])
    out = factors.portfolio_turnover(w).collect()
    assert len(out) == 1
    # A exits (0.5), C enters (0.5), B unchanged -> one-way turnover 0.5
    assert out[0].turnover == pytest.approx(0.5)
    assert out[0].n_positions == 3  # union of holdings


def test_information_coefficient_perfect_signal(spark):
    # forward return == momentum ordering -> IC = 1 each period
    base = datetime.datetime(2024, 1, 1)
    rows = []
    # closes engineered: symbol S_i grows at rate proportional to i
    for i, sym in enumerate(["A", "B", "C", "D"]):
        g = 1.0 + 0.01 * (i + 1)
        c = 100.0
        for d in range(10):
            rows.append(Row(symbol=sym, ts=base + datetime.timedelta(days=d),
                            close=c))
            c *= g
    out = factors.information_coefficient(
        spark.createDataFrame(rows), lookback=3
    ).collect()
    assert len(out) > 0
    assert all(r.ic == pytest.approx(1.0, abs=1e-12) for r in out)
    assert all(r.n_universe == 4 for r in out)


def test_seasonality_profile_dow_arithmetic(spark):
    # 2024-01-01 was a Monday -> dow 0
    base = datetime.datetime(2024, 1, 1)
    rows = [Row(symbol="A", ts=base + datetime.timedelta(days=i),
                close=100.0 + i) for i in range(8)]
    out = factors.seasonality_profile(spark.createDataFrame(rows)).collect()
    dows = {r.dow for r in out}
    assert dows == set(range(7))
    mon = [r for r in out if r.dow == 0][0]
    # day 7 (second Monday) has the only Monday return
    assert mon.n == 1
    assert mon.mean_r == pytest.approx(107.0 / 106.0 - 1.0, abs=1e-12)


def test_source_divergence_zero_for_identical_sources(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b c", source="s1"),
        Row(doc_id=2, text="a b c", source="s2"),
    ])
    out = text.source_divergence(docs).collect()
    # both sources have the corpus distribution -> KL = 0
    for r in out:
        assert r.kl_divergence == pytest.approx(0.0, abs=1e-12)

    skewed = spark.createDataFrame([
        Row(doc_id=1, text="a a a b", source="s1"),
        Row(doc_id=2, text="b b b a", source="s2"),
    ])
    out2 = {r.source: r for r in text.source_divergence(skewed).collect()}
    assert out2["s1"].kl_divergence > 0
    assert out2["s2"].kl_divergence > 0


# ------------------------------------------------ MC pricing / bootstrap

def test_mc_european_converges_to_black_scholes(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        derivatives as deriv,
    )

    opts = spark.createDataFrame([
        Row(id=1, s=100.0, k=100.0, t_y=1.0, r=0.05, sigma=0.2),
    ])
    mc = deriv.mc_european(opts, n_paths=20000).collect()[0]
    bs = opts.select(
        deriv.bs_call(F.col("s"), F.col("k"), F.col("t_y"),
                      F.col("sigma"), F.col("r")).alias("c")
    ).collect()[0].c
    # MC std error at 20k paths is ~0.1 for these params
    assert mc.mc_price == pytest.approx(bs, abs=0.35)
    assert mc.n_paths == 20000
    # deterministic: identical on re-run
    mc2 = deriv.mc_european(opts, n_paths=20000).collect()[0]
    assert mc2.mc_price == mc.mc_price


def test_bootstrap_sharpe_ci_brackets_estimate(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        metrics as m,
    )

    base = datetime.datetime(2024, 1, 1)
    import math
    rows = [Row(ts=base + datetime.timedelta(days=i),
                r=0.001 + 0.01 * math.sin(1e4 * (i * 0.37 % 1.0)))
            for i in range(120)]
    out = m.bootstrap_sharpe_ci(
        spark.createDataFrame(rows), n_boot=100
    ).collect()[0]
    assert out.n_obs == 120 and out.n_boot == 100
    assert out.ci_lo < out.sharpe_hat < out.ci_hi
    assert out.significant == (out.ci_lo > 0)
    # reproducible
    out2 = m.bootstrap_sharpe_ci(
        spark.createDataFrame(rows), n_boot=100
    ).collect()[0]
    assert (out2.ci_lo, out2.ci_hi) == (out.ci_lo, out.ci_hi)
