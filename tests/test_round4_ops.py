"""Round-4 regression + new-operator tests.

Covers the r3 ADVICE fixes (resolve_duplicates singleton passthrough,
mmr_select non-bigint ids, lsmc cache release) and the round-4 operators.
"""

from __future__ import annotations

import math

import pandas as pd

import pytest

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    dedup,
    similarity,
)


# -------------------------------------------------- ADVICE fix regressions


def test_resolve_duplicates_singletons_survive_missing_clusters(spark):
    """Docs absent from the clusters frame (connected_components with
    nodes=None labels edge endpoints only) must pass through as
    singleton canonical rows, not silently vanish (r3 ADVICE)."""
    docs = spark.createDataFrame(
        [(1, 50), (2, 80), (9, 33)], "doc_id long, n_chars long"
    )
    # doc 9 has no cluster row at all
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster long"
    )
    out = {r["doc_id"]: r for r in
           dedup.resolve_duplicates(docs, clusters).collect()}
    assert set(out) == {1, 2, 9}
    assert out[9]["is_canonical"] == 1
    assert out[9]["n_members"] == 1
    assert out[9]["cluster"] == 9  # own id as singleton label
    assert out[2]["is_canonical"] == 1 and out[2]["n_members"] == 2
    # a caller column named like the row-number staging column passes
    # through untouched
    docs_rn = spark.createDataFrame(
        [(1, 50, "x"), (2, 80, "y"), (9, 33, "z")],
        "doc_id long, n_chars long, _rn string")
    out = {r["doc_id"]: r for r in
           dedup.resolve_duplicates(docs_rn, clusters).collect()}
    assert {k: r["_rn"] for k, r in out.items()} == {
        1: "x", 2: "y", 9: "z"}
    assert {k: r["is_canonical"] for k, r in out.items()} == {
        1: 0, 2: 1, 9: 1}


def test_mmr_select_string_ids(spark):
    """mmr_select derives the id field type from the input schema —
    string doc ids must work end-to-end (r3 ADVICE: was hardcoded
    'long' and failed at createDataFrame)."""
    rows = [
        ("doc-a", [1.0, 0.0]),
        ("doc-b", [0.9, 0.1]),
        ("doc-c", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = similarity.mmr_select(df, [1.0, 0.0], k=2, lam=0.3, pool=10)
    got = out.orderBy("rank").collect()
    assert [r["vec_id"] for r in got] == ["doc-a", "doc-c"]
    assert dict(out.dtypes)["vec_id"] == "string"


def test_lsmc_releases_path_cache(spark):
    """lsmc_american must not pin its simulated-path cache for the life
    of the session (r3 ADVICE): after the call returns, no new RDD from
    this call remains cached."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        derivatives,
    )

    before = {rdd_id for rdd_id, _ in
              spark.sparkContext._jsc.getPersistentRDDs().items()}
    out = derivatives.lsmc_american(
        spark, 0.2, s0=100.0, k=100.0, r=0.05, t_y=0.25,
        n_steps=4, n_paths=200,
    )
    after = {rdd_id for rdd_id, _ in
             spark.sparkContext._jsc.getPersistentRDDs().items()}
    assert after <= before, "paths cache leaked past lsmc_american return"
    row = out.first()
    assert row["n_paths"] == 200
    assert 0.0 < row["price"] < 100.0


# -------------------------------------------------- real image decode (r4)


class TestImageCodecs:
    def test_bmp_roundtrip_odd_width(self):
        import numpy as np

        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            multimodal as mm,
        )

        rng = np.random.default_rng(7)
        for h, w in [(9, 13), (5, 4), (1, 1), (17, 31)]:
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            assert np.array_equal(mm.decode_bmp(mm.encode_bmp(arr)), arr)
            assert np.array_equal(mm.decode_ppm(mm.encode_ppm(arr)), arr)

    def test_pgm_grayscale_roundtrip(self):
        import numpy as np

        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            multimodal as mm,
        )

        gray = np.arange(42, dtype=np.uint8).reshape(6, 7)
        out = mm.decode_ppm(mm.encode_ppm(gray))
        assert out.shape == (6, 7, 1)
        assert np.array_equal(out[:, :, 0], gray)

    def test_ppm_header_comments(self):
        import numpy as np

        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            multimodal as mm,
        )

        body = bytes(range(12))
        payload = b"P6\n# a comment\n2 2\n# another\n255\n" + body
        arr = mm.decode_ppm(payload)
        assert arr.shape == (2, 2, 3)
        assert arr.tobytes() == body

    def test_dispatch_and_unknown_format(self):
        import numpy as np
        import pytest as _pytest

        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            multimodal as mm,
        )

        arr = np.zeros((3, 3, 3), dtype=np.uint8)
        assert mm.decode_image_array(mm.encode_bmp(arr)).shape == (3, 3, 3)
        with _pytest.raises(NotImplementedError):
            mm.decode_image_array(b"\x89PNG\r\n....")  # compressed, no PIL

    def test_resize_nearest_identity_and_downsample(self):
        import numpy as np

        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            multimodal as mm,
        )

        arr = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
        same = mm.resize_nearest(arr, 4, 3)
        assert np.array_equal(same, arr)  # floor mapping is identity at 1:1
        half = mm.resize_nearest(arr, 2, 1)
        assert half.shape == (1, 2, 3)
        assert np.array_equal(half[0, 0], arr[0, 0])


def test_image_features_real_decode(spark):
    """The closed multimodal partial: real BMP/PPM payloads decode inside
    the mapInPandas stage and the stats match a local numpy replica."""
    import numpy as np

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        multimodal as mm,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    media = mm.synthetic_images(spark, 9)
    got = {r["media_id"]: r for r in mm.image_features(media).collect()}
    assert len(got) == 9 and all(r["decode_ok"] for r in got.values())
    # local replica for one row of each format
    for local in mm.synthetic_images(spark, 9).collect():
        arr = mm.decode_image_array(bytes(local["content"]))
        r = got[local["media_id"]]
        assert (r["width"], r["height"]) == (arr.shape[1], arr.shape[0])
        nch = arr.shape[2]
        assert r["n_channels"] == nch
        assert r["mean_r"] == pytest.approx(float(arr[:, :, 0].mean()))
        gray = arr.astype(np.int64).mean(axis=2)
        assert r["std_gray"] == pytest.approx(float(gray.std()), abs=1e-9)


def test_image_features_flags_undecodable(spark):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        multimodal as mm,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    # opaque fake bytes plus one real BMP (media_id 100), in one batch
    bmp = mm.synthetic_images(spark, 1).withColumn(
        "media_id", F.lit(100).cast("long"))
    media = mm.synthetic_media(spark, 12).unionByName(bmp).coalesce(1)
    rows = mm.image_features(media).collect()
    bad = [r for r in rows if r["media_id"] != 100]
    assert bad and all(not r["decode_ok"] for r in bad)
    assert all(r["width"] is None for r in bad)
    (good,) = [r for r in rows if r["media_id"] == 100]
    assert good["decode_ok"] and (good["width"], good["height"]) == (13, 9)


def test_resize_images_real_path(spark):
    """resize_images works WITHOUT PIL for BMP/PPM payloads:
    decode -> nearest-neighbor -> re-encode in the same format, dims
    verified by re-decoding the output payload."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        multimodal as mm,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    media = mm.synthetic_images(spark, 6)
    out = mm.resize_images(media, target_width=8, target_height=5).collect()
    assert len(out) == 6
    for r in out:
        assert r["resized"]
        arr = mm.decode_image_array(bytes(r["content"]))
        assert (arr.shape[1], arr.shape[0]) == (8, 5)


# -------------------------------------------------- verified JDBC sink (r4)


def test_jdbc_round_trip(spark, tmp_path):
    """Closes the §2.1 JDBC-sink partial: write_jdbc lands 2,500 rows in a
    REAL database (embedded Derby, on Spark's default classpath), read
    back via a partitioned JDBC scan — values, append mode, and the
    reference's 1000-row batch size all exercised
    (etl/database_writer.py:110-163 parity)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.io import (
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(0, 2500).selectExpr(
        "id", "cast(id * 1.5 as double) as price",
        "concat('SYM', cast(id % 5 as string)) as symbol")
    write_jdbc(df, url, "ticks", properties=props, batch_size=1000,
               column_types="symbol VARCHAR(20)")  # reference DDL parity

    back = read_jdbc(spark, url, "ticks", properties=props)
    assert back.count() == 2500
    assert back.selectExpr("sum(id)").first()[0] == sum(range(2500))
    assert back.filter("symbol = 'SYM3'").count() == 500

    # append mode: a second batch adds, never clobbers (writer buffer flush
    # semantics of the reference)
    write_jdbc(df.limit(100), url, "ticks", properties=props, mode="append")
    assert read_jdbc(spark, url, "ticks", properties=props).count() == 2600

    # partitioned parallel read plans one query per stride
    par = read_jdbc(spark, url, "ticks", properties=props,
                    partition_column="id", lower_bound=0,
                    upper_bound=2500, num_partitions=4)
    assert par.rdd.getNumPartitions() == 4
    assert par.count() == 2600


# ---------------------------------------- large-star/small-star CC (r4)


def test_cc_star_matches_minlabel_on_random_graph(spark):
    """Differential oracle: on a random graph and three shaped ones the
    star rounds must give exactly the labels of an in-test union-find
    (cluster = smallest member id) — a reference independent of Spark."""
    import random

    rng = random.Random(42)
    graphs = [
        ([(rng.randrange(60), rng.randrange(60)) for _ in range(80)], 60),
        # long chain 0-1-2-...-59 (adversarial diameter)
        ([(i, i + 1) for i in range(59)], 60),
        # star around 7 + separate triangle + isolated nodes
        ([(7, i) for i in range(8, 30)] + [(40, 41), (41, 42), (40, 42)],
         50),
        # two 6-cliques bridged by one edge
        ([(a, b) for a in range(6) for b in range(a + 1, 6)]
         + [(a, b) for a in range(10, 16) for b in range(a + 1, 16)]
         + [(5, 10)], 20),
    ]

    def find(parent, x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for edges, n_nodes in graphs:
        edf = spark.createDataFrame(
            [(a, b) for a, b in edges if a != b], "doc_a long, doc_b long")
        nodes = spark.createDataFrame(
            [(i,) for i in range(n_nodes)], "doc_id long")
        parent = list(range(n_nodes))
        for a, b in edges:
            ra, rb = find(parent, a), find(parent, b)
            parent[max(ra, rb)] = min(ra, rb)  # root = smallest member
        ref = {i: find(parent, i) for i in range(n_nodes)}
        got = {r["doc_id"]: r["cluster"] for r in
               dedup.connected_components(edf, nodes=nodes).collect()}
        assert got == ref, f"graph with {n_nodes} nodes"


def test_cc_star_long_chain_logarithmic_rounds(spark):
    """The adversarial-diameter case (diameter 200): star converges in
    O(log n) rounds and labels the whole chain with node 0."""
    n = 200
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    stats = {}
    got = {r["doc_id"]: r["cluster"] for r in
           dedup.connected_components(edf, _stats=stats).collect()}
    assert len(got) == n
    assert set(got.values()) == {0}, "chain not fully merged"
    assert stats["rounds"] <= 20, f"rounds {stats['rounds']} not O(log n)"


def test_cc_star_singletons_and_two_components(spark):
    edf = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "doc_a long, doc_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in [10, 11, 12, 20, 21, 99]], "doc_id long")
    got = {r["doc_id"]: r["cluster"] for r in
           dedup.connected_components(edf, nodes=nodes).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 99: 99}


def test_cc_star_forest_input_stops_after_one_round(spark):
    """An input that is already a star forest (one edge; a star around
    its smallest node) is its own fixed point: one round, no second
    round to confirm it."""
    for edges, want in [
        ([(5, 3)], {3: 3, 5: 3}),
        ([(2, i) for i in range(3, 9)], {i: 2 for i in range(2, 9)}),
    ]:
        edf = spark.createDataFrame(edges, "doc_a long, doc_b long")
        stats = {}
        got = {r["doc_id"]: r["cluster"] for r in
               dedup.connected_components(edf, _stats=stats).collect()}
        assert got == want
        assert stats["rounds"] == 1


# -------------------------------------- JVM-native as-of directions (r4)


class TestAsofDirections:
    """asof_join now covers every merge_asof direction/tolerance combo
    JVM-side; pandas merge_asof is the differential oracle."""

    @staticmethod
    def _frames():
        import numpy as np

        rng = np.random.default_rng(5)
        t0 = pd.Timestamp("2024-03-01")
        lrows, rrows = [], []
        for sym in ["A", "B"]:
            lt = np.sort(rng.choice(np.arange(0, 3600, 7), 40,
                                    replace=False))
            rt = np.sort(rng.choice(np.arange(0, 3600, 11), 25,
                                    replace=False))
            for s in lt:
                lrows.append({"symbol": sym,
                              "ts": t0 + pd.Timedelta(seconds=int(s)),
                              "px": float(s)})
            for s in rt:
                rrows.append({"symbol": sym,
                              "ts": t0 + pd.Timedelta(seconds=int(s)),
                              "quote": float(s) * 2.0})
        return pd.DataFrame(lrows), pd.DataFrame(rrows)

    @pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
    @pytest.mark.parametrize("tol_s", [None, 30])
    def test_matches_merge_asof(self, spark, direction, tol_s):
        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            joins,
        )

        lpdf, rpdf = self._frames()
        tol = None if tol_s is None else pd.Timedelta(seconds=tol_s)
        got = (
            joins.asof_join(
                spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
                value_cols=["quote"], tolerance=tol, direction=direction)
            .toPandas().sort_values(["symbol", "ts"])
            .reset_index(drop=True)
        )
        exp_parts = []
        for sym, lg in lpdf.groupby("symbol"):
            rg = rpdf[rpdf["symbol"] == sym]
            exp_parts.append(pd.merge_asof(
                lg.sort_values("ts"),
                rg[["ts", "quote"]].sort_values("ts"),
                on="ts", tolerance=tol, direction=direction))
        exp = (pd.concat(exp_parts).sort_values(["symbol", "ts"])
               .reset_index(drop=True))
        assert len(got) == len(exp)
        pd.testing.assert_series_equal(
            got["quote"], exp["quote"], check_names=False)

    def test_nearest_tie_prefers_backward(self, spark):
        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            joins,
        )

        t0 = pd.Timestamp("2024-03-01")
        left = spark.createDataFrame(pd.DataFrame([
            {"symbol": "A", "ts": t0 + pd.Timedelta(seconds=10)}]))
        right = spark.createDataFrame(pd.DataFrame([
            {"symbol": "A", "ts": t0 + pd.Timedelta(seconds=5),
             "quote": 1.0},
            {"symbol": "A", "ts": t0 + pd.Timedelta(seconds=15),
             "quote": 2.0}]))
        row = joins.asof_join(left, right, value_cols=["quote"],
                              direction="nearest").first()
        assert row["quote"] == 1.0  # equidistant -> backward (pandas)

    def test_numeric_on_column_with_tolerance(self, spark):
        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            joins,
        )

        left = spark.createDataFrame(
            [("A", 10.0), ("A", 25.0)], "symbol string, ts double")
        right = spark.createDataFrame(
            [("A", 8.0, 80.0), ("A", 26.0, 260.0)],
            "symbol string, ts double, quote double")
        got = {r["ts"]: r["quote"] for r in joins.asof_join(
            left, right, value_cols=["quote"], tolerance=3.0,
            direction="nearest").collect()}
        assert got == {10.0: 80.0, 25.0: 260.0}
        got_b = {r["ts"]: r["quote"] for r in joins.asof_join(
            left, right, value_cols=["quote"], tolerance=1.0,
            direction="backward").collect()}
        assert got_b == {10.0: None, 25.0: None}

    def test_single_shuffle_plan(self, spark):
        """All three directions plan exactly ONE exchange (the nearest
        variant's two window sorts share it) and zero Python stages."""
        from build_a_market_data_etl_strategy_backtesting_engine_spark import plans
        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
            joins,
        )

        lpdf, rpdf = self._frames()
        l, r = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
        for direction in ["backward", "forward", "nearest"]:
            df = joins.asof_join(l, r, value_cols=["quote"],
                                 tolerance=30.0, direction=direction)
            assert plans.count_shuffles(df) == 1, direction
            txt = plans.explain_str(df, "formatted")
            assert "ArrowEvalPython" not in txt
            assert "FlatMapGroupsInPandas" not in txt


# ----------------------------------------- EWM/GARCH overflow guard (r4)


def _long_bars(spark, n=10_000, seed=3):
    import numpy as np

    rng = np.random.default_rng(seed)
    px = 100.0 * np.exp(np.cumsum(rng.normal(0, 0.01, n)))
    pdf = pd.DataFrame({
        "symbol": "LONG",
        "ts": pd.date_range("2020-01-01", periods=n, freq="1min"),
        "close": px,
    })
    return spark.createDataFrame(pdf), pdf


def _garch_path(path, df, alpha=0.08, beta=0.90):
    """Run one GARCH path (unroll or recursion) directly, bypassing the
    row-count choice ``garch_volatility`` makes."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import ewm

    j = ewm._with_vbar(ewm._returns(df, "close", "symbol", "ts"),
                       "symbol", "ts")
    return path(j, alpha, beta, "symbol", "ts", 252)


def test_garch_auto_switches_and_matches_recursion(spark):
    """r3 VERDICT #7: at 10k rows/symbol (beta=0.9 bound ~6,000)
    garch_volatility must take the recursion path and match a local
    float64 recursion bit-for-bit; the unroll would overflow there."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import ewm

    assert 5000 < ewm.unroll_row_bound(0.90) < 6500
    df, pdf = _long_bars(spark)
    got = (ewm.garch_volatility(df, alpha=0.08, beta=0.90)
           .toPandas().sort_values("ts").reset_index(drop=True))
    assert len(got) == 9999 and got["garch_var"].notna().all()
    import numpy as np

    assert np.isfinite(got["garch_var"].to_numpy()).all()
    # local float64 recursion replica (variance-targeted omega)
    r = (pdf["close"].to_numpy()[1:] / pdf["close"].to_numpy()[:-1]
         - 1.0)
    vb = float(pd.Series(r).var(ddof=1))
    omega = vb * (1.0 - 0.08 - 0.90)
    h, prev, exp = vb, None, []
    for x in r:
        if prev is not None:
            h = omega + 0.08 * prev * prev + 0.90 * h
        exp.append(h)
        prev = float(x)
    # vbar comes from Spark's distributed var_samp (merge-order float
    # aggregate, ~1e-16 off pandas' ddof=1) and seeds the recursion, so
    # GARCH is near-exact vs the local replica; the recursion itself is
    # bit-exact given the same seed (EWMA test below proves that).
    np.testing.assert_allclose(got["garch_var"].to_numpy(),
                               np.array(exp), rtol=1e-12)
    # and the guard is load-bearing: the raw unroll overflows at this n
    forced = _garch_path(ewm._garch_unroll, df).toPandas()
    assert not np.isfinite(forced["garch_var"].to_numpy()).all()


def test_ewma_auto_matches_recursion_at_10k(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import ewm

    import numpy as np

    df, pdf = _long_bars(spark, n=12_000, seed=4)
    assert ewm.unroll_row_bound(0.94) < 12_000  # auto must switch
    got = (ewm.ewma_volatility(df, lam=0.94)
           .toPandas().sort_values("ts").reset_index(drop=True))
    r = (pdf["close"].to_numpy()[1:] / pdf["close"].to_numpy()[:-1]
         - 1.0)
    v, exp = None, []
    for x in r:
        x = float(x)
        v = x * x if v is None else 0.94 * v + (1.0 - 0.94) * x * x
        exp.append(v)
    np.testing.assert_array_equal(got["ewma_var"].to_numpy(),
                                  np.array(exp))


def test_engines_agree_inside_envelope(spark):
    """Below the bound the unroll and the recursion agree to float
    round-off — the row-count switch changes nothing observable."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import ewm

    import numpy as np

    df, _ = _long_bars(spark, n=400, seed=5)
    a = (_garch_path(ewm._garch_unroll, df).toPandas()
         .sort_values("ts")["garch_var"].to_numpy())
    b = (_garch_path(ewm._garch_recursion, df).toPandas()
         .sort_values("ts")["garch_var"].to_numpy())
    np.testing.assert_allclose(a, b, rtol=1e-9)


# ------------------------------------ tz-proof microstructure keys (r4)


def test_utc_day_and_slot_are_session_tz_invariant(spark):
    """Found by the r4 full hostile-tz sweep: date_trunc('day')/hour()
    truncate in the SESSION zone, so a non-UTC driver split the daily
    microstructure measures into different sessions than the epoch-based
    oracles (150 -> 155 day groups, slots shifted by the UTC offset).
    The epoch-arithmetic keys must not move when the session tz does."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.microstructure import (
        _utc_day,
        _utc_minute_of_day,
    )

    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({
        "ts": pd.to_datetime([
            "2024-01-01 00:00:00", "2024-01-01 04:59:59",
            "2024-01-01 05:00:00", "2024-01-02 23:59:59"]),
    })
    tz0 = spark.conf.get("spark.sql.session.timeZone")

    def keys():
        df = spark.createDataFrame(pdf)
        return [(r[0], r[1]) for r in df.select(
            F.unix_micros(_utc_day("ts")),
            _utc_minute_of_day("ts")).collect()]

    def epochs():
        df = spark.createDataFrame(pdf)
        return [r[0] for r in df.select(F.unix_micros("ts")).collect()]

    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc_keys, utc_epochs = keys(), epochs()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_keys, ny_epochs = keys(), epochs()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    # createDataFrame interprets naive stamps in the session tz, so the
    # EPOCH values differ between sessions; what must be invariant is the
    # key ARITHMETIC relative to each row's true epoch: day =
    # epoch - epoch%day, slot = (epoch%day)/min. The old tz-dependent
    # spelling (hour(ts)*60+minute(ts), date_trunc) violates exactly
    # this under NY (offset-shifted) — pinned per row, not just by range.
    day_us = 86_400_000_000
    for (d, s), e in list(zip(utc_keys, utc_epochs)) + \
            list(zip(ny_keys, ny_epochs)):
        assert d == e - e % day_us, "day key not pure epoch arithmetic"
        assert s == (e % day_us) // 60_000_000, "slot key tz-dependent"
