"""Plan-shape tests: pin the physical properties that matter at 100TB —
pushdown, pruning, broadcast joins, shuffle counts, codegen coverage."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark import plans
from build_a_market_data_etl_strategy_backtesting_engine_spark import queries as q
from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    backtest,
    bars,
    signals,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
    events_as_ticks,
    load_tables,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet(spark):
    li = load_tables(spark, SF, ["lineitem"])["lineitem"]
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plans.assert_pushed_filters(df, ["l_quantity"])
    # column pruning: the scan must read exactly the 2 needed columns
    scans = plans.read_schema_columns(df)
    assert scans and sorted(scans[0]) == ["l_orderkey", "l_quantity"]


def test_symbol_filter_pushdown_in_latest_trades(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.io import (
        latest_trades,
    )

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    df = latest_trades(ticks, "click", 10)
    plans.assert_pushed_filters(df, ["event_type"])
    # top-k must be TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plans.explain_str(df, "simple")


def test_star_join_broadcasts_dims(spark):
    df = q.spark_queries()["q02_revenue_by_nation"](spark, SF)
    plans.assert_broadcast_join(df)
    # 3 broadcast joins + 1 aggregation shuffle: no fact-table shuffle for joins
    plans.assert_max_shuffles(df, 1)


def test_ohlcv_is_single_shuffle_hash_agg(spark):
    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "5min")
    plans.assert_max_shuffles(b, 1)
    assert "HashAggregate" in plans.explain_str(b, "simple")
    # map-side partial aggregation present (two HashAggregate levels)
    assert plans.explain_str(b, "simple").count("HashAggregate") >= 2


def test_ohlcv_tiebreaker_stays_hash_aggregate(spark):
    """The (ts, seq) ordering key is one DECIMAL(38,0), a mutable buffer
    type, so open/close keep the hash aggregate (a struct key made it a
    SortAggregate with a sort on both sides of the shuffle)."""
    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "1min", tiebreaker="seq")
    txt = plans.explain_str(b, "simple")
    assert "HashAggregate" in txt and "SortAggregate" not in txt
    plans.assert_max_shuffles(b, 1)


def test_clean_to_bars_scans_once_and_reuses_dedup_exchange(spark):
    """The IQR-stats branch and the main branch of clean_pipeline plan the
    same dedup exchange (the null-ts filter sits below the fork), so the
    AQE-final plan of clean -> bars reads the ticks in one scan stage."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        cleaner,
    )

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    out = bars.ticks_to_ohlcv(cleaner.clean_pipeline(ticks), "1min",
                              tiebreaker="seq")
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("FileScan") == 1


def test_backtest_kernel_single_sort_shuffle(spark):
    """The whole 9-step kernel + signal stack must stay ONE window
    sort-shuffle over (symbol): bars agg shuffle + window shuffle only."""
    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "1H")
    px = b.withColumn("px", F.lit(100.0) + F.col("close") / F.lit(10.0))
    sig = signals.mean_reversion_signal(px, n=20, num_std=1.5, price_col="px")
    res = backtest.backtest_signals(sig, price_col="px")
    plans.assert_max_shuffles(res, 2)  # 1 agg + 1 window partition
    # all five window stages (rolling stats, lags, cumsum) must share ONE
    # (symbol, ts) sort — i.e. no extra Exchange between Window operators
    txt = plans.explain_str(res, "simple")
    assert txt.count("Window") >= 3 and plans.count_shuffles(res) == 2


def test_iqr_clean_shares_scan_via_broadcast_stats(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        cleaner,
    )

    li = load_tables(spark, SF, ["lineitem"])["lineitem"]
    kept = cleaner.remove_outliers_iqr(li, "l_extendedprice", k=1.5)
    # stats attach via broadcast nested-loop/exchange, no driver collect:
    txt = plans.explain_str(kept, "simple")
    assert "Broadcast" in txt


def test_metrics_suite_bounded_shuffles(spark):
    df = q.spark_queries()["q17_metrics_suite"](spark, SF)
    # bars agg + window partition + metrics agg + streaks join pipeline:
    # structural budget, catches accidental extra exchanges
    assert plans.count_shuffles(df) <= 8


def test_clean_pipeline_auto_selects_sketch_at_scale(spark):
    """The default clean composition must not plan an exact global
    sort-aggregate percentile on large inputs: above AUTO_APPROX_BYTES the
    IQR quartiles switch to the one-pass approx_percentile sketch; small
    (oracle-sized) inputs keep the exact interpolated percentile."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import cleaner

    big = (
        spark.range(500_000_000)  # Catalyst size estimate ~4 GB, no job
        .select(
            F.col("id").alias("seq"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            (F.col("id") % 1000).cast("double").alias("price"),
        )
    )
    plan_big = plans.explain_str(
        cleaner.clean_pipeline(big, dedup_subset=["seq"]), "simple")
    assert "approx_percentile" in plan_big

    small = big.limit(100)
    plan_small = plans.explain_str(
        cleaner.clean_pipeline(small, dedup_subset=["seq"]), "simple")
    assert "approx_percentile" not in plan_small
    assert "percentile" in plan_small


def test_corpus_curation_single_shuffle(spark):
    """curate_corpus is structurally ONE exchange (the dedup window over
    the content hash); annotate + filter fuse into the post-shuffle
    projection. The budget summary adds exactly one map-combinable agg."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import corpus
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import load_tables

    docs = load_tables(spark, SF, ["documents"])["documents"]
    cur = corpus.curate_corpus(docs)
    assert plans.count_shuffles(cur) == 1
    assert plans.count_shuffles(corpus.curation_summary(cur)) == 2


def test_salted_agg_two_exchanges(spark):
    """salted_agg = exactly two hash exchanges: per-(key, salt) partials,
    then the per-key merge — never more (a third would mean the salt
    leaked into downstream distribution)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import skew
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import load_tables

    docs = load_tables(spark, SF, ["documents"])["documents"]
    out = skew.salted_agg(
        docs, "lang",
        {"n": ("count", "doc_id"), "c": ("sum", "n_chars")}, n_salt=8)
    assert plans.count_shuffles(out) == 2


def test_stratified_sample_is_shuffle_free_codegen(spark):
    """Hash sampling must stay a map-side filter: zero exchanges, and the
    bucket-threshold predicate lives inside whole-stage codegen next to
    the scan — the only shape that survives sampling 100 TB."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import sampling

    docs = load_tables(spark, SF, ["documents"])["documents"]
    out = sampling.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.1, "de": 0.5})
    assert plans.count_shuffles(out) == 0
    assert plans.wholestage_codegen_count(out) >= 1
    out2 = sampling.deterministic_sample(docs, "doc_id", 0.25)
    assert plans.count_shuffles(out2) == 0


def test_pack_token_budget_sharded_single_shuffle(spark):
    """Sharded packing = one exchange (hash by shard for the window sort);
    the global variant is for small/oracle inputs only."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import sampling
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as text_ops

    docs = load_tables(spark, SF, ["documents"])["documents"]
    d = docs.select(
        "doc_id", text_ops.token_count("text").alias("n_tok"),
        F.pmod(F.col("doc_id"), F.lit(16)).alias("shard"))
    packed = sampling.pack_token_budget(
        d, "n_tok", "doc_id", 2000, shard_col="shard")
    assert plans.count_shuffles(packed) == 1


def test_redact_pii_is_shuffle_free(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as text_ops

    docs = load_tables(spark, SF, ["documents"])["documents"]
    out = text_ops.redact_pii(docs)
    assert plans.count_shuffles(out) == 0


def test_tfidf_and_unigram_bounded_shuffles(spark):
    """TF-IDF and unigram-LM keep their algebraic shuffle minimum: two
    map-combinable aggs + vocab join + (rank window | final agg). Upper
    bounds pinned so a refactor can't silently add exchanges."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as text_ops

    docs = load_tables(spark, SF, ["documents"])["documents"]
    plans.assert_max_shuffles(text_ops.tfidf_top_terms(docs), 7)
    plans.assert_max_shuffles(text_ops.unigram_logprob(docs), 6)


def test_microstructure_shuffle_shapes(spark):
    """Signing = 1 window sort; OFI bars add 1 map-combinable agg; the
    kyle-lambda day agg reuses the bar distribution. Upper bounds pinned."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        microstructure as micro,
    )

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    signed = micro.tick_rule_signs(ticks)
    plans.assert_max_shuffles(signed, 1)
    plans.assert_max_shuffles(micro.ofi_bars(signed), 2)
    plans.assert_max_shuffles(micro.kyle_lambda(signed), 3)


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking is split->sequence->explode->slice: pure map-side, zero
    exchanges — the only shape that chunks 100 TB without a shuffle."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as text_ops

    docs = load_tables(spark, SF, ["documents"])["documents"]
    out = text_ops.chunk_documents(docs)
    assert plans.count_shuffles(out) == 0
    assert plans.wholestage_codegen_count(out) >= 1


def test_boilerplate_and_vocab_bounded_shuffles(spark):
    """Boilerplate coverage = gram doc-freq agg + gram join + per-doc agg;
    vocab table = term agg + distinct-docs agg + vocab-sized joins and one
    vocab-sized global window. Upper bounds pinned."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as text_ops

    docs = load_tables(spark, SF, ["documents"])["documents"]
    plans.assert_max_shuffles(text_ops.boilerplate_coverage(docs), 5)
    plans.assert_max_shuffles(text_ops.vocab_coverage(docs), 7)


def test_semantic_dedup_is_cluster_equi_join(spark):
    """SemDeDup prior-sim must be a hash equi-join on the cluster key —
    never a cartesian. Also pins the shuffle budget."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import dedup

    emb = load_tables(spark, SF, ["embeddings"])["embeddings"]
    out = dedup.semantic_dedup(emb)
    txt = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in txt
    plans.assert_max_shuffles(out, 6)


def test_funnel_reuses_user_partitioning(spark):
    """The 3-step funnel keys every agg/join on user_id; pinned upper
    bound keeps a refactor from introducing per-step re-partitioning."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import sessions

    ev = load_tables(spark, SF, ["events"])["events"]
    plans.assert_max_shuffles(sessions.funnel(ev), 8)


def test_markouts_single_window_sort(spark):
    """All markout horizons share one (symbol, ts, seq) window sort plus
    one map-combinable symbol agg."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        microstructure as micro,
    )

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    signed = micro.tick_rule_signs(ticks)
    plans.assert_max_shuffles(micro.trade_markouts(signed), 3)


def test_bpe_pair_counts_two_aggs_no_more(spark):
    """BPE pair counting must collapse corpus->vocabulary before the pair
    explode: two map-combinable aggs, nothing else."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as text_ops

    docs = load_tables(spark, SF, ["documents"])["documents"]
    plans.assert_max_shuffles(text_ops.bpe_pair_counts(docs), 2)


def test_fingerprint_overlap_no_cartesian(spark):
    """Fingerprint-overlap pairs join on the fp key with a df cap —
    hash equi-join, never cartesian."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import dedup

    docs = load_tables(spark, SF, ["documents"])["documents"]
    out = dedup.fingerprint_overlap_pairs(docs)
    txt = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in txt


def test_vwap_execution_profile_is_broadcast(spark):
    """The historical volume-curve join must broadcast (slot dimension is
    tiny); day agg adds one exchange on (symbol, day)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        microstructure as micro,
    )

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    out = micro.vwap_execution(ticks)
    txt = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in txt


def test_pq_encode_is_shuffle_free(spark):
    """PQ encoding must be pure map-side codegen (argmin over literal
    codebooks) — zero exchanges; scoring reads only the m-byte codes."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import similarity as sim

    emb = load_tables(spark, SF, ["embeddings"])["embeddings"]
    cb = [[[0.0] * 8 for _ in range(4)] for _ in range(8)]
    enc = sim.pq_encode(emb, cb)
    assert plans.count_shuffles(enc) == 0
    top = sim.pq_topk(enc, [0.0] * 64, cb, k=5)
    txt = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in txt


def test_lead_lag_and_acf_no_cartesian(spark):
    """Lag fan-out + shifted-epoch alignment must stay a hash equi-join:
    no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import factors

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "1d")
    for df in (factors.lead_lag_corr(b, max_lag=2),
               factors.acf(b, max_lag=3)):
        p = plans.explain_str(df, "simple")
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_component_risk_broadcasts_weights_and_portvar(spark):
    """The k x k covariance stage is the only real shuffle group; the
    weight frames and 1-row portfolio variance ride broadcasts."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import risk as risk_ops

    from pyspark.sql import Window

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "1d")
    r = b.withColumn(
        "ret",
        F.col("close")
        / F.lag("close").over(Window.partitionBy("symbol").orderBy("ts"))
        - 1,
    ).where(F.col("ret").isNotNull()).select("symbol", "ts", "ret")
    df = risk_ops.component_risk(r)
    plans.assert_broadcast_join(df)
    p = plans.explain_str(df, "simple")
    assert "CartesianProduct" not in p


def test_line_dedup_and_hashed_score_bounded_shuffles(spark):
    """line_dedup: dup-dictionary agg + dictionary join + per-doc agg
    (distinct adds one) — bounded; hashed_ngram_score: explode is
    map-side, ONE per-doc agg shuffle."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as t

    docs = load_tables(spark, SF, ["documents"])["documents"]
    plans.assert_max_shuffles(t.line_dedup(docs, line_words=3), 6)
    plans.assert_max_shuffles(t.hashed_ngram_score(docs), 2)


def test_kneser_ney_no_cartesian_and_bounded(spark):
    """KN scoring: one pair agg builds the LM, two equi-joins score the
    positions, the types total rides a broadcast 1-row crossJoin —
    no nested-loop join over data-sized inputs."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as t

    docs = load_tables(spark, SF, ["documents"])["documents"]
    df = t.kneser_ney_score(docs)
    p = plans.explain_str(df, "simple")
    assert "CartesianProduct" not in p
    # the only BroadcastNestedLoopJoin allowed is the 1-row types total
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_weighted_sample_is_top_k_not_global_sort(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import sampling

    docs = load_tables(spark, SF, ["documents"])["documents"]
    df = sampling.weighted_sample(
        docs.withColumn("w", F.col("n_chars").cast("double")),
        weight_col="w", key_col="doc_id", k=50,
    )
    assert "TakeOrderedAndProject" in plans.explain_str(df, "simple")


def test_bpe_encode_is_shuffle_free(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import text as t

    docs = load_tables(spark, SF, ["documents"])["documents"]
    plans.assert_max_shuffles(t.bpe_encode(docs), 0)


def test_quality_classifier_feature_and_scoring_shapes(spark):
    """Trained quality filter: dense hashed features are ONE map-combinable
    hash agg (no pivot/second shuffle); serving with learned literal
    coefficients keeps the whole scoring plan JVM-side (no Python stage)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        ml as ml_ops,
        text as text_ops,
    )

    docs = load_tables(spark, SF, ["documents"])["documents"]
    feats = text_ops.bucket_features(docs, n_buckets=64)
    plans.assert_max_shuffles(feats, 1)
    assert plans.explain_str(feats, "simple").count("HashAggregate") >= 2

    model = ml_ops.NumpyLogit()
    model.coef_ = [0.01] * 64
    model.intercept_ = 0.0
    scored = text_ops.score_quality_model(docs, model, n_buckets=64)
    txt = plans.explain_str(scored, "simple")
    plans.assert_max_shuffles(scored, 1)
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_exact_substring_spans_shuffle_shape(spark):
    """ExactSubstr dedup (r12 shape): 2 exchanges total — ONE (h)
    shuffle whose window count replaces the old count-agg + join-back
    (which recomputed the scan+posexplode+md5 pipeline on a second
    subtree), and ONE (doc_id) window sort that the two downstream span
    aggregations reuse without further exchanges
    (hashpartitioning(doc_id) already clusters every (doc_id, *) key)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        text as text_ops,
    )

    docs = load_tables(spark, SF, ["documents"])["documents"]
    df = text_ops.exact_substring_spans(docs, window=10, min_dup=2)
    plans.assert_max_shuffles(df, 2)
    txt = plans.explain_str(df, "simple")
    assert txt.count("Window") == 3          # h-count + islands + span ids
    assert txt.count("Sort") == 2            # (h) + (doc_id, pos) sorts
    # the gram explode must appear ONCE — the old dup branch ran it twice
    assert txt.count("Generate") == 1


def test_split_adjustment_single_window_sort(spark):
    """Corporate-action adjustment must be the union-and-window shape: one
    (symbol, ts) sort-shuffle, no join-back of the factor table and no
    nested-loop inequality join against the action book."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        corporate,
    )

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "1d")
    splits = b.groupBy("symbol").agg(F.min("ts").alias("effective_ts")) \
        .withColumn("ratio", F.lit(2.0))
    adj = corporate.adjust_for_splits(b, splits)
    txt = plans.explain_str(adj, "simple")
    assert "NestedLoop" not in txt
    # bars agg shuffle + splits agg shuffle + one union-window sort
    assert plans.count_shuffles(adj) <= 3


def test_hurst_shares_one_symbol_sort(spark):
    """The scale fan-out explode must not add shuffles: returns window,
    block windows, and both aggs ride (symbol)-compatible partitioning —
    budget pinned so a regression to per-scale re-sorts is caught."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        factors,
    )

    ticks = events_as_ticks(load_tables(spark, SF, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "1H")
    h = factors.hurst_exponent(b)
    # bars agg + returns window + (symbol,n,block) window + final aggs
    assert plans.count_shuffles(h) <= 5


def test_mmr_pool_is_top_k_not_global_sort(spark):
    """The MMR candidate pool cut must plan as TakeOrderedAndProject (a
    distributed top-k), never a single-partition global sort."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        similarity,
    )

    e = load_tables(spark, SF, ["embeddings"])["embeddings"]
    qvec = [0.0] * 64
    qvec[0] = 1.0
    v = F.transform("embedding", lambda x: x.cast("double"))
    rel = e.select(
        F.col("vec_id").alias("_id"), v.alias("v"),
        similarity.cosine(v, F.array(*[F.lit(x) for x in qvec])).alias("rel"),
    )
    pool = rel.orderBy(F.col("rel").desc(), F.col("_id")).limit(20)
    assert "TakeOrderedAndProject" in plans.explain_str(pool, "simple")


def test_assign_clusters_is_shuffle_free(spark):
    """Cluster assignment rides the scan as literal-centroid expressions:
    zero exchanges."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        similarity,
    )

    e = load_tables(spark, SF, ["embeddings"])["embeddings"]
    cents = [[float(i == j) for j in range(64)] for i in range(4)]
    assert plans.count_shuffles(similarity.assign_clusters(e, cents)) == 0


def test_q6_shape_pushes_all_predicates(spark):
    """TPC-H Q6 shape (q140): every predicate must reach the parquet scan
    and the projection must prune to the 4 referenced columns — at 100 TB
    this query IS its scan."""
    df = q.spark_queries()["q140_forecast_revenue"](spark, SF)
    plans.assert_pushed_filters(df, ["l_shipdate", "l_discount",
                                     "l_quantity"])
    scans = plans.read_schema_columns(df)
    assert scans and sorted(scans[0]) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate"]
    assert plans.count_shuffles(df) <= 1  # single global agg


def test_q18_aggregates_before_joining(spark):
    """TPC-H Q18 shape (q141): the big-order set must come from an
    aggregate of lineitem alone (aggregate-then-join), lineitem must be
    scanned exactly ONCE, and — because the HAVING set is a measured
    ~20% of ALL orders, linear in SF — NO explicit broadcast hint may
    appear in the logical plan (r5 verdict weak). AQE is free to choose
    broadcast at test SF from runtime stats; what is pinned is that the
    choice is AQE's, not a hard-coded hint that would OOM at 100 TB."""
    df = q.spark_queries()["q141_large_volume_customers"](spark, SF)
    txt = plans.explain_str(df, "formatted")
    assert txt.count("lineitem.parquet") == 1, "lineitem re-scanned"
    assert "HashAggregate" in txt
    # no hard-coded broadcast hint: the analyzed logical plan must not
    # carry ResolvedHint/UnresolvedHint nodes (AQE-chosen broadcast in
    # the physical plan is fine and expected at test SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, "q141 carries a broadcast hint"
    assert "UnresolvedHint" not in logical


def test_r4_asof_directions_two_shuffles_no_python(spark):
    """q147 (forward+tolerance) and q148 (nearest) plan exactly the bars
    aggregation exchange + the union window exchange — 2 shuffles total,
    zero Python stages. The nearest variant's second fill is a Sort under
    the same exchange, NOT a new one."""
    for name in ["q147_asof_forward_tolerance", "q148_asof_nearest"]:
        df = q.spark_queries()[name](spark, SF)
        assert plans.count_shuffles(df) == 2, name
        txt = plans.explain_str(df, "formatted")
        assert "FlatMapGroupsInPandas" not in txt, name
        assert "ArrowEvalPython" not in txt, name


def test_r4_image_decode_shuffle_free(spark):
    """q145: the real image decode is ONE mapInPandas stage over the
    generated frame — zero exchanges; payload bytes never shuffle."""
    df = q.spark_queries()["q145_image_decode_features"](spark, SF)
    assert plans.count_shuffles(df) == 0
    assert "MapInPandas" in plans.explain_str(df, "formatted")


def test_q4_shape_semi_join_with_lateness_predicate(spark):
    """q164: the EXISTS is a LEFT SEMI join (no DISTINCT
    materialization of late orderkeys) whose probe side is pruned by
    the pushed quarter filter; the lateness predicate rides the join
    condition. Zero Python stages."""
    df = q.spark_queries()["q164_priority_late_orders"](spark, SF)
    txt = plans.explain_str(df, "formatted")
    assert "LeftSemi" in txt
    plans.assert_pushed_filters(df, ["o_orderdate"])
    assert "ArrowEvalPython" not in txt
    assert "FlatMapGroupsInPandas" not in txt


def test_q19_shape_disjunction_pushes_both_sides(spark):
    """q169: Catalyst must extract per-side envelopes from the OR'd
    brand/size/quantity legs — a disjunctive filter reaches BOTH parquet
    scans (quantity on lineitem, brand/size on part) instead of
    evaluating only post-join. One shuffle (the global agg) at this SF."""
    df = q.spark_queries()["q169_disjunctive_revenue"](spark, SF)
    txt = plans.explain_str(df, "formatted")
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)", txt)
    assert sum("Or(" in p for p in pushed) >= 2, pushed
    assert plans.count_shuffles(df) <= 1


def test_q11_shape_scalar_threshold_reuses_fact_exchange(spark):
    """q167: the global-scalar HAVING must be a 1-row aggregate joined
    back (never a window over the whole pv set), and at execution AQE
    must reuse the pv exchange — the fact table is shuffled ONCE for
    both the total and the probe side."""
    df = q.spark_queries()["q167_important_parts"](spark, SF)
    txt = plans.explain_str(df, "formatted")
    assert "Window" not in txt
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_q2_shape_min_cost_join_back_reuses_exchange(spark):
    """q170: the correlated-min is a per-part aggregate joined back on
    (partkey, cost); at execution the eligible exchange is reused, the
    part filter is pushed, and no Python stage appears."""
    df = q.spark_queries()["q170_min_cost_supplier"](spark, SF)
    plans.assert_pushed_filters(df, ["p_type", "p_size"])
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_q5_shape_same_nation_rides_supplier_join(spark):
    """q173: the Q5 same-nation constraint must ride the supplier join
    as a second equi-key — one join on (l_suppkey, c_nationkey), no
    post-join Filter pass and no Python stage; the order-date window is
    pushed to the orders scan. With broadcasts disabled the only
    broadcast left must be the constant-size dims (nation/region hints
    survive; customer/supplier must NOT appear on a broadcast build
    side — at 100TB they scale linearly)."""
    df = q.spark_queries()["q173_local_supplier_volume"](spark, SF)
    plans.assert_pushed_filters(df, ["o_orderdate"])
    txt = plans.explain_str(df, "formatted")
    assert "ArrowEvalPython" not in txt
    assert "FlatMapGroupsInPandas" not in txt
    # both equi-keys in one join: the supplier-side join condition carries
    # s_nationkey = c_nationkey, so no standalone same-nation Filter node
    # survives below the aggregate.
    assert "s_nationkey" in txt and "c_nationkey" in txt
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df2 = q.spark_queries()["q173_local_supplier_volume"](spark, SF)
        # no broadcast hint on customer or supplier survives in the
        # optimized logical plan (nation/region hints may):
        opt = df2._jdf.queryExecution().optimizedPlan().toString()
        for line in opt.splitlines():
            if "ResolvedHint" in line or "broadcast" in line.lower():
                assert "c_custkey" not in line and "s_suppkey" not in line, line
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
