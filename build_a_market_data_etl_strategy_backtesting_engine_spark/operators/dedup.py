"""Deduplication suite for large-scale corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Beyond-reference operators (SURVEY §7.6). Design rules for 100TB:

- shingling/hashing is map-side (explode + xxhash64/md5, codegen'd);
- candidate generation is ALWAYS bucket-join (LSH bands / simhash chunks),
  never the O(n^2) cross join;
- verification (exact Jaccard / Hamming / cosine) runs only on candidate
  pairs, whose cardinality is data-dependent but tiny next to n^2;
- every shuffle key is a hash bucket -> uniformly distributed, skew-safe
  (AQE skew-join handles pathological buckets like empty-text shingles).

``md5``-based variants exist where the DuckDB oracle needs a portable hash
(queries.py); the production path uses ``xxhash64`` (one 64-bit mix vs a
full crypto digest — ~5x cheaper in the shingle hot loop).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    skew,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.signals import (  # noqa: E501
    _fresh,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    sql_ident,
)


# ------------------------------------------------------------------- exact

def exact_duplicates(
    docs: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: (hash, n_docs, doc_ids) for groups >1.
    One map-side hash + one shuffle."""
    h = F.md5(F.col(text_col))
    return (
        docs.select(doc_id_col, h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sort_array(F.collect_list(doc_id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def distinct_by_content(
    docs: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each exact-content group.

    Built as one parsed window expression: row_number over (md5(text),
    doc_id asc), kept where it is 1. The staging column gets a fresh
    name, so a caller column of the same name passes through."""
    (rn,) = _fresh(docs, "_rn")
    d = docs.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY md5({sql_ident(text_col)}) "
        f"ORDER BY {sql_ident(doc_id_col)}) AS {sql_ident(rn)}",
    )
    # drop, not select(cols): drop matches names literally, so weird
    # (backticked) input column names survive untouched
    return d.filter(f"{sql_ident(rn)} = 1").drop(rn)


# ------------------------------------------------------------------ shingles

def char_shingles(
    docs: DataFrame, k: int = 5, text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Explode each doc into its k-char shingles: (doc_id, sh). Map-side,
    after ``ensure_parallelism``: the explode amplifies one doc row into
    len(text) shingle rows, so a single-split input would serialize the
    whole amplified pipeline onto one core (9.4x measured on a one-file
    corpus; no-op when the scan already has enough splits)."""
    docs = skew.ensure_parallelism(docs, doc_id_col)
    return docs.select(
        doc_id_col,
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1),
                                            F.lit(1)))
        ).alias("_i"),
        F.col(text_col),
    ).select(
        doc_id_col, F.expr(f"substring({text_col}, _i, {k})").alias("sh")
    )


def word_ngrams(
    docs: DataFrame, n: int = 3, text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Word n-grams as (doc_id, gram) rows via a transform over the token
    array (no UDF). Same amplification-parallelism guard as
    ``char_shingles``."""
    docs = skew.ensure_parallelism(docs, doc_id_col)
    toks = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return docs.select(doc_id_col, F.explode(grams).alias("gram"))


# ------------------------------------------------------------------ MinHash

def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    k: int = 5,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: min over shingles of ``xxhash64(sh, seed)``
    for each of ``num_hashes`` seeds. One explode + one groupBy(doc_id) with
    ``num_hashes`` min-aggregates.

    Scale note (measured, not guessed): this stays the explode+groupBy
    formulation ON PURPOSE. The min-aggregates are map-side combinable, so
    the exchange carries ~one row per doc per partition — NOT the
    len(text)-amplified shingle set — and the whole path is codegen'd. The
    tempting ``array_min ∘ transform`` rewrite shuffles nothing but runs
    interpreted (Spark higher-order functions don't codegen) and measured
    ~25x slower end-to-end at sf0.1."""
    sh = char_shingles(docs, k, text_col, doc_id_col)
    return sh.groupBy(doc_id_col).agg(
        *[F.min(F.xxhash64("sh", F.lit(i))).alias(f"mh{i}")
          for i in range(num_hashes)]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    doc_id_col: str = "doc_id",
    max_band_df: int | None = None,
    chunk_ranges: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any full band become candidate
    pairs. Returns (doc_a, doc_b, n_shared_bands), doc_a < doc_b.

    The join is per-band on the band hash — uniform keys, no n^2 ACROSS
    buckets; but WITHIN one band bucket the pair join is quadratic, so a
    boilerplate-heavy corpus where thousands of docs share one band value
    (identical headers/footers dominating the signature) explodes into
    O(d^2) pairs. ``max_band_df`` is the stop-band cap: band values held
    by more than that many docs are dropped before the pair join — the
    exact analogue of ``fingerprint_overlap_pairs``'s stop-fingerprint
    ``max_df`` (and of CCNet's common-line filter). True near-dup pairs
    overwhelmingly still meet in their OTHER, rarer bands (recall pinned
    by test); the frequency dictionary is one map-combinable agg on the
    same band key the join already shuffles on.

    At 100TB the band tables are written bucketed by band hash so repeated
    dedup runs skip the shuffle. ``chunk_ranges`` passes through to the
    sequential band-range execution (see ``lsh_pairs_from_bands``)."""
    banded = band_table(signatures, num_hashes, bands, doc_id_col)
    return lsh_pairs_from_bands(banded, max_band_df=max_band_df,
                                chunk_ranges=chunk_ranges)


def band_table(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """The (doc, band, bh) projection ``lsh_candidate_pairs`` joins on,
    exposed so repeated dedup runs can persist it ONCE as a bucketed
    table (``.write.bucketBy(n, "band", "bh").sortBy(...)
    .saveAsTable(...)``) and every later run joins shuffle-free — the
    claim is plan-pinned by tests/test_scale_patterns.py::
    test_lsh_band_table_bucketed_rerun_joins_without_exchange."""
    rows_per_band = num_hashes // bands
    # One explode of a bands-length struct array instead of a bands-way
    # union: the signature expressions are computed once per doc row, not
    # re-evaluated per band branch.
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[
                F.col(f"mh{i}")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ]).alias("bh"),
        )
        for b in range(bands)
    ])
    return signatures.select(
        F.col(doc_id_col).alias("doc"), F.explode(band_structs).alias("_s")
    ).select("doc", F.col("_s.band").alias("band"), F.col("_s.bh").alias("bh"))


def lsh_pairs_from_bands(
    banded: DataFrame,
    max_band_df: int | None = None,
    chunk_ranges: int | None = None,
    hot_pair_budget: int | None = None,
) -> DataFrame:
    """Pair-generation half of ``lsh_candidate_pairs``: takes a (doc,
    band, bh) frame — freshly computed or re-opened from a bucketed
    table — applies the optional stop-band cap, and joins.

    ``chunk_ranges`` (r10, the chunked-execution pattern's third target —
    after the binomial pricer and the star-CC rounds): when > 1, the
    band-bucket space is partitioned into that many ``xxhash64(band, bh)``
    hash classes and the pair join runs as SEQUENTIAL per-class passes
    over a parquet-spilled band table, each pass's output appended to a
    pair spill; a final per-``(doc_a, doc_b)``-class combine sums the
    per-pass partial ``n_shared_bands``. A pair lives in EXACTLY the
    band buckets that generate it and every row of one bucket shares the
    bucket's hash class, so the passes partition the pair-join work with
    no pair lost or double-counted after the combine — the output is
    row-identical to the monolithic join (pinned by pytest). The live
    shuffle of one pass is ~1/chunk_ranges of the monolithic join, which
    is the whole point: the monolithic pair join is the one stage of the
    near-dup pipeline that doc-chunking cannot partition (a pair spans
    doc classes), measured disk-dead at sf100 on a 20 GB-free box (r9).
    The stop-band cap stays exact: it is applied here on the GLOBAL
    per-bucket document frequency, before any chunking.

    ``hot_pair_budget`` (r11, r10 VERDICT #4): max pairs one chunked
    pass may emit from a single (band, bh) bucket — buckets over it are
    peeled out and subdivided by doc hash (see ``_lsh_pairs_chunked``).
    Only meaningful with ``chunk_ranges > 1``. Pass-level skew salt
    (r12, r11 VERDICT #5): hot passes keep the measured ``_PAIR_SALT``;
    cold passes size theirs from the actual max cold bucket via
    ``_sized_pair_salt`` (1 — no a-side explode — at small SFs)."""
    if max_band_df is not None:
        # Stop-band cap as a WINDOW count over (band, bh), not a separate
        # count-agg + join (r12 optimization, guide §2.4): the old bdf
        # branch was a second full computation of everything upstream of
        # ``banded`` (scan -> shingle explode -> minhash aggs -> banding;
        # column pruning made its subtree differ from the join sides', so
        # ReuseExchange never fired and the bench plan computed the
        # signature pipeline FOUR times: a-side, b-side, and one bdf
        # branch under each). The window rides the same
        # hashpartitioning(band, bh) exchange the pair self-join needs
        # anyway, and because both join sides now canonicalize to the
        # SAME subtree, that exchange is planned once and reused. Skew:
        # a hot (band, bh) bucket already lands in one task in the join's
        # own sort, so the window adds no new straggler beyond the join's.
        # Output rows identical: same ``count <= max_band_df`` predicate.
        w_df = Window.partitionBy("band", "bh")
        # fresh staging name (r12 ADVICE): ``banded`` is caller-provided
        # (possibly re-opened from a bucketed table) and may carry a
        # same-named column
        from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.signals import (  # noqa: E501
            _fresh,
        )

        (c_df,) = _fresh(banded, "_df")
        banded = (
            banded.withColumn(c_df, F.count(F.lit(1)).over(w_df))
            .filter(F.col(c_df) <= max_band_df)
            .select("doc", "band", "bh")
        )
    if chunk_ranges is not None and chunk_ranges > 1:
        return _lsh_pairs_chunked(banded, int(chunk_ranges),
                                  hot_pair_budget=hot_pair_budget)
    a = banded.alias("a")
    b_ = banded.alias("b")
    pairs = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return pairs


def estimate_band_pair_multiplicity(banded: DataFrame) -> int:
    """EXACT pre-combine output cardinality of the band pair join:
    sum over (band, bh) buckets of C(d, 2). One map-combinable agg over
    the band table — knowable BEFORE the join runs, which is what makes
    the chunked pair join auto-sizable (the join's input is tiny; its
    OUTPUT is the scratch bound)."""
    # integer DIV, not double /: C(d,2) via float division goes inexact
    # past 2^53 (d > ~9.4e7 docs in one bucket) and the chunk auto-sizer
    # would under-count (r11 ADVICE)
    row = (banded.groupBy("band", "bh")
           .agg(F.count(F.lit(1)).alias("d"))
           .agg(F.sum(F.expr("CAST(d AS BIGINT) * (d - 1) DIV 2"))
                .alias("m"))
           .first())
    return int(row["m"] or 0)


@contextmanager
def _no_auto_broadcast(spark):
    """Scope guard: disable Catalyst's auto-broadcast inside a chunked
    sequential pass loop. The pass inputs scan zstd-parquet SPILLS whose
    size stats wildly undersell their in-memory row count, so the
    planner promotes multi-GB build sides to broadcast hash joins —
    measured killing q135 at sf10/sf30 three different ways in r10
    (maxResultSize, driver heap OOM, 'Not enough memory to build and
    broadcast', a 2 GiB broadcast-exchange allocation). The chunked
    passes are scratch-bounded shuffle jobs BY DESIGN; explicit
    F.broadcast() hints inside the scope still win when a side really
    is tiny.

    SESSION-WIDE while held (r10 ADVICE): the conf toggle applies to
    every query planned on this SparkSession during the scope, so a
    concurrent query on the same session temporarily loses
    auto-broadcast (it still runs — as sort-merge — just without the
    small-dim optimization). The guard covers the internal pass loops;
    frames RETURNED from the chunked operators are lazy spill scans
    consumed after the guard exits, so they carry a per-plan
    ``hint("merge")`` instead (see ``_spill_scan``) — join-hint
    priority keeps an explicit broadcast of the OTHER side winning."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


#: MAX tasks each (band, bh) bucket's pair-join output spreads across
#: inside a chunked pass — bounds the per-task partial-agg hash map
#: whatever the bucket skew (see _pair_partial in _lsh_pairs_chunked).
_PAIR_SALT = 32
#: target per-task partial-agg rows the cold-pass salt is sized against
#: (r11 VERDICT #5): one bucket's whole pass output lands in ONE task
#: (the shuffle hashes on (band, bh)), and a 25M-row per-task hash agg
#: OOM'd a 12g heap at sf100 — 4M keeps a 6x margin. Cold buckets are
#: budget-capped, so their salt is min(_PAIR_SALT, ceil(max_cold_bpairs
#: / this)); at small SFs it collapses to 1 and the 32x a-side explode
#: the fixed constant imposed on every cold pass disappears (r11 ADVICE).
_PAIR_AGG_TARGET_ROWS = 4_000_000


def _sized_pair_salt(max_bucket_pairs: int) -> int:
    """Salt factor for a chunked pass whose largest single bucket emits
    ``max_bucket_pairs`` pairs: enough b-side classes that no task's
    partial agg exceeds ~_PAIR_AGG_TARGET_ROWS, capped at _PAIR_SALT
    (the value measured at sf100: byte-identical partials, pass wall
    halved on the hot set)."""
    if max_bucket_pairs <= _PAIR_AGG_TARGET_ROWS:
        return 1
    return min(_PAIR_SALT,
               -(-max_bucket_pairs // _PAIR_AGG_TARGET_ROWS))


def _spill_scan(spark, schema, path) -> DataFrame:
    """Read back a chunked-operator spill for EXTERNAL consumption with a
    per-plan ``merge`` join hint attached (r10 ADVICE): zstd pair spills'
    size stats wildly undersell their row count, so a caller joining the
    returned frame OUTSIDE the ``_no_auto_broadcast`` guard could still
    see Catalyst promote a multi-GB build side to broadcast — the exact
    failure the guard fixes internally. The relation-level hint rides the
    plan itself (no session conf), and Spark's hint priority still lets
    an explicit ``F.broadcast`` on the OTHER side win when it really is
    tiny."""
    return spark.read.schema(schema).parquet(path).hint("merge")


def _lsh_pairs_chunked(banded: DataFrame, k: int,
                       hot_pair_budget: int | None = None) -> DataFrame:
    """Sequential band-range pair join (see ``lsh_pairs_from_bands``).

    Phases, each bounded to ~1/k of the monolithic join's live scratch:

    1. spill the (doc, band, bh) table to parquet once (16 B/row zstd);
    2. for each ``xxhash64(band, bh) % k`` class: self-join that class's
       buckets only, aggregate partial per-pair band counts, append to a
       pair spill — ONE pass's shuffle is bounded by its class's
       C(d, 2) sum;
    3. for each ``xxhash64(doc_a, doc_b) % k`` class: sum the partials
       (a pair surfacing in several bands may land in several passes;
       its combine rows all share the pair hash, so the per-class
       groupBy is exactly the global one), append to the result spill.

    **Hot-bucket subdivision (r11, r10 VERDICT #4)**: a (band, bh)
    bucket was pass-ATOMIC in r10 — all C(d, 2) of its pairs land in one
    pass (sf100's hottest: d=45,864 → 1.05e9 pairs, ~100 GB live, alone
    over any per-pass budget). Bucket size d is knowable BEFORE the join
    (one map-combinable agg, same shape as
    ``estimate_band_pair_multiplicity``), so buckets whose OWN
    C(d, 2) > ``hot_pair_budget`` are peeled out of the bucket-class
    passes and their pair space is subdivided a second level by
    ``xxhash64(doc_a) % m``: pass j joins the hot rows whose doc hashes
    to j (a-side) against ALL hot rows (b-side) on (band, bh) equality
    with ``doc_a < doc_b`` — each a's pairs stay together, every hot
    pair is emitted in exactly the one pass its a-side hashes to, and a
    bucket is hot XOR cold so nothing is double-counted before the
    combine. One hot pass's output is ~hot_multiplicity/m; m is sized
    from the exact hot multiplicity against the same budget. The
    stop-band cap (applied upstream on GLOBAL df) is unaffected.
    ``hot_pair_budget=None`` disables peeling (r10 behavior).

    Returns a DataFrame scanning the result spill (cleaned at process
    exit, same contract as the chunked pricer's spill dirs)."""
    import uuid as _uuid

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions.derivatives import (  # noqa: E501
        _register_spill_dir,
    )

    spark = banded.sparkSession
    scratch = str(spark.conf.get("spark.local.dir", "/tmp")).split(",")[0]
    base = f"{scratch}/sg_lshpairs_{_uuid.uuid4().hex[:12]}"
    _register_spill_dir(base)

    banded.write.parquet(f"{base}/bands")
    bands_r = spark.read.parquet(f"{base}/bands")

    def _pair_partial(a_side: DataFrame, b_side: DataFrame,
                      salt: int = _PAIR_SALT) -> DataFrame:
        # b-side salt (r11, measured at sf100): a pass's shuffle hashes on
        # (band, bh), so ONE bucket's whole join output — and the partial
        # hash-agg over it — lands in ONE task (the hottest bucket's
        # 1.05e9/42 pairs per pass OOM'd a 12g heap at hot pass 5).
        # Salting the b side by doc hash and exploding the (small) a side
        # spreads every bucket's pair space across ``salt`` tasks; output
        # rows are identical (each (a, b) pair matches exactly the one
        # salt equal to hash(b) % salt). ``salt`` is SIZED per pass kind
        # (r11 ADVICE/VERDICT #5): hot passes keep the measured
        # _PAIR_SALT; cold passes get _sized_pair_salt(max cold bucket),
        # which is 1 at small SFs — no explode, plain self-join.
        if salt <= 1:
            a, b_ = a_side.alias("a"), b_side.alias("b")
            salt_eq = F.lit(True)
        else:
            a = a_side.withColumn(
                "_ps", F.explode(F.sequence(F.lit(0),
                                            F.lit(salt - 1)))).alias("a")
            b_ = b_side.withColumn(
                "_ps", F.pmod(F.xxhash64("doc"),
                              F.lit(salt)).cast("int")).alias("b")
            salt_eq = F.col("a._ps") == F.col("b._ps")
        return (
            a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & salt_eq
                   & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("doc_a"),
                     F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        )

    # hot-bucket peel: bucket sizes are knowable before the join; any
    # bucket whose OWN pair count exceeds the per-pass budget gets its
    # pair space subdivided by xxhash64(doc_a) instead of riding its
    # (pass-atomic) bucket class
    n_hot_passes = 0
    # without bucket stats (peeling off — the r10 path) the protective
    # max salt stays: a cold bucket may then be arbitrarily hot
    cold_salt = _PAIR_SALT
    cold_r = bands_r
    if hot_pair_budget is not None and hot_pair_budget > 0:
        stats = (
            bands_r.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("d"))
            # integer DIV, not double /: float C(d,2) goes inexact past
            # 2^53 and would under-size the hot passes (r11 ADVICE)
            .withColumn("bpairs",
                        F.expr("CAST(d AS BIGINT) * (d - 1) DIV 2"))
        )
        hot_stats = stats.filter(F.col("bpairs") > hot_pair_budget)
        _hot = F.col("bpairs") > hot_pair_budget
        agg = stats.agg(
            F.count(F.when(_hot, 1)).alias("n"),
            F.sum(F.when(_hot, F.col("bpairs"))).alias("mult"),
            F.max(F.when(~_hot, F.col("bpairs"))).alias("cold_max"),
        ).first()
        # cold buckets are budget-capped; size their salt from the
        # actual max so small corpora skip the a-side explode entirely
        cold_salt = _sized_pair_salt(int(agg["cold_max"] or 0))
        if agg["n"]:
            hot_mult = int(agg["mult"])
            n_hot_passes = max(2, -(-hot_mult // hot_pair_budget))
            hot_keys = F.broadcast(hot_stats.select("band", "bh"))
            # split ONCE to spills so the pass loops re-scan parquet,
            # never re-run the stats agg; explicit schema — either side
            # may be empty
            bands_r.join(hot_keys, ["band", "bh"], "left_semi").write.parquet(
                f"{base}/hot")
            bands_r.join(hot_keys, ["band", "bh"], "left_anti").write.parquet(
                f"{base}/cold")
            hot_r = spark.read.schema(banded.schema).parquet(f"{base}/hot")
            cold_r = spark.read.schema(banded.schema).parquet(f"{base}/cold")

    cls = F.pmod(F.xxhash64("band", "bh"), F.lit(k))
    partial_schema = None
    with _no_auto_broadcast(spark):
        for i in range(k):
            p_i = _pair_partial(cold_r.filter(cls == i),
                                cold_r.filter(cls == i),
                                salt=cold_salt)
            partial_schema = p_i.schema
            p_i.write.mode("append").parquet(f"{base}/partial")
        # hot passes: a-side one doc-hash class, b-side ALL hot rows —
        # (band, bh) equality keeps pairs within their bucket, doc_a <
        # doc_b plus "emitted where a hashes" gives exactly-once
        acls = F.pmod(F.xxhash64("doc"), F.lit(n_hot_passes or 1))
        for j in range(n_hot_passes):
            p_j = _pair_partial(hot_r.filter(acls == j), hot_r)
            partial_schema = p_j.schema
            p_j.write.mode("append").parquet(f"{base}/partial")
        # explicit schema: an all-empty spill dir has no part files to
        # infer from, and the contract is an EMPTY pair frame, not a
        # read error
        partials = spark.read.schema(partial_schema).parquet(
            f"{base}/partial")
        pcls = F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(k))
        for j in range(k):
            (partials.filter(pcls == j)
             .groupBy("doc_a", "doc_b")
             .agg(F.sum("n_shared_bands").cast("long")
                  .alias("n_shared_bands"))
             .write.mode("append").parquet(f"{base}/pairs"))
    return _spill_scan(spark, partial_schema, f"{base}/pairs")


def minhash_similarity(
    signatures: DataFrame,
    pairs: DataFrame,
    num_hashes: int = 16,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of matching minhash
    components. Two broadcast-able joins against the signature table."""
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    a = signatures.select(F.col(doc_id_col).alias("doc_a"),
                          *[F.col(c).alias(f"a_{c}") for c in mh_cols])
    b = signatures.select(F.col(doc_id_col).alias("doc_b"),
                          *[F.col(c).alias(f"b_{c}") for c in mh_cols])
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    matches = sum(
        (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in mh_cols
    )
    return joined.select(
        "doc_a", "doc_b", "n_shared_bands",
        (matches / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def minhash_dedup(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    threshold: float = 0.7,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    max_band_df: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pipeline: signatures -> LSH candidates ->
    similarity filter. Returns (doc_a, doc_b, est_jaccard) above threshold.
    ``max_band_df`` passes through to the stop-band cap (see
    ``lsh_candidate_pairs``)."""
    sigs = minhash_signatures(docs, num_hashes, k, text_col, doc_id_col)
    pairs = lsh_candidate_pairs(sigs, num_hashes, bands, doc_id_col,
                                max_band_df=max_band_df)
    sims = minhash_similarity(sigs, pairs, num_hashes, doc_id_col)
    return sims.filter(F.col("est_jaccard") >= threshold)


# ------------------------------------------------------------------ SimHash

def simhash(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sum +/-1 votes of each
    token's hash bit; sign -> bit. Computed MAP-SIDE per row with a single
    ``aggregate`` over the token-hash array into a ``bits``-slot ones-count
    accumulator (votes_i > 0 ⟺ 2*ones_i > n_tokens) — no explode, no
    shuffle, and one array accumulator instead of ``bits`` separate
    conditional sum-aggregates.

    Measured at sf0.1 vs the explode + 64-conditional-sums formulation:
    ~3.1s vs ~2.3s warm (HOFs run interpreted, costing ~35% CPU) but 3.0s
    vs 7.2s cold, zero exchange instead of a 64-long-wide partial-agg
    shuffle, and identical output values — the shuffle-free shape is the
    one that survives a 100TB scale-up.

    Returns (doc_id, simhash: long)."""
    b = int(bits)
    ones = (
        f"aggregate(transform(split({text_col}, ' '), t -> xxhash64(t)), "
        f"array_repeat(0L, {b}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {b - 1}), "
        f"(a, i) -> a + bigint(shiftrightunsigned(h, int(i)) & 1L)))"
    )
    n_toks = f"size(split({text_col}, ' '))"
    sim = (
        f"aggregate(zip_with({ones}, sequence(0, {b - 1}), "
        f"(c, i) -> IF(2 * c > {n_toks}, shiftleft(1L, int(i)), 0L)), "
        f"0L, (a, x) -> a + x)"
    )
    return docs.select(doc_id_col, F.expr(sim).alias("simhash"))


def simhash_near_dups(
    hashes: DataFrame,
    max_hamming: int = 3,
    doc_id_col: str = "doc_id",
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= max_hamming using the
    pigeonhole trick: split 64 bits into ``chunks`` chunks; any pair within
    distance < chunks must share one exact chunk -> bucket-join per chunk,
    then verify exact Hamming via bit_count(xor). No cross join."""
    width = 64 // chunks
    frames = []
    for c in range(chunks):
        chunk = F.shiftrightunsigned(F.col("simhash"), c * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        frames.append(
            hashes.select(F.col(doc_id_col).alias("doc"),
                          F.col("simhash").alias("sh"),
                          F.lit(c).alias("chunk"), chunk.alias("ck")))
    banded = frames[0]
    for f in frames[1:]:
        banded = banded.unionByName(f)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.ck") == F.col("b.ck"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ------------------------------------------------------- n-gram Jaccard

def ngram_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """EXACT word-n-gram Jaccard for given candidate pairs (the verify stage
    after LSH): |A∩B| via gram-level join, |A∪B| = |A|+|B|-|A∩B|."""
    grams = word_ngrams(docs, n, text_col, doc_id_col).distinct()
    sizes = grams.groupBy(doc_id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    inter = (
        candidate_pairs
        .join(grams.select(F.col(doc_id_col).alias("doc_a"),
                           F.col("gram")), "doc_a")
        .join(grams.select(F.col(doc_id_col).alias("doc_b"),
                           F.col("gram")), ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        candidate_pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .join(sizes.select(F.col(doc_id_col).alias("doc_a"),
                           F.col("n_grams").alias("na")), "doc_a")
        .join(sizes.select(F.col(doc_id_col).alias("doc_b"),
                           F.col("n_grams").alias("nb")), "doc_b")
    )
    return out.withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
    )


def chunked_jaccard_edges(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    n: int = 3,
    threshold: float = 0.05,
    chunk_classes: int = 1,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Verify stage of the near-dup pipeline with bounded live scratch:
    exact n-gram Jaccard over the candidate pairs, thresholded to the
    edge set fed to connected components — executed as ``chunk_classes``
    SEQUENTIAL ``xxhash64(doc_a, doc_b)`` hash-class passes.

    The verify join's intermediate is Σ_pairs |grams(doc)| rows — the
    gram-amplified twin of the pair join, and the second stage of the
    r9 sf100 disk death. Jaccard of one pair depends only on that pair's
    two gram sets, so the pair space partitions freely by pair hash; per
    pass, docs are first semi-joined to the pass's candidate ids so the
    gram explode touches only documents that pass actually verifies
    (grams per doc are identical whatever subset they're computed in —
    per-class verify == monolithic verify, pinned by pytest).

    ``chunk_classes=1`` is the plain monolithic expression (returned
    lazily, no spill); > 1 spills the per-class edges to parquet and
    returns a frame scanning the spill."""
    def _edges(p: DataFrame, d: DataFrame) -> DataFrame:
        jac = ngram_jaccard_pairs(d, p, n, text_col, doc_id_col)
        return (jac.filter(F.col("jaccard") >= threshold)
                .select("doc_a", "doc_b"))

    if chunk_classes <= 1:
        return _edges(candidate_pairs, docs)

    import uuid as _uuid

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions.derivatives import (  # noqa: E501
        _register_spill_dir,
    )

    spark = docs.sparkSession
    scratch = str(spark.conf.get("spark.local.dir", "/tmp")).split(",")[0]
    base = f"{scratch}/sg_jacverify_{_uuid.uuid4().hex[:12]}"
    _register_spill_dir(base)
    pcls = F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(chunk_classes))
    schema = None
    with _no_auto_broadcast(spark):
        for j in range(chunk_classes):
            p_j = candidate_pairs.filter(pcls == j)
            ids = (p_j.select(F.col("doc_a").alias(doc_id_col))
                   .union(p_j.select(F.col("doc_b").alias(doc_id_col)))
                   .distinct())
            d_j = docs.join(ids, doc_id_col, "left_semi")
            e_j = _edges(p_j, d_j)
            schema = e_j.schema
            e_j.write.mode("append").parquet(f"{base}/edges")
    return _spill_scan(spark, schema, f"{base}/edges")


# ------------------------------------------------- embedding near-dup

def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vectors by cosine >= threshold, bucketed by random
    hyperplane signs (sign-LSH): vectors agreeing on all ``n_planes`` signs
    land in one bucket; exact cosine verifies within buckets.

    Hyperplanes are seed-deterministic (numpy), broadcast as literals. For
    recall-critical use, run with several plane seeds and union."""
    import numpy as np

    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        # empty input (a legitimate corpus slice in chunked/sampled
        # runs) has no pairs — and no row to probe the dimension from
        return embeddings.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)
    dim = first["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    df = embeddings.select(F.col(id_col).alias("doc"), v.alias("v"))

    def dot_const(vcol: Column, plane) -> Column:
        return F.aggregate(
            F.zip_with(vcol, F.array(*[F.lit(float(p)) for p in plane]),
                       lambda x, y: x * y),
            F.lit(0.0), lambda a, x: a + x,
        )

    bucket = F.concat_ws(
        "", *[(dot_const(F.col("v"), planes[i]) > 0).cast("int").cast("string")
              for i in range(n_planes)]
    )
    # the norm is a per-VECTOR quantity: hoist it before the self-join
    # so each of the O(pairs) rows evaluates ONE array aggregate (the
    # dot product) instead of three — at sf100 that is 2M norm
    # aggregates instead of 9.7e9. sqrt(sum(v*v)) on the same array is
    # the identical float sequence wherever it runs, and the final
    # dot/(na*nb) keeps the same operand order, so cosines (and the
    # cross-engine digests) are bit-identical to the unhoisted form.
    norm = F.sqrt(F.aggregate(
        F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    ))
    bucketed = df.withColumn("bucket", bucket).withColumn("nv", norm)
    a, b = bucketed.alias("a"), bucketed.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"),
                (dot / (F.col("a.nv") * F.col("b.nv"))).alias("cosine"))
    )
    return pairs.filter(F.col("cosine") >= threshold)


def spill_frame(df: DataFrame, tag: str = "frame") -> DataFrame:
    """Materialize ``df`` ONCE to a process-lifetime parquet spill and
    return a frame scanning it — the chunked-execution building block
    for inputs that sequential passes re-filter many times (re-scanning
    a parquet spill is ~free; re-computing a join pipeline per pass is
    not). The dir is swept at interpreter exit, same contract as the
    chunked pricer's spills."""
    import uuid as _uuid

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions.derivatives import (  # noqa: E501
        _register_spill_dir,
    )

    spark = df.sparkSession
    scratch = str(spark.conf.get("spark.local.dir", "/tmp")).split(",")[0]
    path = f"{scratch}/sg_{tag}_{_uuid.uuid4().hex[:12]}"
    _register_spill_dir(path)
    df.write.parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def box_scratch_budget(spark, override: int | None = None) -> int:
    """Box-adaptive live-scratch budget shared by every chunked-execution
    operator (binomial pricer, star-CC rounds, band pair join):
    ``min(16 GiB, free/2)`` on the Spark scratch volume, floor 1 GiB —
    the r9-measured rule that kept the 2M-option pricer alive on a
    20 GB-free box."""
    if override is not None:
        return int(override)
    import shutil as _sh

    scratch = str(spark.conf.get(
        "spark.local.dir", "/tmp")).split(",")[0]
    try:
        free = _sh.disk_usage(scratch).free
    except OSError:
        free = 32 << 30
    return min(16 << 30, max(free // 2, 1 << 30))


def _release_iteration_scratch(df: DataFrame) -> None:
    """Free a superseded iteration's scratch: unpersist its
    ``localCheckpoint`` blocks (safe once nothing will read the frame
    again — the next round was checkpointed EAGERLY, so it holds its own
    data) and ask the JVM for a GC so ContextCleaner can delete the
    round's now-unreachable shuffle files. ContextCleaner's own periodic
    GC defaults to 30 minutes — longer than most iterative jobs — so
    without the nudge every round's shuffle stays on disk until the app
    exits; measured at sf100 (q146's 5M-doc component graph) the
    accumulation exceeded 50 GB and killed the job on disk space."""
    try:
        df.unpersist(blocking=False)
        df.sparkSession.sparkContext._jvm.System.gc()
    except Exception:
        pass  # scratch hygiene must never fail the computation


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    node_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Transitive duplicate clustering: connected components over near-dup
    pairs by min-label propagation (each node repeatedly adopts the
    smallest label in its neighborhood). The cluster id is the smallest
    member id — deterministic, partition-invariant.

    Near-dup pair emitters (LSH bands, simhash, embedding buckets) produce
    EDGES; dropping `doc_b` of each pair under-merges transitive chains
    (a~b, b~c but a!~c). This closes the chains.

    Scale shape: each round is one equi-join (edges ⋈ labels) + one
    map-combinable min-agg; rounds needed = component diameter (near-dup
    clusters are shallow — a handful). ``localCheckpoint`` truncates plan
    lineage per round; the per-round convergence check is a single scalar
    count (the standard driver boundary for iterative algorithms, same as
    the k-means loop in similarity.py). For 100 TB graphs with adversarial
    diameters, swap in large-star/small-star (O(log n) rounds) — the loop
    scaffold is identical.
    """
    und = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    und = und.union(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct()
    if nodes is None:
        nodes = und.select(F.col("src").alias(node_col)).distinct()
    labels = nodes.select(
        F.col(node_col).alias("id"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            und.join(labels, und["dst"] == labels["id"])
            .groupBy("src").agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["label"],
                    F.coalesce(nbr["nbr_min"], labels["label"]),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        old = labels.select("id", F.col("label").alias("old_label"))
        changed = (
            new_labels.join(old, "id")
            .filter(F.col("label") != F.col("old_label")).count()
        )
        _release_iteration_scratch(labels)  # r8: see star loop note
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias(node_col), F.col("label").alias("cluster")
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    node_col: str = "doc_id",
    max_iter: int = 50,
    _stats: dict | None = None,
    chunk_classes: int | None = None,
    scratch_budget_bytes: int | None = None,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris, Lattanzi,
    Mirrokni, Rastogi & Vassilvitskii, *Connected Components in MapReduce
    and Beyond*, SoCC 2014) — the adversarial-diameter upgrade the
    min-label loop (:func:`connected_components`) documents: rounds are
    O(log n) in the component size instead of O(diameter), so a 10^6-node
    chain converges in ~20 rounds, not 10^6.

    Per round, two relational steps over the canonical (big, small) edge
    set, each ONE equi-join + ONE map-combinable min-agg (the same
    shuffle budget per round as min-label):

    - **large-star**: every node links its strictly-larger neighbors to
      the minimum of its neighborhood (flattens tall trees in one hop);
    - **small-star**: every node links its smaller neighbors AND itself
      to that minimum (contracts the remaining short trees into stars).

    At the fixed point the edge set IS the component mapping (every node
    points at its component minimum). Convergence is detected by a
    2-scalar (count, hash-sum) signature per round — the standard bounded
    driver boundary. Same output contract as
    :func:`connected_components`: ``(node_col, cluster)``, cluster = the
    smallest member id, singletons (when ``nodes`` is given) keep their
    own id. ``_stats['rounds']`` reports the round count for tests.

    ``chunk_classes`` (r9, the chunked-pricer pattern applied to q146's
    sf100 disk bound): when > 1, every star round executes as
    ``chunk_classes`` SEQUENTIAL hash-class passes over a parquet-spilled
    edge set, bounding one round's live shuffle/spill to ~1/k of the
    monolithic round (measured r8: ONE monolithic large-star round at
    sf100 needs > 53 GB live spill). Default None auto-sizes: chunking
    engages only when the canonical edge count's estimated round scratch
    exceeds ``scratch_budget_bytes`` (default: min(16 GiB, free/2) on
    the scratch volume). Both star steps are per-``u`` local given the
    FULL neighborhood of ``u``, and hash-partitioning by ``u`` keeps
    each neighborhood whole inside one pass — so the fixpoint (and the
    per-round edge sets, up to transient cross-chunk duplicates that
    the next pass's per-chunk distinct removes) is IDENTICAL to the
    monolithic loop; a pytest pins chunked == monolithic labels."""
    u, v = F.col("u"), F.col("v")
    e = (
        edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"),
                F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if chunk_classes is None:
        spark = edges.sparkSession
        scratch_budget_bytes = box_scratch_budget(
            spark, scratch_budget_bytes)
        # ~300 B of live shuffle/spill per canonical edge per round
        # (symmetrize x2, three join/agg stages, row overhead) — the
        # estimate that retrodicts the measured 53 GB at ~180M edges
        n_e = e.count()  # cheap: e was just checkpointed
        est = n_e * 300
        chunk_classes = 1 if est <= scratch_budget_bytes else min(
            64, -(-est // int(scratch_budget_bytes)))
    if chunk_classes and chunk_classes > 1:
        labels = _star_rounds_chunked(
            e, int(chunk_classes), max_iter, _stats)
        _release_iteration_scratch(e)
        return _star_finish(labels, nodes, node_col)
    prev_sig = None
    rounds = 0
    for _ in range(max_iter):
        # ---- large-star: neighbors > u attach to min(N(u) ∪ {u})
        both = e.union(e.select(v.alias("u"), u.alias("v")))
        mins = both.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        ls = (
            both.join(mins, "u")
            .filter(v > u)
            .select(v.alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: canonical edges all have v < u; every neighbor
        # and u itself attach to the neighborhood min
        mins2 = ls.groupBy("u").agg(F.min("v").alias("mn"))
        ss = (
            ls.join(mins2, "u")
            .select(v.alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(mins2.select(F.col("u"), F.col("mn").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds += 1
        sig = ss.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        # scratch hygiene (r8, found at sf100): the superseded round's
        # checkpoint blocks are never needed again — drop them NOW, and
        # nudge the JVM so ContextCleaner releases the round's shuffle
        # files too (its periodic GC default is 30 min — longer than the
        # whole job; without this, per-round shuffles accumulate ~50 GB
        # of scratch at sf100 and the job dies on disk, not on compute).
        _release_iteration_scratch(e)
        e = ss
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    if _stats is not None:
        _stats["rounds"] = rounds
    return _star_finish(e, nodes, node_col)


def _star_finish(e: DataFrame, nodes: DataFrame | None,
                 node_col: str) -> DataFrame:
    """Fixed point -> labels: e = (member, component-min) star edges."""
    u, v = F.col("u"), F.col("v")
    labels = (
        e.select(u.alias(node_col), v.alias("cluster"))
        .union(e.select(v.alias(node_col), v.alias("cluster")))
        .distinct()
    )
    if nodes is not None:
        labels = (
            nodes.select(F.col(node_col))
            .join(labels, node_col, "left")
            .select(
                F.col(node_col),
                F.coalesce(F.col("cluster"), F.col(node_col))
                .alias("cluster"),
            )
        )
    return labels


def _star_rounds_chunked(e: DataFrame, k: int, max_iter: int,
                         _stats: dict | None) -> DataFrame:
    """Run the large-star/small-star rounds as k sequential hash-class
    passes with the edge set spilled to parquet between phases.

    Both star steps only need the FULL neighborhood of each ``u``:
    partitioning the (symmetrized) edge set by ``xxhash64(u) % k`` keeps
    every neighborhood inside exactly one pass, so each pass computes
    the same per-u attachments as the monolithic round. Cross-chunk
    duplicate OUTPUT edges (two source-u's emitting the same pair into
    different passes) are legal intermediates: duplicates of (u, v)
    share u, land in the same class next phase, and its per-chunk
    ``distinct`` removes them — which is also why the per-chunk distinct
    EQUALS a global distinct. Convergence uses the same 2-scalar
    signature, computed by one extra chunked distinct pass per round.

    Disk: one round keeps at most (current, large-star, next) edge
    parquets, each ~16 B/edge zstd — the >53 GB monolithic-round spill
    becomes ~1/k live shuffle per pass plus three bounded parquet dirs;
    consumed dirs are deleted as soon as the next phase lands."""
    import shutil as _shutil
    import uuid as _uuid

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions.derivatives import (  # noqa: E501
        _register_spill_dir,
    )

    spark = e.sparkSession
    u, v = F.col("u"), F.col("v")
    scratch = str(spark.conf.get("spark.local.dir", "/tmp")).split(",")[0]
    base = f"{scratch}/sg_ccstar_{_uuid.uuid4().hex[:12]}"
    _register_spill_dir(base)

    def _cls(col: str) -> Column:
        return F.pmod(F.xxhash64(F.col(col)), F.lit(k))

    e.write.parquet(f"{base}/r0")
    cur = f"{base}/r0"
    prev_sig = None
    rounds = 0
    for rnd in range(max_iter):
        edges_r = spark.read.parquet(cur)
        # ---- large-star, chunked by the symmetrized u
        ls_dir = f"{base}/ls{rnd}"
        for i in range(k):
            both_i = (
                edges_r.select("u", "v")
                .union(edges_r.select(v.alias("u"), u.alias("v")))
                .filter(_cls("u") == i)
                .distinct()
            )
            mins = both_i.groupBy("u").agg(F.min("v").alias("mn"))
            m = F.least(F.col("u"), F.col("mn"))
            ls_i = (
                both_i.join(mins, "u")
                .filter(v > u)
                .select(v.alias("u"), m.alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )
            ls_i.write.mode("append").parquet(ls_dir)
        # ---- small-star, chunked by the large-star output's u
        nxt = f"{base}/r{rnd + 1}"
        ls_r = spark.read.parquet(ls_dir)
        for i in range(k):
            ls_i = ls_r.filter(_cls("u") == i).distinct()
            mins2 = ls_i.groupBy("u").agg(F.min("v").alias("mn"))
            ss_i = (
                ls_i.join(mins2, "u")
                .select(v.alias("u"), F.col("mn").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .union(mins2.select(F.col("u"), F.col("mn").alias("v")))
                .distinct()
            )
            ss_i.write.mode("append").parquet(nxt)
        rounds += 1
        # ---- convergence signature over the globally-distinct edge set
        # (per-chunk distinct == global distinct: duplicates share u)
        nxt_r = spark.read.parquet(nxt)
        sig_n, sig_h = 0, 0
        for i in range(k):
            s = (nxt_r.filter(_cls("u") == i).distinct()
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.xxhash64("u", "v")
                            .cast("decimal(38,0)")).alias("h"))
                 .first())
            sig_n += int(s["n"])
            sig_h += int(s["h"] or 0)
        _shutil.rmtree(ls_dir, ignore_errors=True)
        if cur != f"{base}/r0":
            _shutil.rmtree(cur, ignore_errors=True)
        cur = nxt
        if prev_sig == (sig_n, sig_h):
            break
        prev_sig = (sig_n, sig_h)
    if _stats is not None:
        _stats["rounds"] = rounds
        _stats["chunk_classes"] = k
    # hand back the globally-distinct converged edge set (the transient
    # cross-chunk duplicates must not duplicate label rows)
    return spark.read.parquet(cur).distinct()


def decontaminate(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train/eval decontamination: count distinct word-n-grams each training
    document shares with the benchmark/eval corpus. Anti-join the result
    (or threshold ``n_shared``) to drop contaminated documents before
    training — the standard n-gram-overlap decontamination pass.

    Shape: eval grams are tiny next to a training corpus (benchmarks are
    MBs, training data is TBs) -> broadcast them so the whole pass is one
    map-side hash join + one map-combinable count. Set
    ``broadcast_eval=False`` for giant eval sets to fall back to a shuffle
    join on the uniform gram key.
    """
    tg = word_ngrams(train_docs, n, text_col, doc_id_col).distinct()
    eg = word_ngrams(eval_docs, n, text_col, doc_id_col).select(
        "gram").distinct()
    if broadcast_eval:
        eg = F.broadcast(eg)
    return (
        tg.join(eg, "gram")
        .groupBy(doc_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --------------------------------------------------- semantic dedup

def semantic_dedup(
    embeddings: DataFrame,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): within each
    cluster, prune any vector whose cosine similarity to an EARLIER
    (lower-id) cluster member reaches ``threshold`` — the deterministic
    greedy-by-id sweep that keeps one representative per semantic
    neighborhood.

    ``cluster_col`` is the precomputed cluster assignment — the ``label``
    column here, or ``similarity.ivf_index`` cells in production (SemDeDup
    runs k-means first for exactly this reason: within-cluster pairwise is
    O(c^2), so k is scaled with N to cap cluster size; the join below is a
    hash equi-join on the cluster key, never an all-pairs).

    Returns the input plus ``max_prior_sim`` (highest cosine to any earlier
    cluster member, NULL for the cluster's first vector) and ``pruned``.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # per-vector norm hoisted before the within-cluster self-join (one
    # array aggregate per PAIR instead of three — see
    # embedding_near_dups); bit-identical: same float sequence on the
    # same array, same operand order in the division
    norm = F.sqrt(F.aggregate(
        F.zip_with(v, v, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    ))
    base = embeddings.select(
        F.col(cluster_col).alias("_cl"), F.col(id_col).alias("_id"),
        v.alias("_v"), norm.alias("_nv"),
    )
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    prior_sims = (
        a.join(b, (F.col("a._cl") == F.col("b._cl"))
               & (F.col("b._id") < F.col("a._id")))
        .select(F.col("a._id").alias("_id"),
                (dot / (F.col("a._nv") * F.col("b._nv"))).alias("_sim"))
        .groupBy("_id")
        .agg(F.max("_sim").alias("max_prior_sim"))
    )
    return (
        embeddings.join(
            prior_sims, F.col(id_col) == F.col("_id"), "left"
        )
        .drop("_id")
        .withColumn(
            "pruned",
            F.coalesce(F.col("max_prior_sim") >= threshold, F.lit(False)),
        )
    )


# ------------------------------------------- fingerprint-overlap dedup

def fingerprint_overlap_pairs(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Substring-level near-dup candidates from winnowing fingerprints
    (``text.rolling_hash_fingerprints``): document pairs sharing >=
    ``min_shared`` fingerprints, with the containment-style overlap
    fraction ``shared / min(|fp_a|, |fp_b|)`` — catches copied *passages*
    that whole-document MinHash dilutes away.

    ``max_df`` drops fingerprints present in more than that many documents
    (stop-fingerprints): a fingerprint in d docs fans out into O(d^2)
    pairs, so the cap both bounds the join and removes boilerplate noise —
    same role as CCNet's common-line filter. Shape at 100 TB: fp doc-freq
    agg + self equi-join on the fingerprint key + pair agg; all
    hash-partitioned, no cartesian.
    """
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.text import (
        rolling_hash_fingerprints,
    )

    fps = rolling_hash_fingerprints(
        docs, text_col=text_col, k=k, window=window,
        doc_id_col=doc_id_col, portable=portable,
    ).select(F.col(doc_id_col).alias("doc"), "fp")
    if max_df is not None:
        # Stop-fingerprint cap as a WINDOW count over (fp), not a separate
        # count-agg + join (r12, guide §2.4 — same transformation as the
        # LSH stop-band cap): the dfreq branch was a second computation of
        # scan -> gram explode -> rolling hash, and because every consumer
        # (a-side, b-side, sizes) pruned the capped-fps subtree
        # differently, ReuseExchange never fired — the before-plan shows
        # the fingerprint pipeline computed 16x (plans/r12/
        # fp_overlap_before.txt: 16 scans, 12 exchanges). The window
        # rides the hashpartitioning(fp) exchange the pair self-join
        # needs anyway; all consumers now canonicalize to the same
        # subtree and the exchange is planned once and reused. Skew: a
        # hot fp already lands in one task in the join's own sort.
        # Output rows identical: same ``count <= max_df`` predicate.
        w_df = Window.partitionBy("fp")
        fps = (
            fps.withColumn("_df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("_df") <= max_df)
            .select("doc", "fp")
        )
    # Per-doc fingerprint counts as a WINDOW carried THROUGH the pair
    # join instead of a separate groupBy(doc) + two join-backs on
    # doc_a/doc_b (r12, guide §2.4/§8): sizes was a third consumer of the
    # capped-fps subtree (another full fingerprint recomputation, twice —
    # once per join-back), and each join-back shuffled the pair table.
    # n_fp is constant per doc, so max() over the pair group reproduces
    # it exactly; the inner sizes joins never filtered (every paired doc
    # has a size by construction). Both self-join sides are now the SAME
    # subtree, so the physical exchange is planned once and reused.
    w_doc = Window.partitionBy("doc")
    fps = fps.withColumn("n_fp", F.count(F.lit(1)).over(w_doc))
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"),
                 F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"),
             F.max(F.col("a.n_fp")).alias("n_fp_a"),
             F.max(F.col("b.n_fp")).alias("n_fp_b"))
        .where(F.col("n_shared") >= min_shared)
        .select(
            "doc_a", "doc_b", "n_shared", "n_fp_a", "n_fp_b",
            (F.col("n_shared")
             / F.least(F.col("n_fp_a"), F.col("n_fp_b"))
             ).alias("containment"),
        )
    )


def resolve_duplicates(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Resolution step of the near-dup pipeline: given transitive cluster
    labels (:func:`connected_components`), elect ONE canonical document per
    cluster — highest ``quality_col``, ties to the lowest id (the
    keep-longest convention of the standard corpus-dedup recipe; pass a
    model score column for smarter election). Emits every input row +
    ``n_members`` + ``is_canonical`` so the caller can either filter to
    canonicals or audit the drop set.

    Shape at 100 TB: one equi-join on the doc id and two windows sharing
    the single ``cluster`` partitioning — one shuffle beyond the join.
    Singleton clusters pass through with ``is_canonical = 1``: docs
    absent from ``clusters`` (e.g. :func:`connected_components` with the
    default ``nodes=None``, which labels edge endpoints only) are
    left-joined and coalesced to their own id as a singleton cluster
    rather than silently dropped."""
    j = docs.join(clusters, id_col, "left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col))
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    wc = Window.partitionBy(cluster_col)
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn(
            "is_canonical", (F.col("_rn") == 1).cast("int")
        )
        .drop("_rn")
    )
