"""Deduplication suite for large-scale corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Beyond-reference operators (SURVEY §7.6). Design rules for 100TB:

- shingling/hashing is map-side (explode + xxhash64/md5, codegen'd);
- candidate generation is ALWAYS bucket-join (LSH bands / simhash chunks),
  never the O(n^2) cross join;
- verification (exact Jaccard / Hamming / cosine) runs only on candidate
  pairs, whose cardinality is data-dependent but tiny next to n^2;
- every shuffle key is a hash bucket -> uniformly distributed, skew-safe
  (AQE skew-join handles pathological buckets like empty-text shingles);
- no operator splits its work into sequential hash-class passes over
  parquet spills of its own: a shuffle or sort larger than memory spills
  through Spark's own external sort and shuffle.

``md5``-based variants exist where the DuckDB oracle needs a portable hash
(queries.py); the production path uses ``xxhash64`` (one 64-bit mix vs a
full crypto digest — ~5x cheaper in the shingle hot loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
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
    dedup runs skip the shuffle."""
    banded = band_table(signatures, num_hashes, bands, doc_id_col)
    return lsh_pairs_from_bands(banded, max_band_df=max_band_df)


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
) -> DataFrame:
    """Pair-generation half of ``lsh_candidate_pairs``: takes a (doc,
    band, bh) frame — freshly computed or re-opened from a bucketed
    table — applies the optional stop-band cap, and joins."""
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
        (c_df,) = _fresh(banded, "_df")
        banded = (
            banded.withColumn(c_df, F.count(F.lit(1)).over(w_df))
            .filter(F.col(c_df) <= max_band_df)
            .select("doc", "band", "bh")
        )
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


def _release_iteration_scratch(df: DataFrame) -> None:
    """Free a superseded iteration's scratch: unpersist its
    ``localCheckpoint`` blocks (safe once nothing will read the frame
    again — the next round was checkpointed EAGERLY, so it holds its own
    data) and ask the JVM for a GC so ContextCleaner can delete the
    round's now-unreachable shuffle files. ContextCleaner's own periodic
    GC defaults to 30 minutes — longer than most iterative jobs — so
    without the nudge every round's shuffle stays on disk until the app
    exits; measured at sf100 (a 5M-doc near-dup component graph) the
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
    max_iter: int = 50,
    _stats: dict | None = None,
) -> DataFrame:
    """Transitive duplicate clustering: connected components over near-dup
    pairs by large-star/small-star (Kiveris, Lattanzi, Mirrokni, Rastogi
    & Vassilvitskii, *Connected Components in MapReduce and Beyond*,
    SoCC 2014). Rounds are O(log n) in the component size, not
    O(diameter), so a 10^6-node chain converges in ~20 rounds.

    Near-dup pair emitters (LSH bands, simhash, embedding buckets) produce
    EDGES; dropping `doc_b` of each pair under-merges transitive chains
    (a~b, b~c but a!~c). This closes the chains.

    Per round, two relational steps over the canonical (big, small) edge
    set, each ONE equi-join + ONE map-combinable min-agg:

    - **large-star**: every node links its strictly-larger neighbors to
      the minimum of its neighborhood (flattens tall trees in one hop);
    - **small-star**: every node links its smaller neighbors AND itself
      to that minimum (contracts the remaining short trees into stars).

    At the fixed point the edge set IS the component mapping (every node
    points at its component minimum). Convergence is detected by a
    2-scalar (count, hash-sum) signature per round, observed in the
    round's checkpoint job and compared with the previous round's (round
    1 with the input's). Output: ``(node_col, cluster)``, cluster = the
    smallest member id — deterministic, partition-invariant. Singletons
    (when ``nodes`` is given) keep their own id; with ``nodes=None`` the
    node set is the edges' endpoints. ``_stats['rounds']`` reports the
    round count for tests."""
    u, v = F.col("u"), F.col("v")

    def checkpoint(df):
        """Eager local checkpoint plus the edge set's (count, hash-sum)
        signature, observed in the checkpoint's own job."""
        obs = Observation()
        df = df.observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).localCheckpoint(eager=True)
        return df, (obs.get["n"], obs.get["h"])

    # round 1 compares against the input itself, so an input that is
    # already a star forest stops after one round
    e, prev_sig = checkpoint(
        edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"),
                F.least("a", "b").alias("v"))
        .distinct()
    )
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
        ss, sig = checkpoint(
            ls.join(mins2, "u")
            .select(v.alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(mins2.select(F.col("u"), F.col("mn").alias("v")))
            .distinct()
        )
        rounds += 1
        # scratch hygiene (r8, found at sf100): the superseded round's
        # checkpoint blocks are never needed again — drop them NOW, and
        # nudge the JVM so ContextCleaner releases the round's shuffle
        # files too (its periodic GC default is 30 min — longer than the
        # whole job; without this, per-round shuffles accumulate ~50 GB
        # of scratch at sf100 and the job dies on disk, not on compute).
        _release_iteration_scratch(e)
        e = ss
        if prev_sig == sig:
            break
        prev_sig = sig
    if _stats is not None:
        _stats["rounds"] = rounds
    # fixed point -> labels: e = (member, component-min) star edges
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
    Like ``withColumns``, an output replaces an input column of the same
    name in place.
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
    # the prior-sim id and value are joined back onto the caller's frame,
    # so they take fresh names; the other staging columns stay inside
    # ``base``
    pid, msim = _fresh(embeddings, "_id", "_max_prior_sim")
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
        .select(F.col("a._id").alias(pid),
                (dot / (F.col("a._nv") * F.col("b._nv"))).alias("_sim"))
        .groupBy(pid)
        .agg(F.max("_sim").alias(msim))
    )
    return (
        embeddings.join(
            prior_sims, F.col(id_col) == F.col(pid), "left"
        )
        .withColumns({
            "max_prior_sim": F.col(msim),
            "pruned": F.coalesce(F.col(msim) >= threshold, F.lit(False)),
        })
        .drop(pid, msim)
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
    (rn,) = _fresh(j, "_rn")
    return (
        j.withColumn(rn, F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn(
            "is_canonical", (F.col(rn) == 1).cast("int")
        )
        .drop(rn)
    )
