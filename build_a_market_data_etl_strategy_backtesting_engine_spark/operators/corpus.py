"""Corpus curation: the composed LLM-training-data pipeline.

The individual stages (exact dedup, quality features, language ID, token
budgeting) each have their own operator + oracle (dedup.py, text.py —
q22/q25/q31/q21); this module composes them in the order a real curation
run applies them, so the *composition* is itself a tested, benched unit:

    exact-dedup -> annotate (tokens / quality / language) -> filter

All stages are pure JVM expressions; the whole pipeline is ONE shuffle
(the dedup window over the content hash) — the annotate+filter stages fuse
into the post-shuffle projection. At 100 TB that means a single exchange
over the corpus, with the filters applied before anything downstream
(near-dup, embedding) sees a row.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    dedup,
    text as text_ops,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    sql_double,
    sql_ident,
    sql_in,
)

__all__ = ["curate_corpus", "curation_summary"]


def curate_corpus(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 1_000_000,
    min_alpha_ratio: float = 0.5,
    langs: tuple[str, ...] | None = ("en",),
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Curate a raw document table for training-data use.

    1. exact dedup (lowest-id representative per content hash — one
       shuffle);
    2. annotate: whitespace + BPE-ish token counts, stopword ratio, alpha
       ratio, predicted language;
    3. filter: token-count window, alpha-ratio floor, language allowlist
       (``langs=None`` keeps all languages).

    Returns surviving docs with the annotation columns attached.
    """
    d = dedup.distinct_by_content(docs, text_col, doc_id_col)
    # Annotations from text.py's SQL-text definitions, parsed by the JVM
    # in ONE selectExpr (a Column-API build issued ~300 py4j round trips).
    cs = sql_ident(text_col)
    d = d.selectExpr(
        "*",
        f"{text_ops.token_count_sql(cs)} AS n_tokens",
        f"{text_ops.bpe_ish_token_count_sql(cs)} AS n_bpe_tokens",
        f"{text_ops.stopword_ratio_sql(cs)} AS stop_ratio",
        f"(length(regexp_replace({cs}, '[^A-Za-z]', '')) / length({cs}))"
        " AS alpha_ratio",
        f"{text_ops.predict_language_sql(cs)} AS pred_lang",
    )
    # n_tokens is an integer, so rounding the bounds inward is exact for
    # fractional thresholds and leaves integer ones unchanged
    d = d.filter(
        f"((n_tokens >= {math.ceil(min_tokens)}) AND (n_tokens <= "
        f"{math.floor(max_tokens)})) AND (alpha_ratio >= "
        f"{sql_double(min_alpha_ratio)})"
    )
    if langs is not None:
        # an empty allowlist keeps nothing (`IN ()` does not parse)
        d = d.filter(f"pred_lang IN ({sql_in(langs)})" if langs else "false")
    return d


def curation_summary(curated: DataFrame) -> DataFrame:
    """Per-language corpus budget: doc counts and token totals — the
    numbers a training-mix plan is built from. Map-combinable single agg."""
    return curated.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_bpe_tokens").alias("sum_bpe_tokens"),
        F.round(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
        F.round(F.avg("alpha_ratio"), 6).alias("avg_alpha_ratio"),
    )


def source_overlap(
    docs,
    group_col: str = "source",
    text_col: str = "text",
) -> "DataFrame":
    """Pairwise vocabulary Jaccard between corpus sources — the overlap
    matrix used to spot mirrored/scraped-twice sources before setting
    mixture rates.

    Vocabulary-level by design: the per-source distinct-term projection is
    corpus-sized but the join runs on the term dimension (vocabulary-sized,
    uniform hash key). For document-level overlap between sources use
    ``dedup.minhash_dedup`` — this operator answers the cheaper
    "do these sources share a lexicon" question first.
    """
    from pyspark.sql import functions as F

    terms = (
        docs.select(
            F.col(group_col).alias("src"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .distinct()
    )
    sizes = terms.groupBy("src").agg(F.count(F.lit(1)).alias("n_terms"))
    a, b = terms.alias("a"), terms.alias("b")
    inter = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("src").alias("src_a"),
                                F.col("n_terms").alias("na")), "src_a")
        .join(sizes.select(F.col("src").alias("src_b"),
                           F.col("n_terms").alias("nb")), "src_b")
        .select(
            "src_a", "src_b", "n_inter", "na", "nb",
            (F.col("n_inter")
             / (F.col("na") + F.col("nb") - F.col("n_inter"))
             ).alias("jaccard"),
        )
    )
