"""Text analysis for large-scale corpus pipelines: tokenization, language ID,
quality scoring, fingerprinting.

Beyond-reference operators (SURVEY §7.6): the primitives a training-data
pipeline needs over a ``documents(doc_id, text, ...)`` table at 100TB. All
are pure column expressions / higher-order functions — JVM-side, codegen'd,
no Python in the hot path. Each is exercised by an oracle query pair in
``queries.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    skew,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    sql_ident,
    sql_in,
    sql_str,
)

# small multilingual stopword sets for the n-gram-free language heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "to", "in", "and", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que"],
}


# The scoring expressions are defined once, as SQL text (``*_sql``
# generators over a SQL operand), and parsed JVM-side in one call: a
# Column-API composition of predict_language alone issued hundreds of
# py4j round trips (~0.4 s of driver time). The name-taking wrappers
# parse the same text, so curate_corpus (one selectExpr) and the
# per-column builders share every formula.


def tokens_sql(col_sql: str, pattern: str = " ") -> str:
    return f"split({col_sql}, {sql_str(pattern)})"


def token_count_sql(col_sql: str) -> str:
    """Whitespace token count."""
    return f"size({tokens_sql(col_sql)})"


def bpe_ish_token_count_sql(col_sql: str) -> str:
    """Approximate subword count: punctuation split off as separate tokens,
    then whitespace split — a cheap stand-in for BPE tokenizers when
    budgeting corpus size."""
    punct = sql_str(r"([.,;:!?()])")
    ws = sql_str(r"\s+")
    spaced = f"regexp_replace({col_sql}, {punct}, {sql_str(' $1 ')})"
    return f"size(filter(split(trim({spaced}), {ws}), x -> x != ''))"


def stopword_ratio_sql(col_sql: str, lang: str = "en") -> str:
    toks = tokens_sql(col_sql)
    stop = STOPWORDS.get(lang, STOPWORDS["en"])
    return (f"(size(filter({toks}, x -> x IN ({sql_in(stop)}))) "
            f"/ size({toks}))")


# fixed tie priority: earlier languages win score ties (deterministic)
LANG_PRIORITY = ["en", "de", "es", "fr"]


def lang_score_sql(col_sql: str, lang: str) -> str:
    toks = tokens_sql(col_sql)
    return f"size(filter({toks}, x -> x IN ({sql_in(STOPWORDS[lang])})))"


def predict_language_sql(col_sql: str) -> str:
    """Stopword-vote language ID: the language whose stopword set matches
    the most tokens wins; score ties resolve by LANG_PRIORITY order (>=
    against later languages, > against earlier); zero matches everywhere
    -> 'unknown'. Pure expressions, one array pass per language."""
    scores = {lang: lang_score_sql(col_sql, lang) for lang in LANG_PRIORITY}
    branches = []
    for lang in LANG_PRIORITY:
        cond = f"({scores[lang]} > 0)"
        for other in LANG_PRIORITY:
            if other != lang:
                op = (">=" if LANG_PRIORITY.index(other)
                      > LANG_PRIORITY.index(lang) else ">")
                cond = f"({cond} AND ({scores[lang]} {op} {scores[other]}))"
        branches.append(f"WHEN {cond} THEN {sql_str(lang)}")
    return "CASE " + " ".join(branches) + " ELSE 'unknown' END"


def tokens(text: str, pattern: str = " ") -> Column:
    return F.expr(tokens_sql(sql_ident(text), pattern))


def token_count(text: str) -> Column:
    return F.expr(token_count_sql(sql_ident(text)))


def bpe_ish_token_count(text: str) -> Column:
    return F.expr(bpe_ish_token_count_sql(sql_ident(text)))


def stopword_ratio(text: str, lang: str = "en") -> Column:
    return F.expr(stopword_ratio_sql(sql_ident(text), lang))


def lang_score(text: str, lang: str) -> Column:
    return F.expr(lang_score_sql(sql_ident(text), lang))


def predict_language(text: str) -> Column:
    return F.expr(predict_language_sql(sql_ident(text)))


def quality_features(
    docs: DataFrame, text_col: str = "text", lang: str = "en"
) -> DataFrame:
    """Per-document quality features (length, token stats, stopword ratio,
    alpha ratio, mean token length) — the filter basis for corpus curation."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    c = F.col(text_col)
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    return docs.select(
        "*",
        F.length(c).alias("n_chars_q"),
        n_tok.alias("n_tokens"),
        (tok_len_sum / n_tok).alias("avg_token_len"),
        stopword_ratio(text_col, lang).alias("stop_ratio"),
        (alpha / F.length(c)).alias("alpha_ratio"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 8,
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = term count / doc token count; idf = ln(N_docs / doc_freq);
    rank by the *rounded* score (granularity >> cross-engine libm noise)
    with term as the deterministic tiebreak.

    Shape at 100 TB: tokenize+explode is map-side; (doc, term) counts are a
    map-combinable agg; doc totals reuse the doc_id partitioning via a
    window; doc_freq is a second map-combinable agg joined back on term
    (term dimension ~ vocabulary, far smaller than the postings table);
    N_docs rides a broadcast 1-row crossJoin — the plan stays fully lazy.
    """
    from pyspark.sql import Window as W

    toks = docs.select(
        id_col,
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "),
                     lambda x: x != F.lit(""))
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("cnt"))
    tf = tf.withColumn(
        "total", F.sum("cnt").over(W.partitionBy(id_col))
    )
    dfreq = toks.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("doc_freq")
    )
    ndocs = docs.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("cnt") / F.col("total"))
                * F.log(F.col("n_docs") / F.col("doc_freq")),
                round_digits,
            ),
        )
    )
    rn = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "term")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "tfidf", "rn")
    )


#: (name, regex) redaction rules — Java-regex and RE2 compatible subset
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b555-[0-9]{4}\b"),
]


def redact_pii(
    docs: DataFrame,
    text_col: str = "text",
    patterns: list[tuple[str, str]] | None = None,
    token: str = "[{name}]",
) -> DataFrame:
    """Scrub PII-like spans, emitting the redacted text plus one match-count
    column per rule (``n_<name>``).

    Pure ``regexp_replace`` / ``regexp_extract_all`` expressions — the whole
    scrub is map-side codegen with zero shuffle, which is the only shape
    that survives scrubbing 100 TB. Patterns stay in the RE2-compatible
    subset of Java regex so the DuckDB oracle twin runs them verbatim.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    out = docs
    redacted = F.col(text_col)
    for name, pat in pats:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))),
        )
        redacted = F.regexp_replace(
            redacted, pat, token.format(name=name.upper())
        )
    return out.withColumn("redacted", redacted)


def fingerprint(text: str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted token
    multiset — catches shuffled-word duplicates exact hashing misses."""
    return F.md5(F.array_join(F.array_sort(tokens(text)), " "))


def rolling_hash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    doc_id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Winnowing-style fingerprints: k-gram hashes, minimum per sliding
    window of ``window`` hashes — the classic local fingerprinting scheme for
    near-dup/plagiarism detection. Emits (doc_id, pos, fp) rows.

    Implementation: shingle explode (map-side), xxhash64 per shingle, then a
    per-doc sliding min via a window frame — one shuffle by doc_id.
    ``portable=True`` swaps xxhash64 for md5 (string) so an external SQL
    engine reproduces identical fingerprints (oracle twin; prod keeps the
    8-byte xxhash64)."""
    from pyspark.sql import Window as W

    # len(text)-amplifying explode: lift a small single-split input to the
    # session parallelism first (hash by doc_id — the same clustering the
    # per-doc window below needs, so no extra exchange is introduced)
    docs = skew.ensure_parallelism(docs, doc_id_col)
    hash_sql = (
        f"md5(substring({text_col}, pos, {k}))" if portable
        else f"xxhash64(substring({text_col}, pos, {k}))"
    )
    sh = docs.select(
        doc_id_col,
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1)))
        ).alias("pos"),
        F.col(text_col),
    ).select(
        doc_id_col, "pos",
        F.expr(hash_sql).alias("h"),
    )
    w = W.partitionBy(doc_id_col).orderBy("pos").rowsBetween(0, window - 1)
    fps = sh.withColumn("fp", F.min("h").over(w))
    # keep one row per distinct fingerprint value per doc (winnowing dedup)
    return fps.groupBy(doc_id_col, "fp").agg(F.min("pos").alias("pos"))


def exact_substring_spans(
    docs: DataFrame,
    window: int = 10,
    min_dup: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection: mark every maximal token
    span covered by a ``window``-token sequence that appears >= ``min_dup``
    times corpus-wide (the exact-substring half of training-data dedup,
    complementing MinHash near-dup and CCNet line dedup — the technique
    behind "repeated 50-token substrings" corpus cleaning).

    Relational plan, no suffix array needed:
    1. positional token ``window``-grams -> hash (map-side explode; the gram
       string is transient — only (doc, pos, hash) reaches the shuffle);
    2. corpus-wide hash counts keep the duplicated ones (map-combinable
       agg; at 100 TB the count table is pre-filtered by a first map-side
       partial, and the semi-join back is hash-uniform by construction);
    3. per-doc gaps-and-islands merge of overlapping [pos, pos+window)
       hits -> maximal spans (one window sort per doc).

    Returns per-doc span stats for docs with >= 1 duplicated window:
    (doc_id, n_dup_windows, n_spans, dup_tokens, n_tokens, dup_frac).
    A true suffix-automaton finds arbitrary-length matches; fixed-window
    hashing finds every match of length >= ``window`` (any such match
    contains a duplicated window), which is the guarantee the cleaning
    step needs.
    """
    from pyspark.sql import Window as W

    toks = F.split(F.col(text_col), " ")
    grams = _word_grams(text_col, window)
    hits = docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.posexplode(grams).alias("pos0", "gram"),
    ).select(
        id_col, "n_tokens", "pos0", F.md5("gram").alias("h")
    )
    # Corpus-wide duplicated-hash detection as a WINDOW count over (h),
    # not a count-agg + join-back (r12, guide §2.4 — same transformation
    # as the LSH stop-band cap): the dup branch recomputed the whole
    # scan -> posexplode -> md5 pipeline (pruning made its subtree differ
    # from the probe side's, so ReuseExchange never fired), and the
    # join-back was a second shuffle of the full hits table at scale.
    # The window computes the same per-hash count on ONE
    # hashpartitioning(h) exchange of hits; rows kept are identical
    # (same ``count >= min_dup`` predicate). Skew: a boilerplate gram's
    # rows already co-located in the old join's (h) partition.
    w_h = W.partitionBy("h")
    # fresh staging name (r12 ADVICE): a caller with id_col="c" must not
    # have its id column overwritten by the count staging column
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.signals import (  # noqa: E501
        _fresh,
    )

    (c_cnt,) = _fresh(hits, "_dup_c")
    marked = (
        hits.withColumn(c_cnt, F.count(F.lit(1)).over(w_h))
        .filter(F.col(c_cnt) >= min_dup)
        .drop(c_cnt)
    )
    # gaps-and-islands over window-start positions: a new span starts when
    # this hit begins after every previous hit's end.
    w_ord = W.partitionBy(id_col).orderBy("pos0")
    prev_end = F.max(F.col("pos0") + window).over(
        w_ord.rowsBetween(W.unboundedPreceding, -1))
    spans = marked.withColumn(
        "new_span",
        F.when(prev_end.isNull() | (F.col("pos0") > prev_end), 1).otherwise(0),
    ).withColumn("span_id", F.sum("new_span").over(w_ord))
    per_span = spans.groupBy(id_col, "n_tokens", "span_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        (F.max(F.col("pos0") + window) - F.min("pos0")).alias("span_tokens"),
    )
    return per_span.groupBy(id_col, "n_tokens").agg(
        F.sum("n_windows").cast("bigint").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_tokens").cast("bigint").alias("dup_tokens"),
    ).select(
        id_col, "n_dup_windows", "n_spans", "dup_tokens", "n_tokens",
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias("dup_frac"),
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Corpus-unigram LM score per document (perplexity proxy): the average
    token log-probability under the corpus's own unigram distribution —
    the cheap end of LM-based quality filtering (gibberish and boilerplate
    score far from the corpus center; no OOV smoothing needed because the
    vocabulary is built from the same corpus — plug add-k smoothing into
    the ``cnt`` expression when scoring against an external LM table).

    100 TB shape: two map-combinable aggs (term freq, per-doc avg) + one
    join on the vocabulary (≪ postings) + a broadcast 1-row total.
    """
    toks = docs.select(
        id_col,
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "),
                     lambda x: x != F.lit(""))
        ).alias("term"),
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    return (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(F.log(F.col("cnt") / F.col("total"))), round_digits
            ).alias("avg_logprob"),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )


def repetition_features(
    docs: DataFrame,
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Gopher-rule repetition signals per document: duplicate-token
    fraction, duplicate-bigram fraction, and most-frequent-token coverage
    — the standard within-document repetition filters for corpus quality
    (high values = boilerplate / degenerate generation).

    All pure array expressions over the token list — per-row compute,
    zero shuffle, no explode (the top-token scan is O(distinct x n) per
    document, bounded by document length, not corpus size).
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    uniq = F.array_distinct(toks)
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ng = F.size(grams)
    top_cnt = F.array_max(
        F.transform(
            uniq, lambda u: F.size(F.filter(toks, lambda x: x == u))
        )
    )
    return docs.select(
        "doc_id",
        F.round(1.0 - F.size(uniq) / n, round_digits)
        .alias("dup_token_frac"),
        F.round(
            F.when(ng > 0, 1.0 - F.size(F.array_distinct(grams)) / ng)
            .otherwise(0.0),
            round_digits,
        ).alias("dup_2gram_frac"),
        F.round(top_cnt / n, round_digits).alias("top_token_frac"),
    )


# ------------------------------------------------------------- chunking


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token-budget training chunks with overlap.

    Chunk ``c`` covers token positions ``[c*stride, c*stride+chunk_tokens)``;
    with ``stride < chunk_tokens`` adjacent chunks overlap by
    ``chunk_tokens - stride`` tokens (the usual context-window overlap when
    preparing LLM pretraining sequences). Tail chunks may be short; they are
    kept so no token is dropped.

    Shape at 100 TB: pure map-side (split -> sequence -> explode -> slice),
    zero shuffles; output partitioning inherits the input scan, so a
    downstream ``repartition`` on chunk count is only needed for skewed
    giant documents.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col), toks.alias("_toks"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("_toks"), F.lit(1)), F.lit(stride)
    )
    ex = base.select(
        id_col, "_toks", F.explode(starts).alias("_start")
    )
    piece = F.slice(F.col("_toks"), F.col("_start"), chunk_tokens)
    return ex.select(
        F.col(id_col),
        ((F.col("_start") - 1) / stride).cast("int").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


# -------------------------------------------------- boilerplate n-grams


def _word_grams(text_col: str, n: int):
    """Positional word n-grams as an array column (empty when the document
    is shorter than ``n`` tokens)."""
    toks = F.split(F.col(text_col), " ")
    sz = F.size(toks)
    return F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def boilerplate_grams(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word n-grams that repeat across >= ``min_docs`` distinct documents —
    the boilerplate dictionary (headers, footers, licence blocks) a corpus
    pipeline strips before training (CCNet / RefinedWeb line-dedup
    generalized to token n-grams).

    Returns ``(gram, doc_freq)``. Shape at 100 TB: gram explode is
    map-side; per-doc ``array_distinct`` BEFORE the explode collapses
    within-doc repeats so the agg is a plain map-combinable count — no
    count-distinct expand.
    """
    per_doc = docs.select(
        F.explode(
            F.array_distinct(_word_grams(text_col, n))
        ).alias("gram")
    )
    return (
        per_doc.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") >= min_docs)
    )


def boilerplate_coverage(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fraction of n-gram positions covered by corpus
    boilerplate (grams shared by >= ``min_docs`` docs). High coverage =
    template/boilerplate page -> filter or strip before training.

    Shape at 100 TB: two map-combinable aggs (gram doc-freq; per-doc gram
    join+count). The boilerplate dictionary is vocabulary-sized — orders of
    magnitude smaller than the postings — and joins on a uniform hash key.
    """
    boiler = boilerplate_grams(docs, n, min_docs, text_col, id_col)
    pos = docs.select(
        F.col(id_col),
        F.explode(_word_grams(text_col, n)).alias("gram"),
    )
    flagged = pos.join(
        boiler.select("gram", F.lit(1).alias("_hit")), "gram", "left"
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_boilerplate"),
        (
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            / F.count(F.lit(1))
        ).alias("boilerplate_frac"),
    )


# ------------------------------------------------------ vocabulary stats


def vocab_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary table: per-term total count, document frequency,
    frequency rank, and cumulative token-coverage share — the
    Zipf/coverage curve used to size tokenizer vocabularies ("the top-k
    terms cover p% of all tokens").

    Shape at 100 TB: the postings explode is map-side and the (term) agg
    map-combinable; the *output* is vocabulary-sized, so the global
    rank/cumsum window (single-partition by construction) runs over
    millions of rows, not the corpus — acceptable on a driver-adjacent
    executor. doc_freq via a pre-distinct (term, doc) projection, not a
    count-distinct expand.
    """
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("term_count"))
    dfreq = (
        toks.select(id_col, "term").distinct()
        .groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    vocab = counts.join(dfreq, "term")
    total = vocab.agg(F.sum("term_count").alias("_total"))
    w = W.orderBy(F.desc("term_count"), F.asc("term"))
    return (
        vocab.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_share",
            F.sum("term_count").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ) / F.col("_total"),
        )
        .drop("_total")
    )


# ------------------------------------------------------- BPE pair counts


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One BPE training iteration, distributed: adjacent character-pair
    frequencies across the corpus, weighted by word frequency — argmax is
    the next merge. Iterating this operator (re-tokenizing with the merged
    symbol) trains a full BPE vocabulary; one iteration is the
    shuffle-shape-defining step.

    Shape at 100 TB: word explode is map-side; the (word) agg collapses
    the corpus to its vocabulary BEFORE pair expansion, so the pair
    explode runs on vocabulary-sized data — the two aggs are
    map-combinable and integer-exact.
    """
    words = (
        docs.select(
            F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_count"))
    )
    pairs = words.select(
        "word_count",
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substring(word, i, 2))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    return pairs.groupBy("pair").agg(
        F.sum("word_count").alias("pair_count")
    )


def _merge_pair_expr(arr, a: str, b: str):
    """Fold a symbol array left-to-right, replacing each adjacent (a, b)
    with the merged symbol — the greedy-left BPE merge as a pure
    higher-order aggregate (no UDF). Overlaps resolve leftmost-first:
    merging ('a','a') over [a,a,a] gives [aa, a]."""
    merged = a + b
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train a byte-pair-encoding merge list over the corpus: repeatedly
    count adjacent symbol pairs (weighted by word frequency), merge the
    most frequent pair everywhere, ``n_merges`` times. Returns the merge
    list [(left, right, count), ...] in merge order plus the final
    symbol-segmented vocabulary DataFrame (word, symbols, word_count).

    Distributed shape: the corpus collapses to its vocabulary up front
    (one map-combinable agg); every iteration then runs on vocabulary-
    sized data — a pair-count agg (map-combinable), a 1-row argmax
    collect (the only driver traffic: one (pair, count) row per merge),
    and a pure higher-order-function re-segmentation. Ties on count break
    lexicographically for cross-run determinism.
    """
    vocab = (
        docs.select(
            F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_count"))
        .withColumn("symbols", F.split(F.col("word"), ""))
    )
    merges: list[tuple[str, str, int]] = []
    cur = vocab.cache()
    for _ in range(n_merges):
        pairs = (
            cur.select(
                "word_count",
                F.explode(
                    F.when(
                        F.size("symbols") >= 2,
                        F.expr(
                            "transform(sequence(1, size(symbols) - 1),"
                            " i -> struct(symbols[i - 1] AS l,"
                            " symbols[i] AS r))"
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<l:string,r:string>>"
                        )
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("word_count").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p.l"), F.asc("p.r"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        top = pairs[0]
        a, b, cnt = top["p"]["l"], top["p"]["r"], top["cnt"]
        merges.append((a, b, int(cnt)))
        nxt = cur.withColumn(
            "symbols", _merge_pair_expr(F.col("symbols"), a, b)
        ).cache()
        nxt.count()  # materialize before dropping the parent
        cur.unpersist()
        cur = nxt
    return merges, cur


# ------------------------------------------------- line-level dedup (CCNet)


def segment_lines(
    docs: DataFrame,
    line_words: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into non-overlapping ``line_words``-word
    segments ("pseudo-lines" — the corpus has no newlines, so fixed word
    windows stand in for CCNet's physical lines).

    Returns one row per (doc, position): ``(id, line_pos, line)``.
    Map-side only — the split/slice/explode never shuffles.
    """
    toks = F.split(F.col(text_col), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(line_words)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(toks, i * line_words + 1, line_words), " "
        ),
    )
    return docs.select(
        F.col(id_col),
        F.posexplode(lines).alias("line_pos", "line"),
    )


def line_dedup(
    docs: DataFrame,
    line_words: int = 12,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style line-level deduplication: a pseudo-line that appears in
    >= ``min_docs`` distinct documents is corpus-duplicated; every
    occurrence is dropped and the document is reassembled from the
    surviving lines in position order.

    Returns per document: ``n_lines``, ``n_dup_lines`` (positions whose
    line is duplicated), ``dup_frac``, and ``kept_md5`` — the md5 of the
    deduplicated text ('' when every line was dropped), so the transform
    is verified, not just the counts.

    Shape at 100 TB: one map-combinable count agg over per-doc-distinct
    lines builds the dup dictionary (same no-count-distinct trick as
    ``boilerplate_grams``); positions join the dictionary on the line
    hash-key; one final per-doc agg. No count-distinct expand, no n².
    """
    pos = segment_lines(docs, line_words, text_col, id_col)
    dup = (
        pos.select(id_col, "line").distinct()
        .groupBy("line").agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") >= min_docs)
        .select("line", F.lit(True).alias("_dup"))
    )
    j = pos.join(dup, "line", "left").select(
        id_col, "line_pos", "line",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    )
    kept = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        ~F.col("is_dup"),
                        F.struct(F.col("line_pos"), F.col("line")),
                    )
                )
            ),
            lambda s: s["line"],
        ),
        " ",
    )
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_lines"),
        (
            F.sum(F.col("is_dup").cast("double")) / F.count(F.lit(1))
        ).alias("dup_frac"),
        F.md5(kept).alias("kept_md5"),
    )


# ------------------------------------- hashed-n-gram linear quality model


def _hashed_weight(bucket: Column) -> Column:
    """Frozen pseudo-random weight in [-1, 1) derived from the feature
    bucket by pure integer arithmetic (Knuth multiplicative hash), so the
    identical expression runs in DuckDB: no model file to ship, and the
    'trained model' is reproducible everywhere."""
    mixed = (bucket.cast("long") * F.lit(2654435761) + F.lit(12345)) % 2048
    return mixed.cast("double") / 1024.0 - 1.0


def hashed_ngram_score(
    docs: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear text classifier scoring via the hashing
    trick: word unigram + bigram features -> md5 bucket in
    [0, n_buckets) -> frozen per-bucket weight; document score is the
    mean feature weight and the quality probability its sigmoid.

    This is the scoring half of a bag-of-n-grams linear model (the
    industry-standard corpus quality filter shape); weights here are a
    deterministic function of the bucket so the oracle can verify the
    whole pipeline without shipping a trained artifact. Swap
    ``_hashed_weight`` for a broadcast-joined real weight table to serve
    a trained model unchanged.

    Shape at 100 TB: gram explode is map-side, bucket+weight are
    expressions, one map-combinable per-doc agg. No Python anywhere.
    """
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.sampling import (
        portable_bucket,
    )

    grams = F.concat(
        _word_grams(text_col, 1), _word_grams(text_col, 2)
    )
    per_gram = docs.select(
        F.col(id_col), F.explode(grams).alias("gram")
    )
    w = _hashed_weight(portable_bucket(F.col("gram"), n_buckets))
    scored = per_gram.select(F.col(id_col), w.alias("w"))
    score = F.avg("w")
    # w is k/1024 - 1 with integer k, so w*1024 is integer-valued: the
    # exact BIGINT feature-weight sum is the order-free, engine-exact
    # representation of the score (score = w_sum_x1024 / (1024 * n)) —
    # the emission oracles should compare (avg(double)/round can land on
    # a decimal rounding tie and flip the last digit across engines)
    w_sum = F.sum((F.col("w") * 1024).cast("long"))
    agged = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_features"),
        w_sum.alias("w_sum_x1024"),
        score.alias("score"),
    )
    # The sigmoid is derived from the EXACT integer representation
    # (w_sum_x1024 / 1024 / n), not from avg(w): both engines then run
    # the identical float expression on identical inputs, so the only
    # divergence left is libm ulp inside one exp() — avg(double) could
    # differ in summation order and flip a decimal rounding tie.
    exact_score = (F.col("w_sum_x1024") / F.lit(1024.0)
                   / F.col("n_features"))
    return agged.withColumn(
        "quality_prob",
        F.lit(1.0) / (F.lit(1.0) + F.exp(-exact_score)))


def bucket_features(
    docs: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document dense hashed bag-of-n-grams feature vector: word
    unigrams + bigrams -> md5 bucket in [0, n_buckets) -> normalized
    per-bucket count columns ``x0..x{n-1}`` (plus ``n_feat``).

    The dense layout is ``n_buckets`` conditional sums in ONE
    map-combinable hash aggregation — no pivot, no second shuffle, stays
    in whole-stage codegen. This is the feature half of the standard
    fastText-shaped corpus quality classifier (CCNet/DCLM-style model
    filtering); the weights come from ``train_quality_classifier``.
    """
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.sampling import (
        portable_bucket,
    )

    grams = F.concat(_word_grams(text_col, 1), _word_grams(text_col, 2))
    per = docs.select(
        F.col(id_col), F.explode(grams).alias("gram")
    ).select(
        id_col, portable_bucket(F.col("gram"), n_buckets).alias("bucket")
    )
    aggs = [
        F.sum(F.when(F.col("bucket") == i, 1).otherwise(0))
        .cast("double").alias(f"x{i}")
        for i in range(n_buckets)
    ]
    feat = per.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("double").alias("n_feat"), *aggs)
    return feat.select(
        id_col, "n_feat",
        *[(F.col(f"x{i}") / F.col("n_feat")).alias(f"x{i}")
          for i in range(n_buckets)],
    )


def train_quality_classifier(
    docs: DataFrame,
    label_col: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_rows: int = 200_000,
):
    """Fit the linear quality model on hashed n-gram features: the training
    half q112's frozen-weight scorer stands in for. Features are computed
    distributed (``bucket_features``); the bounded training matrix crosses
    to the driver SORTED BY ``id_col`` so the full-batch fit is
    bit-deterministic regardless of partitioning (FP summation order is
    fixed), which is what lets downstream outputs be golden-pinned.

    Returns a fitted ``ml.NumpyLogit``.
    """
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.ml import (
        NumpyLogit,
    )

    cols = [f"x{i}" for i in range(n_buckets)]
    feats = bucket_features(docs, n_buckets, text_col, id_col)
    train = feats.join(
        docs.select(id_col, label_col), id_col
    ).orderBy(id_col).limit(max_rows)
    pdf = train.toPandas().sort_values(id_col).reset_index(drop=True)
    return NumpyLogit().fit(pdf[cols], pdf[label_col])


def score_quality_model(
    docs: DataFrame,
    model,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Serve the trained model at corpus scale: the learned coefficients are
    injected as LITERALS into one sigmoid expression over the dense feature
    columns — the scoring plan is pure JVM codegen (no UDF, no weight-table
    join, no Python on the hot path), exactly the swap the
    ``hashed_ngram_score`` docstring promises."""
    z = F.lit(float(model.intercept_))
    for i in range(n_buckets):
        z = z + F.col(f"x{i}") * F.lit(float(model.coef_[i]))
    feats = bucket_features(docs, n_buckets, text_col, id_col)
    return feats.select(
        F.col(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(out_col),
    )


# ------------------------------------------- corpus length distribution


def length_histogram(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Log2-bucketed token-count histogram with corpus-share and
    cumulative-share columns — the length-distribution diagnostic behind
    sequence-length / packing-budget choices.

    The bucket is ``floor(log2(n_tokens))`` computed as
    ``length(bin(n)) - 1`` — pure integer/string arithmetic, so the
    bucket edges are exact on both engines (float log2 at powers of two
    is off-by-ulp territory). One map-combinable agg; the share columns
    are a window over the handful of bucket rows.
    """
    n_tok = F.size(F.split(F.col(text_col), " "))
    b = (F.length(F.bin(n_tok.cast("long"))) - 1).alias("bucket")
    per = docs.select(b, n_tok.alias("n_tokens"))
    hist = per.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = F.sum("total_tokens").over(w_all)
    return hist.select(
        "bucket", "n_docs", "total_tokens",
        (F.col("total_tokens") / tot).alias("token_share"),
        (F.sum("total_tokens").over(w_cum) / tot).alias("cum_share"),
    )


# ------------------------------------------------------- BPE encoding


#: Canonical merge table for the synthetic corpus (the 10 merges
#: ``train_bpe`` learns at sf0.01) — a frozen tokenizer artifact so
#: encode results are input-independent of the training scale.
DEFAULT_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
]


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merge table to every document — the encode
    half of the tokenizer whose training half is :func:`train_bpe`.

    Standard greedy BPE: each word starts as characters; repeatedly
    merge the adjacent pair with the LOWEST merge rank until no pair is
    mergeable. Returns one row per (doc, token position):
    ``(id, tok_pos, token)`` — downstream aggs (vocabulary frequency,
    tokens-per-doc) are one groupBy away.

    The merge loop is inherently per-word iterative -> Arrow-batched
    ``mapInPandas`` (the repo's documented Python-boundary policy); the
    merge table rides the closure (small — a tokenizer is O(10k) pairs).
    Scale shape: embarrassingly parallel over partitions, no shuffle.
    """
    table = list(merges) if merges is not None else list(DEFAULT_MERGES)
    ranks = {pair: i for i, pair in enumerate(table)}

    import pandas as pd  # local: keep module import-light

    def _encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best, best_rank = i, rk
            if best is None:
                break
            syms[best:best + 2] = [syms[best] + syms[best + 1]]
        return syms

    def _run(pdfs):
        for pdf in pdfs:
            ids, poss, toks = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                pos = 0
                for word in str(txt).split(" "):
                    for t in _encode_word(word):
                        ids.append(did)
                        poss.append(pos)
                        toks.append(t)
                        pos += 1
            yield pd.DataFrame(
                {id_col: ids, "tok_pos": poss, "token": toks}
            )

    out_schema = f"{id_col} long, tok_pos int, token string"
    return docs.select(id_col, text_col).mapInPandas(_run, out_schema)


# ------------------------------------------- Kneser-Ney bigram LM score


def kneser_ney_score(
    docs: DataFrame,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram language-model quality score — the
    classic perplexity filter (CCNet uses a KenLM 5-gram; this is the
    bigram instance of the same scheme, trained on the corpus itself and
    scored per document):

    ``P_kn(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
                    + D * N1+(w1,*)/c(w1) * N1+(*,w2)/N1+(*,*)``

    Emits per doc: bigram count, mean log-probability, perplexity
    ``exp(-mean_logp)``. Every term is a count table derived from ONE
    bigram-count agg (the forward/backward continuation counts are
    second-level aggs over the pair table, not re-scans), joined back to
    the bigram positions — all JVM expressions.

    Shape at 100 TB: one gram explode + one (w1,w2) agg builds the LM;
    position scoring is two hash equi-joins on w1 / (w1,w2) keys and a
    broadcast 1-row types total. Vocabulary skew (stopword w1 keys) is
    the AQE-skew-join case documented in SCALING.md.
    """
    d = float(discount)
    pairs = docs.select(
        F.col(id_col), F.posexplode(_word_grams(text_col, 2))
        .alias("pos", "gram")
    ).select(
        id_col, "pos",
        F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    c12 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).alias("fw_types"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("bw_types"))
    types = c12.agg(F.count(F.lit(1)).alias("n_types"))
    scored = (
        pairs.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
    )
    p_kn = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + (d * F.col("fw_types") / F.col("c1"))
        * (F.col("bw_types") / F.col("n_types"))
    )
    logp = F.log(p_kn)
    return (
        scored.select(F.col(id_col), logp.alias("logp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("logp").alias("mean_logp"),
            F.exp(-F.avg("logp")).alias("perplexity"),
        )
    )


# -------------------------------------------- per-source language drift


def source_divergence(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    corpus-wide distribution — the drift/contamination monitor for a
    multi-source corpus (a source whose KL spikes has different content
    than the blend; the per-source mirror of q95's pairwise overlap).

    ``KL(source || corpus) = sum_t p_s(t) * ln(p_s(t) / p_c(t))`` over
    the source's observed terms (p_c(t) > 0 wherever p_s(t) > 0, since
    the corpus includes the source). Two map-combinable count aggs
    (per-source-term and per-term) joined on the term key, plus window
    totals over the small term/source dimensions.
    """
    toks = docs.select(
        F.col(source_col).alias("src"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    st = toks.groupBy("src", "term").agg(
        F.count(F.lit(1)).alias("c_st")
    )
    s_tot = Window.partitionBy("src")
    ct = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    c_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_tot = st.withColumn(
        "c_s", F.sum("c_st").over(s_tot)
    ).join(
        ct.withColumn("c_all", F.sum("c_t").over(c_tot)), "term"
    )
    p_s = F.col("c_st") / F.col("c_s")
    p_c = F.col("c_t") / F.col("c_all")
    return (
        with_tot.select(
            "src", (p_s * F.log(p_s / p_c)).alias("kl_term"),
            F.lit(1).alias("one"),
        )
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("kl_term").alias("kl_divergence"),
        )
        .withColumnRenamed("src", source_col)
    )
