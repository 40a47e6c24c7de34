"""Text-analysis operators (SURVEY §2.4 Tier B): language ID, quality
scoring, token counting, document fingerprinting.

Every operator is a pure column expression (codegen'd, row-parallel, zero
shuffle) and formula-identical to an ANSI-SQL oracle — see queries/llm.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# frequent English function words — the signal for the stopword-fraction
# language heuristic and the quality score
EN_STOPWORDS = [
    "the", "a", "of", "and", "to", "in", "is", "that", "for", "on",
    "it", "as", "with",
]

_FP_PRIME = 1_000_000_007


def tokens(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col)).cast("long")


# GPT-2-style pretokenizer, simplified to the RE2-compatible subset (no
# lookahead) so Spark's Java regex and DuckDB's RE2 match identically:
# contraction suffixes | space?+letters | space?+digits | space?+punct | spaces
BPE_PATTERN = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


def bpe_token_count(col: str | Column) -> Column:
    """Token count under a BPE-ish pretokenization regex (the
    whitespace-split counter above undercounts punctuation-heavy text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0))).cast("long")


def stopword_count(col: str | Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or EN_STOPWORDS
    arr = F.array(*[F.lit(s) for s in sw])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(arr, t))).cast("long")


def stopword_ratio(col: str | Column) -> Column:
    return stopword_count(col).cast("double") / token_count(col)


def mean_token_len(col: str | Column) -> Column:
    """(chars - separators) / tokens — avoids a per-token aggregate."""
    c = F.col(col) if isinstance(col, str) else col
    n = token_count(col)
    return (F.length(c).cast("double") - (n - 1)) / n


def distinct_token_ratio(col: str | Column) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("double") / token_count(col)


def quality_score(col: str | Column) -> Column:
    """Heuristic document quality in [0,1]:
    0.4 * stopword presence (connective tissue of natural language)
    + 0.3 * length credit (saturates at 200 tokens)
    + 0.3 * lexical diversity (distinct-token ratio).
    Same closed formula as the SQL oracle — one pass, no UDF.
    """
    length_credit = F.least(token_count(col).cast("double") / 200.0, F.lit(1.0))
    return 0.4 * stopword_ratio(col) + 0.3 * length_credit + 0.3 * distinct_token_ratio(col)


def langid_en(col: str | Column, threshold: float = 0.05) -> Column:
    """'en' when the English-stopword fraction clears the threshold.

    The honest n-gram version of this (char-trigram profiles per language)
    is the same shape — a dot product of per-doc trigram counts with a
    per-language profile vector; the stopword fraction is its 1-feature
    special case and is what the fixtures can exercise.
    """
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(F.lit("unknown"))


def fingerprint(col: str | Column) -> Column:
    """Order-sensitive rolling document hash: polynomial over the character
    stream, mod a 30-bit prime so every intermediate fits a long in both
    Spark and the SQL oracle (no overflow, identical wrap behavior).
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(c, ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.coalesce(F.ascii(ch), F.lit(0))) % F.lit(_FP_PRIME),
    )


# ---------------------------------------------------------------------------
# Bigram LM perplexity scoring (the CCNet/KenLM-style quality gate, Spark-first)


def train_bigram_lm(
    docs,
    text_col: str = "text",
    vocab_size: int = 4096,
    max_bigrams: int = 65536,
    alpha: float = 0.4,
):
    """Train a bigram language model over the corpus: token-bigram and
    unigram counts with stupid-backoff weight ``alpha`` (Brants et al. —
    the web-scale standard precisely because it needs no normalization
    pass). Returns a driver-held model dict:
    ``{"log_bigram": {(a,b): logP}, "log_unigram": {a: logP}, ...}``.

    Scale: ONE aggregation over exploded bigrams + one over tokens, both
    map-side combined; vocabulary truncation is a TakeOrdered (top
    ``vocab_size`` tokens), the vocab filter on the bigram side is a
    BROADCAST semi join (never a 4096-literal IN list in the plan), and
    the bigram table keeps the ``max_bigrams`` most frequent entries — so
    driver state is bounded by the model size, not the corpus (the same
    contract as the IVF codebook).
    """
    import math

    spark = docs.sparkSession
    toks = docs.select(F.split(F.col(text_col), " ").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(vocab_size)
        .collect()
    )
    vocab = {r["w"]: r["c"] for r in uni}
    total = sum(vocab.values())
    vocab_df = spark.createDataFrame([(w,) for w in vocab], ["w"])
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    in_vocab = (
        pairs.join(F.broadcast(vocab_df.withColumnRenamed("w", "a")), "a", "left_semi")
        .join(F.broadcast(vocab_df.withColumnRenamed("w", "b")), "b", "left_semi")
    )
    big = (
        in_vocab.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "a", "b")
        .limit(max_bigrams)
        .collect()
    )
    log_bigram = {(r["a"], r["b"]): math.log(r["c"] / vocab[r["a"]]) for r in big}
    log_unigram = {w: math.log(c / total) for w, c in vocab.items()}
    return {
        "log_bigram": log_bigram,
        "log_unigram": log_unigram,
        "log_alpha": math.log(alpha),
        "log_oov": math.log(1.0 / total),
    }


def score_bigram_logprob(docs, model, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document mean token log-probability under the bigram model
    (higher = more fluent under the corpus LM; gate on a threshold to drop
    gibberish). → (id_col, n_scored_tokens, mean_logprob).

    The model ships as TWO map literals (bigram and unigram log-probs) —
    broadcast inside the plan, scored by zip_with + aggregate: pure
    codegen'd column expressions, zero shuffle, no Python on the row path.
    Stupid backoff: P(b|a) = bigram if seen, else alpha * P(b), else
    alpha * P_oov.
    """
    bg_keys = [f"{a}\x00{b}" for (a, b) in model["log_bigram"]]
    bg_vals = list(model["log_bigram"].values())
    uni_keys = list(model["log_unigram"])
    uni_vals = list(model["log_unigram"].values())
    bg_map = F.map_from_arrays(F.lit(bg_keys), F.lit(bg_vals)) if bg_keys else F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<double>")
    )
    uni_map = F.map_from_arrays(F.lit(uni_keys), F.lit(uni_vals))
    la, loov = model["log_alpha"], model["log_oov"]

    toks = F.split(F.col(text_col), " ")
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit("\x00"), b),
    )
    uni_of = lambda g: F.element_at(uni_map, F.split(g, "\x00")[1])  # noqa: E731
    lp = lambda g: F.coalesce(  # noqa: E731
        F.element_at(bg_map, g),
        F.lit(la) + F.coalesce(uni_of(g), F.lit(loov)),
    )
    total_lp = F.aggregate(grams, F.lit(0.0), lambda acc, g: acc + lp(g))
    n = F.size(grams)
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_scored_tokens"),
        F.when(n > 0, total_lp / n).otherwise(F.lit(None)).alias("mean_logprob"),
    )


def oracle_snippets() -> dict[str, str]:
    """DuckDB-dialect expressions, formula-identical to the columns above
    (single source for queries/llm.py oracle SQL)."""
    sw = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    tk = "string_split(text, ' ')"
    n_tokens = f"len({tk})"
    n_stop = f"len(list_filter({tk}, t -> t IN ({sw})))"
    stop_ratio = f"({n_stop} * 1.0 / {n_tokens})"
    mean_len = f"((length(text) * 1.0 - ({n_tokens} - 1)) / {n_tokens})"
    distinct_ratio = f"(len(list_distinct({tk})) * 1.0 / {n_tokens})"
    length_credit = f"least({n_tokens} * 1.0 / 200.0, 1.0)"
    quality = f"(0.4 * {stop_ratio} + 0.3 * {length_credit} + 0.3 * {distinct_ratio})"
    langid = f"CASE WHEN {stop_ratio} >= 0.05 THEN 'en' ELSE 'unknown' END"
    fingerprint_sql = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {_FP_PRIME})"
    )
    bpe = BPE_PATTERN.replace("'", "''")
    return {
        "n_bpe_tokens": f"CAST(len(regexp_extract_all(text, '{bpe}')) AS BIGINT)",
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "n_stopwords": f"CAST({n_stop} AS BIGINT)",
        "stopword_ratio": stop_ratio,
        "mean_token_len": mean_len,
        "distinct_token_ratio": distinct_ratio,
        "quality_score": quality,
        "langid": langid,
        "fingerprint": f"CAST({fingerprint_sql} AS BIGINT)",
    }


def top_bigram_fraction(tk: Column) -> Column:
    """Gopher-style repetition signal (Rae et al. 2021, §A1.1 'repetition'
    filters): the fraction of the document occupied by its single most
    frequent word bigram. Natural text stays low; boilerplate/template spam
    scores high — a standard pretraining quality filter.

    Pure array HOFs over a MATERIALIZED token-array column (pass ``tokens``
    through a real column first — lambda CSE trap, see shingles_of_tokens):
    build the bigram list, then fold once over its distinct values counting
    occurrences of the running-max bigram. O(distinct x total) comparisons
    per row worst case — all codegen, zero shuffle, no explode (the exploded
    form shuffles #bigram rows; this keeps the computation row-local, the
    100 TB-friendly shape for a per-document score)."""
    n = F.size(tk)
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1))
    )
    counts = F.transform(
        F.array_distinct(grams),
        lambda g: F.size(F.filter(grams, lambda x: x == g)),
    )
    top = F.coalesce(F.array_max(counts), F.lit(0))
    return top.cast("double") / F.greatest(F.size(grams), F.lit(1))


def dup_token_fraction(col: str | Column) -> Column:
    """1 - distinct/total tokens — the token-level duplication companion
    signal to :func:`top_bigram_fraction`."""
    return F.lit(1.0) - distinct_token_ratio(col)


def repetition_filter(
    df, text_col: str = "text", max_top_bigram: float = 0.18, max_dup_tokens: float = 0.60
):
    """Drop documents failing the repetition thresholds (defaults in the
    range the Gopher paper uses for its 2-gram/duplicate filters)."""
    tk = F.split(F.col(text_col), " ")
    d = df.withColumn("__tk", tk)
    keep = (top_bigram_fraction(F.col("__tk")) <= max_top_bigram) & (
        dup_token_fraction(text_col) <= max_dup_tokens
    )
    return d.filter(keep).drop("__tk")


def token_document_frequency(df, text_col: str = "text"):
    """Corpus-level document frequency: one row per token with the number of
    documents containing it. The foundation for corpus-adaptive stopword
    discovery and IDF weighting (the data-driven alternative to the fixed
    stopword list used by :func:`langid_en`).

    Scale: explode DISTINCT tokens per document (array_distinct before the
    explode keeps the exploded row count at sum(distinct-per-doc), not
    sum(total tokens)), then one partially-aggregated groupBy on the token.
    """
    tk = F.array_distinct(F.split(F.col(text_col), " "))
    return (
        df.select(F.explode(tk).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )


def common_token_fraction(df, df_table, text_col: str = "text", top_k: int = 30):
    """Per-document fraction of tokens that belong to the corpus's ``top_k``
    highest-document-frequency tokens — a corpus-adaptive 'connective
    tissue' signal (high for natural prose, low for codes/IDs/boilerplate).

    The top-K token set is collected (K rows, driver-tiny) and folded into
    a literal array: the per-doc computation is then a row-local HOF —
    no join, no shuffle of the corpus.
    """
    top = [
        r["token"]
        for r in df_table.orderBy(F.desc("doc_freq"), "token").limit(top_k).collect()
    ]
    lit_top = F.array(*[F.lit(t) for t in top])
    tk = F.split(F.col(text_col), " ")
    frac = F.size(F.filter(tk, lambda x: F.array_contains(lit_top, x))).cast(
        "double"
    ) / F.greatest(F.size(tk), F.lit(1))
    return df.withColumn("common_token_fraction", frac)


def _ngram_hashes_of_tokens(tk: Column, n: int) -> Column:
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - F.lit(n)),
            lambda i: F.xxhash64(F.concat_ws("\x1f", F.slice(tk, i + F.lit(1), F.lit(n)))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _with_tokens(df, text_col: str):
    """Materialize the token array as ``__ng_tk`` in its own projection.
    Callers build the gram expression DIRECTLY over the column ref and
    explode it in the next select — adding a second alias layer for the
    gram array re-triggers the inlining (measured: the alias form
    re-splits per gram, 4.4s vs 1.1s for this shape at sf0.1; the DSIR
    O(words²) class of bug, see importance.py::_with_gram_buckets)."""
    return df.withColumn("__ng_tk", tokens(text_col))


def cross_doc_dup_stats(
    docs, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
):
    """Per-document cross-corpus duplication signal: the fraction of a
    document's token n-gram occurrences that also appear in at least one
    OTHER document — the exact-substring dedup measurement of Lee et al.
    2022 ("Deduplicating Training Data…") at n-gram granularity, the
    cross-document complement of the within-doc Gopher repetition signals
    above. Returns (id, total_grams, shared_grams, dup_fraction).

    Plan (3 exchanges, all linear in corpus token count): posexplode gram
    hashes → global per-gram distinct-doc count (partial agg before the
    shuffle — the gram space is huge but each task combines its local
    duplicates first) → join occurrences back on the gram hash (reuses the
    aggregate's hash partitioning on the build side) → per-doc aggregate.
    At 100 TB the hazard is gram-frequency skew (boilerplate shingles);
    AQE skew-join splits the hot buckets, and the distinct-doc count uses
    approx-free two-level agg (doc-distinct first) so no single reducer
    sees a gram's full occurrence list.
    """
    from clickhousedatamocker_spark.operators.parallelism import (
        ensure_scan_parallelism,
    )

    # unsplittable-input guard (guide §2.5): tokenize + gram hashing is the
    # hottest map stage and must not serialize on a single-file scan
    docs = ensure_scan_parallelism(docs, key=id_col)
    occ = _with_tokens(docs.select(F.col(id_col), F.col(text_col)), text_col).select(
        F.col(id_col),
        F.explode(_ngram_hashes_of_tokens(F.col("__ng_tk"), n)).alias("__g"),
    )
    # (doc, gram) occurrence counts FIRST: bounds every later relation by
    # the distinct (doc, gram) space, and — because both the shared-gram
    # aggregate and the join probe side read this SAME exchange — Spark's
    # ReusedExchange runs the tokenize+explode scan ONCE (the previous
    # two-branch shape recomputed it per consumer).
    docgram = occ.groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("__cnt"))
    shared = (
        docgram.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .select("__g", (F.col("__nd") > 1).alias("__shared"))
    )
    # SHUFFLE_HASH pinned: the shared-gram relation is ONE ROW PER DISTINCT
    # GRAM — linear in corpus size — so a (stats-tempted) broadcast OOMs at
    # real scale; shuffled, it reuses its own aggregate's __g partitioning.
    return (
        docgram.join(shared.hint("SHUFFLE_HASH"), "__g")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").alias("total_grams"),
            F.sum(F.when(F.col("__shared"), F.col("__cnt")).otherwise(F.lit(0))).alias(
                "shared_grams"
            ),
        )
        .withColumn(
            "dup_fraction",
            (F.col("shared_grams") / F.col("total_grams")).cast("double"),
        )
    )


def remove_duplicated_spans(
    docs,
    n: int = 8,
    min_dup_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Exact-substring dedup, REMOVAL side (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): delete
    every token span of >= ``min_dup_tokens`` tokens whose n-gram windows
    ALL also occur in at least one other document —
    :func:`cross_doc_dup_stats` measures the signal, this operator applies
    the edit. Returns (id, cleaned text, removed_tokens, total_tokens).

    A span of L tokens is removable when its L - n + 1 consecutive gram
    starts are all cross-document shared, so ``min_run = min_dup_tokens -
    n + 1`` consecutive shared starts trigger removal (the paper removes
    50-token repeats; with 8-grams that's 43 consecutive shared windows).

    Plan (same class as cross_doc_dup_stats — linear exchanges only):
    posexplode gram hashes → shared-gram relation (distinct-doc count > 1,
    SHUFFLE_HASH join, one row per distinct gram so broadcast is banned at
    scale) → per-doc sorted shared START POSITIONS → one JVM fold turns
    runs of consecutive positions into covered [s, e] token intervals →
    token filter + rejoin. Per-doc state is its shared-position list —
    bounded by doc length, never by corpus size.
    """
    min_run = min_dup_tokens - n + 1
    if min_run < 1:
        raise ValueError("min_dup_tokens must be >= the gram size n")
    from clickhousedatamocker_spark.operators.parallelism import (
        ensure_scan_parallelism,
    )

    # same unsplittable-input guard as cross_doc_dup_stats: the gram pass
    # AND the final token filter + rejoin read `docs` — both parallelize
    docs = ensure_scan_parallelism(docs, key=id_col)
    occ = _with_tokens(docs.select(F.col(id_col), F.col(text_col)), text_col).select(
        F.col(id_col),
        F.posexplode(_ngram_hashes_of_tokens(F.col("__ng_tk"), n)).alias("__p", "__g"),
    )
    gram_docs = occ.select(id_col, "__g").distinct()
    shared = (
        gram_docs.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") > 1)
        .select("__g")
    )
    hits = (
        occ.join(shared.hint("SHUFFLE_HASH"), "__g")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("__p")).alias("__ps"))
    )
    # fold consecutive shared starts into removable intervals: a run
    # [rs, prev] of length >= min_run covers tokens [rs, prev + n - 1]
    seed = (
        "named_struct('ivs', CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>), "
        "'rs', CAST(NULL AS INT), 'prev', CAST(NULL AS INT))"
    )
    close_run = (
        f"IF(__sp_a.rs IS NOT NULL AND __sp_a.prev - __sp_a.rs + 1 >= {min_run}, "
        f"concat(__sp_a.ivs, array(named_struct('s', __sp_a.rs, "
        f"'e', __sp_a.prev + {n} - 1))), __sp_a.ivs)"
    )
    ivs = F.expr(
        f"aggregate(__ps, {seed}, "
        f"(__sp_a, __sp_p) -> CASE "
        f"WHEN __sp_a.rs IS NULL THEN named_struct('ivs', __sp_a.ivs, 'rs', __sp_p, 'prev', __sp_p) "
        f"WHEN __sp_p = __sp_a.prev + 1 THEN named_struct('ivs', __sp_a.ivs, 'rs', __sp_a.rs, 'prev', __sp_p) "
        f"ELSE named_struct('ivs', {close_run}, 'rs', __sp_p, 'prev', __sp_p) END, "
        f"__sp_a -> {close_run})"
    )
    covered = hits.select(id_col, ivs.alias("__ivs"))
    # token array materialized as a real column: the kept-filter's
    # element_at(tokens, i+1) runs per token — an inline split() would
    # re-split the text per element, O(tokens²) chars per touched doc
    # (the lambda-inlining class of bug; see _with_tokens)
    joined = (
        docs.join(covered, id_col, "left")
        .withColumn(
            "__ivs",
            F.coalesce(F.col("__ivs"), F.expr("array()").cast("array<struct<s: int, e: int>>")),
        )
        .withColumn("__rp_tk", tokens(text_col))
    )
    tk = F.col("__rp_tk")
    kept = F.expr(
        "filter(transform(sequence(0, size(__rp_tk) - 1), "
        "__rp_i -> named_struct('i', __rp_i, 't', element_at(__rp_tk, __rp_i + 1))), "
        "__rp_s -> NOT exists(__ivs, __rp_iv -> __rp_s.i >= __rp_iv.s AND __rp_s.i <= __rp_iv.e))"
    )
    # fast path: the overwhelmingly common no-removal row skips the
    # tokenize+filter+rejoin entirely (most docs have no qualifying run
    # even when they share stray grams)
    untouched = F.size("__ivs") == 0
    return joined.select(
        F.col(id_col),
        F.when(untouched, F.col(text_col))
        .otherwise(F.array_join(F.transform(kept, lambda s: s["t"]), " "))
        .alias(text_col),
        F.when(untouched, F.lit(0))
        .otherwise(F.size(tk) - F.size(kept))
        .cast("long")
        .alias("removed_tokens"),
        F.size(tk).cast("long").alias("total_tokens"),
    )


# Gopher §A1.1 (Rae et al. 2021) required stop words: a doc must contain
# at least 2 of these 8 to pass the rule-set's "real prose" check
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# bullet glyphs Gopher's line rule checks for (leading whitespace ignored)
_BULLET_CLASS = "^[-*•‣▪]"


def gopher_rules(
    df,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_stopwords: int = 2,
) -> "DataFrame":
    """The FULL Gopher §A1.1 quality rule set (Rae et al. 2021) as pure
    column expressions — the published thresholds are the defaults. Adds
    one boolean per rule (True = violated), the numeric signals behind
    them, and ``gopher_keep`` (no rule violated). Map-only scan: zero
    shuffle, zero Python, formula-identical to the DuckDB snippets in
    :func:`gopher_oracle_snippets` (whitespace tokens, raw case — the
    cross-engine discipline of the module's other signals).

    Rules: word count ∈ [50, 100k]; mean word length ∈ [3, 10]; symbol-
    to-word ratio ('#' and ellipses) ≤ 0.1; ≤ 90% of lines start with a
    bullet; ≤ 30% of lines end with an ellipsis; ≥ 80% of words contain
    an alphabetic character; ≥ 2 of the 8 required stop words present."""
    c = F.col(text_col)
    tk = tokens(text_col)
    n_words = token_count(text_col)
    mean_len = mean_token_len(text_col)
    # non-overlapping occurrence counts via the replace-shrink scan
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_dots = (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / F.lit(3)
    n_hellip = F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))
    symbol_ratio = (n_hash + n_dots + n_hellip).cast("double") / n_words
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(_BULLET_CLASS))).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
            )
        ).cast("double")
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(tk, lambda t: t.rlike("[A-Za-z]"))).cast("double") / n_words
    )
    n_req_stop = F.size(
        F.array_intersect(
            F.array_distinct(tk), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_len)
        .withColumn("symbol_word_ratio", symbol_ratio)
        .withColumn("bullet_line_frac", bullet_frac)
        .withColumn("ellipsis_line_frac", ellipsis_frac)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn("n_required_stopwords", n_req_stop)
        .withColumn("viol_too_few_words", n_words < F.lit(min_words))
        .withColumn("viol_too_many_words", n_words > F.lit(max_words))
        .withColumn(
            "viol_mean_word_len",
            (mean_len < F.lit(min_mean_word_len)) | (mean_len > F.lit(max_mean_word_len)),
        )
        .withColumn("viol_symbol_ratio", symbol_ratio > F.lit(max_symbol_word_ratio))
        .withColumn("viol_bullet_lines", bullet_frac > F.lit(max_bullet_line_frac))
        .withColumn("viol_ellipsis_lines", ellipsis_frac > F.lit(max_ellipsis_line_frac))
        .withColumn("viol_alpha_words", alpha_frac < F.lit(min_alpha_word_frac))
        .withColumn(
            "viol_stopwords", n_req_stop < F.lit(min_required_stopwords)
        )
        .withColumn(
            "gopher_keep",
            ~(
                F.col("viol_too_few_words")
                | F.col("viol_too_many_words")
                | F.col("viol_mean_word_len")
                | F.col("viol_symbol_ratio")
                | F.col("viol_bullet_lines")
                | F.col("viol_ellipsis_lines")
                | F.col("viol_alpha_words")
                | F.col("viol_stopwords")
            ),
        )
    )


def gopher_oracle_snippets() -> dict[str, str]:
    """DuckDB-dialect twins of :func:`gopher_rules`'s signal expressions —
    keep formula-identical (same tokenizer, same replace-shrink counts,
    same line splitting on chr(10))."""
    tk = "string_split(text, ' ')"
    n_words = f"len({tk})"
    mean_len = f"((length(text) * 1.0 - ({n_words} - 1)) / {n_words})"
    n_hash = "(length(text) - length(replace(text, '#', '')))"
    n_dots = "((length(text) - length(replace(text, '...', ''))) / 3)"
    n_hellip = "(length(text) - length(replace(text, chr(8230), '')))"
    symbol_ratio = f"(({n_hash} + {n_dots} + {n_hellip}) * 1.0 / {n_words})"
    lines = "string_split(text, chr(10))"
    n_lines = f"len({lines})"
    bullet_frac = (
        f"(len(list_filter({lines}, l -> regexp_matches(ltrim(l), "
        f"'^[-*' || chr(8226) || chr(8227) || chr(9642) || ']'))) * 1.0 / {n_lines})"
    )
    ellipsis_frac = (
        f"(len(list_filter({lines}, l -> ends_with(rtrim(l), '...') "
        f"OR ends_with(rtrim(l), chr(8230)))) * 1.0 / {n_lines})"
    )
    alpha_frac = (
        f"(len(list_filter({tk}, t -> regexp_matches(t, '[A-Za-z]'))) * 1.0 / {n_words})"
    )
    sw = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    n_req_stop = f"len(list_filter(list_distinct({tk}), t -> t IN ({sw})))"
    return {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "mean_word_len": mean_len,
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "n_required_stopwords": f"CAST({n_req_stop} AS BIGINT)",
    }


def corpus_quality_gate(
    docs,
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_quality: float = 0.3,
    require_english: bool = True,
    max_dup_token_fraction: float = 0.5,
    max_top_bigram_fraction: float = 0.3,
) -> "DataFrame":
    """One-pass corpus admission gate composing the quality vocabulary
    above (length bounds, heuristic quality score, language ID, Gopher
    repetition signals) into ``keep``/``reject_reasons`` columns — the
    single entry point a filtering pipeline wants, with the WHY preserved
    per document (reasons, not just a boolean, is what makes threshold
    tuning and ablations possible downstream).

    Pure column expressions end to end: zero shuffle, zero Python — at
    100 TB this is a map-only scan that AQE never has to think about.
    """
    tk = tokens(text_col)
    n = token_count(text_col)
    checks = [
        (n < F.lit(min_tokens), "too_short"),
        (n > F.lit(max_tokens), "too_long"),
        (quality_score(text_col) < F.lit(min_quality), "low_quality"),
        (dup_token_fraction(text_col) > F.lit(max_dup_token_fraction), "repetitive_tokens"),
        (top_bigram_fraction(tk) > F.lit(max_top_bigram_fraction), "repetitive_bigrams"),
    ]
    if require_english:
        checks.append((langid_en(text_col) != F.lit("en"), "not_english"))
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(label)).otherwise(F.lit(None)) for cond, label in checks]),
        lambda x: x.isNotNull(),
    )
    return docs.withColumn("reject_reasons", reasons).withColumn(
        "keep", F.size("reject_reasons") == 0
    )
