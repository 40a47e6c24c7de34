"""DSIR-style importance scoring for training-data selection
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling", arXiv:2302.03169) — score every candidate document by how
target-like its hashed n-gram profile is, then keep the top fraction.

Scale shape:

- **Model training is one distributed pass per corpus**: explode word uni-
  and bigrams, hash each into ``num_buckets`` (driver-bounded — DSIR uses
  10^4), ONE partial-agg shuffle of (bucket, count), collect the bounded
  bucket vector. The model is a ``num_buckets`` float array, never the
  corpus.
- **Scoring is row-local**: per document, sum ``log p_target(b) -
  log p_background(b)`` over its gram buckets. Small models inline as ONE
  array literal (``schema.array_lit``: one ``Literal`` node, built in 8
  py4j calls instead of several per bucket), read by an interpreted
  higher-order fold (``aggregate`` is not whole-stage codegen'd); large
  models ship once as a numpy broadcast into an Arrow ``mapInPandas`` —
  the same literal/Arrow auto-selection as the ANN codebook. Zero shuffle
  in both paths.
- **Selection** keeps the top fraction by (score DESC, id ASC) — a
  deterministic variant of DSIR's Gumbel resampling (ranking by score is
  the zero-temperature limit) — as a threshold FILTER: the k-th (score,
  id) comes from a quantile-bracketed probe over a persisted 16-byte/row
  projection (:func:`topk_threshold_filter`), so the selected slice keeps
  the corpus's partitioning; no global sort-limit.

Hashing and smoothing are fixed (xxhash64, add-one over bucket totals) so
Spark and the pure-Python reference agree bit-for-bit on the same text.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhousedatamocker_spark.schema import array_lit

# above this bucket count the score lookup switches from one array literal
# to an Arrow broadcast. The literal is one Literal node built in 8 py4j
# calls whatever its length (schema.array_lit), so neither the expression
# tree nor the build grows with the model; the bound is the literal's copy
# serialized into every task
_LITERAL_MODEL_MAX = 16_384


def _gram_buckets(text_col: str | Column, num_buckets: int) -> Column:
    """Array of hashed uni+bigram bucket ids for a document (word-level,
    whitespace split — DSIR's feature space). Pure column expressions."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(F.split(c, r"\s+"), lambda w: w != F.lit(""))
    unis = F.transform(words, lambda w: F.pmod(F.xxhash64(w), F.lit(num_buckets)))
    bis = F.when(
        F.size(words) >= 2,
        F.transform(
            F.slice(words, 1, F.size(words) - 1),
            lambda w, i: F.pmod(
                F.xxhash64(F.concat_ws(" ", w, F.element_at(words, i + 2))),
                F.lit(num_buckets),
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.concat(unis, bis)


# positional-ascii word hash: prime-weighted codepoints of the first 3 and
# last 2 characters plus the length, mod the shared 30-bit prime. O(1) per
# word and PURE NUMERIC — no string allocation (a per-character rolling
# fold made xengine DSIR ~20x slower than xxhash64; an md5+conv round-trip
# was still ~5x). Both engines evaluate ascii()/substr()/right()
# identically (ascii('') == 0 in both). Systematic collisions (words
# sharing prefix-3, suffix-2 and length, e.g. present/prevent) are part of
# the hashed-model scheme — DSIR buckets collide by design.
_WH_PRIMES = (131, 1009, 7919, 104_729, 1_299_709, 15_485_863)


def _pos_ascii_hash(c: Column):
    from clickhousedatamocker_spark.operators.dedup import _XP

    p1, p2, p3, p4, p5, p6 = _WH_PRIMES
    return (
        F.ascii(F.substring(c, 1, 1)) * p1
        + F.ascii(F.substring(c, 2, 1)) * p2
        + F.ascii(F.substring(c, 3, 1)) * p3
        + F.ascii(F.right(c, F.lit(1))) * p4
        + F.ascii(F.right(c, F.lit(2)).substr(1, 1)) * p5
        + F.length(c) * p6
    ).cast("long") % F.lit(_XP)


def _pos_ascii_hash_duckdb(expr: str) -> str:
    """The identical hash as a DuckDB SQL expression."""
    from clickhousedatamocker_spark.operators.dedup import _XP

    p1, p2, p3, p4, p5, p6 = _WH_PRIMES
    return (
        f"(CAST(ascii(substr({expr}, 1, 1)) AS BIGINT) * {p1} "
        f"+ ascii(substr({expr}, 2, 1)) * {p2} "
        f"+ ascii(substr({expr}, 3, 1)) * {p3} "
        f"+ ascii(right({expr}, 1)) * {p4} "
        f"+ ascii(substr(right({expr}, 2), 1, 1)) * {p5} "
        f"+ length({expr}) * {p6}) % {_XP}"
    )


def _with_gram_buckets(
    df: DataFrame,
    text_col: str,
    num_buckets: int,
    out_col: str,
    use_xengine_hash: bool,
) -> DataFrame:
    """Add ``out_col`` = the doc's gram-bucket array. The word array
    materializes in its own projection, and the bigram combine is a
    ``zip_with`` against a shifted slice — NEVER an ``element_at(arr,
    i+2)`` index lambda: the optimizer inlines the array expression
    straight through explode projections (CollapseProject + Generate
    pushdown), and an index lookup into an inlined ``transform``
    re-evaluates the whole word-hash array per bigram element — O(words^2)
    hashing per document (measured 6x at sf0.1, and the reason the first
    xengine cut took 227 s at sf1 in the scale smoke). zip_with stays
    linear even when the array expression gets duplicated."""
    from clickhousedatamocker_spark.operators.dedup import _XA, _XP

    c = F.col(text_col)
    empty = F.array().cast("array<bigint>")

    def bigram_cat(arr, combine):
        shifted = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
        pairs = F.zip_with(arr, shifted, combine)  # last element pairs NULL
        return F.when(F.size(arr) >= 2, F.slice(pairs, 1, F.size(arr) - 1)).otherwise(empty)

    if use_xengine_hash:
        words = F.filter(F.split(c, " "), lambda w: w != F.lit(""))
        df = df.withColumn("__dsir_wh", F.transform(words, _pos_ascii_hash))
        wh = F.col("__dsir_wh")
        unis = F.transform(wh, lambda h: F.pmod(h, F.lit(num_buckets)))
        bis = bigram_cat(
            wh,
            lambda a, b: F.pmod((a * F.lit(_XA) + b) % F.lit(_XP), F.lit(num_buckets)),
        )
        return df.withColumn(out_col, F.concat(unis, bis)).drop("__dsir_wh")
    df = df.withColumn(
        "__dsir_words", F.filter(F.split(c, r"\s+"), lambda w: w != F.lit(""))
    )
    words = F.col("__dsir_words")
    unis = F.transform(words, lambda w: F.pmod(F.xxhash64(w), F.lit(num_buckets)))
    bis = bigram_cat(
        words,
        lambda a, b: F.pmod(F.xxhash64(F.concat_ws(" ", a, b)), F.lit(num_buckets)),
    )
    return df.withColumn(out_col, F.concat(unis, bis)).drop("__dsir_words")


def train_hashed_ngram_model(
    docs: DataFrame,
    text_col: str = "text",
    num_buckets: int = 8192,
    use_xengine_hash: bool = False,
) -> list[float]:
    """Hashed-ngram probability model of a corpus: ``num_buckets`` floats,
    add-one smoothed so every bucket has nonzero mass. One shuffle of
    (bucket, count) rows; the result is driver-bounded model state.
    ``use_xengine_hash`` swaps xxhash64 for the DuckDB-recomputable
    positional-ascii family (oracle grading)."""
    counts = (
        _with_gram_buckets(
            docs.select(F.col(text_col)), text_col, num_buckets, "__b", use_xengine_hash
        )
        .select(F.explode(F.col("__b")).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_bucket = {r["b"]: r["c"] for r in counts}
    total = sum(by_bucket.values()) + num_buckets  # add-one over all buckets
    return [(by_bucket.get(i, 0) + 1) / total for i in range(num_buckets)]


def dsir_score(
    docs: DataFrame,
    target_model: list[float],
    background_model: list[float],
    text_col: str = "text",
    out_col: str = "importance",
    use_xengine_hash: bool = False,
) -> DataFrame:
    """Add ``out_col`` = sum over the doc's gram buckets of
    ``log(p_target(b)) - log(p_background(b))`` — DSIR's log importance
    weight. Row-local; literal/Arrow auto-selected on model size."""
    if len(target_model) != len(background_model):
        raise ValueError("target and background models need the same bucket count")
    num_buckets = len(target_model)
    logratio = [
        math.log(t) - math.log(b) for t, b in zip(target_model, background_model)
    ]
    if num_buckets <= _LITERAL_MODEL_MAX:
        lr = array_lit(logratio)
        return (
            _with_gram_buckets(docs, text_col, num_buckets, "__dsir_b", use_xengine_hash)
            .withColumn(
                out_col,
                F.aggregate(
                    F.col("__dsir_b"),
                    F.lit(0.0),
                    lambda acc, b: acc + F.element_at(lr, b.cast("int") + 1),
                ),
            )
            .drop("__dsir_b")
        )
    # large-model Arrow path: hashing stays JVM-side (the __b projection —
    # identical buckets to the literal path by construction); Python only
    # does the bounded lookup-sum against the broadcast logratio vector
    import numpy as np
    import pandas as pd

    with_b = _with_gram_buckets(docs, text_col, num_buckets, "__b", use_xengine_hash)
    out_schema = T.StructType(docs.schema.fields + [T.StructField(out_col, T.DoubleType())])
    bc = docs.sparkSession.sparkContext.broadcast(np.asarray(logratio, dtype=np.float64))

    def score(batches):
        LR = bc.value
        for pdf in batches:
            # None buckets (NULL text) stay None — the literal path's
            # aggregate over a NULL array yields NULL, and both paths must
            # agree regardless of bucket count
            vals = [
                None if b is None else (float(LR[np.asarray(b, dtype=np.int64)].sum()) if len(b) else 0.0)
                for b in pdf["__b"]
            ]
            pdf = pdf.drop(columns=["__b"])
            # nullable Float64, not float64: None must arrive as SQL NULL
            # (plain float dtype would coerce it to NaN, which Spark keeps
            # as NaN — diverging from the literal path's NULL)
            pdf[out_col] = pd.Series(vals, index=pdf.index, dtype="Float64")
            yield pdf

    return with_b.mapInPandas(score, out_schema)


def topk_threshold_filter(
    df: DataFrame,
    score_col: str | Column,
    id_col: str,
    k: int,
    n_rows: int | None = None,
    bracket_error: float = 1e-4,
) -> DataFrame:
    """The rows ranking in the top ``k`` by (score DESC, id ASC) — as a
    map-only FILTER instead of a global ``orderBy().limit(k)``.

    A sort-limit materializes the selection as ONE partition
    (TakeOrderedAndProject merges per-partition top-k into a single
    output), so every downstream stage over the selected slice runs
    serially — measured 3× on the composed pipeline at sf0.1, and at
    100 TB a single task holding half the corpus is fatal. The r11 shape
    probed the k-th element with an exact ``orderBy().limit(k)`` over a
    16-byte projection — per-partition top-k, then ONE reducer merging k
    rows, which with k ≈ n/2 is itself an O(n) single task at scale. The
    probe is now quantile-BRACKETED (guide §2.4): ``approxQuantile`` with
    relative error ``bracket_error`` lands a pivot within ε·n ranks of
    the k-th element, one narrow aggregate counts the pivot's exact rank
    band, and only the ≤ ε·n + 1 residual rows between pivot and true
    threshold flow through a bounded TakeOrdered — at ε = 1e-4 and
    10^11 rows that is a 10^7-row probe instead of a 5·10^10-row funnel.
    The result is still EXACT: the counts pin which side of the pivot the
    k-th element is on, and the residual probe resolves it precisely.

    Internally the order (score DESC, id ASC) is re-expressed as plain
    ascending (−score, id), so min/max struct aggregates need no negation
    of the id — the tie-break id keeps its own type end to end (a string
    id would previously have been cast by ``-id``).

    NULL scores sort last (Spark's DESC default) in both forms: the
    threshold pass coalesces NULL to −inf (probe key +inf), which no
    finite score ties. NaN scores rank first, like Spark's DESC (NaN is
    the largest double in Spark's total order).

    ``n_rows``: ``df``'s exact row count if the caller already has it
    (every current call site does) — skips one counting pass.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    key = F.coalesce(s.cast("double"), F.lit(float("-inf")))
    # ns = the DESCENDING rank key, ascending: smaller ns = better row.
    # NaN maps to -inf explicitly (plain negation would leave it NaN =
    # largest = WORST, flipping Spark's NaN-first DESC order).
    ns = F.when(F.isnan(key), F.lit(float("-inf"))).otherwise(-key)
    # persist the NARROW probe (16 bytes/row): the bracketed scan makes up
    # to three passes (quantile sketch, rank counts, residual), and
    # without materialization EACH pass would re-evaluate the caller's
    # scoring expression over the full input — measured 3× the whole
    # query's cost when the score is a 4096-bucket DSIR lookup. One
    # evaluation, cheap cached re-reads, and an EXPLICIT unpersist before
    # returning (the threshold is already extracted to driver literals by
    # then; a localCheckpoint was tried first and leaked blocks across
    # repeated runs — the operator has a clear cache lifecycle, so persist
    # + unpersist is the right tool).
    probe = df.select(ns.alias("__ns"), F.col(id_col).alias("__i")).persist()
    try:
        n = n_rows if n_rows is not None else probe.count()
        if n == 0 or k >= n:
            return df  # the whole input ranks in the top-k
        eps = bracket_error
        # pivot within eps*n ranks of the k-th smallest (__ns, __i)
        a0 = probe.approxQuantile("__ns", [k / n], eps)[0]
        # one aggregate pins the pivot's exact rank band AND the smallest/
        # largest id among its score ties — with a near-exact pivot
        # (eps*n < 1 at fixture n) the k-th element usually IS a tie-group
        # boundary, so these two extra columns let the common case skip the
        # residual probe job entirely
        cnt = probe.agg(
            F.sum((F.col("__ns") < a0).cast("long")).alias("lt"),
            F.sum((F.col("__ns") <= a0).cast("long")).alias("le"),
            F.min(F.when(F.col("__ns") == a0, F.col("__i"))).alias("mn"),
            F.max(F.when(F.col("__ns") == a0, F.col("__i"))).alias("mx"),
        ).first()
        c_lt, c_le = int(cnt["lt"] or 0), int(cnt["le"] or 0)
        pair = F.struct(F.col("__ns").alias("ns"), F.col("__i").alias("i"))
        if k <= c_lt:
            # k-th smallest lies strictly below the pivot: it is the
            # (c_lt - k + 1)-th largest there — a bounded (<= eps*n + 1 rows)
            # per-partition TakeOrdered, then the min of that set
            m = c_lt - k + 1
            t = (
                probe.filter(F.col("__ns") < a0)
                .orderBy(F.desc("__ns"), F.desc("__i"))
                .limit(m)
                .agg(F.min(pair).alias("t"))
                .first()["t"]
            )
            ts_ns, tid = t["ns"], t["i"]
        elif k <= c_le:
            # threshold score is exactly the pivot; the k-th element is the
            # (k - c_lt)-th smallest id among the score ties (ids unique).
            # Tie-group boundaries come free from the counts aggregate.
            ts_ns = a0
            j, n_ties = k - c_lt, c_le - c_lt
            if j == 1:
                tid = cnt["mn"]
            elif j == n_ties:
                tid = cnt["mx"]
            else:
                tid = _kth_id_among_ties(
                    probe.filter(F.col("__ns") == a0), j, n_ties, eps, n
                )
        else:
            # k-th smallest lies strictly above the pivot: the (k - c_le)-th
            # smallest there (<= eps*n rows by the quantile's rank guarantee)
            m = k - c_le
            t = (
                probe.filter(F.col("__ns") > a0)
                .orderBy(F.asc("__ns"), F.asc("__i"))
                .limit(m)
                .agg(F.max(pair).alias("t"))
                .first()["t"]
            )
            ts_ns, tid = t["ns"], t["i"]
        # the returned filter references `key` (not `ns`): predicate pushdown
        # substitutes the caller's scoring expression once PER REFERENCE, and
        # `ns` holds key twice internally (isnan + negation) — expressing the
        # cut on key directly halves the per-row scoring evaluations in the
        # filter stage (measured 2× on the DSIR profile's final pass). ts is
        # the un-negated threshold; NaN scores satisfy `key > ts` (Spark's
        # NaN-is-largest total order), matching the DESC NaN-first rank the
        # probe gave them.
        ts = -ts_ns
        return df.filter((key > ts) | ((key == ts) & (F.col(id_col) <= tid)))
    finally:
        probe.unpersist()


def _kth_id_among_ties(ties: DataFrame, j: int, n_ties: int, eps: float, n: int):
    """The ``j``-th smallest ``__i`` among ``n_ties`` score-tied rows.

    Common case (a handful of ties): one bounded limit probe from the
    cheaper end. Degenerate case (a huge tie plateau whose cut lands far
    from both ends): bracket the id itself with ``approxQuantile`` first,
    so no probe exceeds ~eps*n rows — possible only for numeric ids
    (every current call site); non-numeric ids fall back to the cheaper-
    end probe, which is exact but unbounded on pathological plateaus.
    ``approxQuantile`` returns a double; an integral id is compared against
    that pivot rounded to an integer (2^63 clamped to the long range), since
    a double pivot would compare rounded ids once they pass 2^53.
    """
    budget = max(4096, int(eps * n) + 1)
    j_rev = n_ties - j + 1  # rank from the top end
    if min(j, j_rev) > budget:
        try:
            pivot = ties.approxQuantile("__i", [j / n_ties], eps)[0]
        except Exception:  # non-numeric id: documented fallback below
            pivot = None
        if pivot is not None and isinstance(ties.schema["__i"].dataType, T.IntegralType):
            pivot = min(round(pivot), 2**63 - 1)
        if pivot is not None:
            c = ties.agg(
                F.sum((F.col("__i") < pivot).cast("long")).alias("lt"),
                F.sum((F.col("__i") <= pivot).cast("long")).alias("le"),
            ).first()
            i_lt, i_le = int(c["lt"] or 0), int(c["le"] or 0)
            if j <= i_lt:
                return (
                    ties.filter(F.col("__i") < pivot)
                    .orderBy(F.desc("__i"))
                    .limit(i_lt - j + 1)
                    .agg(F.min("__i"))
                    .first()[0]
                )
            if j > i_le:
                return (
                    ties.filter(F.col("__i") > pivot)
                    .orderBy(F.asc("__i"))
                    .limit(j - i_le)
                    .agg(F.max("__i"))
                    .first()[0]
                )
            # ids are unique, so i_lt < j <= i_le pins the pivot row itself;
            # return the id column's native value, not the float pivot
            return ties.filter(F.col("__i") <= pivot).agg(F.max("__i")).first()[0]
    if j <= j_rev:
        return ties.orderBy(F.asc("__i")).limit(j).agg(F.max("__i")).first()[0]
    return ties.orderBy(F.desc("__i")).limit(j_rev).agg(F.min("__i")).first()[0]


def dsir_select(
    docs: DataFrame,
    target_model: list[float],
    background_model: list[float],
    keep_fraction: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the ``keep_fraction`` most target-like documents by DSIR score
    (score DESC, id ASC — deterministic zero-temperature resampling).
    Selection is a threshold FILTER (k-th score found from a quantile-
    bracketed probe over a narrow 16-byte/row projection), not a global
    sort-limit: the selected slice keeps the corpus's partitioning instead
    of collapsing to one partition — see :func:`topk_threshold_filter`."""
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError("keep_fraction must be in (0, 1]")
    scored = dsir_score(docs, target_model, background_model, text_col)
    # floor(x + 0.5), not Python round(): round() is banker's (round(2.5)
    # == 2) while the DuckDB oracle's round() is half-away-from-zero — the
    # established double->int discipline (queries/base.py). Diverges only
    # when count * fraction lands on an exact .5.
    n = docs.count()
    k = max(1, int(math.floor(n * keep_fraction + 0.5)))
    # scoring is row-preserving, so the corpus count doubles as n_rows
    return topk_threshold_filter(scored, "importance", id_col, k, n_rows=n)


def train_hashed_ngram_model_pair(
    docs: DataFrame,
    target_cond: Column,
    text_col: str = "text",
    num_buckets: int = 8192,
    use_xengine_hash: bool = False,
) -> tuple[list[float], list[float]]:
    """Target AND background models from ONE gram pass / ONE shuffle —
    the standard DSIR setup scores against a target SLICE of the same
    corpus, so training them separately tokenizes and shuffles the corpus
    twice for counts one aggregation can produce (count + conditional
    count per bucket). Returns (target_model, background_model), value-
    identical to two :func:`train_hashed_ngram_model` calls."""
    counts = (
        _with_gram_buckets(
            docs.select(F.col(text_col), target_cond.alias("__t")),
            text_col,
            num_buckets,
            "__b",
            use_xengine_hash,
        )
        .select(F.explode(F.col("__b")).alias("b"), "__t")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("bg"),
            F.count_if(F.col("__t")).alias("tg"),
        )
        .collect()
    )
    bg = {r["b"]: r["bg"] for r in counts}
    tg = {r["b"]: r["tg"] for r in counts}
    bg_total = sum(bg.values()) + num_buckets
    tg_total = sum(tg.values()) + num_buckets
    target = [(tg.get(i, 0) + 1) / tg_total for i in range(num_buckets)]
    background = [(bg.get(i, 0) + 1) / bg_total for i in range(num_buckets)]
    return target, background
