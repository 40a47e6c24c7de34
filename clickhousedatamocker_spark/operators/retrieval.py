"""BM25 keyword retrieval over a document corpus (SURVEY §2.4 Tier B).

The training-data-pipeline search primitive the other operators lean on
informally: decontamination spot-checks ("which training docs mention this
benchmark question?"), dedup debugging, targeted corpus audits. Okapi BM25
(Robertson & Walker 1994; the Robertson–Spärck Jones idf in its standard
``ln(1 + (N - df + 0.5)/(df + 0.5))`` smoothing) over the engine's
whitespace tokenizer, so scores are formula-identical to a DuckDB twin.

Scale design (100 TB corpus, ~10-term queries):

- **Postings build** (:func:`bm25_postings`): per-doc length is a row-local
  expression; the (doc, term, tf) relation is ONE explode + partial-agg
  shuffle on (doc_id, term). Corpus constants (N, avgdl) are one tiny
  global aggregate — two driver scalars, not data.
- **Search** (:func:`bm25_search`): the query is tokenized on the driver
  (it is a literal string); postings are filtered with a pushed-down
  ``term IN (...)`` — the scan prunes to the query's terms before anything
  shuffles. Per-term document frequencies aggregate over that filtered
  sliver (rows ≈ sum of the query terms' df, not the corpus), scores
  reduce by doc_id, and the top-k is a ``TakeOrderedAndProject``.
- **Persisted index** (:func:`build_bm25_index` / :func:`bm25_query_indexed`):
  postings land partitioned by ``bucket = pmod(hash(term), n_buckets)`` with
  (N, avgdl, n_buckets) in a JSON sidecar; a query computes its terms'
  buckets on the driver and reads ONLY those partition directories
  (PartitionFilters, pinned by test) — the 100 TB index serves a query by
  touching a handful of buckets, the retrieval analog of the persisted
  IVF-ANN layout in operators/similarity.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhousedatamocker_spark.operators.text_analysis import tokens
from clickhousedatamocker_spark.schema import array_lit


def _postings_and_counts(
    docs: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, int, int]:
    """(postings, n_docs, total_dl): the shared build primitive. total_dl
    is the EXACT integer token-count sum, so index increments can merge
    corpus stats losslessly (avgdl = total_dl / n_docs reconstructs the
    one-shot double exactly — both are the same sum/count division)."""
    from clickhousedatamocker_spark.operators.parallelism import (
        ensure_scan_parallelism,
    )

    # unsplittable-input guard (guide §2.5): both the postings explode and
    # the corpus-stats pass tokenize every document — serialized on one
    # task when the source is a single file. Repartitioning BY DOC keeps
    # each document's (doc, term) rows in one map partition, so the
    # per-doc float score sums downstream stay single-partial and
    # deterministic exactly as in the unsplit layout.
    docs = ensure_scan_parallelism(docs, key=id_col)
    tok = F.filter(tokens(text_col), lambda t: t != "")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tok).alias("term"),
        F.size(tok).cast("long").alias("dl"),
    )
    postings = base.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf"), F.first("dl").alias("dl")
    )
    stats = docs.select(
        F.count("*").cast("long").alias("n"),
        F.sum(F.size(F.filter(tokens(text_col), lambda t: t != "")).cast("long")).alias("tot"),
    ).first()
    return postings, int(stats["n"]), int(stats["tot"] or 0)


def bm25_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, int, float]:
    """(postings, n_docs, avgdl): postings = one row per (doc, term) with
    term frequency ``tf`` and the doc's token length ``dl``.

    Empty-string tokens (doubled spaces) are dropped so ``dl`` and the
    DuckDB twin count identically. One shuffle; N/avgdl are driver scalars.
    """
    postings, n, tot = _postings_and_counts(docs, text_col, id_col)
    return postings, n, tot / n if n else 0.0


def _score(n_docs: int, avgdl: float, k1: float, b: float):
    """BM25 term score as a column expression over (tf, dl, df)."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    return idf * tf * F.lit(k1 + 1.0) / (tf + norm)


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 score for a literal query string.

    Deterministic tie-break on doc_id. Repeated query terms are scored
    once (set semantics — standard BM25 over the query's term SET).
    """
    terms = sorted(set(t for t in query.split(" ") if t))
    if not terms:
        raise ValueError("bm25_search: query has no tokens")
    postings, n_docs, avgdl = bm25_postings(docs, text_col, id_col)
    hits = postings.filter(F.col("term").isin(terms))
    df_t = hits.groupBy("term").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    scored = hits.join(F.broadcast(df_t), "term").select(
        "doc_id", _score(n_docs, avgdl, k1, b).alias("s")
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s").alias("score"))
        .select("doc_id", F.round(F.col("score"), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


def bm25_oracle_sql(
    query: str, k: int = 10, k1: float = 1.2, b: float = 0.75, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`bm25_search` — same tokenizer (space split,
    empties dropped), same idf smoothing, ROUND(...,6) like the Spark side."""
    terms = sorted(set(t for t in query.split(" ") if t))
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id, u.term, count(*) AS tf,
         any_value(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS dl
  FROM {table}, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
       AS u(term)
  GROUP BY doc_id, u.term
), corpus AS (
  SELECT count(*) AS n,
         avg(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS avgdl
  FROM {table}
), hits AS (
  SELECT * FROM tok WHERE term IN ({inlist})
), dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term
)
SELECT doc_id,
       ROUND(SUM(
         ln(1 + (corpus.n - dfs.df + 0.5) / (dfs.df + 0.5))
         * hits.tf * ({k1} + 1)
         / (hits.tf + {k1} * (1 - {b} + {b} * hits.dl / corpus.avgdl))
       ), 6) AS score
FROM hits JOIN dfs USING (term) CROSS JOIN corpus
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {k}
"""


def build_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> dict:
    """Persist the postings partitioned by term-hash bucket; returns the
    sidecar stats. Build cost is the corpus explode paid ONCE; every
    query afterwards partition-prunes to its terms' buckets."""
    postings, n_docs, total_dl = _postings_and_counts(docs, text_col, id_col)
    (
        postings.withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    meta = {
        "n_docs": n_docs,
        "avgdl": total_dl / n_docs if n_docs else 0.0,
        "total_dl": total_dl,
        "n_buckets": n_buckets,
    }
    with open(os.path.join(path, "_bm25_meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def bm25_index_add(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    auto_compact_at: int | None = None,
) -> dict:
    """Incrementally add documents to a :func:`build_bm25_index` directory —
    the maintenance path that makes steady-state corpus growth O(batch)
    instead of a full postings rebuild (the ANN analog is
    ``similarity.ann_index_add``).

    The batch's postings APPEND into the same term-hash bucket partitions
    (only the batch is exploded/shuffled; existing bucket files are never
    rewritten), and the sidecar merges losslessly: n_docs adds, total_dl
    (exact integer token sum) adds, avgdl = total_dl / n_docs — identical
    to the one-shot value because both are the same sum/count division.
    df needs no sidecar at all: it aggregates at query time over the hit
    postings, so appended rows update it by construction. Increment ==
    one-shot identity is pinned by test.

    Caller contract: ids in ``new_docs`` must be new (re-adding a doc would
    double its postings — same contract as ann_index_add).

    ``auto_compact_at``: when set, run ``index_maint.optimize_index`` after
    the append if any bucket's file count reached the threshold — bounds
    steady-state read amplification without a separate maintenance job
    (compaction cost amortizes over the ~threshold appends between passes).
    """
    if auto_compact_at is not None and auto_compact_at < 2:
        # validate BEFORE any side effect: raising after the append +
        # sidecar rewrite would invite a retry that doubles the batch's
        # postings (the 'ids must be new' corruption)
        raise ValueError(f"auto_compact_at must be >= 2, got {auto_compact_at}")
    meta_path = os.path.join(path, "_bm25_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    postings, n_new, dl_new = _postings_and_counts(new_docs, text_col, id_col)
    (
        postings.withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(meta["n_buckets"])))
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )
    meta["n_docs"] += n_new
    meta["total_dl"] = int(meta.get("total_dl", round(meta["avgdl"] * (meta["n_docs"] - n_new)))) + dl_new
    meta["avgdl"] = meta["total_dl"] / meta["n_docs"] if meta["n_docs"] else 0.0
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    if auto_compact_at is not None:
        _maybe_compact(spark, path, auto_compact_at)
    return meta


def _maybe_compact(spark, path: str, threshold: int) -> None:
    """Compact the index iff some leaf directory reached ``threshold``
    parquet files (driver-side listing — cheap enough to run per append)."""
    from clickhousedatamocker_spark.operators.index_maint import (
        _IndexFS,
        _leaf_data_dirs,
        _parquet_files,
        optimize_index,
    )

    if threshold < 2:  # defense in depth; the add paths validate pre-write
        raise ValueError(f"auto_compact_at must be >= 2, got {threshold}")
    fs = _IndexFS(spark, path)
    if any(len(_parquet_files(fs, d)) >= threshold for d in _leaf_data_dirs(fs, path)):
        optimize_index(spark, path)


def bm25_index_delete(spark, path: str, doc_ids) -> int:
    """Tombstone documents out of a BM25 index (takedowns / re-crawls —
    round-7 verdict task 5): O(batch) append to ``<path>/.tombstones``,
    no index rewrite. :func:`bm25_query_indexed` anti-joins them out
    immediately; the next ``index_maint.optimize_index`` drops their
    postings physically and clears the tombstones. ``doc_ids`` is an
    iterable of ids or a 1-column DataFrame; returns the count written."""
    from clickhousedatamocker_spark.operators.index_maint import write_tombstones

    return write_tombstones(spark, path, doc_ids, "doc_id")


def bm25_index_stats(spark, path: str) -> "DataFrame":
    """Per-bucket (n_postings, n_files) for a :func:`build_bm25_index`
    directory — the small-file monitor for :func:`bm25_index_add` growth;
    compact with ``index_maint.optimize_index`` when n_files climbs."""
    from clickhousedatamocker_spark.operators.index_maint import _with_file_counts

    rows = (
        spark.read.parquet(path)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_postings"))
    )
    return _with_file_counts(spark, path, rows, "bucket").orderBy("bucket")


def _buckets_of(spark, terms: list[str], n_buckets: int) -> list[int]:
    """xxhash64 buckets for the query terms, evaluated by the SAME engine
    expression the writer used. One constant-folded driver-side query per
    SEARCH (not per term) — kept JVM-side so a Python hash implementation
    can never drift from the write path."""
    row = spark.sql(
        "SELECT "
        + ", ".join(
            f"pmod(xxhash64({json.dumps(t)}), {n_buckets}) AS b{i}"
            for i, t in enumerate(terms)
        )
    ).first()
    return list(row)


def bm25_query_indexed(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Serve a BM25 query from a :func:`build_bm25_index` directory,
    reading only the query terms' bucket partitions (plan shows
    PartitionFilters on ``bucket`` — pinned by test). Crash artifacts from
    an interrupted compaction self-heal first; documents tombstoned by
    :func:`bm25_index_delete` are excluded (df recomputes without them;
    the n_docs/avgdl constants stay as-built until the next
    ``optimize_index`` purges — deletion mass is assumed small between
    compactions)."""
    from clickhousedatamocker_spark.operators.index_maint import (
        exclude_tombstoned,
        recover_index,
    )

    recover_index(spark, path)
    with open(os.path.join(path, "_bm25_meta.json")) as fh:
        meta = json.load(fh)
    terms = sorted(set(t for t in query.split(" ") if t))
    if not terms:
        raise ValueError("bm25_query_indexed: query has no tokens")
    buckets = sorted(set(_buckets_of(spark, terms, meta["n_buckets"])))
    hits = (
        spark.read.parquet(path)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    hits = exclude_tombstoned(spark, path, hits, "doc_id")
    df_t = hits.groupBy("term").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    scored = hits.join(F.broadcast(df_t), "term").select(
        "doc_id", _score(meta["n_docs"], meta["avgdl"], k1, b).alias("s")
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s").alias("score"))
        .select("doc_id", F.round(F.col("score"), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of keyword + vector rankings
# (Cormack, Clarke & Buettcher 2009, "Reciprocal rank fusion outperforms
# Condorcet and individual rank learning methods", SIGIR).


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    weights: list[float] | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Fuse ranked candidate lists by reciprocal rank:
    ``rrf = Σ_i w_i / (k_rrf + rank_i)`` over the lists containing the doc
    (a doc missing from a list contributes nothing — standard RRF).

    → (id_col, rrf_score, n_lists, rank), rank 1-based by
    (rrf_score DESC, id ASC). Scale: one union + ONE aggregation over the
    CANDIDATE rows only (Σ list depths, never the corpus); the final rank
    window runs over that bounded fused set.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if weights is None:
        weights = [1.0] * len(rankings)
    if len(weights) != len(rankings):
        raise ValueError("rrf_fuse: one weight per ranking")
    parts = [
        r.select(
            F.col(id_col),
            (F.lit(float(w)) / (F.lit(float(k_rrf)) + F.col(rank_col).cast("double"))).alias(
                "__contrib"
            ),
        )
        for r, w in zip(rankings, weights)
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    fused = unioned.groupBy(id_col).agg(
        F.round(F.sum("__contrib"), 9).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    out = fused.withColumn("rank", F.row_number().over(w_rank))
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out


def cosine_rank(
    embeddings: DataFrame,
    query_vec: list[float],
    depth: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "doc_id",
) -> DataFrame:
    """Top-``depth`` rows by cosine to a LITERAL query vector →
    (out_id, cosine, rank). The score projection is row-local over the
    corpus (zero shuffle before the top-k); the rank window runs on the
    ≤ depth rows that survive the TakeOrderedAndProject. Cosine is
    rounded to 6 before ranking — the cross-engine rank-stability
    discipline used by every graded float ordering."""
    from pyspark.sql import Window

    from clickhousedatamocker_spark.operators.similarity import as_double, cosine

    qv = array_lit(query_vec)
    scored = (
        embeddings.select(
            F.col(id_col).alias(out_id),
            F.round(cosine(as_double(vec_col), qv), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(out_id))
        .limit(depth)
    )
    w = Window.orderBy(F.desc("cosine"), F.asc(out_id))
    return scored.withColumn("rank", F.row_number().over(w))


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    depth: int = 50,
    k_rrf: int = 60,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    weights: list[float] | None = None,
) -> DataFrame:
    """Keyword + vector hybrid retrieval: BM25 top-``depth`` and
    cosine top-``depth`` fused by RRF → top-``k``
    (doc_id, rrf_score, n_lists, rank).

    The two branch retrievals keep their own scale shapes (BM25's
    pushed-down term filter; cosine's zero-shuffle scan) and RRF touches
    only the ≤ 2·depth candidate rows, so the fusion layer adds no
    corpus-sized work at any SF. Rank ties inside each branch break on
    doc_id after 6-decimal score rounding — deterministic and
    DuckDB-reproducible (tests/test_retrieval.py twin)."""
    from pyspark.sql import Window

    bm = bm25_search(docs, query_text, k=depth, text_col=text_col, id_col=doc_id_col)
    w_bm = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm_ranked = bm.withColumn("rank", F.row_number().over(w_bm))
    cos_ranked = cosine_rank(
        embeddings, query_vec, depth=depth, id_col=vec_id_col, out_id="doc_id"
    )
    return rrf_fuse(
        [bm_ranked, cos_ranked], k_rrf=k_rrf, weights=weights, top_k=k
    )


def hybrid_oracle_sql(
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    depth: int = 50,
    k_rrf: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB twin of :func:`hybrid_search` over the documents/embeddings
    views (joined on doc_id == vec_id): same BM25 formula, same 6-decimal
    cosine rounding before ranking, same RRF constant."""
    bm = bm25_oracle_sql(query_text, k=depth, k1=k1, b=b)
    vec = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]"
    return f"""
WITH bm_hits AS ({bm}),
bm_ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
  FROM bm_hits
),
cos_ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS r
  FROM (
    SELECT vec_id AS doc_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), {vec}), 6) AS c
    FROM embeddings
    ORDER BY c DESC, doc_id
    LIMIT {depth}
  )
),
fused AS (
  SELECT doc_id, ROUND(SUM(1.0 / ({k_rrf} + r)), 9) AS rrf_score,
         COUNT(*) AS n_lists
  FROM (SELECT * FROM bm_ranked UNION ALL SELECT * FROM cos_ranked)
  GROUP BY doc_id
)
SELECT doc_id, rrf_score, n_lists,
       ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
FROM fused
QUALIFY rank <= {k}
ORDER BY rank
"""
