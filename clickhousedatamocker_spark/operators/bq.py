"""1-bit binary quantization (BQ) for embedding columns — the fourth and
smallest member of the vector-compression tier (PCA rotation in
operators/projection.py, SQ8 in operators/sq.py, IVF-PQ in
operators/pq.py): each dimension keeps only its SIGN relative to a
per-dimension center, packing 64 dimensions into ONE int64 word. This is
the "binary quantization" modern vector stores ship for the first-stage
cut (64-dim float64 vector: 512 bytes → 8 bytes, 64×).

Why it scales better than everything else in the tier: the distance is
Hamming = ``bit_count(a XOR b)`` per word — pure JVM integer ops inside
whole-stage codegen, no array folds, no UDFs, no decode step. A
100 TB corpus of embeddings becomes ~1.6 TB of codes whose scan ranks at
memory bandwidth; the standard recipe then RERANKS a Hamming shortlist
with exact cosine on the float vectors (``bq_topk_rerank``), touching the
expensive column for only shortlist × queries rows.

- **Training is ONE distributed aggregate**: per-dimension means (the
  sign threshold) — centering matters because raw sign bits waste
  resolution when a dimension's mass sits off zero. Driver state: one
  d-length array.
- **Encode is row-local**: a ≤64-iteration JVM fold per word building the
  packed int64s. No shuffle.
- **Search**: broadcast the (tiny) encoded queries, rank by Hamming ASC
  with the deterministic (distance, id) tiebreak; the rank window
  shuffles only (queries × corpus) scored ROWS of three integers.

Cross-engine: encode and Hamming are exact integer arithmetic — a DuckDB
twin (xor + bit_count over the same packed words) reproduces the ranking
bit-for-bit; pinned in tests/test_bq.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhousedatamocker_spark.operators.similarity import (
    as_double,
    exact_rerank,
    topk_per_query,
)


def bq_train(emb: DataFrame, vec_col: str = "embedding") -> dict:
    """Per-dimension centers (means) → ``{"center": [d]}``. One
    posexplode + partial-aggregated (dim, avg) pass, collecting exactly d
    rows — the same driver-bounded-model discipline as sq_train."""
    rows = (
        emb.select(as_double(vec_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .select(F.posexplode(F.col("__v")).alias("__d", "__x"))
        .groupBy("__d")
        .agg(F.avg("__x").alias("c"))
        .collect()
    )
    if not rows:
        raise ValueError("bq_train: no vectors")
    center = [0.0] * (max(r["__d"] for r in rows) + 1)
    for r in rows:
        center[r["__d"]] = float(r["c"])
    return {"center": center}


def zero_centers(d: int) -> dict:
    """The uncentered model (threshold at 0) — the fixed-model form for
    cross-engine twins."""
    return {"center": [0.0] * d}


def _encode_col(vec: Column, model: dict) -> Column:
    """array<bigint> of packed sign words: bit i of word w is set iff
    v[64w + i] > center[64w + i]. Each word is one ≤64-step JVM fold; the
    center ships as ONE array literal (the lsh_bucket literal discipline)."""
    center = F.lit([float(c) for c in model["center"]])
    d = len(model["center"])
    n_words = (d + 63) // 64
    words = []
    for w in range(n_words):
        lo = w * 64
        n_bits = min(64, d - lo)
        # high-to-low shiftleft(acc,1)+bit fold: bit i of the word ends at
        # position i. shiftleft (not acc*2) because doubling a set bit 62
        # into bit 63 would be a SIGNED overflow — an ANSI abort — while
        # the shift wraps into the two's-complement sign bit, which xor /
        # bit_count treat like any other bit
        word = F.aggregate(
            F.sequence(F.lit(n_bits - 1), F.lit(0), F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, i: F.shiftleft(acc, 1)
            + F.when(
                F.element_at(vec, i + F.lit(lo + 1))
                > F.element_at(center, i + F.lit(lo + 1)),
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        words.append(word)
    return F.array(*words)


def bq_encode(
    emb: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (id_col, code: array<bigint>) — 8 bytes per 64 dimensions."""
    return emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), _encode_col(as_double(vec_col), model).alias("code")
    )


def hamming(a: Column, b: Column) -> Column:
    """Σ_words bit_count(a XOR b) — whole-stage-codegen integer ops."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def bq_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Hamming top-k per query over packed codes (self excluded):
    broadcast the query codes, scan the corpus codes once, rank window
    keyed (hamming ASC, neighbor_id) — fully deterministic."""
    q = query_codes.select(
        F.col(id_col).alias("query_id"), F.col("code").alias("qc")
    )
    c = codes.select(F.col(id_col).alias("neighbor_id"), F.col("code").alias("cc"))
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id", "neighbor_id", hamming(F.col("qc"), F.col("cc")).alias("hamming")
    )
    return topk_per_query(scored, F.col("hamming"), k).select(
        "query_id", "rank", "neighbor_id", "hamming"
    )


def bq_topk_rerank(
    emb: DataFrame,
    queries: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """The production two-stage recipe: Hamming shortlist over 8-byte
    codes (bandwidth-bound first cut), exact-cosine rerank of only
    ``shortlist`` candidates per query. The float column is read once for
    the corpus encode and once more for shortlist × queries rows — at
    scale the codes live in their own (re-usable) table and the first
    read disappears."""
    codes = bq_encode(emb, model, id_col, vec_col)
    qcodes = bq_encode(queries, model, id_col, vec_col)
    short = bq_topk(codes, qcodes, id_col=id_col, k=shortlist)
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    cands = short.select("query_id", "neighbor_id").join(F.broadcast(qv), "query_id")
    return exact_rerank(cands, emb, k, id_col, vec_col, out="cosine")


def bq_xengine_oracle_sql(
    d: int,
    k: int = 10,
    n_queries: int = 5,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of the zero-center encode + Hamming rank — exact
    integer arithmetic both engines agree on (xor + bit_count over the
    same packed words). Assumes d <= 64 (one word; the fixture's 64)."""
    if d > 64:
        raise ValueError("oracle twin covers the single-word (d <= 64) form")
    # bits 1..63 are plain shifts; a 64th dimension lands on the sign bit,
    # spelled as the -2^63 two's-complement term (a 1<<63 would overflow
    # DuckDB's signed shift exactly like Spark's ANSI doubling)
    top = min(d, 63)
    enc = (
        f"list_sum(list_transform(generate_series(1, {top}), i -> "
        "CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END))"
    )
    if d == 64:
        enc = (
            f"({enc} + CASE WHEN embedding[64] > 0 "
            "THEN (-9223372036854775807 - 1) ELSE 0 END)"
        )
    # CAST to BIGINT: list_sum yields HUGEINT (128-bit), and xor over
    # INT128 would count phantom sign-extension bits above bit 63
    return f"""
WITH codes AS (
  SELECT vec_id, CAST({enc} AS BIGINT) AS code
  FROM {table} WHERE embedding IS NOT NULL
), q AS (
  SELECT vec_id AS query_id, code AS qc FROM codes WHERE vec_id < {n_queries}
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         bit_count(xor(q.qc, c.code)) AS hamming
  FROM codes c JOIN q ON c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, CAST(hamming AS INT) AS hamming,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, hamming
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""
