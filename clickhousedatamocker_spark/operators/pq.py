"""Product quantization (PQ) for embedding compression + ADC top-k search.

Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011) — the compression layer every real 100 TB ANN deployment
(FAISS IVF-PQ and descendants) puts between the inverted file and the raw
vectors. The reference repo has no ANN at all (SURVEY §2.2); this extends
the rebuild's Tier-B similarity stack (operators/similarity.py: brute
force, LSH, IVF) with the missing piece that makes scanning candidates
cheap: each d-dim float vector becomes ``m`` uint8 codes (one per
subspace), so a 768-dim float32 vector (3 KB) compresses to m=16 bytes —
~200x — and query-time scoring reads ONLY codes via an m-entry lookup
table (ADC: asymmetric distance computation), never the vectors.

Scale discipline (the 100 TB story):
- Training runs on a deterministic hash sample (``train_sample_mod``) —
  codebook quality needs a sample, not the corpus. It is the shared Lloyd
  loop (similarity._lloyd): one shuffle per iteration for ALL m subspaces
  together (sub is just a grouping column).
- Encoding is row-local (Arrow ``mapInPandas`` over a broadcast numpy
  codebook — plan size O(1) in m*ksub, the rationale of the IVF
  assignment's ``_LITERAL_CODEBOOK_MAX`` auto-selection). Zero shuffle.
- ADC scoring is pure JVM column math: the per-query LUT (m x ksub
  doubles) travels as DATA on the broadcast query side, and the corpus
  side folds ``sum_m LUT[m][code_m]`` with zip_with/element_at inside
  whole-stage codegen. The corpus is scanned once, codes-only; no
  cartesian, no Python on the corpus path.
- Exact rerank touches only the top ``rerank_depth`` candidate ids per
  query (a semi-join back to the full vectors), restoring near-exact
  recall while reading a vanishing fraction of the raw corpus.

Vectors are L2-normalized before encoding, so the ADC inner product IS
approximate cosine — same contract as the rest of the similarity stack.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhousedatamocker_spark.operators.similarity import (
    _INT_LLOYD,
    _O_COSINE,
    _centroid_array,
    _float_backend,
    _float_train_rows,
    _ivf_xengine_ctes,
    _lloyd,
    _nearest_cid,
    _probe_cids,
    _scored_cids,
    as_double,
    dot,
    exact_rerank,
    ivf_codebook_xengine,
    materialize_col,
    quantize_vec,
    topk_per_query,
    with_nearest_cid,
    with_probe_cids,
)


def l2_normalize(vec: Column) -> Column:
    """vec / ||vec||; the zero vector stays zero (guard, not NaN)."""
    nrm = F.sqrt(dot(vec, vec))
    return F.when(nrm == 0.0, vec).otherwise(F.transform(vec, lambda x: x / nrm))


def _check_dims(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"PQ needs dim divisible by m: dim={dim}, m={m}")
    return dim // m


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 2,
    seed: int = 42,
    train_sample_mod: int | None = None,
) -> list[list[list[float]]]:
    """Deterministic distributed PQ codebooks: ``m`` independent k-means
    (ksub centroids each) over the m subvector slices of the L2-normalized
    corpus.

    All m subspaces train in ONE set of jobs — the shared Lloyd loop
    (similarity._lloyd) on the float backend: rows explode to (sub, subvec)
    and ``sub`` is just a grouping column, so each Lloyd iteration costs
    one Arrow assignment pass + one (sub, code, pos) grouped-mean shuffle
    regardless of m. Init is the ksub ids with smallest
    (xxhash64(id, seed), id), sliced per subspace — the same seed rule as
    :func:`~clickhousedatamocker_spark.operators.similarity.ivf_train`.
    Null vectors are skipped; fewer than ksub vectors raises ValueError.

    Returns ``codebooks[sub][code] -> subvector`` (m x ksub x dim/m
    doubles on the driver; bounded model state, like the IVF codebook).
    """
    dsub = _check_dims(dim, m)
    rows = _float_train_rows(corpus, id_col, l2_normalize(as_double(vec_col)), seed, train_sample_mod)
    return _lloyd(rows, ksub, n_iters, _float_backend(seed, _assign_codes_subrows), "ksub", m, dsub)


def _assign_codes_subrows(subs: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Nearest-code assignment for exploded (sub, v) rows — Arrow batch,
    broadcast codebooks, squared-L2 with ties to the smaller code (numpy
    argmin picks the first minimum). Row-local, zero shuffle."""
    import numpy as np

    out_schema = T.StructType(subs.schema.fields + [T.StructField("code", T.IntegerType())])
    bc = subs.sparkSession.sparkContext.broadcast(
        [np.asarray(b, dtype=np.float64) for b in books]
    )

    def assign(batches):
        BOOKS = bc.value
        halfs = [0.5 * (B * B).sum(axis=1) for B in BOOKS]
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf["code"] = np.array([], dtype="int32")
                yield pdf
                continue
            codes = np.zeros(len(pdf), dtype="int32")
            subs_arr = pdf["sub"].to_numpy()
            SV = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            for s in np.unique(subs_arr):
                mask = subs_arr == s
                score = halfs[s] - SV[mask] @ BOOKS[s].T
                codes[mask] = np.argmin(score, axis=1).astype("int32")
            pdf["code"] = codes
            yield pdf

    return subs.mapInPandas(assign, out_schema)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector to its ``m`` nearest-subcentroid codes
    (array<int>, values in [0, ksub)). L2-normalizes first — the codes
    approximate the DIRECTION, and ADC inner product approximates cosine.

    Row-local Arrow pass over a broadcast numpy codebook: one
    (batch x ksub) matmul per subspace, plan size O(1) in the model
    (the ``_LITERAL_CODEBOOK_MAX`` rationale in similarity.py — a
    literal-folded codebook would put m*ksub*dsub doubles in the
    expression tree). Zero shuffle; the output is the original row +
    codes, so it composes with any partitioning."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.ArrayType(T.IntegerType()))]
    )
    bc = df.sparkSession.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))

    def encode(batches):
        B = bc.value  # (m, ksub, dsub)
        halfs = 0.5 * (B * B).sum(axis=2)  # (m, ksub)
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[out_col] = pd.Series([], dtype=object)
                yield pdf
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0
            V = V / nrm
            Vs = V.reshape(len(pdf), m, dsub)
            codes = np.empty((len(pdf), m), dtype="int32")
            for s in range(m):
                score = halfs[s] - Vs[:, s, :] @ B[s].T
                codes[:, s] = np.argmin(score, axis=1)
            pdf[out_col] = [row for row in codes]
            yield pdf

    return df.mapInPandas(encode, out_schema)


def _query_lut(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    out_col: str = "__lut",
) -> DataFrame:
    """Per-query ADC lookup table: LUT[s][c] = <q_s, codebook[s][c]> over
    the L2-normalized query — m x ksub doubles carried as DATA in a column
    (array<array<double>>), so corpus-side scoring is plan-size O(1) and
    stays in codegen. Arrow pass on the (small) query side only."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out_schema = T.StructType(
        queries.schema.fields
        + [T.StructField(out_col, T.ArrayType(T.ArrayType(T.DoubleType())))]
    )
    bc = queries.sparkSession.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))

    def lut(batches):
        B = bc.value  # (m, ksub, dsub)
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[out_col] = pd.Series([], dtype=object)
                yield pdf
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0
            V = (V / nrm).reshape(len(pdf), m, dsub)
            # (n, m, ksub): einsum over the shared dsub axis
            tables = np.einsum("nmd,mkd->nmk", V, B)
            pdf[out_col] = [[list(sub) for sub in row] for row in tables]
            yield pdf

    return queries.mapInPandas(lut, out_schema)


def _adc_score(codes: Column, lut: Column) -> Column:
    """sum over subspaces of LUT[s][code_s] — pure codegen fold (element_at
    is 1-based)."""
    return F.aggregate(
        F.zip_with(codes, lut, lambda c, row: F.element_at(row, c + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _adc_topk(
    scored: DataFrame,
    corpus: DataFrame | None,
    id_col: str,
    vec_col: str,
    k: int,
    rerank_depth: int,
) -> DataFrame:
    """Top-k of ADC-scored (query_id, neighbor_id, qv, adc) rows: the raw
    ADC scores rounded to 6 places, or — with ``rerank_depth`` > 0 and a
    ``corpus`` — the exact rerank of the top max(k, rerank_depth). Output:
    (query_id, rank, neighbor_id, score)."""
    top = topk_per_query(scored, F.desc("adc"), max(k, rerank_depth))
    if rerank_depth <= 0 or corpus is None:
        return top.filter(F.col("rank") <= k).select(
            "query_id", "rank", "neighbor_id", F.round("adc", 6).alias("score")
        )
    return exact_rerank(top, corpus, k, id_col, vec_col)


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    k: int = 10,
    rerank_depth: int = 0,
) -> DataFrame:
    """Approximate cosine top-k by ADC over PQ codes, with optional exact
    rerank.

    ``corpus_codes``: output of :func:`pq_encode` (id + codes; the raw
    vectors are NOT read on this path — that's the point). Queries are
    broadcast with their LUTs; scoring is one codes-only corpus scan.
    With ``rerank_depth R > 0`` (and ``corpus`` supplied), the top R ADC
    candidates per query join back to the true vectors for exact cosine
    and the final top-k is exact-over-candidates — recall approaches
    brute force while reading R/corpus of the raw data.

    Returns (query_id, rank, neighbor_id, score) — ``score`` is the ADC
    approximate cosine, or the exact cosine when reranked.
    """
    q = _query_lut(
        queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")),
        codebooks,
        "qv",
    )
    c = corpus_codes.select(F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("__codes"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            _adc_score(F.col("__codes"), F.col("__lut")).alias("adc"),
        )
    )
    return _adc_topk(scored, corpus, id_col, vec_col, k, rerank_depth)


def fixed_pq_codebooks(dim: int = 64, m: int = 8, ksub: int = 8) -> list[list[list[float]]]:
    """Deterministic closed-form PQ codebooks — the fixed-model device that
    makes the PQ OPERATOR driver-gradable (round-7 verdict task 3):
    k-means training is float-trajectory state with no SQL twin, but with
    codebooks PINNED, encode (per-subspace argmin) and ADC scoring are
    pure double arithmetic a DuckDB oracle recomputes exactly.
    ``b[s][c][j] = (((s*7 + c*5 + j*3) % 11) - 5) * 0.04`` — within each
    subspace the ksub=8 < 11 rows are pairwise distinct (no argmin-tie
    ambiguity) and the ±0.2 amplitude sits in the range of L2-normalized
    64-dim components."""
    dsub = _check_dims(dim, m)
    return [
        [
            [(((s * 7 + c * 5 + j * 3) % 11) - 5) * 0.04 for j in range(dsub)]
            for c in range(ksub)
        ]
        for s in range(m)
    ]


def pq_topk_xengine(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """PQ/ADC top-k with an ALL-JVM expression pipeline (no numpy) so every
    intermediate is a sequential-fold double both engines reproduce —
    the cross-engine twin of :func:`pq_encode` + :func:`pq_adc_topk`
    (same semantics: L2-normalize, per-subspace nearest-centroid codes
    with first-minimum ties, ADC = <q_normalized, reconstruction>; the
    parity test pins the pair sets against the numpy path). Plan shape is
    the production one: codes computed in the scan projection, broadcast
    query join, rank window — no cartesian, no Python."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    # 0.5*||c||^2 computed ONCE in Python and inlined as the same literal
    # in both engines — that term never crosses engines as arithmetic
    halfs = [
        [0.5 * sum(x * x for x in codebooks[s][c]) for c in range(ksub)]
        for s in range(m)
    ]
    # codebooks + half-norms as SINGLE nested-array literals consumed via
    # lambda folds: a per-(subspace, centroid, dim) unrolled spelling puts
    # m*ksub*dsub expression nodes in the tree, and Catalyst pays
    # super-linear ANALYSIS cost on every fresh call (measured 4.3 s
    # planning-dominated vs 1.7 s for this shape at the default 8x8x8,
    # identical results)
    b_lit = F.array(
        *[
            F.array(*[F.lit([float(x) for x in codebooks[s][c]]) for c in range(ksub)])
            for s in range(m)
        ]
    )
    h_lit = F.array(*[F.lit([float(h) for h in halfs[s]]) for s in range(m)])

    def normed(col: Column) -> Column:
        nrm = F.sqrt(dot(col, col))
        return F.when(nrm == 0.0, col).otherwise(F.transform(col, lambda x: x / nrm))

    # Generate barriers (materialize_col) between every corpus-side stage:
    # without them CollapseProject inlines (a) the interpreted norm fold
    # into the per-ELEMENT divide (64 re-evals/row), (b) the normalize
    # transform into every encode reference, and (c) the whole normalize
    # -> argmin -> reconstruction chain into the per-PAIR ADC fold after
    # the broadcast join (re-run once per pair) — the round-6
    # lambda-inlining bug class; the sf1 smoke caught the unbarriered SQ8
    # sibling at 286 s vs brute force's 2.2 s
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("__v")
    )
    base = materialize_col(
        base,
        F.sqrt(dot(F.col("__v"), F.col("__v"))),
        "__n",
        keep=["neighbor_id", "__v"],
    )
    c = materialize_col(
        base,
        F.when(F.col("__n") == 0.0, F.col("__v")).otherwise(
            F.transform(F.col("__v"), lambda x: x / F.col("__n"))
        ),
        "u",
        keep=["neighbor_id"],
    )

    def per_subspace_code(s: Column) -> Column:
        # s is 0-based; each score folds the same sequential dot the
        # DuckDB twin spells as list_dot_product over the u slice;
        # 1-based first-minimum position = the numpy argmin tie rule
        sv = F.slice(F.col("u"), s.cast("int") * dsub + 1, dsub)
        scores = F.transform(
            F.element_at(h_lit, (s + 1).cast("int")),
            lambda h, cc: h
            - dot(
                sv,
                F.element_at(
                    F.element_at(b_lit, (s + 1).cast("int")), (cc + 1).cast("int")
                ),
            ),
        )
        return F.array_position(scores, F.array_min(scores))

    c = materialize_col(
        c,
        F.transform(F.sequence(F.lit(0), F.lit(m - 1)), per_subspace_code),
        "__codes",
        keep=["neighbor_id"],
    )
    recon = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(m)),
            lambda s: F.element_at(
                F.element_at(b_lit, s.cast("int")),
                F.element_at(F.col("__codes"), s.cast("int")).cast("int"),
            ),
        )
    )
    c = materialize_col(c, recon, "__r", keep=["neighbor_id"])
    q = queries.select(
        F.col(id_col).alias("query_id"), normed(as_double(vec_col)).alias("qn")
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", F.round(dot(F.col("qn"), F.col("__r")), 6).alias("adc")
    )
    return topk_per_query(scored, F.desc("adc"), k).select("query_id", "rank", "neighbor_id", "adc")


def pq_xengine_oracle_sql(
    codebooks: list[list[list[float]]],
    k: int = 10,
    query_pred: str = "vec_id < 5",
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB SQL recomputing :func:`pq_topk_xengine` exactly — L2
    normalization, per-subspace argmin encode (first minimum via
    list_position of the list min), literal-codebook reconstruction and
    the rounded ADC rank."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    b_lit = (
        "["
        + ", ".join(
            "[" + ", ".join("[" + ", ".join(repr(float(x)) for x in cc) + "]" for cc in s) + "]"
            for s in codebooks
        )
        + "]::DOUBLE[][][]"
    )
    h_lit = (
        "["
        + ", ".join(
            "["
            + ", ".join(repr(0.5 * sum(x * x for x in codebooks[s][c])) for c in range(ksub))
            + "]"
            for s in range(m)
        )
        + "]::DOUBLE[][]"
    )
    score_list = (
        f"list_transform(generate_series(1, {ksub}), "
        f"c -> cb.h[s][c] - list_dot_product("
        f"u[(s-1)*{dsub}+1 : (s-1)*{dsub}+{dsub}], cb.b[s][c]))"
    )
    return f"""
WITH cb AS (SELECT {b_lit} AS b, {h_lit} AS h),
e AS (SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] v FROM {table} WHERE {vec_col} IS NOT NULL),
n AS (
  SELECT vec_id,
    CASE WHEN list_dot_product(v, v) = 0 THEN v
         ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS u
  FROM e
),
codes AS (
  SELECT vec_id, u,
    list_transform(generate_series(1, {m}), s ->
      list_position({score_list}, list_aggregate({score_list}, 'min'))) AS code
  FROM n, cb
),
recon AS (
  SELECT vec_id,
    flatten(list_transform(generate_series(1, {m}), s -> cb.b[s][code[s]])) AS r
  FROM codes, cb
),
q AS (SELECT vec_id AS query_id, u AS qn FROM n WHERE {query_pred}),
scored AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
    round(list_dot_product(q.qn, r.r), 6) AS adc
  FROM recon r CROSS JOIN q WHERE r.vec_id <> q.query_id
)
SELECT query_id, rank, neighbor_id, adc FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY query_id, rank
""".strip()


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    rerank_depth: int = 50,
) -> DataFrame:
    """IVF-PQ: the FAISS-shaped full stack — coarse IVF buckets bound the
    candidate set (bucketed equi-join, never cartesian), PQ/ADC scores the
    candidates codes-only, exact rerank of the top ``rerank_depth``
    restores recall. At 100 TB: queries touch nprobe/n_centroids of the
    corpus, and of that, read only m-byte codes until the final
    R-candidate rerank."""
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("__v"))
    c = with_nearest_cid(c, "__v", centroids, "bucket")
    c = pq_encode(c, codebooks, id_col=id_col, vec_col="__v", out_col="__codes")
    c = c.select(F.col(id_col).alias("neighbor_id"), "bucket", "__codes")

    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    q = with_probe_cids(q, "qv", centroids, nprobe, "__probes")
    q = _query_lut(q, codebooks, "qv")
    q = q.withColumn("bucket", F.explode("__probes")).drop("__probes")

    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            _adc_score(F.col("__codes"), F.col("__lut")).alias("adc"),
        )
    )
    top = topk_per_query(scored, F.desc("adc"), max(k, rerank_depth))
    return exact_rerank(top, corpus, k, id_col, vec_col)


def build_pq_index(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the IVF-PQ index: each vector lands under its coarse
    nearest-centroid Hive partition (``bucket=<cid>/``) carrying ONLY its
    id and m-byte PQ codes — the raw vectors stay in the source table, so
    the index is ~m bytes/vector and serving scans read codes-only until
    the rerank. Sidecars persist the coarse codebook AND the PQ
    codebooks, so queries cannot drift from the encode parameters.

    ``mode='append'`` adds a new batch O(batch) into the same bucket
    partitions (the bm25/ann incremental-add discipline: appends never
    rewrite existing data; compact with ``index_maint.optimize_index``
    when file counts climb, delete via ``index_maint.write_tombstones``
    with the index's id column — ``pq_query_indexed`` excludes tombstones
    like the other serving paths)."""
    import json
    import os

    sidecar = os.path.join(path, "_pq_meta.json")
    meta = {"centroids": centroids, "codebooks": codebooks, "id_col": id_col}
    if mode == "append" and os.path.exists(sidecar):
        with open(sidecar) as fh:
            if json.load(fh) != meta:
                raise ValueError("PQ index exists with different parameters")
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("__v"))
    c = with_nearest_cid(c, "__v", centroids, "bucket")
    c = pq_encode(c, codebooks, id_col=id_col, vec_col="__v", out_col="pq_code")
    c.select(F.col(id_col), "bucket", "pq_code").write.partitionBy("bucket").mode(
        mode
    ).parquet(path)
    os.makedirs(path, exist_ok=True)
    with open(sidecar, "w") as fh:
        json.dump(meta, fh)


def pq_query_indexed(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    rerank_depth: int = 50,
) -> DataFrame:
    """Serve IVF-PQ top-k from a :func:`build_pq_index` directory: probed
    bucket ids computed driver-side from the sidecar codebook and pushed
    as a STATIC partition filter (only ``bucket=<cid>/`` dirs are read —
    codes-only, m bytes/vector), ADC scoring against the broadcast query
    LUTs, then exact rerank of the top ``rerank_depth`` candidates against
    ``corpus`` (pass the source table; omit it to return raw ADC scores).
    Crash artifacts self-heal first and tombstoned ids are excluded — the
    same serving contract as ``ann_query_indexed``/``bm25_query_indexed``.
    Output: (query_id, rank, neighbor_id, score)."""
    import json
    import os

    from clickhousedatamocker_spark.operators.index_maint import (
        exclude_tombstoned,
        recover_index,
    )

    recover_index(spark, path)
    with open(os.path.join(path, "_pq_meta.json")) as fh:
        meta = json.load(fh)
    centroids, codebooks, id_col = meta["centroids"], meta["codebooks"], meta["id_col"]

    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    q = with_probe_cids(q, "qv", centroids, nprobe, "__probes")
    q = _query_lut(q, codebooks, "qv")
    q = q.withColumn("bucket", F.explode("__probes")).drop("__probes")
    probed = sorted({r["bucket"] for r in q.select("bucket").distinct().collect()})

    c = exclude_tombstoned(
        spark,
        path,
        spark.read.parquet(path).filter(F.col("bucket").isin(probed)),
        id_col,
    ).select(F.col(id_col).alias("neighbor_id"), "bucket", F.col("pq_code").alias("__codes"))

    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            _adc_score(F.col("__codes"), F.col("__lut")).alias("adc"),
        )
    )
    return _adc_topk(scored, corpus, id_col, vec_col, k, rerank_depth)


# ---------------------------------------------------------------------------
# Cross-engine TRAINED IVF-PQ
#
# fixed_pq_codebooks made the PQ *operator* gradable; this makes the PQ
# *training* gradable. pq_train and pq_train_xengine are ONE trainer (the
# shared Lloyd loop, similarity._lloyd) on two backends. The integer
# backend quantizes subvectors to ints (floor(u·1e6) of the L2-normalized
# vector — sqrt and divide are correctly-rounded IEEE ops, so both engines
# produce the same doubles and therefore the same ints), keeps centroids
# integer (Lloyd means rounded half-up — a 1e-6 relative perturbation,
# nothing for codebook quality) and assigns by exact integer L2 argmin
# with first-minimum ties. Every training step is integer arithmetic, so a
# DuckDB CTE chain replays the whole trajectory bit-identically, epoch by
# epoch. Encode, ADC and rerank reuse the graded pq_topk_xengine
# discipline (codes in the scan projection, broadcast query side,
# bucketed candidates, no cartesian).


def _quantized_unit(df: DataFrame, vec: str, out: str, keep: list[str]) -> DataFrame:
    """Add ``out`` = floor(1e6 * vec/||vec||) (the zero vector stays zero),
    keeping ``keep``. Generate barriers (materialize_col) make the norm
    fold run once per row instead of once per element."""
    df = materialize_col(df, F.sqrt(dot(F.col(vec), F.col(vec))), "__n", keep=keep + [vec])
    unit = F.when(F.col("__n") == 0.0, F.col(vec)).otherwise(
        F.transform(F.col(vec), lambda x: x / F.col("__n"))
    )
    return materialize_col(df, quantize_vec(unit), out, keep=keep)


def pq_train_xengine(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 2,
    dim: int = 64,
) -> list[list[list[int]]]:
    """Integer Lloyd k-means per subspace over quantized normalized
    subvectors — the shared Lloyd loop on the integer backend; returns
    ``codebooks[s][c] = dsub ints`` (quantized space, scale 1e6) — the
    values :func:`ivfpq_xengine_oracle_sql` recomputes. Init = the ksub
    non-null corpus rows with smallest (h(id), id) (the IVF sample-codebook
    hash); empty clusters keep their previous centroid; fewer than ksub
    vectors raises ValueError."""
    dsub = _check_dims(dim, m)
    rows = corpus.select(F.col(id_col).alias("__id"), as_double(vec_col).alias("__f"))
    rows = _quantized_unit(rows, "__f", "__v", keep=["__id"])
    return _lloyd(rows, ksub, n_iters, _INT_LLOYD, "ksub", m, dsub)


def ivfpq_topk_xengine(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 2,
    rerank_depth: int = 100,
    dim: int = 64,
) -> DataFrame:
    """TRAINED IVF-PQ, cross-engine exact end to end: integer sample-
    codebook coarse buckets (the graded IVF discipline) bound candidates,
    integer-k-means PQ codebooks (:func:`pq_train_xengine`) score them by
    ADC over the reconstruction (round-6 cross-engine float discipline),
    exact cosine rerank of the top ``rerank_depth``. Same plan shape as
    the production :func:`ivfpq_topk`: codes in the scan projection,
    broadcast query side, bucketed equi-join, never a cartesian."""
    dsub = _check_dims(dim, m)
    # null embeddings drop BEFORE codebook seed selection: the oracle's
    # e CTE filters them, so the (h(id), id)-smallest seed rows must be
    # chosen from the same filtered set
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    centroids = ivf_codebook_xengine(corpus, id_col, vec_col, n_centroids)
    books = F.array(
        *[_centroid_array(b) for b in pq_train_xengine(corpus, id_col, vec_col, m, ksub, n_iters, dim)]
    )

    base = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("__v"))
    base = base.withColumn("bucket", _nearest_cid(quantize_vec(F.col("__v")), centroids))
    c = _quantized_unit(base, "__v", "__qu", keep=["neighbor_id", "bucket"])

    def per_subspace_code(s: Column) -> Column:
        sv = F.slice(F.col("__qu"), s.cast("int") * dsub + 1, dsub)
        return F.array_min(_scored_cids(sv, F.element_at(books, (s + 1).cast("int")), True))["cid"]

    c = materialize_col(
        c,
        F.transform(F.sequence(F.lit(0), F.lit(m - 1)), per_subspace_code),
        "__codes",
        keep=["neighbor_id", "bucket"],
    )
    recon = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.transform(
                F.element_at(
                    F.element_at(books, (s + 1).cast("int")),
                    (F.element_at(F.col("__codes"), (s + 1).cast("int")) + 1).cast("int"),
                )["cv"],
                lambda x: x.cast("double") / F.lit(1000000.0),
            ),
        )
    )
    c = materialize_col(c, recon, "__r", keep=["neighbor_id", "bucket"])

    qbase = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    qn = F.sqrt(dot(F.col("qv"), F.col("qv")))
    q = qbase.withColumn(
        "qn",
        F.when(qn == 0.0, F.col("qv")).otherwise(
            F.transform(F.col("qv"), lambda x: x / qn)
        ),
    ).withColumn(
        "bucket", F.explode(_probe_cids(quantize_vec(F.col("qv")), centroids, nprobe))
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "qv",
            F.round(dot(F.col("qn"), F.col("__r")), 6).alias("adc"),
        )
    )
    top = topk_per_query(scored, F.desc("adc"), max(k, rerank_depth))
    return exact_rerank(top, corpus, k, id_col, vec_col)


def ivfpq_xengine_oracle_sql(
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 2,
    rerank_depth: int = 100,
    dim: int = 64,
    query_pred: str = "vec_id < 5",
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`ivfpq_topk_xengine` — replays the integer
    k-means TRAINING (c0 → c{n_iters} chained CTEs), the coarse sample-
    codebook assignment, encode, ADC and the exact rerank. Keep every
    step in lockstep with the Spark operator."""
    from clickhousedatamocker_spark.operators.similarity import _QSCALE

    dsub = dim // m
    d2_pq = (
        f"list_sum(list_transform(generate_series(1, {dsub}), "
        "j -> (sub.sub[j] - c.cv[j]) * (sub.sub[j] - c.cv[j])))"
    )
    d2_coarse = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "j -> CAST(e.qv[j] - ccb.cv[j] AS DOUBLE) * CAST(e.qv[j] - ccb.cv[j] AS DOUBLE)))"
    )
    parts = [
        f"""{_ivf_xengine_ctes(max(ksub, n_centroids), table)}, n AS MATERIALIZED (
  SELECT vec_id, v,
    list_transform(
      CASE WHEN list_dot_product(v, v) = 0 THEN v
           ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END,
      x -> CAST(floor(x * {_QSCALE}) AS BIGINT)) AS qu
  FROM e
), sub AS MATERIALIZED (
  SELECT vec_id, s, qu[((s-1)*{dsub}+1):((s-1)*{dsub}+{dsub})] AS sub
  FROM n CROSS JOIN (SELECT unnest(generate_series(1, {m})) AS s)
), c0 AS MATERIALIZED (
  SELECT sub.s, cb.cid AS c, sub.sub AS cv
  FROM cb JOIN sub USING (vec_id) WHERE cb.cid < {ksub}
)"""
    ]
    for it in range(n_iters):
        parts.append(
            f"""a{it} AS MATERIALIZED (
  SELECT vec_id, s, c FROM (
    SELECT sub.vec_id, sub.s, c.c, {d2_pq} AS d
    FROM sub JOIN c{it} c ON c.s = sub.s
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, c) = 1
), u{it} AS MATERIALIZED (
  SELECT a.s, a.c, j,
         CAST(floor(CAST(SUM(sub.sub[j]) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS x
  FROM a{it} a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s
  CROSS JOIN (SELECT unnest(generate_series(1, {dsub})) AS j)
  GROUP BY a.s, a.c, j
), c{it + 1} AS MATERIALIZED (
  SELECT c.s, c.c, COALESCE(nl.cv, c.cv) AS cv
  FROM c{it} c LEFT JOIN (
    SELECT s, c, list(x ORDER BY j) AS cv FROM u{it} GROUP BY s, c
  ) nl USING (s, c)
)"""
        )
    cf = f"c{n_iters}"
    parts.append(
        f"""codes AS MATERIALIZED (
  SELECT vec_id, s, c FROM (
    SELECT sub.vec_id, sub.s, c.c, {d2_pq} AS d
    FROM sub JOIN {cf} c ON c.s = sub.s
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, c) = 1
), recon AS MATERIALIZED (
  SELECT codes.vec_id,
         flatten(list(list_transform(cb.cv, x -> CAST(x AS DOUBLE) / 1000000.0)
                      ORDER BY codes.s)) AS r
  FROM codes JOIN {cf} cb ON cb.s = codes.s AND cb.c = codes.c
  GROUP BY codes.vec_id
), ccb AS MATERIALIZED (
  SELECT cid, cv FROM cb WHERE cid < {n_centroids}
), cad AS MATERIALIZED (
  SELECT e.vec_id, ccb.cid, {d2_coarse} AS d2 FROM e CROSS JOIN ccb
), cassign AS MATERIALIZED (
  SELECT vec_id, cid AS bucket FROM cad
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
), ciq AS MATERIALIZED (
  SELECT vec_id AS query_id, cid AS bucket FROM cad WHERE {query_pred}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) <= {nprobe}
), qn AS MATERIALIZED (
  SELECT vec_id AS query_id,
    CASE WHEN list_dot_product(v, v) = 0 THEN v
         ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS u
  FROM e WHERE {query_pred}
), adc AS MATERIALIZED (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(list_dot_product(qn.u, r.r), 6) AS adc
  FROM ciq q
  JOIN cassign a ON a.bucket = q.bucket AND a.vec_id <> q.query_id
  JOIN recon r ON r.vec_id = a.vec_id
  JOIN qn ON qn.query_id = q.query_id
), top AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM adc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id)
          <= {max(k, rerank_depth)}
), rer AS (
  SELECT t.query_id, t.neighbor_id, {_O_COSINE.format(a='qe.v', b='ce.v', places=6)} AS score
  FROM top t
  JOIN e qe ON qe.vec_id = t.query_id
  JOIN e ce ON ce.vec_id = t.neighbor_id
)"""
    )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT query_id, rank, neighbor_id, score FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM rer
) WHERE rank <= {k}
ORDER BY query_id, rank"""
