"""Round-10 cross-engine EXACT trainers (the graded trained paths):

- ``train_text_classifier_xengine`` — full-batch logistic GD on a
  6-decimal weight grid with exact-decimal margin/gradient sums, so a
  DuckDB CTE chain replays the trajectory bit-identically
  (operators/classifier.py, graded by quality_classifier_trained_profile).
- ``pq_train_xengine`` / ``ivfpq_topk_xengine`` — integer Lloyd k-means
  over quantized normalized subvectors + the full IVF-PQ search stack
  (operators/pq.py, graded by similarity_topk_ivfpq).

The registry-level parity (Spark query vs DuckDB oracle under a bare
session) is pinned by test_driver_contract.py's round-10 probe; this file
pins the operator-level laws: learning quality, tie/guard behavior, and
recall of the trained codebooks against brute force — plus the edge
contract every k-means trainer shares (one Lloyd loop, two backends) and
fast DuckDB parity for the graded ANN and PQ registry queries.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from clickhousedatamocker_spark.operators import pq as P
from clickhousedatamocker_spark.operators import similarity as S

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(autouse=True)
def no_leaked_cache(spark):
    """Every trainer owns the one relation it persists: nothing stays
    cached after a test."""
    spark.catalog.clearCache()
    yield
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------------------------------
# classifier: exact GD


def _labeled_docs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return docs.withColumn(
        "__rule", (F.col("doc_id") % 3 == 0).cast("int")
    ).withColumn(
        "text",
        F.when(
            F.col("__rule") == 1,
            F.concat(F.coalesce("text", F.lit("")), F.lit(" qcmarker qcmarker qcmarker")),
        ).otherwise(F.col("text")),
    )


def test_exact_trainer_weights_match_duckdb_replay(spark, duck):
    """The whole point of the device: the DuckDB CTE chain lands on
    BIT-IDENTICAL final weights. Checked through the per-doc scoring
    relation (z is an exact-decimal function of the weights, so equal z
    on every doc == equal weights on every touched bucket)."""
    from clickhousedatamocker_spark.operators.classifier import (
        _grid6,
        classifier_trained_oracle_sql,
        exact_margins,
        train_text_classifier_xengine,
        xengine_count_features,
    )

    labeled = _labeled_docs(spark)
    # few epochs keep the test fast; the graded profile runs 20
    W, B = train_text_classifier_xengine(
        labeled, "__rule", num_buckets=512, epochs=3, lr=0.08, l2=0.02
    )
    labels = labeled.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("__id"), F.col("__rule").cast("double").alias("__y")
    )
    ex = xengine_count_features(labeled, num_buckets=512)
    z = exact_margins(ex, labels, W, B).withColumn(
        "p6", _grid6(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__z"))))
    )
    got = {r["__id"]: (r["__z"], r["p6"]) for r in z.collect()}
    sql = classifier_trained_oracle_sql(
        512,
        3,
        0.08,
        0.02,
        text_expr=(
            "CASE WHEN doc_id % 3 = 0 "
            "THEN COALESCE(text, '') || ' qcmarker qcmarker qcmarker' ELSE text END"
        ),
    )
    for doc_id, oz, op6, _kept in duck.sql(sql).fetchall():
        assert got[doc_id][0] == oz, f"z drift at doc {doc_id}"
        assert got[doc_id][1] == op6, f"p6 drift at doc {doc_id}"


def test_exact_trainer_learns_the_planted_rule(spark):
    """With the graded hyperparams the model must separate the planted
    marker: >= 99% agreement at the z>=0 gate and rail-ward spread."""
    from clickhousedatamocker_spark.operators.classifier import (
        exact_margins,
        train_text_classifier_xengine,
        xengine_count_features,
    )

    labeled = _labeled_docs(spark)
    W, B = train_text_classifier_xengine(
        labeled, "__rule", num_buckets=2048, epochs=20, lr=0.08, l2=0.02
    )
    labels = labeled.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("__id"), F.col("__rule").cast("double").alias("__y")
    )
    ex = xengine_count_features(labeled, num_buckets=2048)
    rows = exact_margins(ex, labels, W, B).collect()
    agree = sum(1 for r in rows if (r["__z"] >= 0) == (r["__y"] == 1.0))
    assert agree / len(rows) >= 0.99, f"agreement {agree}/{len(rows)}"


def test_exact_trainer_guards(spark):
    from clickhousedatamocker_spark.operators.classifier import (
        train_text_classifier_xengine,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError, match="epochs"):
        train_text_classifier_xengine(docs, F.lit(1), epochs=0)
    with pytest.raises(ValueError, match="lr"):
        train_text_classifier_xengine(docs, F.lit(1), lr=-1.0)
    with pytest.raises(ValueError, match="no labeled rows"):
        train_text_classifier_xengine(
            docs, F.lit(None).cast("int"), epochs=1
        )


# ---------------------------------------------------------------------------
# IVF-PQ: integer k-means


def test_ivfpq_xengine_matches_duckdb_replay(spark, duck):
    from clickhousedatamocker_spark.operators.pq import (
        ivfpq_topk_xengine,
        ivfpq_xengine_oracle_sql,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sdf = ivfpq_topk_xengine(emb, emb.filter(F.col("vec_id") < 5)).orderBy(
        "query_id", "rank"
    )
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(ivfpq_xengine_oracle_sql())
    orows = [tuple(r) for r in rel.fetchall()]
    assert sdf.columns == list(rel.columns)
    assert srows == orows


def test_ivfpq_xengine_recall_vs_brute_force(spark):
    """Trained codebooks must be USEFUL, not just deterministic: with
    nprobe=4 of 8 coarse cells and a 100-deep exact rerank, recall@10
    against exact cosine should be high on the fixture."""
    from clickhousedatamocker_spark.operators.pq import ivfpq_topk_xengine
    from clickhousedatamocker_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk_xengine(emb, q, k=10).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"recall@10 {recall}"


def test_pq_train_xengine_guards(spark):
    from clickhousedatamocker_spark.operators.pq import pq_train_xengine

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="divisible"):
        pq_train_xengine(emb, m=7)


# ---------------------------------------------------------------------------
# trained IVF coarse quantizer (r11): full-vector integer Lloyd k-means


def test_ivf_train_xengine_centroids_match_duckdb_replay(spark, duck):
    """The trained coarse codebook itself replays bit-identically: the
    DuckDB chain (the oracle's c0 -> cN CTEs) lands on the SAME integer
    centroid vectors the Spark trainer returns."""
    from clickhousedatamocker_spark.operators.similarity import (
        ivf_train_xengine,
        ivf_trained_oracle_sql,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = ivf_train_xengine(emb, n_centroids=8, n_iters=2)
    # reuse the oracle's WITH chain, selecting the trained codebook CTE
    full = ivf_trained_oracle_sql(n_centroids=8, n_iters=2)
    with_chain = full[: full.rindex("\nSELECT query_id")]
    rows = duck.sql(with_chain + "\nSELECT c, cv FROM c2 ORDER BY c").fetchall()
    replay = [list(cv) for _, cv in rows]
    assert replay == centroids


def test_ivf_trained_xengine_matches_duckdb_replay(spark, duck):
    from clickhousedatamocker_spark.operators.similarity import (
        ivf_topk_trained_xengine,
        ivf_trained_oracle_sql,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sdf = ivf_topk_trained_xengine(emb, emb.filter(F.col("vec_id") < 5)).orderBy(
        "query_id", "rank"
    )
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(ivf_trained_oracle_sql())
    orows = [tuple(r) for r in rel.fetchall()]
    assert sdf.columns == list(rel.columns)
    assert srows == orows


def test_ivf_trained_xengine_recall_vs_brute_force(spark):
    """Trained coarse cells must be USEFUL: nprobe=3 of 8 trained cells
    with exact rerank should keep recall@10 against exact cosine."""
    from clickhousedatamocker_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_trained_xengine,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_trained_xengine(emb, q, k=10).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"recall@10 {recall}"


def test_ivf_trained_improves_on_seed_codebook(spark):
    """Lloyd epochs must actually MOVE the codebook off the sampled seeds
    (a no-op trainer would silently re-grade the r8 sample-codebook path)."""
    from clickhousedatamocker_spark.operators.similarity import (
        ivf_codebook_xengine,
        ivf_train_xengine,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    seeds = ivf_codebook_xengine(emb, n_centroids=8)
    trained = ivf_train_xengine(emb, n_centroids=8, n_iters=2)
    assert trained != seeds


# ---------------------------------------------------------------------------
# the edge contract of the shared Lloyd loop, on every trainer binding

# name -> (trainer, its k parameter, its backend's seed order)
_TRAINERS = {
    "ivf_train": (S.ivf_train, "n_centroids", "float"),
    "pq_train": (P.pq_train, "ksub", "float"),
    "ivf_train_xengine": (S.ivf_train_xengine, "n_centroids", "int"),
    "pq_train_xengine": (P.pq_train_xengine, "ksub", "int"),
    "ivf_codebook_xengine": (S.ivf_codebook_xengine, "n_centroids", "int"),
}


@pytest.mark.parametrize("trainer", list(_TRAINERS))
def test_trainer_edge_contract(spark, trainer):
    """A null embedding is skipped even where it would be the first seed
    (the codebook equals the one trained without that row), and a corpus
    smaller than k raises ValueError instead of an IndexError or a short
    codebook."""
    train_fn, k_name, backend = _TRAINERS[trainer]

    def train(df, k):
        return train_fn(df, **{k_name: k})

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    if backend == "float":
        key = F.xxhash64(F.col("vec_id"), F.lit(42))  # the trainers' default seed
    else:
        key = (F.lit(S._IVF_HA) * F.col("vec_id") + F.lit(S._IVF_HB)) % F.lit(S._IVF_HP)
    first_seed = emb.select("vec_id", key.alias("h")).orderBy("h", "vec_id").first()["vec_id"]
    with_null = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == first_seed, F.lit(None)).otherwise(F.col("embedding")),
    )
    without = emb.filter(F.col("vec_id") != first_seed)
    assert train(with_null, 8) == train(without, 8)

    with pytest.raises(ValueError, match=f"smaller than {k_name}=8"):
        train(emb.filter(F.col("vec_id") < 3), 8)


# ---------------------------------------------------------------------------
# fast DuckDB parity for the graded ANN and PQ registry queries


@pytest.mark.parametrize(
    "name", ["similarity_ann_lsh_ivf", "similarity_topk_pq"]
)
def test_vector_registry_query_matches_duckdb(spark, duck, name):
    from clickhousedatamocker_spark.operators.pq import (
        fixed_pq_codebooks,
        pq_xengine_oracle_sql,
    )
    from clickhousedatamocker_spark.operators.similarity import ann_xengine_oracle_sql
    from clickhousedatamocker_spark.queries import REGISTRY

    oracle = {
        "similarity_ann_lsh_ivf": ann_xengine_oracle_sql(
            k=10, num_planes=3, n_centroids=8, nprobe=3
        ),
        "similarity_topk_pq": pq_xengine_oracle_sql(fixed_pq_codebooks(64, 8, 8), k=10),
    }[name]
    sdf = REGISTRY[name].fn(spark, SF_DIR)
    rel = duck.sql(oracle)
    assert sdf.columns == list(rel.columns)
    srows = sorted(tuple(r) for r in sdf.collect())
    assert srows == sorted(rel.fetchall())
    assert srows


@pytest.mark.parametrize(
    "name",
    ["similarity_ann_lsh_ivf", "dedup_semantic_profile", "sample_cluster_stratified_profile"],
)
def test_ivf_registry_query_matches_duckdb_with_null_embeddings(spark, tmp_path, name):
    """A null embedding has no vector and no cluster: the registry query and
    its oracle (whose quantized ``e`` CTE drops nulls, the trainer's rule)
    still agree row for row."""
    from clickhousedatamocker_spark.queries import REGISTRY

    con = duckdb.connect()
    con.execute(
        "COPY (SELECT vec_id, CASE WHEN vec_id IN (3, 77) THEN NULL ELSE embedding END "
        f"AS embedding FROM '{SF_DIR}/embeddings.parquet') "
        f"TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'")

    def rows(cols, data):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(
            tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order)
            for r in data
        )

    sdf = REGISTRY[name].fn(spark, str(tmp_path))
    rel = con.sql(REGISTRY[name].oracle)
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert rows(sdf.columns, sdf.collect()) == rows(list(rel.columns), rel.fetchall())
