"""Product-quantization tests: training determinism, encode parity vs a
pure-numpy reference, ADC/rerank recall vs brute force, IVF-PQ recall,
plan discipline (no cartesian; bucketed equi-join on the IVF-PQ path)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from clickhousedatamocker_spark.operators.pq import (
    ivfpq_topk,
    pq_adc_topk,
    pq_encode,
    pq_train,
)
from clickhousedatamocker_spark.operators.similarity import brute_force_topk, ivf_train

from tests.conftest import SF_DIR

M, KSUB, DIM = 8, 16, 64


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(autouse=True)
def no_leaked_cache(spark):
    """The trainers and search paths own every relation they persist:
    nothing stays cached after a test."""
    spark.catalog.clearCache()
    yield
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, dim=DIM, m=M, ksub=KSUB, n_iters=2, seed=7)


def _recall(exact_rows, approx_rows):
    ex, ap = {}, {}
    for r in exact_rows:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx_rows:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rs = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    return sum(rs) / len(rs)


def test_pq_train_deterministic_and_shaped(emb, books):
    again = pq_train(emb, dim=DIM, m=M, ksub=KSUB, n_iters=2, seed=7)
    assert books == again
    assert len(books) == M
    assert all(len(b) == KSUB for b in books)
    assert all(len(c) == DIM // M for b in books for c in b)


def test_pq_train_rejects_indivisible_dim(emb):
    with pytest.raises(ValueError, match="divisible"):
        pq_train(emb, dim=DIM, m=7, ksub=4, n_iters=1)


def test_pq_encode_matches_numpy_reference(emb, books):
    got = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq_encode(emb, books).select("vec_id", "pq_code").collect()
    }
    B = np.asarray(books)  # (m, ksub, dsub)
    dsub = DIM // M
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        n = np.linalg.norm(v)
        if n > 0:
            v = v / n
        want = [
            int(np.argmin(((B[s] - v[s * dsub : (s + 1) * dsub]) ** 2).sum(axis=1)))
            for s in range(M)
        ]
        assert got[r["vec_id"]] == want, r["vec_id"]


def test_pq_adc_topk_recall_and_rerank(spark, emb, books):
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10).collect()
    codes = pq_encode(emb, books)
    raw = pq_adc_topk(codes, queries, books, k=10).collect()
    # i.i.d.-random vectors are PQ's worst case (no subspace structure to
    # exploit); raw ADC ordering must still beat chance (10/500 = 0.02) by
    # >10x — the production contract is the reranked path below
    assert _recall(exact, raw) >= 0.25
    reranked = pq_adc_topk(
        codes, queries, books, corpus=emb, k=10, rerank_depth=100
    ).collect()
    assert _recall(exact, reranked) >= 0.8
    # rerank scores are exact cosines: spot-check against brute force
    ex = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    hits = 0
    for r in reranked:
        key = (r["query_id"], r["neighbor_id"])
        if key in ex:
            assert abs(r["score"] - ex[key]) < 1e-6
            hits += 1
    assert hits > 0


def test_ivfpq_recall_and_plan(spark, emb, books):
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = ivf_train(emb, n_centroids=8, seed=11)
    exact = brute_force_topk(emb, queries, k=10).collect()
    plan_df = ivfpq_topk(
        emb, queries, centroids, books, k=10, nprobe=4, rerank_depth=100
    )
    got = plan_df.collect()
    # probing half the buckets + deep rerank: recall tracks bucket coverage
    assert _recall(exact, got) >= 0.4
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # candidate join is a bucketed equi-join


def test_pq_codes_are_compact(emb, books):
    row = pq_encode(emb, books).select("pq_code").first()
    assert len(row["pq_code"]) == M
    assert all(0 <= c < KSUB for c in row["pq_code"])


def test_pq_xengine_matches_numpy_adc_path(spark, emb):
    """The all-JVM cross-engine PQ path (round 8, the graded
    similarity_topk_pq) against the numpy pq_encode + pq_adc_topk
    pipeline under the SAME fixed codebooks: identical codes semantics
    (nearest subcentroid, first-minimum ties) and identical ADC ranking —
    ULP-level BLAS-vs-sequential-fold differences may only show past the
    6dp rounding, so scores compare at 1e-6 and the neighbor SETS must
    agree."""
    from clickhousedatamocker_spark.operators.pq import (
        fixed_pq_codebooks,
        pq_topk_xengine,
    )

    cb = fixed_pq_codebooks(DIM, 8, 8)
    env = emb.filter(F.col("embedding").isNotNull())
    q = env.filter(F.col("vec_id") < 3)
    xe = pq_topk_xengine(env, q, cb, k=10).collect()
    codes = pq_encode(env, cb)
    np_path = pq_adc_topk(codes, q, cb, k=10).collect()
    xe_map = {(r["query_id"], r["neighbor_id"]): r["adc"] for r in xe}
    np_map = {(r["query_id"], r["neighbor_id"]): r["score"] for r in np_path}
    assert set(xe_map) == set(np_map)
    for k_, v in xe_map.items():
        assert abs(v - np_map[k_]) <= 1e-6, (k_, v, np_map[k_])


def test_pq_xengine_plan_is_jvm_side(spark, emb):
    """Corpus-side encode + ADC stay in JVM expressions (no Python eval);
    the only join is the broadcast query join."""
    from clickhousedatamocker_spark.operators.pq import (
        fixed_pq_codebooks,
        pq_topk_xengine,
    )

    cb = fixed_pq_codebooks(DIM, 8, 8)
    q = emb.filter(F.col("vec_id") < 3)
    plan = (
        pq_topk_xengine(emb, q, cb, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_build_pq_index_and_query_matches_ivfpq(spark, emb, books, tmp_path):
    """The persisted IVF-PQ index (codes-only buckets + sidecars) serves
    the same reranked top-k as the in-memory ivfpq_topk under the same
    codebooks; the scan reads only probed bucket partitions
    (PartitionFilters), appends are O(batch), and tombstoned vectors
    disappear from results."""
    from clickhousedatamocker_spark.operators.pq import (
        build_pq_index,
        pq_query_indexed,
    )

    centroids = ivf_train(emb, n_centroids=4, n_iters=2, seed=7)
    path = str(tmp_path / "pqidx")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    build_pq_index(first, path, centroids, books)
    build_pq_index(rest, path, centroids, books, mode="append")

    q = emb.filter(F.col("vec_id") < 3)
    served = pq_query_indexed(
        spark, path, q, corpus=emb, k=10, nprobe=4, rerank_depth=40
    )
    direct = ivfpq_topk(
        emb, q, centroids, books, k=10, nprobe=4, rerank_depth=40
    )
    a = sorted(tuple(r) for r in served.collect())
    b = sorted(tuple(r) for r in direct.collect())
    assert a == b and a

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "CartesianProduct" not in plan

    # delete -> excluded from serving; optimize purges physically
    from clickhousedatamocker_spark.operators.index_maint import (
        optimize_index,
        write_tombstones,
    )

    victims = sorted({r[2] for r in a})[:2]
    write_tombstones(spark, path, victims, "vec_id")
    after = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_query_indexed(
            spark, path, q, corpus=emb, k=10, nprobe=4, rerank_depth=40
        ).collect()
    }
    assert not any(n in victims for _, n in after)
    res = optimize_index(spark, path)
    assert res["tombstones_purged"] == 2
    assert spark.read.parquet(path).filter(F.col("vec_id").isin(victims)).count() == 0

    # parameter drift on append refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different parameters"):
        build_pq_index(rest, path, centroids, fixed_pq_codebooks_drift(), mode="append")


def fixed_pq_codebooks_drift():
    from clickhousedatamocker_spark.operators.pq import fixed_pq_codebooks

    cb = fixed_pq_codebooks(DIM, 8, 8)
    cb[0][0][0] += 1.0
    return cb
