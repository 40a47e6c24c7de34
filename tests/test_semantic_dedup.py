"""SemDeDup (Abbas et al. 2023) — semantic dedup over embeddings.

Verification strategy: a planted-cluster fixture plus a full pure-numpy
reference implementation of the SAME pipeline (k-means codebook passed to
both, so the test isolates the Spark dedup logic, not k-means). Plan tests
pin the blocking join as a hash equi-join (never cartesian) and the Arrow
large-k centroid-sim path against the literal small-k path.
"""

import math

import pytest
from pyspark.sql import functions as F

from clickhousedatamocker_spark.operators import similarity as S


def _mk_corpus(spark):
    """3 well-separated direction clusters in 6-dim; cluster 0 carries a
    planted near-dup triple (ids 0,1,2) and two distinct members (3,4)."""
    base = {
        "a": [10.0, 0.2, 0.1, 0.0, 0.1, 0.0],
        "b": [0.1, 10.0, 0.0, 0.3, 0.0, 0.1],
        "c": [0.0, 0.1, 10.0, 0.0, 0.2, 0.0],
    }

    def jitter(v, eps, s):
        return [x + eps * math.sin(7.0 * s + 3.0 * i) for i, x in enumerate(v)]

    rows = [
        (0, jitter(base["a"], 0.01, 1)),  # near-dup triple
        (1, jitter(base["a"], 0.01, 2)),
        (2, jitter(base["a"], 0.01, 3)),
        (3, jitter([10.0, 5.0, 0.1, 0.0, 0.1, 0.0], 0.0, 0)),  # distinct, same cluster
        (4, jitter([10.0, 0.2, 5.0, 0.0, 0.1, 0.0], 0.0, 0)),
        (5, jitter(base["b"], 0.01, 4)),  # near-dup pair in cluster b
        (6, jitter(base["b"], 0.01, 5)),
        (7, jitter([0.1, 10.0, 0.0, 5.0, 0.0, 0.1], 0.0, 0)),
        (8, jitter(base["c"], 0.0, 0)),  # singleton cluster member
        (9, jitter([0.0, 4.0, 10.0, 0.0, 0.2, 0.0], 0.0, 0)),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _np_semantic_dedup(rows, centroids, threshold):
    """Pure-numpy reference of the exact SemDeDup rule: nearest-centroid
    assignment (squared L2, cid tiebreak), intra-cluster cosine pairs >=
    threshold, connected components, keep argmin(centroid_sim, id)."""
    import numpy as np

    ids = [r[0] for r in rows]
    V = np.asarray([r[1] for r in rows], dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cid = d2.argmin(axis=1)

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    # union-find over above-threshold intra-cluster pairs
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cid[i] == cid[j] and round(cos(V[i], V[j]), 9) >= threshold:
                edges.append((ids[i], ids[j]))
                ri, rj = find(ids[i]), find(ids[j])
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    groups = {}
    in_group = {a for e in edges for a in e}
    for x in in_group:
        groups.setdefault(find(x), []).append(x)
    keep = set(ids)
    for members in groups.values():
        csim = {
            x: cos(V[ids.index(x)], C[cid[ids.index(x)]]) for x in members
        }
        keeper = min(members, key=lambda x: (csim[x], x))
        keep -= {x for x in members if x != keeper}
    return keep, edges


def test_semantic_dedup_matches_numpy_reference(spark):
    corpus = _mk_corpus(spark)
    centroids = S.ivf_train(corpus, n_centroids=3, n_iters=2, seed=7)
    rows = [(r["vec_id"], list(r["embedding"])) for r in corpus.collect()]
    want_keep, want_edges = _np_semantic_dedup(rows, centroids, threshold=0.95)
    # the fixture must actually exercise dedup: two planted groups
    assert len(want_keep) <= len(rows) - 3

    got_pairs = S.semantic_dedup_pairs(corpus, threshold=0.95, centroids=centroids)
    got_edges = {(r["id_a"], r["id_b"]) for r in got_pairs.collect()}
    assert got_edges == set(want_edges)

    survivors = S.semantic_dedup(corpus, threshold=0.95, centroids=centroids)
    got_keep = {r["vec_id"] for r in survivors.collect()}
    assert got_keep == want_keep
    # all original columns survive
    assert survivors.columns == corpus.columns


def test_semantic_dedup_high_threshold_is_identity(spark):
    corpus = _mk_corpus(spark)
    centroids = S.ivf_train(corpus, n_centroids=3, n_iters=2, seed=7)
    survivors = S.semantic_dedup(corpus, threshold=1.1, centroids=centroids)
    assert survivors.count() == corpus.count()


def test_semantic_dedup_pairs_plan_is_hash_equijoin(spark):
    corpus = _mk_corpus(spark)
    centroids = S.ivf_train(corpus, n_centroids=3, n_iters=2, seed=7)
    plan = (
        S.semantic_dedup_pairs(corpus, threshold=0.95, centroids=centroids)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_all_pairs_blas_matches_expr(spark):
    """The BLAS pair path (per-cluster normalized Gram slabs — the Abbas
    2023 shape, landed after the honest sf1 smoke measured the interpreted
    expression path at 71x on 10x data) produces the SAME pair set and
    9dp cosines as the all-JVM expression path, on both fixture tables."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = S.ivf_codebook_xengine(emb, n_centroids=8)
    e = emb.select("vec_id", S.as_double("embedding").alias("v")).withColumn(
        "cid", S._nearest_cid(S.quantize_vec(F.col("v")), cb)
    )

    def rows(method):
        return sorted(
            (r["id_a"], r["id_b"], r["cid"], r["cosine"])
            for r in S._all_pairs_within(
                e, "vec_id", ["cid"], threshold=0.3, method=method
            ).collect()
        )

    blas, expr = rows("blas"), rows("expr")
    assert len(blas) == len(expr) > 0
    for (a1, b1, c1, cos1), (a2, b2, c2, cos2) in zip(blas, expr):
        assert (a1, b1, c1) == (a2, b2, c2)
        assert cos1 == pytest.approx(cos2, abs=2e-9)


def test_hot_cluster_guard_under_cap_is_bit_identical(spark):
    """With a cap no cluster exceeds, the guarded path must equal the
    unguarded one exactly (values, not just counts)."""
    corpus = _mk_corpus(spark)
    centroids = S.ivf_train(corpus, n_centroids=3, n_iters=2, seed=7)
    base = sorted(
        tuple(r) for r in S.semantic_dedup_pairs(
            corpus, threshold=0.95, centroids=centroids
        ).collect()
    )
    guarded = sorted(
        tuple(r) for r in S.semantic_dedup_pairs(
            corpus, threshold=0.95, centroids=centroids, max_cluster_size=1000
        ).collect()
    )
    assert guarded == base


def test_hot_cluster_guard_mixed_keeps_cold_clusters_identical(spark):
    """A cap that makes only SOME clusters hot: the cold clusters' pairs are
    bit-identical to the unguarded run; hot-cluster pairs stay a subset of
    the unguarded pair set (the guard only ever drops, never invents)."""
    corpus = _mk_corpus(spark)
    centroids = S.ivf_train(corpus, n_centroids=3, n_iters=2, seed=7)
    unguarded = {
        (r["id_a"], r["id_b"]): (r["cid"], r["cosine"])
        for r in S.semantic_dedup_pairs(corpus, threshold=0.95, centroids=centroids).collect()
    }
    # cluster sizes in the fixture are 5/4/1 → cap=4 makes exactly one hot
    guarded = {
        (r["id_a"], r["id_b"]): (r["cid"], r["cosine"])
        for r in S.semantic_dedup_pairs(
            corpus, threshold=0.95, centroids=centroids, max_cluster_size=4
        ).collect()
    }
    assert set(guarded) <= set(unguarded)
    for k, v in guarded.items():
        assert unguarded[k] == v
    hot_cids = {v[0] for k, v in unguarded.items() if k not in guarded} | {
        v[0] for v in guarded.values()
    }
    # every cold cluster's pairs survive untouched
    cold_pairs_unguarded = {k: v for k, v in unguarded.items() if v[0] not in hot_cids}
    assert all(k in guarded for k in cold_pairs_unguarded)


def test_hot_cluster_guard_megacluster_bounded_output(spark):
    """The VERDICT scenario: >=50k near-identical embeddings collapse into
    one centroid. Unguarded, the self-join would emit ~1.25e9 pairs; the
    guard must complete with output bounded by ~1.5 * n * cap."""
    n, cap = 50_000, 50
    dim = 4
    mega = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.lit(1.0),
            F.lit(1.0) + F.col("id").cast("double") / F.lit(1e9),  # near-identical jitter
            F.lit(0.5),
            F.lit(0.25),
        ).alias("embedding"),
    )
    centroids = [[1.0, 1.0, 0.5, 0.25], [-1.0] * dim]  # everything lands in cid 0
    pairs = S.semantic_dedup_pairs(
        mega, threshold=0.999, centroids=centroids, max_cluster_size=cap
    )
    got = pairs.count()
    n_chunks = -(-n // cap)
    within = n_chunks * (cap * (cap - 1) // 2)
    adjacent = (n_chunks - 1) * cap * cap
    assert 0 < got <= within + adjacent
    # near-identical vectors: every generated candidate passes the threshold,
    # so the bound is tight — and LINEAR in n (cap-scaled), not quadratic
    assert got == within + adjacent


def test_hot_cluster_guard_identical_mass_is_one_component(spark):
    """Identical vectors chunked by the guard must still collapse to ONE
    dup-group downstream: adjacent-chunk edges chain the chunks together, so
    semantic_dedup keeps exactly one survivor of the mass."""
    n, cap = 2_000, 50
    mega = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0)).alias("embedding"),
    )
    # one distinct far-away doc that must survive untouched
    other = spark.createDataFrame(
        [(999_999, [-5.0, 1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = mega.unionByName(other)
    centroids = [[1.0, 2.0, 3.0, 4.0], [-5.0, 1.0, 0.0, 0.0]]
    survivors = S.semantic_dedup(
        corpus, threshold=0.999, centroids=centroids, max_cluster_size=cap
    )
    ids = {r["vec_id"] for r in survivors.collect()}
    assert 999_999 in ids
    assert len(ids - {999_999}) == 1  # the whole identical mass -> one keeper


def test_hot_cluster_guard_rejects_degenerate_cap(spark):
    corpus = _mk_corpus(spark)
    with pytest.raises(ValueError, match="max_cluster_size"):
        S.semantic_dedup_pairs(corpus, centroids=[[0.0] * 6], max_cluster_size=1)


def test_centroid_sim_arrow_path_matches_literal(spark, monkeypatch):
    corpus = _mk_corpus(spark)
    centroids = S.ivf_train(corpus, n_centroids=3, n_iters=2, seed=7)
    e = S.with_nearest_cid(
        corpus.select("vec_id", S.as_double("embedding").alias("v")), "v", centroids, "cid"
    )
    lit = {
        r["vec_id"]: r["s"]
        for r in S._with_centroid_sim(e, "v", "cid", centroids, "s").collect()
    }
    monkeypatch.setattr(S, "_LITERAL_CODEBOOK_MAX", 0)
    arrow = {
        r["vec_id"]: r["s"]
        for r in S._with_centroid_sim(e, "v", "cid", centroids, "s").collect()
    }
    assert lit.keys() == arrow.keys()
    for k in lit:
        assert lit[k] == pytest.approx(arrow[k], abs=1e-12)


def test_cluster_stratified_sample_preserves_mix(spark):
    """ceil(fraction * cluster_size) rows survive per cluster — the cluster
    mix is preserved exactly, deterministically under the seed."""
    import math

    from pyspark.sql import functions as F

    corpus = _mk_corpus(spark)
    centroids = S.ivf_train(corpus, n_centroids=3, n_iters=2, seed=7)
    assigned = S.with_nearest_cid(
        corpus.select("vec_id", S.as_double("embedding").alias("v")), "v", centroids, "cid"
    )
    sizes = {r["cid"]: r["n"] for r in assigned.groupBy("cid").agg(F.count("*").alias("n")).collect()}

    sampled = S.cluster_stratified_sample(corpus, centroids, fraction=0.5)
    assert sampled.columns == corpus.columns
    got = sampled.join(assigned.select("vec_id", "cid"), "vec_id")
    per_cid = {r["cid"]: r["n"] for r in got.groupBy("cid").agg(F.count("*").alias("n")).collect()}
    for cid, n in sizes.items():
        assert per_cid.get(cid, 0) == math.ceil(n * 0.5), (cid, n, per_cid)

    # deterministic: same seed -> same ids; different seed -> same counts
    ids1 = {r["vec_id"] for r in sampled.collect()}
    ids2 = {r["vec_id"] for r in S.cluster_stratified_sample(corpus, centroids, fraction=0.5).collect()}
    assert ids1 == ids2
    ids3 = {r["vec_id"] for r in S.cluster_stratified_sample(corpus, centroids, fraction=0.5, seed=9).collect()}
    assert len(ids3) == len(ids1)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="fraction"):
        S.cluster_stratified_sample(corpus, centroids, fraction=0.0)


def test_blas_memory_budget_derives_cluster_cap(spark):
    """Round-7 verdict finding #1: the BLAS pair path holds a whole
    cluster's n x d float64 matrix per task, so semantic_dedup_pairs must
    derive a max_cluster_size from blas_task_bytes when none is given.
    A planted hot cluster larger than the derived cap engages the chunked
    path (pair output linear, run completes inside the budget); a generous
    budget reproduces the unguarded result exactly."""
    import numpy as np

    rng = np.random.default_rng(11)
    d = 8
    # one fat cluster: 3000 near-identical vectors around a single center
    center = rng.normal(size=d)
    rows = [
        (i, [float(x) for x in center + 1e-3 * rng.normal(size=d)])
        for i in range(200)
    ] + [
        (1000 + i, [float(x) for x in rng.normal(size=d)]) for i in range(50)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [list(center), [0.0] * (d - 1) + [5.0]]

    # tiny budget: cap = max(2, budget // (24*d)) = 10 rows -> chunked path
    budget = 10 * 24 * d
    capped = S.semantic_dedup_pairs(
        corpus, threshold=0.999, centroids=centroids, blas_task_bytes=budget
    )
    n_capped = capped.count()
    # chunked output is linear-bounded: <= 1.5 * size * cap pairs
    assert 0 < n_capped <= int(1.5 * 200 * 10)

    # generous budget: derived cap exceeds every cluster -> bit-identical
    # to an explicit huge cap (the unguarded semantics)
    loose = {
        tuple(r)
        for r in S.semantic_dedup_pairs(
            corpus, threshold=0.999, centroids=centroids
        ).collect()
    }
    explicit = {
        tuple(r)
        for r in S.semantic_dedup_pairs(
            corpus, threshold=0.999, centroids=centroids, max_cluster_size=10**6
        ).collect()
    }
    assert loose == explicit
    assert len(loose) >= n_capped  # chunking only ever drops boundary pairs
