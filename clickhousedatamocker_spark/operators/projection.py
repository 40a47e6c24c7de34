"""PCA dimensionality reduction for embedding columns — the standard
pre-ANN compression step at corpus scale (project 768/1536-dim model
embeddings to 64/128 dims before indexing; OPQ/PCA rotation is the first
stage of the FAISS production recipe alongside the IVF-PQ stack in
operators/pq.py).

Scale shape — the whole point of the design:

- **Training is ONE distributed moment pass.** Each Arrow batch
  accumulates its partial ``(count, Σx, ΣxxT)`` in numpy and emits a
  single row; the driver combines ≤ num_partitions partials and
  eigendecomposes the d×d covariance (d ≤ a few thousand — model state,
  never data). No per-row shuffle, no iteration: this is exact PCA, not
  power iteration, because covariance assembly is embarrassingly
  associative.
- **Projection is row-local.** Small models inline the (k×d) component
  matrix as literal arrays (all-JVM, zero Python); large models take one
  Arrow pass against a broadcast numpy matrix — the same literal/Arrow
  auto-selection discipline as the IVF codebook and DSIR model paths.
- **Determinism.** Partial sums are float and partition-order varies, so
  covariance entries wobble at the ULP level; eigenvectors are made
  deterministic up to that wobble by sign-fixing (largest-|component|
  coordinate positive). The numpy-parity test pins training against a
  single-machine reference at 1e-8.

Reference points: Jolliffe, Principal Component Analysis (2002);
Jégou et al. 2011 (PQ; PCA rotation as the standard pre-step);
FAISS wiki "PCAR + IVFPQ" index factory recipes (public docs).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhousedatamocker_spark.operators.similarity import as_double
from clickhousedatamocker_spark.schema import array_lit

# inline the component matrix as plan literals up to this many floats
# (k * d); above it, broadcast numpy + one Arrow pass (plan size O(1))
_LITERAL_PCA_MAX = 8192


def pca_train(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> dict:
    """Exact PCA of the embedding column: returns ``{"mean": [d floats],
    "components": [k rows of d floats], "explained_variance": [k floats],
    "total_variance": float (trace of the covariance — the FULL d-dim
    variance mass, kept so explained ratios stay honest for k < d),
    "n": int}`` — driver-bounded model state.

    One distributed pass: per-Arrow-batch numpy partials of
    ``(count, Σx, ΣxxT)`` (one emitted row per batch), combined on the
    driver, then ``numpy.linalg.eigh`` on the d×d covariance. Components
    are ordered by descending eigenvalue and sign-fixed (the coordinate
    with the largest |value| is made positive) so the model is
    deterministic up to float-summation wobble."""
    import numpy as np
    from pyspark.sql import types as T

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    vecs = emb.select(as_double(vec_col).alias("__v")).filter(F.col("__v").isNotNull())

    out_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("ss", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
            yield pd.DataFrame(
                {
                    "n": [X.shape[0]],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    rows = vecs.mapInPandas(partials, out_schema).collect()
    if not rows:
        raise ValueError("pca_train: no vectors")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    if k > d:
        raise ValueError(f"k={k} exceeds embedding dim {d}")
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in rows:
        s += np.asarray(r["s"])
        ss += np.asarray(r["ss"]).reshape(d, d)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    # sign-fix: make each component's largest-|coordinate| positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": evals[order].tolist(),
        "total_variance": float(np.trace(cov)),
        "n": int(n),
    }


def pca_project(
    emb: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Append ``out_col`` = components @ (x - mean) — the k-dim projection.
    Row-local, zero shuffle; literal-array expression for small models
    (plan-inlined, all-JVM), one Arrow pass against the broadcast numpy
    matrix above ``_LITERAL_PCA_MAX`` floats. NULL vectors project NULL."""
    comps = model["components"]
    mean = model["mean"]
    k, d = len(comps), len(mean)
    v = as_double(vec_col)
    if k * d <= _LITERAL_PCA_MAX:
        from clickhousedatamocker_spark.operators.similarity import materialize_col

        mean_l = array_lit(mean)
        # Generate barrier on the centered vector: the k per-component
        # folds each reference it, and CollapseProject would otherwise
        # inline (and re-run) the zip_with subtraction once per fold —
        # k x d interpreted re-evals per row (the round-8 SQ8 bug class;
        # measured 2.8 s -> 0.9 s at 500k x 64, k=8)
        tmp = materialize_col(
            emb, F.zip_with(v, mean_l, lambda a, b: a - b), "__pca_c"
        )
        proj = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("__pca_c"),
                        array_lit(row),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for row in comps
            ]
        )
        return tmp.withColumn(
            out_col, F.when(v.isNull(), F.lit(None).cast("array<double>")).otherwise(proj)
        ).drop("__pca_c")
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        emb.schema.fields + [T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )
    bc = emb.sparkSession.sparkContext.broadcast(
        (np.asarray(mean, dtype=np.float64), np.asarray(comps, dtype=np.float64))
    )

    def project(batches):
        mu, C = bc.value
        for pdf in batches:
            vals = []
            for vec in pdf[vec_col]:
                if vec is None:
                    vals.append(None)
                else:
                    vals.append((C @ (np.asarray(vec, dtype=np.float64) - mu)).tolist())
            pdf[out_col] = pd.Series(vals, index=pdf.index, dtype=object)
            yield pdf

    return emb.mapInPandas(project, out_schema)


def fixed_projection_components(k: int, d: int) -> list[list[float]]:
    """Deterministic closed-form unit projection vectors — the fixed-model
    device that makes the projection OPERATOR driver-gradable (the
    ``quality_classifier_profile`` trick: training is float-trajectory
    state no SQL oracle can replay, but with components PINNED the
    projection arithmetic — zip_with/aggregate dot products — is pure
    double math a DuckDB twin recomputes bit-for-bit from the same
    literals). Row c is the L2-normalized integer pattern
    ``((c*31 + j*17) % 13) - 6``: integer raws are exact in both engines,
    and the Python-side normalization constant is inlined as the SAME
    literal on both sides."""
    comps = []
    for c in range(k):
        raw = [((c * 31 + j * 17) % 13) - 6 for j in range(d)]
        nrm = math.sqrt(sum(x * x for x in raw))
        comps.append([x / nrm for x in raw])
    return comps


def pca_explained_ratio(model: dict) -> list[float]:
    """Cumulative explained-variance ratio of the model's k components
    against the TRUE total variance (the covariance trace, stored at train
    time as ``total_variance``) — so ``ratio[-1] < 1.0`` whenever k < d,
    reaching 1.0 only when the k components capture the full mass.
    Normalizing by the retained top-k eigenvalue sum instead would force
    the cumulative ratio to 1.0 for ANY k and overstate the explained
    fraction (the round-7 advisory finding). Models trained before
    ``total_variance`` existed fall back to the retained mass (and then DO
    overstate for k < d)."""
    ev = model["explained_variance"]
    tot = float(model.get("total_variance", sum(ev)))
    if tot <= 0:
        return [0.0] * len(ev)
    acc, out = 0.0, []
    for v in ev:
        acc += v
        out.append(acc / tot)
    return out
