"""K-means (Lloyd's) over embedding columns — X6's corpus clustering.

The reference family has no clustering operator [R — SURVEY.md §0];
this is a north-star addition (BASELINE.json): the distributed,
exact-decimal full-corpus fit the ``kmeans_*`` oracle queries replay,
and the standard corpus partitioner for curriculum/domain bucketing
of training data. The ANN quantizers (the IVF coarse quantizer and
the PQ codebooks) do NOT use it: they train with the driver-side
Lloyd's of operators/quantization.py on the driver-sized learning
sample, the FAISS practice, where a full-corpus fit would only add
per-iteration jobs.

Spark-first shape (SURVEY.md §2 X6 scale notes):

- centroids live on the driver as a (k, dim) float64 array — a few
  KB — and are closed over / broadcast into each assignment pass;
  the data never collects.
- **assign**: one `mapInPandas` scan; per Arrow batch a vectorized
  ``|x|² − 2·x·C + |c|²`` argmin (ties → lowest cluster id). Row-
  independent ⇒ partitioning-invariant.
- **update**: `posexplode` + hash aggregate on (cluster, dim) with
  the exact decimal sum (``functions.dec_exact``), so the
  new centroids are identical under any shuffle order. Partial
  aggregation collapses the 64× explode to k×dim rows per task
  before the exchange — the shuffle is tiny regardless of input
  size.
- the driver loop carries only centroids + the per-iteration inertia
  (an exact decimal sum, rounded) — iterative algorithms on Spark
  want small driver state and one job per pass, which is what this
  does. Each iteration re-reads the cached input.

Determinism: init = first k vectors by id order; every floating
reduction is either exact-decimal or row-local IEEE ⇒ the whole fit
is reproducible under repartitioning (pinned in tests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_realtime_edu_spark.functions import dec_exact


def assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One assignment pass: (id, vec) → (id, cluster, dist2, vec).

    dist2 is squared L2 to the chosen centroid, rounded half-up to
    8 dp so downstream exact-decimal sums are engine-stable.
    """
    cmat = np.ascontiguousarray(centroids, dtype=np.float64)  # (k, dim)
    cnorm2 = np.einsum("kd,kd->k", cmat, cmat)

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # |x|^2 - 2 x.C + |c|^2 ; row-local, partitioning-invariant
            d2 = (
                np.einsum("nd,nd->n", x, x)[:, None]
                - 2.0 * (x @ cmat.T)
                + cnorm2[None, :]
            )
            cl = np.argmin(d2, axis=1)  # ties -> lowest cluster id
            best = d2[np.arange(len(x)), cl]
            best = np.floor(np.abs(best) * 1e8 + 0.5) / 1e8  # HALF_UP, d2 >= 0
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cluster": cl.astype(np.int32),
                    "dist2": best,
                    vec_col: pdf[vec_col],
                }
            )

    vec_type = dict(df.dtypes)[vec_col]
    return df.select(id_col, vec_col).mapInPandas(
        batches, schema=f"{id_col} long, cluster int, dist2 double, {vec_col} {vec_type}"
    )


def _update_centroids(
    assigned: DataFrame, prev: np.ndarray, vec_col: str
) -> tuple[np.ndarray, float]:
    """Exact-decimal per-(cluster, dim) means + rounded total inertia.

    One job computes both (the explode and the global sum share the
    scan). Empty clusters keep their previous centroid.
    """
    ex = assigned.select(
        "cluster",
        "dist2",
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v"),
    )
    rows = (
        ex.groupBy("cluster", "dim")
        .agg(
            (F.sum(dec_exact("v")).cast("double") / F.count(F.lit(1))).alias("mean_v"),
            F.sum(dec_exact("dist2")).cast("double").alias("sum_d2"),
        )
        .collect()
    )
    out = prev.copy()
    inertia = 0.0
    # collect() row order is partition-dependent; sort so the tiny
    # driver-side float sum is deterministic too.
    for r in sorted(rows, key=lambda r: (r["cluster"], r["dim"])):
        out[r["cluster"], r["dim"]] = r["mean_v"]
        if r["dim"] == 0:
            inertia += r["sum_d2"]
    return out, round(inertia, 4)


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, DataFrame, list[float]]:
    """Fit k-means; returns (centroids (k,dim), final assignments DF,
    per-iteration inertia history — non-increasing, pinned in tests).

    ``iters`` assignment scans + ``iters`` tiny (k×dim) collects; the
    input is cached for reuse across passes. At 100 TB: each pass is
    one map-side scan plus a k×dim-sized shuffle — the textbook
    scalable Lloyd's; switch init to k-means|| sampling before
    trusting quality on adversarial data (init here is deterministic
    first-k-by-id, which tests and IVF bucketing want).
    """
    base = df.select(id_col, vec_col).cache()
    try:
        first = base.orderBy(id_col).limit(k).collect()
        centroids = np.array([r[vec_col] for r in first], dtype=np.float64)
        if len(centroids) < k:
            raise ValueError(f"k={k} but only {len(centroids)} input rows")
        history: list[float] = []
        assigned = None
        for _ in range(iters):
            assigned = assign_clusters(base, centroids, id_col, vec_col)
            centroids, inertia = _update_centroids(assigned, centroids, vec_col)
            history.append(inertia)
        final = assign_clusters(base, centroids, id_col, vec_col)
        return centroids, final, history
    finally:
        base.unpersist()
