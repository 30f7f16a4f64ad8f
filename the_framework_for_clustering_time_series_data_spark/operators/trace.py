"""Post-clustering join-like operators (reference T1-T5,
/root/reference/app.py:958-1034, 2308-2342).

The reference implements these with positional parallel arrays and
O(k·n) scans; here every stage is keyed by ``series_id`` so traceback
is an equi-join, representatives are a windowed top-1, and centroids
are a per-cluster mean — all Catalyst-planned, broadcast where small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def centroids(emb: DataFrame, pred: DataFrame) -> DataFrame:
    """T1 — per-cluster centroid = per-class mean of the embedding
    coordinates, excluding the DBSCAN outlier pseudo-cluster -1
    (app.py:1003-1016; sklearn NearestCentroid with Euclidean metric is
    exactly the per-class mean).

    emb: (series_id, x, y); pred: (series_id, prediction).
    """
    return (
        emb.join(pred, "series_id")
        .where(F.col("prediction") != F.lit(-1))
        .groupBy("prediction")
        .agg(
            F.avg("x").alias("cx"),
            F.avg("y").alias("cy"),
            F.count("*").alias("n_members"),
        )
    )


def representatives(emb: DataFrame, pred: DataFrame, cents: DataFrame | None = None) -> DataFrame:
    """T2 — per cluster, the member closest to its centroid
    (app.py:1018-1033's O(k·n) scan → broadcast join + windowed top-1).

    Ties broken by series_id for determinism (the reference keeps the
    first scan hit, which is positional and nondeterministic). ``cents``
    is ``centroids(emb, pred)``, computed here unless the caller
    already holds it.
    """
    if cents is None:
        cents = centroids(emb, pred)
    joined = (
        emb.join(pred, "series_id")
        .where(F.col("prediction") != F.lit(-1))
        .join(F.broadcast(cents.select("prediction", "cx", "cy")), "prediction")
        .withColumn(
            "dist",
            F.sqrt(
                F.pow(F.col("x") - F.col("cx"), 2)
                + F.pow(F.col("y") - F.col("cy"), 2)
            ),
        )
    )
    w = Window.partitionBy("prediction").orderBy("dist", "series_id")
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("prediction", "series_id", "x", "y", "dist")
    )


def traceback(emb: DataFrame, x: float, y: float, tol: float = 1e-6) -> DataFrame:
    """T3 — plot-coordinate → series lookup. Replaces the reference's
    approximate-float positional matching (np.isclose scan,
    app.py:958-1000) with a predicate + key identity; callers then join
    ``series_id`` back to the raw table.
    """
    return emb.where(
        (F.abs(F.col("x") - F.lit(x)) < tol) & (F.abs(F.col("y") - F.lit(y)) < tol)
    )


def outliers(pred: DataFrame, raw: DataFrame) -> DataFrame:
    """T4 — DBSCAN outlier extraction + traceback to raw rows:
    ``prediction == -1`` filter joined to the raw long-form table
    (app.py:2308-2342). The outlier id set is tiny → broadcast side.
    """
    ids = pred.where(F.col("prediction") == F.lit(-1)).select("series_id")
    return raw.join(F.broadcast(ids), "series_id")
