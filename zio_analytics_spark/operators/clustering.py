"""[EXT] DataFrame-native k-means (Lloyd's algorithm).

The MLlib-shaped iteration without the MLlib dependency: centroids are
BOUNDED driver state (k·d doubles — the same materialization a broadcast
performs), each iteration is one scan plus one k×d-cell aggregate. At
100 TB that is: per-iteration cost = one pass over the data + a k·d-sized
shuffle — the known-optimal distributed Lloyd shape.

The Lloyd loop and the distance kernel are the ones PQ and IVF-PQ use
(:func:`~zio_analytics_spark.operators.pq._lloyd_full`): each assignment
is one ``mapInPandas`` pass with the centroids as closure state and a
numpy argmin over the expanded ‖x‖²−2x·c+‖c‖² distances, so the plan has
O(1) nodes at any k·d. The final assignment is one more such pass
(:func:`~zio_analytics_spark.operators.pq.pq_encode` with the centroids
as a single codebook).

Determinism contract (what makes a DuckDB oracle replay possible):

- init = the embeddings of the k smallest ids (data-derived, no RNG);
- ties in the argmin break toward the LOWEST cluster index (numpy
  ``argmin`` takes the first minimum; the oracle orders by
  ``(dist, j)``) — up to the sub-ulp caveat in pq.py's module docstring;
- centroid coordinates are ROUNDED (default 6 dp) after every update, so
  cross-engine summation-order ulps in the per-cluster means cannot
  accumulate across iterations;
- an empty cluster keeps its previous centroid (COALESCE in the oracle).

Iteration count is FIXED (like :func:`~zio_analytics_spark.operators.
graph.pagerank`): convergence-threshold stopping would make the plan
data-dependent and the oracle unreplayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_assign"]


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_iter: int = 3,
    dim: int | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Lloyd's k-means for ``n_iter`` fixed iterations; returns
    ``(id_col, cluster)`` — every row's assignment under the final
    centroids. ``dim`` defaults to the length of the first vector."""
    from zio_analytics_spark.operators.pq import _lloyd_full, pq_encode

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    cents = _lloyd_full(df, vec_col, id_col, k, n_iter, dim, round_dp)
    return pq_encode(df, [cents], vec_col, id_col).select(
        id_col, F.col("codes")[0].alias("cluster")
    )
