"""[EXT] Product Quantization (PQ) for vector compression + ADC search.

Jégou, Douze, Schmid 2011 ("Product Quantization for Nearest Neighbor
Search", IEEE TPAMI — public algorithm): split each d-dim vector into
``m`` subvectors, learn a small k-means codebook PER SUBSPACE, and store
each vector as ``m`` small codes (here m bytes — a 64-dim float vector
compresses 256 B → 4 B, 64×). Queries never decompress: Asymmetric
Distance Computation (ADC) precomputes, per subspace, the distance from
the query subvector to every codebook centroid (an m×k lookup table) and
scores a database vector as the SUM of m table lookups.

Scale shape:

- TRAINING is m independent Lloyd runs over subvector slices — same
  bounded-driver-state discipline as clustering.kmeans_assign (per
  iteration: one scan + a k×(d/m)-cell aggregate; only k·d doubles ever
  sit on the driver). Production trains on a sample (pass a sampled frame);
  the codebook is what matters, not seeing every row.
- ASSIGNMENT (Lloyd updates, encoding, IVF residuals) runs in
  ``mapInPandas`` + numpy: codebooks travel as an O(k·d) closure
  broadcast and each Arrow batch computes argmin codes in the expanded
  ‖x‖²−2x·Cᵀ+‖c‖² BLAS form (:func:`_np_subspace_codes`). The plan has
  O(1) nodes at any k/m/d. Encoding is the only full-corpus pass.
- ADC SEARCH broadcasts nothing and joins nothing: the m×k lookup table
  is inlined as literal arrays, so scoring is ``element_at`` sums inside
  codegen and the plan is scan → project → TakeOrdered(k).

Determinism contract (inherited from clustering.py so a DuckDB oracle can
replay every code): init = subvectors of the k smallest ids; argmin ties
to the lowest code; centroids rounded after every update; empty clusters
keep their previous centroid; fixed iteration count.

Tie caveat: the BLAS expanded form sums in a different order than the
oracle's sequential (x−c)² fold, so two centroids whose distances agree
to <1 ulp could in principle argmin differently — unobservable on
continuous data (centroid updates are rounded to 6 dp and real
embeddings have distance gaps many orders above 1 ulp).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_train",
    "ivfpq_encode",
    "ivfpq_fit_encode",
    "ivfpq_search",
]


def _np_codebooks(codebooks: list):
    import numpy as np

    return [np.asarray(c, dtype=np.float64) for c in codebooks]


def _np_subspace_codes(X, np_cbs) -> "object":
    """(n, m) int32 nearest-centroid codes per subspace; ties → lowest code
    (np.argmin returns the first minimum). Distances via the expanded BLAS
    form — O(n·k) memory, no (n, k, d) intermediate."""
    import numpy as np

    n = X.shape[0]
    m = len(np_cbs)
    sub_d = np_cbs[0].shape[1]
    codes = np.empty((n, m), dtype=np.int32)
    for j, C in enumerate(np_cbs):
        S = X[:, j * sub_d : (j + 1) * sub_d]
        d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ C.T) + (C * C).sum(1)[None, :]
        codes[:, j] = d2.argmin(1)
    return codes


def _sql_darr(vals) -> str:
    """A double-array SQL literal; ``repr(float)`` is the shortest
    round-trip decimal, and Spark's ``D`` suffix parses it back to the
    identical double (asserted against CAST in a probe)."""
    return "array(" + ", ".join(repr(float(v)) + "D" for v in vals) + ")"


def _explode_subcodes(df: DataFrame, codebooks: list, vec_col: str) -> DataFrame:
    """One row per (input row, subspace) with the subspace index, assigned
    code, and subvector — codebooks as closure state, numpy argmin per
    batch."""
    import numpy as np
    import pandas as pd

    np_cbs = _np_codebooks(codebooks)
    m = len(np_cbs)
    sub_d = np_cbs[0].shape[1]

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = _np_subspace_codes(X, np_cbs)
            frames = []
            for j in range(m):
                frames.append(
                    pd.DataFrame(
                        {
                            "j": np.full(len(X), j, dtype=np.int32),
                            "code": codes[:, j],
                            "sub": list(X[:, j * sub_d : (j + 1) * sub_d]),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(vec_col).mapInPandas(fn, "j int, code int, sub array<double>")


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
    round_dp: int = 6,
) -> list:
    """Learn ``m`` per-subspace codebooks; returns a list of m lists of k
    centroids (each d/m floats) — bounded driver state (k·d doubles), the
    same materialization a broadcast would perform."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    init = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} training rows, got {len(init)}")
    codebooks = [
        [[float(x) for x in r[vec_col][j * sub_d : (j + 1) * sub_d]] for r in init]
        for j in range(m)
    ]
    # ONE scan per iteration for ALL subspaces: each row explodes into m
    # (subspace, code, subvector) rows and a single groupBy(j, code)
    # computes every codebook's update — iteration cost is one pass + an
    # (m·k)×(d/m)-cell aggregate regardless of m, not m passes.
    for _t in range(n_iter - 1):
        rows = _explode_subcodes(df, codebooks, vec_col).groupBy("j", "code").agg(
            *[
                F.round(F.avg(F.col("sub")[i].cast("double")), round_dp).alias(f"x{i}")
                for i in range(sub_d)
            ]
        ).collect()
        new = {
            (int(r["j"]), int(r["code"])): [r[f"x{i}"] for i in range(sub_d)]
            for r in rows
        }
        codebooks = [
            [new.get((j, c), codebooks[j][c]) for c in range(k)] for j in range(m)
        ]
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """One scan → ``(id_col, *passthrough_cols, codes array<int> length m)``:
    every vector replaced by its m nearest-centroid codes."""
    import numpy as np
    import pandas as pd

    np_cbs = _np_codebooks(codebooks)
    keep = [id_col] + list(passthrough_cols or [])
    keep_types = [f"{c} {df.schema[c].dataType.simpleString()}" for c in keep]

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = _np_subspace_codes(X, np_cbs)
            out = {c: pdf[c].to_numpy() for c in keep}
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    return df.select(*keep, vec_col).mapInPandas(
        fn, ", ".join(keep_types) + ", codes array<int>"
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list,
    query: list,
    top_k: int = 10,
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """ADC search over PQ codes: per subspace, the query→centroid distances
    become one literal k-element array; a row's score is the sum of m
    ``element_at`` lookups — no decompression, no join, codegen all the
    way to TakeOrdered. Returns ``(id_col, adc_dist)`` for the ``top_k``
    nearest, distance rounded to ``round_dp`` (ordering key too, so ulp-
    level Spark-vs-oracle summation drift cannot reorder the cut)."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    if len(query) != m * sub_d:
        raise ValueError(f"query dim {len(query)} != {m * sub_d}")
    terms = ["0.0D"]
    for j, cents in enumerate(codebooks):
        qsub = [float(v) for v in query[j * sub_d : (j + 1) * sub_d]]
        lut = [
            sum((qv - cv) ** 2 for qv, cv in zip(qsub, cent)) for cent in cents
        ]
        terms.append(f"element_at({_sql_darr(lut)}, codes[{j}] + 1)")
    scored = encoded.select(
        id_col, F.round(F.expr(" + ".join(terms)), round_dp).alias("adc_dist")
    )
    return scored.orderBy("adc_dist", id_col).limit(top_k)


def _assign_cells(df: DataFrame, cents: list, vec_col: str) -> DataFrame:
    """Coarse assignment: ``(__v vector, __c nearest-centroid cell)``."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = _np_subspace_codes(X, [C])[:, 0]
            yield pd.DataFrame({"__v": list(X), "__c": cells})

    return df.select(vec_col).mapInPandas(fn, "__v array<double>, __c int")


def _lloyd_full(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    n_iter: int,
    dim: int,
    round_dp: int = 6,
) -> list:
    """Full-dimension Lloyd returning the CENTROIDS (the k-means centroids
    and the coarse quantizer for IVF) under the determinism contract of
    clustering.py: ``n_iter`` − 1 rounded updates from the k-smallest-id
    init."""
    init = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} rows, got {len(init)}")
    cents = [[float(x) for x in r[vec_col]] for r in init]
    for _t in range(n_iter - 1):
        rows = _assign_cells(df, cents, vec_col).groupBy("__c").agg(
            *[
                F.round(F.avg(F.col("__v")[i].cast("double")), round_dp).alias(f"x{i}")
                for i in range(dim)
            ]
        ).collect()
        new = {int(r["__c"]): [r[f"x{i}"] for i in range(dim)] for r in rows}
        cents = [new.get(c, cents[c]) for c in range(k)]
    return cents


def _assign_residual(
    df: DataFrame, coarse: list, vec_col: str, id_col: str
) -> DataFrame:
    """``(id, cell, __res residual vector)`` in one pass — the shared first
    stage of IVF-PQ training and encoding."""
    import numpy as np
    import pandas as pd

    C = np.asarray(coarse, dtype=np.float64)
    id_type = df.schema[id_col].dataType.simpleString()

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = _np_subspace_codes(X, [C])[:, 0]
            R = X - C[cells]
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "cell": cells, "__res": list(R)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} {id_type}, cell int, __res array<double>"
    )


def ivfpq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
) -> tuple[list, list]:
    """Train the two quantizer tiers: the coarse (IVF) centroids on full
    vectors, then PQ codebooks on the RESIDUALS x − centroid[cell] —
    residual codebooks are shared across cells, which is what keeps m·k
    centroids accurate over the whole space (the FAISS IVFPQ recipe).
    Returns ``(coarse, codebooks)``; both are bounded driver state.

    NOTE: encoding after this recomputes the coarse assignment — when you
    need codes for the SAME frame you trained on, use
    :func:`ivfpq_fit_encode`, which materializes the assigned/residual
    table once and feeds both codebook training and encoding from it."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    coarse = _lloyd_full(df, vec_col, id_col, n_cells, n_iter, dim)
    res_df = _assign_residual(df, coarse, vec_col, id_col).select(
        id_col, F.col("__res").alias(vec_col)
    )
    codebooks = pq_train(
        res_df, vec_col=vec_col, id_col=id_col, m=m, k=k, n_iter=n_iter, dim=dim
    )
    return coarse, codebooks


def ivfpq_fit_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
) -> tuple[list, list, DataFrame]:
    """Train AND encode with ONE coarse-assignment pass (round-7 scan cut):
    ``ivfpq_train`` + ``ivfpq_encode`` back-to-back each compute the
    full-corpus coarse argmin; here the ``(id, cell, residual)`` table is
    computed once, materialized to a scratch parquet (the dedup shingle-
    table discipline — no cache-release protocol, consumers re-scan
    columnar data; at 100 TB you'd persist this table anyway), and BOTH
    codebook training and code emission read it. Returns
    ``(coarse, codebooks, encoded)`` with ``encoded = (id, cell, codes)``
    — identical to ``ivfpq_encode(df, *ivfpq_train(df, ...))`` (asserted
    in test_pq)."""
    from zio_analytics_spark.tmpdirs import materialize_table

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    coarse = _lloyd_full(df, vec_col, id_col, n_cells, n_iter, dim)
    res_tbl = materialize_table(
        _assign_residual(df, coarse, vec_col, id_col), prefix="zas_ivfpq_res_"
    )
    codebooks = pq_train(
        res_tbl.select(id_col, F.col("__res").alias(vec_col)),
        vec_col=vec_col, id_col=id_col, m=m, k=k, n_iter=n_iter, dim=dim,
    )
    encoded = pq_encode(
        res_tbl.select(id_col, "cell", F.col("__res").alias(vec_col)),
        codebooks, vec_col=vec_col, id_col=id_col, passthrough_cols=["cell"],
    ).select(id_col, "cell", "codes")
    return coarse, codebooks, encoded


def ivfpq_encode(
    df: DataFrame,
    coarse: list,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ encoding (the FAISS IVFPQ layout's algebra): assign each
    vector to its nearest coarse centroid (inverted-list cell), then PQ-
    encode the RESIDUAL x − centroid[cell] — residuals are what make a
    shared codebook accurate across cells. One scan, one Arrow pass.
    Returns ``(id_col, cell, codes)``; on disk this is exactly what
    ann_index-style ``partitionBy(cell)`` layouts store, so search scans
    prune to probed cells (PartitionFilters — proven in
    similarity_ann_partitioned) and read m bytes per vector."""
    import numpy as np
    import pandas as pd

    C = np.asarray(coarse, dtype=np.float64)
    np_cbs = _np_codebooks(codebooks)
    id_type = df.schema[id_col].dataType.simpleString()

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = _np_subspace_codes(X, [C])[:, 0]
            codes = _np_subspace_codes(X - C[cells], np_cbs)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": cells,
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} {id_type}, cell int, codes array<int>"
    )


def ivfpq_search(
    encoded: DataFrame,
    coarse: list,
    codebooks: list,
    query: list,
    nprobe: int = 2,
    top_k: int = 10,
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Probed ADC search: rank coarse cells by query→centroid distance,
    keep the ``nprobe`` nearest (ties to the lower cell id), and score
    ONLY vectors in those cells with per-cell lookup tables built from
    the query's residual against that cell. Everything driver-side is
    k_c·d + nprobe·m·k doubles; the cell filter is a literal IN list, so
    a partitioned layout prunes the scan before it reads a byte of the
    other cells. Scoring is the literal-LUT expression of
    :func:`pq_adc_topk`, one ``CASE`` branch per probed cell."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    qd = [
        sum((float(qv) - cv) ** 2 for qv, cv in zip(query, cent))
        for cent in coarse
    ]
    probed = sorted(range(len(coarse)), key=lambda c: (qd[c], c))[:nprobe]
    # per probed cell: LUTs from the query residual w.r.t. that cell
    luts = {}
    for cell in probed:
        qres = [float(q) - c for q, c in zip(query, coarse[cell])]
        luts[cell] = [
            [
                sum((qv - cv) ** 2 for qv, cv in zip(qres[j * sub_d : (j + 1) * sub_d], cent))
                for cent in cents
            ]
            for j, cents in enumerate(codebooks)
        ]
    pruned = encoded.where(F.col("cell").isin(probed))
    dist_sql = "CAST(NULL AS DOUBLE)"
    for cell in probed:
        terms = ["0.0D"] + [
            f"element_at({_sql_darr(luts[cell][j])}, codes[{j}] + 1)"
            for j in range(m)
        ]
        dist_sql = (
            f"CASE WHEN cell = {cell} THEN {' + '.join(terms)} "
            f"ELSE {dist_sql} END"
        )
    scored = pruned.select(
        id_col, F.round(F.expr(dist_sql), round_dp).alias("adc_dist")
    )
    return scored.orderBy("adc_dist", id_col).limit(top_k)
