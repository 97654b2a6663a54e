"""SemDeDup-style semantic deduplication over an embedding column.

Models the published SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540,
public): k-means-cluster the corpus embeddings, then inside each cluster
drop all but one member of every cosine-similarity >= eps duplicate group.
The clustering is a *candidate generator* — like the LSH band buckets in
operators/lsh.py — not part of the answer contract: it bounds which pairs
are compared, and the exact cosine threshold decides. This extends the
reference's dedup family (exact k-mer identity, code/dedup2.py:520-554)
to the embedding modality, the same widening the ANN operators apply to
check_sample.

Spark-first shape (the 100 TB story):

* **Assignment is one Arrow matmul per batch.** The centroid matrix is
  tiny (k x dim float64) and ships in the UDF closure; each batch does
  ``normalize(V) @ C.T -> argmax`` — no shuffle, no per-row Python.
* **Centroid update moves k x dim partials, never vectors.** Each Arrow
  batch emits at most k rows of (cluster, count, sum-vector); the shuffle
  reduces those, and the driver collects exactly k*dim scalars per
  iteration (a bounded collect, like the split histogram in
  operators/split.py).
* **Cells are capped** (rank-by-id truncation, the lsh.py DROP_CAP
  pattern) so no reducer row sees an unbounded group even if a cell is
  hot; the within-cell pair join is then bounded work per cell.
* **Transitivity** reuses the tested large-star/small-star connected
  components operator — edges only ever exist within a cell, so the edge
  volume is sum(cell_pairs <= cap^2), not n^2.

Determinism note: Lloyd iterations sum floats, and Spark's partial-sum
order varies with partitioning, so centroid coordinates can differ in
final ulps between runs. The *output* contract (rep_id/kept) is stable
whenever eps-duplicate groups are geometrically tight relative to the
cell-assignment margin — the regime semantic dedup targets (and the one
the planted driver-oracle corpus constructs; see __spark_entry__
q_semantic_dedup). For knife-edge corpora the answer is still a valid
SemDeDup pruning, just not bit-pinned across partitionings.

SemDeDup keeps the member with the *lowest* similarity to the cluster
centroid within each duplicate group (paper §2.2); this implementation
keeps the minimum id instead — a deterministic, engine-independent
election (the same min-id rule every other dedup operator here uses).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from genome_deduplication_spark.operators.connected_components import (
    connected_components,
)
from genome_deduplication_spark.operators.similarity import _as_double, _dot


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def _batch_matrix(col: pd.Series, dim: int) -> np.ndarray:
    if len(col) == 0:
        return np.zeros((0, dim), dtype=np.float64)
    return np.vstack(col.to_numpy()).astype(np.float64, copy=False)


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means (Lloyd) -> (k, dim) unit-norm centroid matrix.

    Init is deterministic: the k lowest-id vectors (one bounded k-row
    collect). Each iteration is one pass over the data: an Arrow-batched
    assignment matmul emitting per-batch (cluster, count, sum) partials,
    reduced by a tiny groupBy; the driver collects k*dim scalars. Empty
    clusters keep their previous centroid.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    init_rows = (
        vectors.select(id_col, _as_double(F.col(vec_col)).alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if not init_rows:
        raise ValueError("kmeans_fit: empty input")
    cents = _normalize_rows(
        np.array([r["v"] for r in init_rows], dtype=np.float64)
    )
    k_eff = cents.shape[0]  # corpus may hold fewer than k vectors
    dim = cents.shape[1]

    partial_schema = (
        "cluster int, cnt long, s array<double>"
    )
    data = vectors.select(F.col(vec_col).alias("v"))
    if n_iter > 1:
        # each Lloyd iteration is a full pass; materialize once so the
        # passes read stored vectors, not the upstream lineage (eager —
        # lazy marks are not persisted under AQE, PLANS.md round 4)
        data = data.localCheckpoint(eager=True)

    for _ in range(n_iter):
        cents_b = cents  # capture current centroids in the closure

        def _partials(
            it: Iterator[pd.DataFrame], _c: np.ndarray = cents_b
        ) -> Iterator[pd.DataFrame]:
            for pdf in it:
                vm = _normalize_rows(_batch_matrix(pdf["v"], dim))
                if vm.shape[0] == 0:
                    continue
                assign = (vm @ _c.T).argmax(axis=1)
                clusters = np.unique(assign)
                sums = [vm[assign == c].sum(axis=0).tolist() for c in clusters]
                counts = [int((assign == c).sum()) for c in clusters]
                yield pd.DataFrame(
                    {
                        "cluster": clusters.astype(np.int32),
                        "cnt": counts,
                        "s": sums,
                    }
                )

        # one job per iteration: partials -> posexplode -> (cluster, pos)
        # sums; counts ride along on pos 0 so the pass stays single
        rows = (
            data.mapInPandas(_partials, partial_schema)
            .select("cluster", "cnt", F.posexplode("s").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum("x").alias("sx"),
                F.sum(
                    F.when(F.col("pos") == 0, F.col("cnt")).otherwise(F.lit(0))
                ).alias("c0"),
            )
            .collect()
        )
        sums = np.zeros((k_eff, dim), dtype=np.float64)
        counts = np.zeros(k_eff, dtype=np.int64)
        for r in rows:
            sums[r["cluster"], r["pos"]] = r["sx"]
            if r["pos"] == 0:
                counts[r["cluster"]] = r["c0"]
        nonempty = counts > 0
        new = cents.copy()
        new[nonempty] = _normalize_rows(sums[nonempty])
        cents = new
    return cents


def assign_cells(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Add the nearest-centroid (max-cosine) cell index — one closure-shipped
    matmul per Arrow batch, argmax ties to the lowest index."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    dim = cents.shape[1]

    @F.pandas_udf("int")
    def _assign(col: pd.Series) -> pd.Series:
        vm = _normalize_rows(_batch_matrix(col, dim))
        if vm.shape[0] == 0:
            return pd.Series([], dtype="int32")
        return pd.Series((vm @ cents.T).argmax(axis=1).astype(np.int32))

    return vectors.withColumn(out_col, _assign(_as_double(F.col(vec_col))))


def semantic_dedup(
    vectors: DataFrame,
    k: int,
    eps: float = 0.9,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int = 4096,
) -> DataFrame:
    """SemDeDup pruning: (id, rep_id, kept) — kept=false rows are the
    semantic duplicates to drop; rep_id is the min id of the duplicate
    group (eps-connected component within a k-means cell), self for
    survivors.

    Stages: k-means fit (bounded driver state) -> cell assignment (Arrow
    matmul, no shuffle) -> rank-cap per cell -> within-cell pair join with
    the exact cosine predicate JVM-side -> connected components, which
    label every input id.
    """
    cents = kmeans_fit(vectors, k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    assigned = assign_cells(vectors, cents, vec_col=vec_col).select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
        "cell",
    )
    assigned = assigned.select(
        "_id", "_v", "cell", F.sqrt(_dot(F.col("_v"), F.col("_v"))).alias("_n")
    )
    # cap hot cells before the pair join (lsh.py DROP_CAP pattern), then
    # materialize: the frame feeds both sides of the self-join (lazy
    # marks are not persisted under AQE; PLANS.md round 4)
    w = Window.partitionBy("cell").orderBy("_id")
    capped = (
        assigned.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_cell_size)
        .drop("_rn")
    ).localCheckpoint(eager=True)

    a = capped.select(
        "cell", F.col("_id").alias("id_a"), F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    b = capped.select(
        "cell", F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    edges = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            _dot(F.col("va"), F.col("vb"))
            / (F.col("na") * F.col("nb"))
            >= F.lit(float(eps))
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # the id universe comes from the input, not the assigned frame, so
    # the assignment matmul runs exactly once
    return connected_components(
        edges, vectors.select(F.col(id_col).alias("node"))
    ).select(
        F.col("node").alias(id_col),
        F.col("component").alias("rep_id"),
        (F.col("node") == F.col("component")).alias("kept"),
    )
