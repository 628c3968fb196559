"""Integer-lattice k-means — deterministic Lloyd clustering over
embedding columns (beyond-reference scope: the semantic-clustering /
IVF-quantizer-training primitive of an embedding-aware corpus engine).

Determinism design (the pagerank_int playbook applied to clustering):
classic k-means is float arithmetic whose per-cell means depend on
shuffle order — not oracle-comparable and not even run-to-run stable.
Here every coordinate snaps to a ``1/grid`` integer lattice
(``round(double(x)·grid)``, exact in both engines — the float operand
is widened BEFORE the multiply), centroids are truncated
integer means (``sum div count`` — Spark ``div`` and DuckDB ``//``
both truncate toward zero, verified including negatives), and
distances are exact int64 squared-L2 (headroom: diff ≤ 2·grid,
squared ≤ 4·grid², ×64 dims = 2.6e14 at grid 1e6 — five orders below
int64).  Assignment ties break on cell id.  The whole 2-iteration run
is a pure function of the data — bit-identical in any engine, any
partitioning, any layout — so a DuckDB oracle can replay it unrolled.

The Lloyd loop itself is :func:`similarity.pq_train_codes` with one
subspace (``m=1``): a product quantizer with a single subvector IS
k-means, so both share one integer Lloyd step (map-side argmin against
one broadcast centroid row; only (cell, pos, coord) triples shuffle).
A fixed iteration count keeps the plan finite and the oracle an unroll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_pipelining_spark.operators.similarity import pq_train_codes

GRID = 1_000_000


def kmeans_int(
    emb_df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = GRID,
    keep_vec: bool = False,
) -> DataFrame:
    """Deterministic k-means assignment after ``iters`` Lloyd steps.

    Seeding: ``cell = id mod k`` (engine-portable, data-independent).
    Output: ``<id_col>, cell, d`` — final cell and exact int64 squared
    lattice distance to its centroid.  ``keep_vec=True`` also emits
    ``s``, the snapped lattice vector the assignment already carries —
    free for consumers that need the coordinates downstream
    (``dedup.semantic_dedup``'s cosine stage), where re-snapping and
    joining back on id would cost an extra scan plus a shuffle join.
    """
    codes, _ = pq_train_codes(
        emb_df, m=1, k=k, iters=iters, id_col=id_col, vec_col=vec_col, grid=grid
    )
    cols = [id_col, "cell", "d"] + ([F.col("ss").alias("s")] if keep_vec else [])
    return codes.select(*cols)
