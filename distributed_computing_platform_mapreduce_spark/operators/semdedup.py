"""SemDeDup: cluster-scoped semantic deduplication over an embedding
column (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", arXiv:2303.09540).

MinHash/SimHash catch *lexical* near-duplicates; SemDeDup removes
*semantic* ones — paraphrases, translations-of-boilerplate, templated
rewrites — that share no n-grams but sit within a tight cosine ball in
embedding space. The paper's trick is what makes it tractable: k-means
cells bound the quadratic pair search, because true semantic duplicates
land in the same cell (a pair split across cells is, by construction,
farther apart than the cell radius). So the join graph is

    assign cells (one Arrow GEMM pass, broadcast k·dim codebook)
      → per-cell pairwise cosine (blockwise GEMM inside one Arrow
        group; only pairs ≥ θ leave the pass — 16 B rows)
      → connected components → survivor policy

which is the same candidates-then-verify → CC → survivors shape the
MinHash-LSH family uses, with "same k-means cell" as the band.

Scale: the shuffle keyed by cell carries (id, vector) rows once; the
per-cell work is O(|cell|²·dim) FLOPs but O(block·|cell|) memory via
the row-block loop, and the emitted pair set is threshold-pruned. The
quadratic-per-cell cost is the documented SemDeDup contract — callers
size ``n_clusters ∝ corpus/expected_cell`` (the paper runs 50k cells
over 5 B docs). ``cell_stats`` is the pre-flight advisor (one groupBy
pricing Σ n·(n−1)/2 pairs); ``max_cell_rows`` fails loudly instead of
letting one mega-cell OOM an executor.

Survivor policies: ``min_id`` (the CC family's default, integer-exact
— the driver-oracle leg) and ``centroid_far`` (the PAPER's policy:
within each duplicate group keep the example with the LOWEST cosine to
its cluster centroid — the outlier carries the most marginal
information; dedup_survivors_cc_best does the ranking with quality =
−cos(vec, centroid), quantized to 6 decimals so the order is
engine-replayable, ties → min id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_computing_platform_mapreduce_spark.operators import dedup as _dedup
from distributed_computing_platform_mapreduce_spark.operators import similarity as _sim


def _assign_cell_cos_udf(cmat):
    """(cell int, cent_cos double) per vector — argmax cosine against
    the broadcast codebook, one numpy GEMM per Arrow batch. Stable
    tie-break to the LOWEST cell id (matches ``_ivf_assign_udf``).
    The codebook is row-normalized on entry (exact no-op for unit-row
    trainers) so ``cent_cos`` is a true cosine even for a raw
    caller-pinned codebook."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cmat = _sim._unit_rows(cmat)

    @pandas_udf("struct<cell: int, cent_cos: double>")
    def assign(s: pd.Series) -> pd.DataFrame:
        if len(s) == 0:
            return pd.DataFrame({"cell": [], "cent_cos": []})
        mat = np.array([np.asarray(x, dtype=np.float64) for x in s])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (mat / norms) @ cmat.T
        cells = np.argmax(sims, axis=1)  # first (lowest) index on ties
        return pd.DataFrame(
            {
                "cell": cells.astype("int32"),
                "cent_cos": sims[np.arange(len(cells)), cells],
            }
        )

    return assign


def cell_stats(assigned: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Pre-flight cost advisor over an assigned frame: per-cell member
    count and the pair count the verify stage would compute —
    ``(cell, n, n_pairs)``, ordered worst-first. Sum of ``n_pairs`` is
    the total GEMM work; a dominant cell says raise ``n_clusters``
    before running."""
    return (
        assigned.groupBy(cell_col)
        .agg(F.count("*").alias("n"))
        .withColumn("n_pairs", (F.col("n") * (F.col("n") - 1) / 2).cast("long"))
        .orderBy(F.col("n").desc())
    )


def semdedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    centroids=None,
    iters: int = 5,
    seed: int = 7,
    block_rows: int = 1024,
    max_cell_rows: int | None = None,
) -> DataFrame:
    """Within-cell semantic near-dup pairs: ``(id_a, id_b, cos, cell)``
    with ``id_a < id_b`` and ``cos ≥ threshold``, where both members
    share an argmax-cosine k-means cell.

    ``centroids`` reuses a trained (or pinned) codebook; otherwise
    ``similarity.ivf_train`` runs the sort-free distributed Lloyd.
    The per-cell scan is a row-block GEMM (``block_rows`` rows of the
    cell against the whole cell per step) so memory stays
    O(block·|cell|) while only threshold-passing pairs materialize.
    ``max_cell_rows`` raises inside the task when a cell exceeds it —
    the loud alternative to an executor OOM three hours into a run.
    """
    import numpy as np

    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be a cosine in [-1, 1], got {threshold}")
    if centroids is None:
        centroids = _sim.ivf_train(
            corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_clusters, iters=iters, seed=seed
        )
    assigned = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.element_at(_sim._ivf_assign_udf(centroids, 1)(F.col(vec_col)), 1).alias(
            "cell"
        ),
    )

    thr = float(threshold)
    cap = max_cell_rows
    blk = int(block_rows)

    def pairs_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if cap is not None and n > cap:
            raise ValueError(
                f"semdedup cell {int(pdf['cell'].iloc[0])} holds {n} rows"
                f" > max_cell_rows={cap}; raise n_clusters (cell_stats"
                " sizes the work before running)"
            )
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cos": [], "cell": []}
            ).astype({"id_a": "int64", "id_b": "int64", "cos": "float64", "cell": "int32"})
        # sort by id so emitted pairs are (low, high) by construction
        pdf = pdf.sort_values("id", kind="mergesort")
        ids = pdf["id"].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        unit = mat / norms
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, blk):
            hi = min(lo + blk, n)
            sims = unit[lo:hi] @ unit.T  # (block, n)
            for r in range(lo, hi):
                row = sims[r - lo]
                cand = np.nonzero(row[r + 1 :] >= thr)[0] + r + 1
                if len(cand):
                    out_a.append(np.full(len(cand), ids[r]))
                    out_b.append(ids[cand])
                    out_c.append(row[cand])
        if not out_a:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cos": [], "cell": []}
            ).astype({"id_a": "int64", "id_b": "int64", "cos": "float64", "cell": "int32"})
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
                "cell": np.full(
                    sum(len(a) for a in out_a), int(pdf["cell"].iloc[0]), dtype="int32"
                ),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        pairs_in_cell, "id_a long, id_b long, cos double, cell int"
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    centroids=None,
    iters: int = 5,
    seed: int = 7,
    policy: str = "min_id",
    block_rows: int = 1024,
    max_cell_rows: int | None = None,
) -> DataFrame:
    """Cluster-scoped semantic dedup: drop every embedding that shares
    a ≥``threshold`` cosine component (transitively, within cells) with
    a surviving one. Returns the surviving subset of ``corpus``.

    ``policy='min_id'`` keeps the lowest id per duplicate component
    (integer-exact — the driver-oracle operating point);
    ``policy='centroid_far'`` keeps the member FARTHEST from its cell
    centroid (the paper's §3 choice — the least-typical copy preserves
    the most information), via ``dedup_survivors_cc_best`` with
    quality = −round(cent_cos, 6) so the ranking replays identically
    on any engine (quantization below float-summation jitter, ties →
    min id)."""
    if policy not in ("min_id", "centroid_far"):
        raise ValueError(f"policy must be min_id|centroid_far, got {policy!r}")
    if centroids is None:
        centroids = _sim.ivf_train(
            corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_clusters, iters=iters, seed=seed
        )
    pairs = semdedup_pairs(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        centroids=centroids,
        block_rows=block_rows,
        max_cell_rows=max_cell_rows,
    ).select("id_a", "id_b")
    if policy == "min_id":
        return _dedup.dedup_survivors_cc(corpus, pairs, id_col)
    scored = corpus.withColumn(
        "__negcos",
        -F.round(
            _assign_cell_cos_udf(centroids)(F.col(vec_col))["cent_cos"], 6
        ),
    )
    return _dedup.dedup_survivors_cc_best(
        scored, pairs, id_col, quality_col="__negcos"
    ).drop("__negcos")
