"""Distributed clustering over the ``embeddings`` table (north_star
§2.11): full-corpus Lloyd's k-means where the corpus NEVER shuffles.

``similarity.ivf_topk`` trains its coarse quantizer on a driver-side
sample (the FAISS shape — right when cells only need to approximate the
distribution). This module is the complementary scale path for when the
ASSIGNMENTS themselves are the product — e.g. semantic-dedup cells,
corpus topic maps, or balanced shard construction — and the fit must see
every row.

Scale shape (the canonical distributed k-means):
- Each Lloyd iteration is ONE job: ``mapInPandas`` computes per-PARTITION
  partial statistics (cell → count, sum-vector) — a k×d matrix per
  partition — and only those partials are collected (k·d·n_partitions
  numbers, independent of corpus size). The driver combines partials,
  recenters, and broadcasts the new centroid matrix into the next
  iteration's UDF closure. No shuffle, no groupBy over the corpus, no
  per-row Python (Arrow batches + one GEMM per batch).
- A 1000-executor run behaves identically: n_partitions grows, the
  collected partials stay k×d each, and iteration cost is one scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spendinganalysisetl_spark.partitioning import spread_scaled as _spread_scaled


def _fit_centroids(
    embeddings: DataFrame,
    k: int,
    iters: int,
    seed: int,
    vec_col: str,
    spread: bool = True,
):
    """Lloyd's iterations via per-partition partial sums; returns the
    final (k, d) float64 centroid matrix. Init is a deterministic
    corpus sample (orderBy id limit 4096 → seeded choice), matching
    ``ivf_topk``'s convention so fits are reproducible across runs and
    cluster layouts.

    ``spread=False`` skips the pre-fit fan-out repartition: right for
    a FIXTURE-SIZED input already in one partition, where fanning 32
    rows across 32 partitions makes every Lloyd job pay 32 Python/
    Arrow task setups instead of 1 (measured 11 s → ~1 s for the
    3-iteration kmeans_fixture fit, before the ``pyworker`` daemon cut
    the per-task setup). The at-scale default stays True —
    coarse file splits plus per-row GEMM need the fan-out. The fit is
    bit-identical either way (order-free exact-integer partials)."""
    import numpy as np

    from spendinganalysisetl_spark.operators.similarity import corpus_sample

    id_col = embeddings.columns[0]
    sample = np.asarray(
        [r[1] for r in corpus_sample(embeddings, id_col, vec_col)],
        dtype=np.float64,
    )
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=min(k, len(sample)), replace=False)]

    # One spread (shuffle) total, persisted for the fit: every Lloyd
    # iteration then scans the cached partitions — without the persist,
    # each iteration re-pays the scan AND the spread exchange.
    # Size-adaptive (guide §2.5): every Lloyd pass pays one
    # Python/Arrow task round-trip PER PARTITION for a k×d partial, so
    # fanning a sub-MB corpus to full parallelism costs 32 task setups
    # per iteration for microseconds of GEMM each (sf0.1, local[4],
    # warm medians: 0.87 s at the derived 1 partition vs 0.97 s at 4;
    # 1.2 s at 32 vs 0.84 s at 1 before the ``pyworker`` daemon cut
    # the per-task setup). Partition count provably cannot change the fit:
    # inputs are float32, so every float64 partial sum is exact
    # (24-bit mantissas + ~30 bits of count headroom < 53) and the
    # driver-side combine is associative — verified bit-identical
    # centroids (np.array_equal) at 1 vs 32 partitions on sf0.1.
    data = embeddings.select(vec_col)
    if spread:
        data = _spread_scaled(data)
    data = data.persist()

    try:
        for _ in range(iters):
            cmat = cent.copy()

            def partials(batches, cmat=cmat):
                import numpy as np
                import pandas as pd

                kk, d = cmat.shape
                counts = np.zeros(kk, dtype=np.int64)
                sums = np.zeros((kk, d), dtype=np.float64)
                for pdf in batches:
                    x = np.asarray(pdf.iloc[:, 0].tolist(), dtype=np.float64)
                    if not len(x):
                        continue
                    # nearest centroid by euclidean distance: argmin ||x-c||²
                    # = argmax (x·c - ||c||²/2); one GEMM per Arrow batch.
                    scores = x @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)
                    assign = np.argmax(scores, axis=1)
                    counts += np.bincount(assign, minlength=kk)
                    np.add.at(sums, assign, x)
                yield pd.DataFrame(
                    {
                        "cell": range(kk),
                        "n": counts,
                        "s": [row.tolist() for row in sums],
                    }
                )

            rows = data.mapInPandas(
                partials, "cell int, n long, s array<double>"
            ).collect()
            kk, d = cent.shape
            import numpy as _np

            counts = _np.zeros(kk, dtype=_np.int64)
            sums = _np.zeros((kk, d), dtype=_np.float64)
            for r in rows:
                counts[r["cell"]] += r["n"]
                sums[r["cell"]] += _np.asarray(r["s"], dtype=_np.float64)
            nonzero = counts > 0
            cent = cent.copy()
            cent[nonzero] = sums[nonzero] / counts[nonzero, None]
    finally:
        data.unpersist()
    return cent


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
    spread: bool = True,
) -> DataFrame:
    """Fit k-means on the FULL corpus (see module docstring) and return
    every row with its cluster id: input columns + ``cell``. Assignment
    is a narrow Arrow-batched pandas UDF over the broadcast centroid
    matrix — a pure projection, no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = _fit_centroids(embeddings, k, iters, seed, vec_col, spread)

    @pandas_udf("int")
    def _cell(batch, cmat=cmat):
        x = np.asarray(batch.tolist(), dtype=np.float64)
        scores = x @ cmat.T - 0.5 * (cmat * cmat).sum(axis=1)
        return pd.Series(np.argmax(scores, axis=1).astype("int32"))

    return embeddings.withColumn("cell", _cell(F.col(vec_col)))


def kmeans_cluster_profile(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
    spread: bool = True,
) -> DataFrame:
    """Cluster-level corpus map: per cell, member count and mean vector
    norm (4dp) — the summary a semantic-dedup or topic-shard pass prints
    before acting on the assignments. Rows-only by nature (the fitted
    cells are engine-internal); the fit itself is differentially tested
    against a single-machine numpy Lloyd in tests/test_clustering.py."""
    assigned = kmeans_assign(embeddings, k, iters, seed, vec_col, spread)
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return (
        assigned.select("cell", norm.alias("norm"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("norm"), 4).alias("mean_norm"),
        )
        .repartition(1)
        .sortWithinPartitions("cell")
    )
