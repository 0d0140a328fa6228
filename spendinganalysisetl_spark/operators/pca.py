"""Distributed PCA over the ``embeddings`` table: covariance via exact
integer Gramian partials, eigendecomposition on the driver (d×d only),
projection as executor-local GEMM.

The missing piece between the similarity family (brute/IVF/LSH top-k,
SemDeDup cells — operators/similarity.py) and a real training-data
pipeline: whitening / dimensionality reduction before ANN indexing or
clustering. Reference repo has no vector surface at all; this extends
the engine's north-star LLM-pipeline coverage (SURVEY.md §2.11).

Scale design
------------
- The corpus NEVER shuffles and never reaches the driver. One Arrow
  pass (``mapInPandas``) emits one row of Gramian partials per
  partition — d(d+1)/2 upper-triangle products + d column sums + a
  count, ~2 145 values at d=64 — and the driver collects those rows
  once and sums them. This is the classic tree-aggregation shape:
  100 TB of vectors reduce to kilobytes before anything moves. Driver
  memory for the collect is one row per partition of the partials
  stage (d(d+1)/2 + d + 1 doubles, ~17 KB at d=64); the stage's
  fan-out is capped at the default parallelism (``spread_scaled``).
- Exactness device (same philosophy as ``functions.scalars.money_sum``):
  vectors are quantized scan-side to integer-valued float64
  (``floor(x·scale + 0.5)``, scale=1000). Products and sums of
  integer-valued float64 are EXACT while |Σ| < 2^53 (batch GEMM in
  numpy stays integer-valued; so do the per-partition and driver-side
  sums, in any order), so the aggregated moments are exact integers, the
  covariance numerator ``n·Σxy − Σx·Σy`` is computed in DECIMAL(38,0)
  with no float error, and the single final integer→double cast +
  division sequence is IEEE-deterministic across engines. DuckDB
  reproduces every covariance entry bit-for-bit from the same
  quantized integers (HUGEINT sums) — the oracle reimplements the
  math, it does not echo Spark. Quantization costs ~1e-3 input noise,
  documented and identical on both sides.
- Eigendecomposition runs on the DRIVER over the d×d matrix (d=64 →
  4 096 doubles — constant in corpus size; numpy/LAPACK ``eigh``).
  Deterministic up to eigenvector sign and equal-eigenvalue order, so
  both are pinned: components are sorted by (eigenvalue desc, index)
  and sign-fixed so each component's largest-|coefficient| entry is
  positive. The differential test (tests/test_pca.py) re-derives the
  whole decomposition single-node in numpy and matches projections
  bit-for-bit.
- Projection broadcasts the d×k component matrix (64×8 doubles) into
  an Arrow-batched GEMM — one matrix multiply per batch, corpus stays
  partition-local, output is k numbers per vector.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spendinganalysisetl_spark.catalog import local_table as _local_table
from spendinganalysisetl_spark.partitioning import spread_scaled as _spread

_SCALE = 1000.0


def gramian_partials(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: float = _SCALE,
    spread: bool = True,
) -> DataFrame:
    """One row per partition: exact integer moments of the quantized
    vectors — ``n``, per-dimension sums ``s`` (length d), and the
    flattened upper-triangle Gramian ``g`` (length d(d+1)/2). All
    values are integer-valued doubles (exact: quantized inputs ≤ ~1e4
    in magnitude, sums ≪ 2^53)."""
    import numpy as np

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n, s, g = 0, 0.0, 0.0
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            q = np.floor(x * scale + 0.5)
            n += q.shape[0]
            s = s + q.sum(axis=0)
            g = g + q.T @ q  # integer-valued float64 GEMM — exact
        if n:
            iu = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {"n": [float(n)], "s": [s.tolist()], "g": [g[iu].tolist()]}
            )

    # Size-adaptive fan-out: one Python/Arrow task round-trip per
    # partition for a d(d+1)/2-value partial — at sub-MB inputs a
    # full-parallelism fan costs one task setup per core per pass for
    # microseconds of GEMM each. Partition count cannot change the
    # result: partials are exact integer-valued float64 (module
    # docstring), so their sum is the same in any grouping.
    base = embeddings.select(vec_col)
    if spread:
        base = _spread(base)
    return base.mapInPandas(
        _partial, "n double, s array<double>, g array<double>"
    )


def _moments(
    embeddings: DataFrame,
    vec_col: str,
    scale: float,
    parts: DataFrame | None = None,
    spread: bool = True,
):
    """Exact corpus moments ``(n, s, g)`` — count, d column sums and the
    flat upper-triangle Gramian — from ONE collect of the per-partition
    partials, summed on the driver (exact in any order, module
    docstring). ``parts`` lets a multi-query session hand in a shared
    partials frame (registry ``_pca_parts``) so the covariance /
    projection / scree trio pays the corpus Arrow pass once."""
    import numpy as np

    if parts is None:
        parts = gramian_partials(embeddings, vec_col, scale, spread)
    rows = parts.collect()
    n = float(sum(r["n"] for r in rows))
    s = np.sum([r["s"] for r in rows], axis=0)
    g = np.sum([r["g"] for r in rows], axis=0)
    return n, s, g


def covariance_matrix(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: float = _SCALE,
    parts: DataFrame | None = None,
) -> DataFrame:
    """Population covariance of the quantized embeddings as flat rows
    ``(i, j, cov)`` for i ≤ j, rounded to 6dp. The corpus reduces to
    per-partition partials; everything after operates on one
    d(d+1)/2-row literal frame of the collected moments.

    cov(i,j) = (n·Σxixj − Σxi·Σxj) / n² / scale², with the numerator
    exact in DECIMAL(38,0) and one deterministic cast-then-divide tail
    (matching the DuckDB oracle's HUGEINT math step for step).

    Cache lifetime: this function caches nothing. The moments are
    bounded (d + d(d+1)/2 + 1 exact values, corpus-independent) and
    become literal rows, so the returned plan has no lineage to the
    corpus or to a shared ``parts`` frame, and a standalone call leaves
    no cached frame behind
    (tests/test_pca.py::test_covariance_standalone_no_cache_leak)."""
    import numpy as np

    n, s, g = _moments(embeddings, vec_col, scale, parts)
    moments = _local_table(
        embeddings.sparkSession,
        [
            (int(i), int(j), float(v), float(s[i]), float(s[j]), n)
            for i, j, v in zip(*np.triu_indices(len(s)), g)
        ],
        "i long, j long, gsum double, s_i double, s_j double, n double",
    )
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("gsum").cast(dec)
        - F.col("s_i").cast(dec) * F.col("s_j").cast(dec)
    )
    cov = (
        num.cast("double")
        / F.col("n").cast("double")
        / F.col("n").cast("double")
        / F.lit(scale * scale)
    )
    return (
        moments.select("i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov"))
        .repartition(1)
        .sortWithinPartitions("i", "j")
    )


def _fit_components(
    embeddings: DataFrame,
    vec_col: str,
    k: int,
    scale: float,
    parts: DataFrame | None = None,
    spread: bool = True,
):
    """Driver-side tail of the fit: the EXACT moments (``_moments``),
    the covariance matrix, ``eigh``, and the two eigen ambiguities
    pinned: order = (eigenvalue desc, index asc), sign =
    largest-|coefficient| entry positive (first such index on ties)."""
    import numpy as np

    n, s, flat = _moments(embeddings, vec_col, scale, parts, spread)
    d = len(s)
    g = np.zeros((d, d))
    g[np.triu_indices(d)] = flat
    g = g + g.T - np.diag(np.diag(g))
    cov = (n * g - np.outer(s, s)) / n / n / (scale * scale)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(-evals, kind="stable")
    evals, evecs = evals[order], evecs[:, order]
    for c in range(evecs.shape[1]):
        j = int(np.argmax(np.abs(evecs[:, c])))
        if evecs[j, c] < 0:
            evecs[:, c] = -evecs[:, c]
    mean = s / n / scale
    return mean, evals, evecs[:, :k]


def pca_project(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    scale: float = _SCALE,
    ordered: bool = True,
    parts: DataFrame | None = None,
    spread: bool = True,
) -> DataFrame:
    """Project every vector onto the top-k principal components of the
    (quantized) corpus covariance. Output is flat rows
    ``(vec_id, pc, score)`` rounded to 6dp — |corpus|·k rows. The d×k
    component matrix is closure-broadcast into an Arrow GEMM; the
    corpus never shuffles. Scoring centers each QUANTIZED vector on the
    corpus mean then dots it with the component (standard PCA scores,
    in original units)."""
    import numpy as np

    mean, _evals, comps = _fit_components(
        embeddings, vec_col, k, scale, parts, spread
    )
    kk = comps.shape[1]

    def _project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            q = np.floor(x * scale + 0.5) / scale
            scores = (q - mean) @ comps
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(kk),
                    "pc": np.tile(np.arange(kk), len(pdf)),
                    "score": scores.ravel(),
                }
            )
            yield out

    # Size-adaptive fan-out: per-ROW projection — the emitted
    # (id, pc, score) values are a pure function of the row, so
    # partition count cannot change them, only their order (and every
    # consumer aggregates or sorts).
    proj_base = embeddings.select(id_col, vec_col)
    if spread:
        proj_base = _spread(proj_base)
    projected = proj_base.mapInPandas(
        _project, f"{id_col} long, pc long, score double"
    )
    out = projected.select(
        id_col, "pc", (F.round("score", 6) + F.lit(0.0)).alias("score")
    )
    if not ordered:
        # Production core: |corpus|·k rows stay distributed — the
        # canonical single-partition sort below is an oracle/report
        # concern only (a one-task sink over a corpus-sized output is
        # wrong at scale; presentation-layer boundary).
        return out
    return out.repartition(1).sortWithinPartitions(id_col, "pc")


def variance_explained(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    parts: DataFrame | None = None,
) -> DataFrame:
    """Top-k eigenvalues and their share of total variance — the scree
    the analyst reads before choosing k. Total variance = trace of the
    covariance (sum of ALL d eigenvalues); both come out of the same
    exact aggregated moments, so this is one corpus pass plus
    driver-side d×d math."""
    _mean, evals, _comps = _fit_components(embeddings, vec_col, k, _SCALE, parts)
    total = float(evals.sum())
    top = evals[:k]
    rows = [
        (
            int(p),
            round(float(ev), 6) + 0.0,
            round(float(ev / total), 6) + 0.0,
        )
        for p, ev in enumerate(top)
    ]
    return _local_table(
        embeddings.sparkSession,
        rows,
        "pc long, eigenvalue double, var_share double",
    )
