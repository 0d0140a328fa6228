"""Similarity search over the ``embeddings`` table (SURVEY.md §2.11 /
north_star): brute-force cosine top-k as the exact baseline, plus an
LSH-bucketed approximate variant as the scale path.

Scale design
------------
- Brute force is O(Q×N) — correct ground truth, used when Q (the query
  set) is small: the query side is broadcast so the corpus never
  shuffles; each executor streams its corpus partition against the
  in-memory query block. Top-k is a per-query window (partitioned by
  query id — no global sort).
- The LSH variant buckets vectors by random-hyperplane sign bits
  (deterministic seed — fixed per-dimension coefficients derived from
  xxhash64, not RNG state) and only scores within-bucket candidates:
  candidate generation is an equi-join on the bucket key, turning the
  cross product into a hash join. Probing multiple neighboring buckets
  (bit-flip probes) trades recall for cost — the standard multi-probe
  LSH compromise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spendinganalysisetl_spark.catalog import local_table as _local_table
from spendinganalysisetl_spark.catalog import session_memo
from spendinganalysisetl_spark.functions.vectors import cosine, dot
from spendinganalysisetl_spark.partitioning import spread as _spread


# Deterministic training samples, keyed per (context, input frame) —
# see corpus_sample. Strong refs to the keyed frames stop id() reuse;
# a small FIFO cap bounds driver memory when tests churn ad-hoc frames.
_SAMPLE_CACHE: dict[tuple, tuple[DataFrame, list]] = {}
_SAMPLE_CACHE_MAX = 8


def corpus_sample(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 4096,
) -> list:
    """Deterministic (id, vector) quantizer-training sample —
    ``orderBy(id) limit n``, collected ONCE per (session, input frame).
    Every sample-trained index in this module (IVF cells, PQ codebooks,
    SemDeDup cells) and clustering's Lloyd init draw the identical
    sample, so the TakeOrdered corpus scan behind it is paid once per
    session — the way one FAISS training sample serves every index
    built over the same corpus. Keyed on the input DataFrame object
    (catalog.load_table returns one relation per (session, table));
    the cached entry holds a strong reference to that frame so the
    id()-based key can never be recycled while the entry lives.

    Staleness contract (same as every catalog.session_memo store): the
    sample is pinned for the session lifetime — if the underlying
    parquet files are REWRITTEN mid-session (e.g. a regenerated sf1
    sidecar corpus), every index trained from it silently goes stale.
    Regenerating testdata requires either a fresh session (bench scripts
    already start one per run) or an explicit ``clear_sample_cache()``
    call — the invalidation hook make_sf1.py runs after rewriting the
    sidecar."""

    def build() -> tuple[DataFrame, list]:
        while len(_SAMPLE_CACHE) >= _SAMPLE_CACHE_MAX:
            del _SAMPLE_CACHE[next(iter(_SAMPLE_CACHE))]
        sample = embeddings.select(id_col, vec_col).orderBy(id_col).limit(n)
        return embeddings, sample.collect()

    key = (id(embeddings), id_col, vec_col, n)
    return session_memo(_SAMPLE_CACHE, embeddings.sparkSession, key, build)[1]


def clear_sample_cache() -> None:
    """Drop every cached training sample. Call after rewriting a corpus
    the current session already sampled (make_sf1.py does) — otherwise
    IVF/PQ/SemDeDup/k-means quantizers keep training on the pre-rewrite
    rows for the rest of the session."""
    _SAMPLE_CACHE.clear()


def _probe(df: DataFrame, query_ids: list[int] | None, id_col: str = "vec_id"):
    """The shared query-probe selection: explicit ids, or the default
    vec_id < 10 probe set."""
    return (
        df.filter(F.col(id_col).isin(query_ids))
        if query_ids is not None
        else df.filter(F.col(id_col) < 10)
    )


def _topk_epilogue(scored: DataFrame, k: int) -> DataFrame:
    """The shared top-k tail: rank per query by (cos desc — NULLS LAST,
    Spark's desc default — then candidate id), keep k. Tiny result
    (|queries|·k rows): single-partition sort avoids the
    range-partitioner sampling pass a global orderBy inserts.
    ``repartition(1)``, NOT ``coalesce(1)``: coalesce is a narrow
    merge of the stage ABOVE the window's exchange, so it would run
    the per-query ranking window (and its shuffle fetch) in ONE task;
    the explicit single-partition exchange ships only the ranked
    |queries|·k rows and keeps the window parallel (r11 interleaved
    A/B across the family: −0.06..−0.09 s each at sf0.1, and the gap
    grows with candidate volume — see clustered_cosine_pairs)."""
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id", "cos_sim", "rnk")
        .repartition(1)
        .sortWithinPartitions("q_id", "rnk")
    )


def brute_force_topk(
    embeddings: DataFrame, query_ids: list[int] | None = None, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: every query vector against the whole corpus.

    query_ids defaults to vec_id < 10 (a small probe set). Deterministic
    tiebreak on candidate id. Self-matches excluded.
    """
    queries = _probe(embeddings, query_ids).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = _spread(embeddings).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            (F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6) + F.lit(0.0)).alias("cos_sim"),
        )
    )
    return _topk_epilogue(scored, k)


def filtered_topk(
    embeddings: DataFrame,
    label: int | str,
    query_ids: list[int] | None = None,
    k: int = 5,
) -> DataFrame:
    """Metadata-filtered exact cosine top-k: each query's neighbors are
    ranked ONLY among corpus vectors carrying ``label`` — the
    vector-search-with-predicate pattern (RAG retrieval scoped to a
    tenant/source/language).

    Semantics deliberately PRE-filter: the candidate set is restricted
    before scoring, so the result is the true top-k of the filtered
    corpus. The tempting alternative — run unfiltered ANN top-k, then
    drop non-matching results (post-filtering) — silently returns FEWER
    than k (or zero) hits whenever the global neighborhood is dominated
    by other labels; that recall hole is the classic filtered-ANN
    pitfall this operator exists to avoid. At scale the filter also
    reaches the parquet scan (PushedFilters on the label column), so
    the kernel only ever reads the matching slice — with a
    label-partitioned layout it prunes whole directories.

    Queries keep their own vectors regardless of their label; a query
    that itself carries ``label`` is excluded from its candidates
    (self-match rule unchanged).
    """
    queries = _probe(embeddings, query_ids).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = _spread(embeddings.filter(F.col("label") == label)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            (F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6) + F.lit(0.0)).alias("cos_sim"),
        )
    )
    return _topk_epilogue(scored, k)


def brute_force_topk_blas(
    embeddings: DataFrame, query_ids: list[int] | None = None, k: int = 5
) -> DataFrame:
    """Exact cosine top-k with a vectorized Arrow/NumPy kernel — same
    semantics (and same SQL oracle) as ``brute_force_topk``, different
    physical kernel: the small query block is collected once, broadcast
    as a dense float64 matrix, and every corpus Arrow batch performs ONE
    matrix multiply against it instead of evaluating a per-pair
    higher-order-function expression.

    This is the "drop to Pandas UDF only where it wins" case from the
    design brief: the per-row expression path (``brute_force_topk``) is
    fine for probe-sized query sets, but a GEMM amortizes across the
    whole batch and is the kernel an ANN-free exact scorer would use at
    scale. Each batch emits only its local top-k per query (global
    top-k is contained in the union of per-batch top-k, selected under
    the same (cos desc, id asc) order), so the shuffle after the kernel
    carries |batches|·|Q|·k candidate rows, not |corpus|·|Q| scores;
    one final window pass picks the global winners.
    """
    spark = embeddings.sparkSession
    q_rows = _probe(embeddings.select("vec_id", "embedding"), query_ids).collect()
    bc = spark.sparkContext.broadcast(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in q_rows]
    )
    kk = k

    def _score(batches):
        import numpy as np
        import pandas as pd

        rows = bc.value
        if not rows:  # empty probe set: same empty result as the twin
            return
        q_ids = np.array([r[0] for r in rows], dtype=np.int64)
        Q = np.array([r[1] for r in rows], dtype=np.float64)
        q_norm = np.sqrt((Q * Q).sum(axis=1))
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_norm = np.sqrt((C * C).sum(axis=1))
            denom = c_norm[:, None] * q_norm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = np.where(denom > 0, C @ Q.T / np.where(denom > 0, denom, 1.0), np.nan)
            out_q, out_c, out_s = [], [], []
            for j in range(len(q_ids)):
                not_self = c_ids != q_ids[j]
                col = raw[:, j]
                finite = not_self & np.isfinite(col)
                ids, s = c_ids[finite], col[finite]
                if len(s):
                    # Select by RAW similarity, keeping every candidate
                    # within 2e-6 of the k-th value: rounding to 6dp
                    # happens Spark-side with the exact F.round the
                    # expression twin uses, so a candidate can only
                    # enter the rounded top-k if its raw value is within
                    # one 1e-6 rounding unit of the raw cut — the band
                    # is twice that to absorb summation-order ulp
                    # differences between this GEMM and the expression
                    # twin's element-wise fold (a raw value sitting
                    # exactly on a rounding boundary could otherwise
                    # round differently between the kernels and starve
                    # the final window of a tied candidate).
                    order = np.lexsort((ids, -s))
                    cut = s[order[min(kk, len(s)) - 1]] - 2e-6
                    keep = order[: np.searchsorted(-s[order], -cut, side="right")]
                    out_q.extend([q_ids[j]] * len(keep))
                    out_c.extend(ids[keep])
                    out_s.extend(s[keep])
                # Zero-norm rows (candidate or query): the expression
                # twin scores them NULL (cosine() NULL on zero denom),
                # and NULLs rank last under desc — emit the k
                # smallest-id nulls per batch as fillers so a query
                # with fewer than k finite candidates matches exactly.
                nulls = not_self & ~np.isfinite(col)
                if nulls.any():
                    nid = np.sort(c_ids[nulls])[:kk]
                    out_q.extend([q_ids[j]] * len(nid))
                    out_c.extend(nid)
                    out_s.extend([None] * len(nid))
            yield pd.DataFrame(
                {
                    "q_id": out_q,
                    "c_id": out_c,
                    "cos_sim": pd.array(out_s, dtype="Float64"),
                }
            )

    cand = _spread(embeddings.select("vec_id", "embedding")).mapInPandas(
        _score, "q_id long, c_id long, cos_sim double"
    )
    scored = cand.select(
        "q_id", "c_id", (F.round("cos_sim", 6) + F.lit(0.0)).alias("cos_sim")
    )
    return _topk_epilogue(scored, k)


def _hyperplane_bit(vec, plane: int) -> F.Column:
    """Sign bit of a deterministic pseudo-random hyperplane: coefficient
    for dimension i of plane p = centered xxhash64(i, p) — reproducible
    across runs/engines without RNG state (Date/random are unavailable
    and undesirable here)."""
    proj = F.aggregate(
        F.zip_with(
            F.transform(vec, lambda x: x.cast("double")),
            F.transform(
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda i: (
                    (F.xxhash64(i, F.lit(plane)) % F.lit(10007)).cast("double")
                    / F.lit(10007.0)
                    - F.lit(0.5)
                ),
            ),
            lambda x, c: x * c,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket(vec, n_planes: int = 8) -> F.Column:
    """Random-hyperplane LSH bucket id: n_planes sign bits packed."""
    bits = [_hyperplane_bit(vec, p) for p in range(n_planes)]
    out = F.lit(0)
    for b in bits:
        out = out * 2 + b
    return out


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_planes: int = 4,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: score only candidates sharing (one of)
    the query's LSH bucket(s). Recall < 1 by design; tested against the
    brute-force ground truth, not an SQL oracle.

    Multi-probe: the query side also probes every 1-bit-flip neighbor
    bucket, raising the catch probability from p^n to p^n + n·p^(n-1)(1-p)
    per candidate (p = per-plane agreement, n = n_planes) for the cost of
    (n+1)× more *query-side* rows — the corpus is hashed exactly once and
    never duplicated, so at scale the probe fan-out is on the small side
    of the join."""
    with_bucket = _spread(embeddings).select(
        "vec_id", "embedding", lsh_bucket(F.col("embedding"), n_planes).alias("bucket")
    )
    queries = with_bucket.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("bucket"),
    )
    queries = (
        queries.filter(F.col("q_id").isin(query_ids))
        if query_ids is not None
        else queries.filter(F.col("q_id") < 10)
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        queries = queries.select(
            "q_id", "q_vec", F.explode(probes).alias("bucket")
        )
    corpus = with_bucket.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), F.col("bucket")
    )
    scored = (
        corpus.join(F.broadcast(queries), "bucket")
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            (F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6) + F.lit(0.0)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id", "cos_sim", "rnk")
        # Tiny result (|queries|·k rows): single-partition sort avoids
        # the range-partitioner sampling pass a global orderBy inserts;
        # repartition(1), not coalesce(1), so the ranking window stays
        # parallel (see _topk_epilogue).
        .repartition(1)
        .sortWithinPartitions("q_id", "rnk")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into ``nlist`` cells; each query scores only
    the ``nprobe`` cells whose centroids are nearest to it.

    Scale shape: training samples the corpus (k-means on a ≤4096-row
    sample is standard IVF practice — FAISS trains its coarse quantizer
    on ~256·nlist points regardless of corpus size) and runs driver-side
    in numpy: at 100 TB the sample is still tiny, and an in-memory fit
    avoids ~15 cluster-wide jobs (k-means‖ init passes + one job per
    Lloyd iteration) that distributed KMeans would schedule. The fitted
    centroids are a small broadcast matrix; cell assignment is a narrow
    Arrow-batched pandas UDF (one ``X @ C.T`` matmul per batch — no
    shuffle, no per-row Python), and candidate generation is an
    equi-join on cell id with the query side broadcast — the corpus is
    scanned once and never crosses the network. Compared to LSH the
    cells adapt to the data distribution, trading a training pass for
    better recall at equal probe cost. Approximate by design →
    rows-only check; recall vs the brute-force ground truth is pinned
    in tests/test_dedup_similarity.py.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # --- train: deterministic sample → in-memory Lloyd iterations ----
    # One session-cached collect (corpus_sample) serves training, the
    # default probe routing below, and every other sample-trained index.
    sample_rows = corpus_sample(embeddings)
    sample = np.asarray([r[1] for r in sample_rows], dtype=np.float64)
    sn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = sn[rng.choice(len(sn), size=min(nlist, len(sn)), replace=False)]
    for _ in range(10):
        # cosine k-means: assign to nearest centroid on the unit sphere,
        # recentre, renormalize (spherical k-means).
        assign = np.argmax(sn @ cent.T, axis=1)
        for c in range(len(cent)):
            members = sn[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)

    cmat = cent.copy()

    @pandas_udf("int")
    def _cell(batch):
        x = np.asarray(batch.tolist(), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(xn @ cmat.T, axis=1).astype("int32"))

    # The inner join on the UDF-computed cell pushes an isnotnull(cell)
    # filter below the projection, and the optimizer then evaluates the
    # UDF once under the filter and AGAIN in the projection — every
    # corpus row pays the assignment matmul twice (two ArrowEvalPython
    # nodes in the plan). The quantizer is a pure function; the
    # non-deterministic flag only forbids cloning the expression, so a
    # single ArrowEvalPython survives and rows are unchanged.
    _cell = _cell.asNondeterministic()

    assigned = embeddings.select(
        "vec_id", "embedding", _cell(F.col("embedding")).alias("cell")
    )

    spark = embeddings.sparkSession

    # Query routing happens driver-side against the in-memory quantizer
    # (again the FAISS shape: the query batch is small by definition).
    # Collecting Q rows and computing their nprobe cells in numpy
    # replaces a crossJoin + window subplan — one fewer broadcast and
    # two fewer codegen stages per run.
    if query_ids is not None:
        # Same sample-reuse as pq_topk: the id-ordered training sample
        # already holds the low-id query vectors (fixture + defaults) —
        # one fewer collect job; out-of-sample ids fall back to a scan.
        by_id = {r[0]: r[1] for r in sample_rows}
        wanted = sorted(set(query_ids))
        if all(q in by_id for q in wanted):
            qrows = [(q, by_id[q]) for q in wanted]
        else:
            qrows = (
                embeddings.filter(F.col("vec_id").isin(query_ids))
                .select("vec_id", "embedding")
                .collect()
            )
    else:
        # Default probe set (vec_id < 10) is a prefix of the ordered
        # training sample — no second scan needed.
        qrows = [r for r in sample_rows if r[0] < 10]
    q_cell_rows = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        sims = qn @ cmat.T
        # nprobe best cells; ties broken by cell id (stable argsort on
        # (-sim, cell)).
        order = np.lexsort((np.arange(len(sims)), -sims))[:nprobe]
        for c in order:
            q_cell_rows.append((int(r[0]), [float(x) for x in qv], int(c)))
    q_cells = _local_table(
        spark, q_cell_rows, "q_id BIGINT, q_vec ARRAY<DOUBLE>, cell INT"
    )
    scored = (
        assigned.join(F.broadcast(q_cells), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.round(cosine(F.col("q_vec"), F.col("embedding")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "c_id", "cos_sim", "rnk")
        # Tiny result (|queries|·k rows): single-partition sort avoids
        # the range-partitioner sampling pass a global orderBy inserts;
        # repartition(1), not coalesce(1), so the ranking window stays
        # parallel (see _topk_epilogue).
        .repartition(1)
        .sortWithinPartitions("q_id", "rnk")
    )


def clustered_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    nlist: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style clustered embedding near-dup pairs — the SCALE
    path for ``cosine_near_dup_pairs``: a spherical-k-means coarse
    quantizer (same deterministic sample-train recipe as ``ivf_topk``)
    partitions the corpus into ``nlist`` cells, and pairwise cosine is
    computed only WITHIN a cell, where near-duplicates land together.
    Quadratic cost drops from O(N²) to O(Σ|cell|²); missed cross-cell
    pairs are the approximation (recall vs the exact ground truth is
    pinned in tests — approximate by design → rows-only check).

    Physical shape: assignment is one Arrow-batched matmul per batch
    against the broadcast centroid matrix (no shuffle); the corpus then
    shuffles ONCE on cell id into ``applyInPandas``, where each cell
    computes its local ``Xn @ Xn.T`` GEMM and emits only pairs above
    threshold — the N² candidate matrix never materializes outside the
    executor-local numpy kernel. At 100 TB, oversized cells are the
    skew risk: raise ``nlist`` (FAISS-style √N cells) or sub-shard a
    cell and add a cross-shard band pass.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    sample_rows = corpus_sample(embeddings)
    sample = np.asarray([r[1] for r in sample_rows], dtype=np.float64)
    sn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = sn[rng.choice(len(sn), size=min(nlist, len(sn)), replace=False)]
    for _ in range(10):
        assign = np.argmax(sn @ cent.T, axis=1)
        for c in range(len(cent)):
            members = sn[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    cmat = cent.copy()

    @pandas_udf("int")
    def _cell(batch):
        x = np.asarray(batch.tolist(), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(xn @ cmat.T, axis=1).astype("int32"))

    thr = float(threshold)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = xn @ xn.T
        iu = np.triu_indices(len(ids), k=1)
        keep = sims[iu] >= thr - 5e-7  # pre-round band; final round below
        a, b, s = iu[0][keep], iu[1][keep], sims[iu][keep]
        out = pd.DataFrame(
            {"id_a": ids[a], "id_b": ids[b], "cos_sim": np.round(s, 6)}
        )
        return out[out["cos_sim"] >= thr]

    assigned = embeddings.select(
        "vec_id", "embedding", _cell(F.col("embedding")).alias("cell")
    )
    return (
        assigned.groupBy("cell")
        .applyInPandas(_pairs, "id_a long, id_b long, cos_sim double")
        # repartition(1), NOT coalesce(1): coalesce would merge the
        # post-groupBy stage itself, running every cell's GEMM serially
        # through one task/one Python worker (interleaved A/B at sf0.1,
        # before the ``pyworker`` daemon cut the per-task setup: 1.95 s
        # coalesced vs 0.49 s with the explicit exchange
        # — the 16 cells' FlatMapGroupsInPandas is exactly the work
        # that must stay parallel; only the thresholded pair rows ship
        # to the single presentation partition).
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.45, id_cap: int | None = 500
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a similarity
    threshold (north_star dedup family). The capped quadratic form is
    the oracle-checkable ground truth; the LSH-bucketed path
    (``lsh_topk`` / ``lsh_bucket``) is the scale variant — at 100 TB
    you'd bucket first and verify only within-bucket candidates, exactly
    like MinHash banding verifies with exact Jaccard.

    Physical shape: the all-pairs gram matrix is computed as a
    posexplode → broadcast equi-join on the vector position → hash
    aggregation, NOT as a per-pair array aggregate. Per-pair
    higher-order functions (``aggregate``/``zip_with``) are interpreted
    expressions — measured 81 s for 125 k pairs at dim 64 — while the
    exploded equi-join runs entirely inside whole-stage codegen
    (~2 s same workload, 35× faster). Vectors are L2-normalized before
    the join (norms computed once per vector, not once per pair), the
    left side is hash-partitioned by id so partial aggregation
    completes map-side (the 16 M-row join expansion never shuffles —
    only the 125 k finished sums do), and the small normalized side is
    broadcast. The final sort is ``repartition(1).sortWithinPartitions``:
    a global ``orderBy`` would add a range-partitioner sampling pass
    that re-executes the whole plan (measured 2.4 s vs 5.9 s), and a
    ``coalesce(1)`` would merge the final-aggregation stage into one
    task — the 125 k pair sums would finish serially (r11 interleaved
    A/B at sf0.1: 0.97 s coalesced vs 0.34 s with the explicit
    single-partition exchange of the thresholded result rows)."""
    base = embeddings if id_cap is None else embeddings.filter(F.col("vec_id") < id_cap)
    ne = base.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "x"
        ),
    )
    norms = ne.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
    nn = ne.join(F.broadcast(norms), "vec_id").select(
        "vec_id", "pos", (F.col("x") / F.col("nrm")).alias("x")
    )
    parallelism = embeddings.sparkSession.sparkContext.defaultParallelism
    aa = nn.select(
        F.col("vec_id").alias("id_a"), "pos", F.col("x").alias("xa")
    ).repartition(parallelism, "id_a")
    bb = nn.select(F.col("vec_id").alias("id_b"), "pos", F.col("x").alias("xb"))
    return (
        aa.join(F.broadcast(bb), "pos")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.round(F.sum(F.col("xa") * F.col("xb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


def pairwise_dot_stats(embeddings: DataFrame, id_cap: int = 50) -> DataFrame:
    """Small exact pairwise-dot summary (oracle-checkable aggregate over
    the quadratic kernel): mean/min/max dot product over all id<cap
    pairs."""
    a = _spread(embeddings.filter(F.col("vec_id") < id_cap)).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a")
    )
    b = embeddings.filter(F.col("vec_id") < id_cap).select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(dot(F.col("v_a"), F.col("v_b")).alias("d"))
        .agg(
            (F.round(F.avg("d"), 4) + F.lit(0.0)).alias("mean_dot"),
            (F.round(F.min("d"), 4) + F.lit(0.0)).alias("min_dot"),
            (F.round(F.max("d"), 4) + F.lit(0.0)).alias("max_dot"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


def label_centroid_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding audit: class size, mean vector norm, and the
    L2 norm of the label centroid — the drift/coherence report a
    training-data pipeline runs over a labeled embedding table (unit
    vectors: centroid_norm → 1 means the class is tight, → 0 means the
    label carries no geometric signal).

    Two independent aggregations, joined on the label key:
    - per-vector norms fold INSIDE the array (``F.aggregate`` — no
      explode, one row per vector flows into a map-side-combined agg);
    - the centroid needs per-position means, so posexplode → hash agg on
      (label, pos) — dim×labels rows after the partial combine, tiny at
      any corpus scale — then a second reduce over pos per label.
    The join right side is labels-cardinality, so it broadcasts. Float32
    elements are cast to double BEFORE any summation on both engines so
    the 6dp rounding compares like against like.
    """
    vec_sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    base = (
        _spread(embeddings.select("label", "embedding"))
        .select("label", F.sqrt(vec_sq).alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("norm"), 6).alias("mean_norm"),
        )
    )
    per_pos = (
        _spread(embeddings.select("label", "embedding"))
        .select(
            "label",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos", "x"),
        )
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
    )
    centroid = per_pos.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm")
    )
    return (
        base.join(F.broadcast(centroid), "label")
        .repartition(1).sortWithinPartitions("label")
    )


def quantize_int8(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    ``scale = max|x| / 127``, ``q_i = clamp(round_half_away(x_i/scale),
    ±127)`` — the 4× storage/bandwidth cut (float32 → int8) an
    embedding store takes at 100 TB before ANN indexing; dequantized
    error is bounded by scale/2 per element.

    A pure Catalyst projection (transform/aggregate array folds): no
    shuffle, embarrassingly parallel, and every op (IEEE divide, add,
    floor, clamp) is bit-deterministic across engines, so the DuckDB
    oracle reproduces the quantized values exactly. Zero vectors keep
    scale=0 and quantize to all-zeros (guarded divide). Output keeps the
    quantized array plus audit scalars; the oracle checks the flat
    scalars (arrays are summarized by q_sum/q_l1 on both sides).
    """
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.aggregate(xs, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))) / F.lit(
        127.0
    )
    q = F.transform(
        xs,
        lambda x: F.when(F.col("scale") == 0.0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    (
                        F.signum(x) * F.floor(F.abs(x) / F.col("scale") + F.lit(0.5))
                    ).cast("int"),
                ),
            )
        )
        .cast("int"),
    )
    out = embeddings.withColumn("scale", scale).withColumn("q", q)
    q_sum = F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x)
    q_l1 = F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + F.abs(x))
    recon_err = F.round(
        F.aggregate(
            F.zip_with(
                F.transform(F.col(vec_col), lambda x: x.cast("double")),
                "q",
                lambda x, qi: F.abs(x - qi.cast("double") * F.col("scale")),
            ),
            F.lit(0.0),
            lambda a, x: F.greatest(a, x),
        ),
        6,
    )
    # Audit columns are attached BEFORE the presentation select: a
    # same-select `round(scale).alias("scale")` would capture recon's
    # `F.col("scale")` via lateral column alias resolution (Spark ≥3.4)
    # and silently rescale the reconstruction against the 6dp-rounded
    # scale (measured: max_recon_err 0.001149 → 0.001157 at sf0.01).
    return (
        out.withColumn("q_sum", q_sum)
        .withColumn("q_l1", q_l1)
        .withColumn("max_recon_err", recon_err)
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            "q_sum",
            "q_l1",
            "max_recon_err",
        )
    )


# --- product quantization (PQ) ------------------------------------------------


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
):
    """Train an m-subspace product quantizer and return the codebook
    tensor ``(m, ksub, d/m)`` float64.

    PQ is the memory half of billion-scale ANN (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — the FAISS
    IVFPQ building block): the d-dim vector splits into ``m`` subspaces,
    each quantized independently against its own ``ksub``-entry
    codebook, so a vector stores as ``m`` small codes (m bytes at
    ksub≤256) instead of 4·d float bytes — a 64× cut at d=64/m=4 —
    while distances remain computable from the codes alone (see
    :func:`pq_topk`).

    Training follows the same driver-side convention as ``ivf_topk``'s
    coarse quantizer: a deterministic ≤4096-row sample (orderBy id),
    seeded init, plain-euclidean Lloyd per subspace in numpy — at
    100 TB the sample is still tiny and the fit is O(sample), never a
    cluster job. Returns the codebooks for :func:`pq_encode` /
    :func:`pq_topk` to broadcast.
    """
    import numpy as np

    id_col = embeddings.columns[0]
    sample = np.asarray(
        [r[1] for r in corpus_sample(embeddings, id_col, vec_col)],
        dtype=np.float64,
    )
    n, d = sample.shape
    if d % m:
        raise ValueError(f"d={d} not divisible by m={m} subspaces")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.zeros((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        xs = sample[:, j * dsub : (j + 1) * dsub]
        cent = xs[rng.choice(n, size=min(ksub, n), replace=False)].copy()
        for _ in range(iters):
            # argmin ||x-c||² = argmax (x·c − ||c||²/2)
            assign = np.argmax(
                xs @ cent.T - 0.5 * (cent * cent).sum(axis=1), axis=1
            )
            for c in range(len(cent)):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j, : len(cent)] = cent
        if len(cent) < ksub:
            # Tiny corpus (n < ksub): pad the unfilled rows with
            # DUPLICATED real centroids, not zeros — a phantom all-zero
            # centroid scores 0 in argmax(x·c − ||c||²/2) and would beat
            # every real centroid with a negative score, polluting codes
            # and ADC tables (r6 advisor). A duplicate can never win over
            # its original (ties resolve to the first index).
            for c in range(len(cent), ksub):
                books[j, c] = cent[c % len(cent)]
    return books


def pq_encode(
    embeddings: DataFrame,
    books,
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its ``m`` PQ codes: input columns +
    ``codes array<int>``. A narrow Arrow-batched pandas UDF over the
    broadcast codebook tensor — one GEMM per (subspace, batch), no
    shuffle, embarrassingly parallel at any corpus size."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bks = books.copy()
    m, ksub, dsub = bks.shape

    @pandas_udf("array<int>")
    def _codes(batch):
        x = np.asarray(batch.tolist(), dtype=np.float64)
        out = np.zeros((len(x), m), dtype=np.int32)
        for j in range(m):
            xs = x[:, j * dsub : (j + 1) * dsub]
            cent = bks[j]
            out[:, j] = np.argmax(
                xs @ cent.T - 0.5 * (cent * cent).sum(axis=1), axis=1
            )
        return pd.Series(list(out))

    return embeddings.withColumn("codes", _codes(F.col(vec_col)))


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    an ``m × ksub`` lookup table of exact subspace distances to every
    codebook entry, and a database vector's approximate distance is the
    SUM of m table lookups over its codes — by construction identical
    to the exact euclidean distance between the query and the vector's
    PQ RECONSTRUCTION (the decomposition is exact per subspace; pinned
    in tests). Returns ``(query_id, vec_id, adc_dist, rank)``.

    Scale shape: train + query tables are driver-side numpy over the
    deterministic sample (the FAISS convention, same as ``ivf_topk``);
    the corpus is encoded in one narrow pass and scored in one more —
    each an Arrow-batched UDF with the tables broadcast in the closure,
    no shuffle until the per-query top-k window. At 100 TB the scored
    scan reads m bytes per vector instead of 4d — the 64× bandwidth cut
    is the point of PQ; compose with the IVF cells for the full IVFPQ
    (probe-then-score) when even one code pass is too much."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    books = pq_train(embeddings, m=m, ksub=ksub, seed=seed)
    _, _, dsub = books.shape

    if query_ids is None:
        query_ids = list(range(10))
    # Deduplicate up front: the scan path below dedups by row (isin),
    # and a duplicated qid in the table-lookup path would double-emit
    # every scored row and corrupt row_number ranks.
    query_ids = sorted(set(query_ids))
    # Query vectors come from the session-cached training sample when
    # they're all in it (they are for the low-id defaults and the
    # fixture — the sample is orderBy(id) limit 4096): one fewer
    # collect job per call. Ids outside the sample fall back to a scan.
    by_id = {r[0]: r[1] for r in corpus_sample(embeddings)}
    if all(q in by_id for q in query_ids):
        pairs = [(q, by_id[q]) for q in query_ids]
    else:
        qrows = (
            embeddings.filter(F.col("vec_id").isin(list(query_ids)))
            .select("vec_id", "embedding")
            .collect()
        )
        pairs = sorted((r[0], r[1]) for r in qrows)
    qids = np.asarray([p[0] for p in pairs], dtype=np.int64)
    qmat = np.asarray([p[1] for p in pairs], dtype=np.float64)
    # per-query distance tables: tables[q, j, c] = ||q_j − books[j, c]||²
    tables = np.zeros((len(qids), m, ksub), dtype=np.float64)
    for j in range(m):
        qs = qmat[:, j * dsub : (j + 1) * dsub]
        diff = qs[:, None, :] - books[j][None, :, :]
        tables[:, j, :] = (diff * diff).sum(axis=2)

    coded = pq_encode(embeddings, books).select("vec_id", "codes")

    schema = "query_id long, vec_id long, adc_dist double"

    def _score(batches):
        for pdf in batches:
            codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
            if not len(codes):
                continue
            # adc[q, row] = Σ_j tables[q, j, codes[row, j]]
            adc = np.zeros((len(qids), len(codes)), dtype=np.float64)
            for j in range(m):
                adc += tables[:, j, codes[:, j]]
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(codes)),
                    "vec_id": np.tile(pdf["vec_id"].to_numpy(), len(qids)),
                    "adc_dist": np.round(adc.ravel(), 6),
                }
            )
            yield out

    scored = coded.mapInPandas(_score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.col("adc_dist"), "rank")
    )
