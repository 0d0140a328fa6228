"""Extension-operator ground-truth tests (SURVEY.md §2.11): the
LSH/SimHash paths have no SQL oracle, so their correctness gate is
recall against the exact quadratic baselines on sf0.001 data plus
planted-duplicate fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_counts(spark, documents):
    from spendinganalysisetl_spark.operators.dedup import dedup_stats, exact_dedup

    stats = dedup_stats(documents).collect()[0]
    survivors = exact_dedup(documents)
    assert survivors.count() == stats["n_distinct"]
    assert stats["n_docs"] == documents.count()
    assert stats["n_dups"] == stats["n_docs"] - stats["n_distinct"]


def test_minhash_finds_planted_near_dups(spark):
    """Planted pairs: identical and one-word-edited copies must surface;
    an unrelated doc must not pair with them."""
    from spendinganalysisetl_spark.operators.dedup import minhash_lsh_pairs

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from every hunter"
    )
    edited = base.replace("hunter", "tiger")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),          # exact dup of 1
            (3, edited),        # near dup of 1
            (4, "completely different text about spark query engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_minhash_recall_vs_exact_jaccard(spark, documents):
    """Every CHARACTER-shingle-Jaccard >= 0.8 pair (exact, quadratic)
    must be caught by the banded MinHash at threshold 0.6 — high-sim
    pairs are exactly what banding must not miss."""
    from spendinganalysisetl_spark.functions.text import char_shingles, norm_text
    from spendinganalysisetl_spark.operators.dedup import minhash_lsh_pairs

    docs = documents.filter(F.col("doc_id") < 150).select("doc_id", "text")
    sh = docs.select(
        "doc_id", norm_text(F.col("text")).alias("norm")
    ).select("doc_id", char_shingles(F.col("norm"), 5).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn(
                "j",
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .filter(F.col("j") >= 0.8)
            .collect()
        )
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.6).collect()
    }
    missed = exact - lsh
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_simhash_exact_dups_zero_hamming(spark):
    from spendinganalysisetl_spark.operators.dedup import simhash_near_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally unrelated words entirely different topic")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(docs).collect()}
    assert pairs.get((1, 2)) == 0


def test_simhash_portable_matches_scale_variant_semantics(spark):
    """The portable (md5-fold) SimHash must behave like the scale
    variant on planted data: exact dups at hamming 0, unrelated docs
    unpaired — and its signature must be a pure function of the token
    multiset (same text twice → same signature)."""
    from spendinganalysisetl_spark.operators.dedup import simhash_near_pairs_portable

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally unrelated words entirely different topic")],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs_portable(docs).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_core_on_planted_hashes(spark):
    """The vote, block and verify stages both SimHash operators share,
    on hand-built 8-bit token hashes (2 prefix bits → block = sig >> 6):
    doc 1's bit 0 is set in all its hashes and bit 1 in a minority;
    doc 2 ties bit 1 (1 of 2), which must vote 0; doc 5 sets bit 1 in
    2 of 3; doc 3 is doc 1 plus bit 2; doc 4 sits in block 3, two bits
    from doc 1 but never compared with it."""
    from spendinganalysisetl_spark.operators.dedup import (
        _simhash_pairs,
        simhash_blocks,
        simhash_signatures,
    )

    planted = {1: [3, 1, 1], 2: [3, 1], 3: [5], 4: [0b11000001], 5: [2, 2, 1]}
    hashed = spark.createDataFrame(
        [(d, h) for d, hs in planted.items() for h in hs], "doc_id long, h long"
    )
    sigs = {
        r["doc_id"]: r["simhash"] for r in simhash_signatures(hashed, 8).collect()
    }
    assert sigs == {1: 1, 2: 1, 3: 5, 4: 0b11000001, 5: 2}
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in _simhash_pairs(simhash_blocks(hashed, 8, 2), 2).collect()
    }
    # (3, 5) is in block 0 but 3 bits apart: dropped by the verify.
    assert pairs == {(1, 2): 0, (1, 3): 1, (1, 5): 2, (2, 3): 1, (2, 5): 2}


def test_portable_minhash_rejects_overflowing_family(spark, documents):
    """The portable hash family holds for at most 8 members; a larger
    ``n_hashes`` is refused while the query is built, not by an
    ``assert`` that ``python -O`` strips."""
    from spendinganalysisetl_spark.operators.dedup import (
        line_boilerplate_stats,
        minhash_lsh_pairs_portable,
    )

    with pytest.raises(ValueError, match="n_hashes"):
        minhash_lsh_pairs_portable(documents, n_hashes=9, bands=3)
    with pytest.raises(ValueError, match="n_hashes"):
        line_boilerplate_stats(documents, n_hashes=9, bands=3)


def test_lsh_topk_recall_vs_brute_force(spark, embeddings):
    """Bucketed ANN must recover a reasonable fraction of the exact
    top-5 (single-table LSH, no multiprobe → modest recall bar)."""
    from spendinganalysisetl_spark.operators.similarity import brute_force_topk, lsh_topk

    exact = brute_force_topk(embeddings, None, 5).collect()
    approx = lsh_topk(embeddings, None, 5).collect()
    exact_set = {(r["q_id"], r["c_id"]) for r in exact}
    approx_set = {(r["q_id"], r["c_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"ANN recall collapsed: {recall}"
    # within-bucket results must agree with exact scoring
    exact_scores = {(r["q_id"], r["c_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["q_id"], r["c_id"])
        if key in exact_scores:
            assert r["cos_sim"] == pytest.approx(exact_scores[key], abs=1e-6)


def test_connected_components_chain_propagation(spark):
    """A 4-node chain (1-2, 2-3, 3-4) needs multiple propagation rounds
    to label node 4 with 1 — pins that the iteration actually runs to a
    fixpoint, not a single hop. Isolated node keeps its own label."""
    from spendinganalysisetl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "doc_id long")
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(edges, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_near_dup_clusters_transitive_closure(spark):
    """a~b and b~c above threshold but a~c below: all three must land in
    ONE cluster with the smallest id canonical — the property a pairs
    list alone cannot express."""
    from spendinganalysisetl_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (2, "w1 w2 w3 w4 w5 w6 x1 x2"),
            (3, "w3 w4 w5 w6 x1 x2 x3 x4"),
            (4, "z1 z2 z3 z4 z5 z6 z7 z8"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in near_dup_clusters(docs, threshold=0.4).collect()}
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == rows[3]["cluster_id"] == 1
    assert rows[4]["cluster_id"] == 4 and rows[4]["cluster_size"] == 1
    assert [rows[i]["is_canonical"] for i in (1, 2, 3, 4)] == [1, 0, 0, 1]
    assert rows[1]["cluster_size"] == 3


def test_curate_corpus_gates_then_dedups(spark):
    """Quality gate rejects short/punct-soup docs; surviving exact dups
    collapse to the smallest doc_id."""
    from spendinganalysisetl_spark.operators.textanalysis import curate_corpus

    good = ("the quick brown fox jumps over the lazy dog and runs into the field " * 4).strip()
    docs = spark.createDataFrame(
        [
            (1, good, "en", len(good)),
            (2, good, "en", len(good)),          # exact dup of 1 -> dropped
            (3, "short", "en", 5),                # fails length gate
            (4, good + " extra tail words here", "en", len(good) + 23),
        ],
        "doc_id long, text string, lang string, n_chars long",
    )
    kept = [r["doc_id"] for r in curate_corpus(docs).collect()]
    assert kept == [1, 4]


def test_blas_topk_equals_expression_topk(spark, embeddings):
    """The Arrow/GEMM kernel must reproduce the higher-order-function
    plan exactly — same rounding, same (cos desc, id asc) tiebreak —
    since both register the same SQL oracle."""
    from spendinganalysisetl_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_blas,
    )

    a = [tuple(r) for r in brute_force_topk(embeddings, None, 5).collect()]
    b = [tuple(r) for r in brute_force_topk_blas(embeddings, None, 5).collect()]
    assert a == b and len(a) > 0


def test_repetition_scores_pinned_example(spark):
    """'a b a b a' has trigrams [aba, bab, aba]: 3 total, 2 distinct,
    ratio 1 - 2/3; short docs score 0 with zero trigrams."""
    from spendinganalysisetl_spark.operators.textanalysis import repetition_scores

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "one two"), (3, "x y z w")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_scores(docs).collect()}
    assert (rows[1]["n_trigrams"], rows[1]["n_distinct_trigrams"]) == (3, 2)
    assert rows[1]["repetition_ratio"] == round(1 - 2 / 3, 4)
    assert (rows[2]["n_trigrams"], rows[2]["repetition_ratio"]) == (0, 0.0)
    assert (rows[3]["n_trigrams"], rows[3]["n_distinct_trigrams"]) == (2, 2)


def test_hash_split_deterministic_and_stable(spark, documents):
    """Split assignment must be a pure function of the key: identical
    across runs, unchanged under repartitioning, and roughly sized to
    the requested weights."""
    from spendinganalysisetl_spark.operators.sampling import assign_splits

    a = {r["doc_id"]: r["split"] for r in assign_splits(documents).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in assign_splits(documents.repartition(7)).collect()
    }
    assert a == b
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert 0.7 * n <= train <= 0.9 * n


def test_stratified_sample_rates_and_determinism(spark, documents):
    from spendinganalysisetl_spark.operators.sampling import stratified_sample

    fractions = {"en": 0.25, "fr": 0.5, "de": 0.5, "es": 0.5}
    s1 = stratified_sample(documents, fractions, seed=42).collect()
    s2 = stratified_sample(documents, fractions, seed=42).collect()
    assert sorted(r["doc_id"] for r in s1) == sorted(r["doc_id"] for r in s2)
    from pyspark.sql import functions as F

    totals = {
        r["lang"]: r["n"]
        for r in documents.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    from collections import Counter
    sampled = Counter(r["lang"] for r in s1)
    for lang, frac in fractions.items():
        if totals.get(lang, 0) >= 50:
            rate = sampled[lang] / totals[lang]
            assert abs(rate - frac) < 0.2, (lang, rate, frac)


def test_blas_topk_empty_query_set(spark, embeddings):
    """Empty probe set returns an empty frame (the expression twin's
    behavior), not an executor crash."""
    from spendinganalysisetl_spark.operators.similarity import brute_force_topk_blas

    assert brute_force_topk_blas(embeddings, [], 5).count() == 0


def test_hash_split_boundaries_not_truncated(spark, documents):
    """train=0.7/val=0.2 must give boundaries 700/900 (float truncation
    would give 699/898 and leak buckets across splits)."""
    from spendinganalysisetl_spark.operators.sampling import (
        assign_splits,
        split_bucket,
    )
    from pyspark.sql import functions as F

    df = assign_splits(documents, train=0.7, val=0.2).withColumn(
        "bucket", split_bucket(F.col("doc_id"))
    )
    per_split = {
        r["split"]: (r["lo"], r["hi"])
        for r in df.groupBy("split")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .collect()
    }
    assert per_split["train"][1] <= 699 and per_split["val"][0] >= 700
    assert per_split["val"][1] <= 899 and per_split["test"][0] >= 900


def test_blas_topk_zero_norm_vectors_match_expression_twin(spark):
    """Zero-norm embeddings score NULL in the expression twin (cosine()
    NULL on zero denominator, ranked last under desc); the GEMM kernel
    must reproduce that exactly — including when NULL fillers enter the
    top-k because fewer than k finite candidates exist."""
    from spendinganalysisetl_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_blas,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero-norm candidate -> NULL cos
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0]),  # second zero-norm
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = [tuple(r) for r in brute_force_topk(emb, [0], 4).collect()]
    b = [tuple(r) for r in brute_force_topk_blas(emb, [0], 4).collect()]
    assert a == b
    # NULL fillers occupy the tail ranks deterministically by id
    assert [r[1] for r in a] == [1, 3, 2, 4]
    assert a[2][2] is None and a[3][2] is None


def test_incremental_dedup_batch_decisions(spark):
    """Planted fixture: batch ids are % 10 == 7. doc 7 is a copy of
    history doc 1 (dropped via in_history); docs 17 and 27 are copies of
    each other but new to history (17 kept, 27 dropped as batch_dup);
    doc 37 is fresh (kept)."""
    from spendinganalysisetl_spark.operators.dedup import incremental_dedup

    rows = [
        (1, "seen before text body"),
        (2, "other history text"),
        (7, "seen before text body"),
        (17, "new pair text"),
        (27, "new pair text"),
        (37, "completely fresh text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in incremental_dedup(docs).collect()}
    assert set(out) == {7, 17, 27, 37}
    assert out[7]["in_history"] == 1 and out[7]["keep"] == 0
    assert out[17]["in_history"] == 0 and out[17]["batch_dup"] == 0 and out[17]["keep"] == 1
    assert out[27]["batch_dup"] == 1 and out[27]["keep"] == 0
    assert out[37]["keep"] == 1


def test_clustered_cosine_pairs_recall_and_scores(spark, embeddings):
    """SemDeDup-style clustered pairs: every emitted pair must carry the
    exact cosine (within rounding), and recall vs the uncapped exact
    ground truth must be substantial (near-dups co-cluster)."""
    from spendinganalysisetl_spark.operators.similarity import (
        clustered_cosine_pairs,
        cosine_near_dup_pairs,
    )

    exact = cosine_near_dup_pairs(embeddings, threshold=0.45, id_cap=None).collect()
    approx = clustered_cosine_pairs(embeddings, threshold=0.45, nlist=8).collect()
    exact_map = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in exact}
    approx_map = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in approx}
    # no false positives: every clustered pair exists in the exact set
    for key, sim in approx_map.items():
        assert key in exact_map, f"pair {key} not in exact ground truth"
        assert sim == pytest.approx(exact_map[key], abs=2e-6)
    if exact_map:
        recall = len(approx_map) / len(exact_map)
        assert recall >= 0.3, f"clustered recall collapsed: {recall}"


def test_label_centroid_stats_planted_geometry(spark):
    from spendinganalysisetl_spark.operators.similarity import label_centroid_stats

    # label 0: all vectors identical unit e1 -> centroid_norm == 1.
    # label 1: e1 and -e1 cancel -> centroid_norm == 0.
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),
        (3, [1.0, 0.0], 0),
        (4, [1.0, 0.0], 1),
        (5, [-1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in label_centroid_stats(df).collect()}
    assert out[0]["n_vecs"] == 3
    assert out[0]["mean_norm"] == 1.0 and out[0]["centroid_norm"] == 1.0
    assert out[1]["n_vecs"] == 2
    assert out[1]["mean_norm"] == 1.0 and out[1]["centroid_norm"] == 0.0


def test_lsh_star_clusters_equal_pair_clusters(spark, documents):
    """The star-edge invariant: within each (band, band_sig) bucket,
    linking every member to the bucket MIN yields EXACTLY the connected
    components of the all-intra-bucket-pairs graph — same labels, at
    O(d) instead of O(d²) edges per d-way duplicate cluster. Duplicated
    corpus slice makes buckets genuinely multi-member."""
    from spendinganalysisetl_spark.operators.dedup import (
        _minhash_signatures,
        banded_signatures,
        connected_components,
        lsh_cluster_stars,
    )

    # a corpus with real duplicate clusters: the first 50 docs twice
    # (shifted ids), so every duplicated doc shares all band buckets
    # with its copy.
    dup = documents.limit(50).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = documents.limit(200).unionByName(dup)

    stars = lsh_cluster_stars(corpus)
    got = {r["doc_id"]: r["cluster_id"] for r in stars.collect()}

    # reference: ALL intra-bucket pairs -> CC, over the SAME banding
    # (banded_signatures is the shared contract — the test would be
    # vacuous against a drifted private copy of the banding scheme)
    banded = banded_signatures(
        _minhash_signatures(corpus, 32, 5), 32, 8
    ).cache()
    a = banded.select("band", "band_sig", F.col("doc_id").alias("id_a"))
    b = banded.select("band", "band_sig", F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cc = connected_components(pairs, corpus.select("doc_id"))
    want = {r["doc_id"]: r["label"] if "label" in r.asDict() else r["cluster_id"]
            for r in cc.collect()}
    assert got == want and len(got) == 250
    # and the duplicated docs actually clustered (non-singleton)
    sizes = {r["doc_id"]: r["cluster_size"] for r in stars.collect()}
    assert sum(1 for s in sizes.values() if s >= 2) >= 100


def test_filtered_topk_prefilter_beats_postfilter(spark):
    """Filtered vector search must PRE-filter: with a query whose global
    neighborhood is dominated by label 0, post-filtering the global
    top-k to label 1 under-returns, while filtered_topk returns a full
    k of label-1 candidates ranked exactly as the label-1 sub-corpus."""
    from spendinganalysisetl_spark.operators.similarity import (
        brute_force_topk,
        filtered_topk,
    )

    # query 0 at e1; 5 label-0 vectors hugging it; 5 label-1 vectors
    # further away — the global top-5 is entirely label 0.
    rows = [(0, [1.0, 0.0, 0.0], 9)]
    rows += [(i, [1.0, 0.01 * i, 0.0], 0) for i in range(1, 6)]
    rows += [(i, [1.0, 0.9 + 0.01 * i, 0.0], 1) for i in range(6, 11)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )

    global_top = brute_force_topk(emb, [0], k=5).collect()
    post = [r for r in global_top if r["c_id"] >= 6]  # post-filter to label 1
    assert len(post) == 0, "global top-k contains no label-1 rows at all"

    pre = filtered_topk(emb, 1, [0], k=5).collect()
    assert len(pre) == 5 and all(6 <= r["c_id"] <= 10 for r in pre)
    assert [r["rnk"] for r in pre] == [1, 2, 3, 4, 5]
    # ranked by similarity within the filtered slice: closer y -> higher cos
    assert [r["c_id"] for r in pre] == [6, 7, 8, 9, 10]


def test_incremental_near_dup_equals_filtered_full(spark, documents):
    """Probe-vs-index incremental pairs == involving-batch subset of
    the full portable pair set (no extra pairs, none missed)."""
    from spendinganalysisetl_spark.operators.dedup import (
        incremental_near_dup,
        minhash_lsh_pairs_portable,
    )

    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs_portable(documents).collect()
    }
    want = {
        k: v for k, v in full.items() if k[0] % 10 == 7 or k[1] % 10 == 7
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in incremental_near_dup(documents).collect()
    }
    assert got == want


def test_probe_vs_stored_index_equals_incremental(spark, documents, tmp_path):
    """The operational split (near_dup_index stored once +
    probe_near_dup_batch per batch) returns exactly the fused
    incremental_near_dup pairs — with the index read back from a
    BUCKETED band table and a doc_id-sorted shingle store, and the
    probe's IN-pushdown on (verifying pushdown drops nothing)."""
    from pyspark.sql import functions as F

    from spendinganalysisetl_spark.operators.dedup import (
        incremental_near_dup,
        near_dup_index,
        probe_near_dup_batch,
    )
    from spendinganalysisetl_spark.sources.bucketing import write_bucketed

    capped = documents.filter(F.col("doc_id") < 1000)
    shingled, banded = near_dup_index(capped)
    write_bucketed(
        banded, "ndi_bands", str(tmp_path / "bands"), "bk",
        n_buckets=4, sort_cols=("bk",),
    )
    shingled.sort("doc_id").write.mode("overwrite").parquet(
        str(tmp_path / "shingles")
    )
    try:
        idx_b = spark.table("ndi_bands")
        idx_sh = spark.read.parquet(str(tmp_path / "shingles"))
        batch = capped.filter(F.col("doc_id") % 10 == 7)
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in probe_near_dup_batch(batch, idx_b, idx_sh).collect()
        }
        want = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in incremental_near_dup(documents).collect()
        }
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS ndi_bands")


def _pq_reference(sample, vecs, m, ksub, iters, seed):
    """Independent pure-numpy PQ (train on sample, encode vecs) —
    reimplements Jégou-style per-subspace Lloyd from the paper
    definition so the operator's fit/encode is differentially pinned."""
    import numpy as np

    n, d = sample.shape
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        xs = sample[:, j * dsub : (j + 1) * dsub]
        cent = xs[rng.choice(n, size=min(ksub, n), replace=False)].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(cent)):
                mem = xs[assign == c]
                if len(mem):
                    cent[c] = mem.mean(axis=0)
        books[j, : len(cent)] = cent
    codes = np.zeros((len(vecs), m), dtype=int)
    for j in range(m):
        xs = vecs[:, j * dsub : (j + 1) * dsub]
        d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)
    return books, codes


def test_pq_train_encode_matches_reference(spark, embeddings):
    """The distributed PQ fit+encode must agree with the independent
    numpy reference: identical codebooks (same sample, same seeded
    init) and identical codes for every vector. argmax(x·c − ||c||²/2)
    vs argmin ||x−c||² can only differ on exact distance ties, which
    the float64 synthetic embeddings don't produce."""
    import numpy as np

    from spendinganalysisetl_spark.operators.similarity import pq_encode, pq_train

    rows = embeddings.select("vec_id", "embedding").orderBy("vec_id").collect()
    sample = np.asarray([r[1] for r in rows[:4096]], dtype=np.float64)
    vecs = np.asarray([r[1] for r in rows], dtype=np.float64)
    ref_books, ref_codes = _pq_reference(sample, vecs, m=4, ksub=16, iters=10, seed=42)

    books = pq_train(embeddings, m=4, ksub=16, iters=10, seed=42)
    assert np.allclose(books, ref_books)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(embeddings, books).select("vec_id", "codes").collect()
    }
    for (r, want) in zip(rows, ref_codes):
        assert got[r["vec_id"]] == list(want)


def test_pq_adc_equals_reconstruction_distance_and_recall(spark, embeddings):
    """Two pinned properties of ADC search: (1) the ADC distance is
    EXACTLY the euclidean distance between the query and the database
    vector's PQ reconstruction (the per-subspace decomposition is
    exact); (2) approximate top-10 keeps a usable fraction of the exact
    euclidean top-10 on the synthetic corpus."""
    import numpy as np

    from spendinganalysisetl_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rows = embeddings.select("vec_id", "embedding").orderBy("vec_id").collect()
    vid2vec = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    books = pq_train(embeddings, m=16, ksub=16, seed=42)
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(embeddings, books).select("vec_id", "codes").collect()
    }
    dsub = books.shape[2]

    def recon(vid):
        return np.concatenate([books[j, codes[vid][j]] for j in range(books.shape[0])])

    # m=16 (4-dim subspaces): the synthetic corpus is near-isotropic
    # (little cluster structure for codebooks to exploit), so the finer
    # decomposition is what reaches usable recall here — real embedding
    # corpora cluster and tolerate the classic coarser m.
    out = pq_topk(embeddings, query_ids=[0, 1, 2], k=10, m=16, ksub=16, seed=42).collect()
    assert out, "pq_topk returned nothing"
    for r in out:
        q = vid2vec[r["query_id"]]
        d_recon = ((q - recon(r["vec_id"])) ** 2).sum()
        assert r["adc_dist"] == pytest.approx(round(float(d_recon), 6), abs=2e-6)

    # recall vs exact euclidean top-10 (self excluded)
    approx = {}
    for r in out:
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for qid, got in approx.items():
        q = vid2vec[qid]
        d2 = {vid: ((q - v) ** 2).sum() for vid, v in vid2vec.items() if vid != qid}
        exact = {vid for vid, _ in sorted(d2.items(), key=lambda kv: kv[1])[:10]}
        hits += len(exact & got)
        total += len(exact)
    assert hits / total >= 0.35, f"PQ recall collapsed: {hits}/{total}"


def test_clear_sample_cache_invalidates(spark):
    """ADVICE r8 #3: after clear_sample_cache(), the next corpus_sample
    call re-collects from the (possibly rewritten) input instead of
    serving the session-pinned rows."""
    from spendinganalysisetl_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    first = sim.corpus_sample(df, n=3)
    assert sim.corpus_sample(df, n=3) is first  # session-pinned hit
    sim.clear_sample_cache()
    again = sim.corpus_sample(df, n=3)
    assert again is not first  # re-collected after invalidation
    assert [r["vec_id"] for r in again] == [r["vec_id"] for r in first]


def _line_boiler_py(
    docs, line_len=10, n_hashes=8, bands=2, gram=3, min_docs=3
):
    """Independent pure-Python replication of line_boilerplate_stats:
    ASCII \\S+ tokenize (Java \\S is ASCII, not Python's Unicode \\S),
    fixed-width pseudo-lines, word-gram shingles with the sub-gram
    whole-line edge, md5-fold Kirsch-Mitzenmacher minhash, banded
    bucket support over distinct docs."""
    import hashlib
    import re

    tok_re = re.compile(r"[^ \t\n\x0b\f\r]+")
    rpb = n_hashes // bands
    dl = []  # (doc_id, line)
    for doc_id, text in docs:
        ts = tok_re.findall(text.lower())
        for i in range(0, len(ts), line_len):
            dl.append((doc_id, " ".join(ts[i : i + line_len])))

    def grams(line):
        lt = line.split(" ")
        if len(lt) < gram:
            return {" ".join(lt)}
        return {
            " ".join(lt[i : i + gram]) for i in range(len(lt) - gram + 1)
        }

    def bandkeys(line):
        h = []
        for g in grams(line):
            hx = hashlib.md5(g.encode()).hexdigest()
            h.append((int(hx[:14], 16), int(hx[14:28], 16)))
        sig = [min(h1 + i * h2 for h1, h2 in h) for i in range(n_hashes)]
        return [
            (b, tuple(sig[b * rpb + r] for r in range(rpb)))
            for b in range(bands)
        ]

    keys = {line: bandkeys(line) for line in {l for _, l in dl}}
    support = {}
    for doc_id, line in dl:
        for bk in keys[line]:
            support.setdefault(bk, set()).add(doc_id)
    boiler = {
        line
        for line, bks in keys.items()
        if any(len(support[bk]) >= min_docs for bk in bks)
    }
    out = {}
    for doc_id, line in dl:
        n, b = out.get(doc_id, (0, 0))
        out[doc_id] = (n + 1, b + (1 if line in boiler else 0))
    return {
        doc_id: (n, b, b / n) for doc_id, (n, b) in sorted(out.items())
    }


def test_line_boilerplate_matches_python_differential(spark):
    """r11 operator: planted corpus — four docs share one exact
    10-token line (boilerplate by construction: every band bucket of
    that line spans 4 >= 3 docs), each doc carries unique filler lines
    (distinct vocabularies, so filler bucket support stays 1), and a
    fifth doc holds only unique lines (boiler_lines must be 0). The
    Spark pipeline must match the independent pure-Python replication
    row-for-row, and the planted structure must witness both flag
    outcomes."""
    from spendinganalysisetl_spark.operators.dedup import (
        line_boilerplate_stats,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = []
    for d in range(4):
        filler = " ".join(f"u{d}w{j}" for j in range(10))
        docs.append((d, f"{shared} {filler}"))
    docs.append((4, " ".join(f"solo{j}" for j in range(25))))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        r["doc_id"]: (r["n_lines"], r["boiler_lines"], r["boiler_frac"])
        for r in line_boilerplate_stats(sdf).collect()
    }
    want = _line_boiler_py(docs)
    assert got == want
    # witness both outcomes: the shared line flags in docs 0-3, the
    # solo doc flags nothing
    for d in range(4):
        assert got[d][1] >= 1, got
    assert got[4] == (3, 0, 0.0), got


def test_line_boilerplate_sf_differential(spark, documents):
    """Same differential over the real sf0.001 corpus (arbitrary data,
    not a planted shape) — pins the tokenizer/line/gram edge semantics
    (last partial line, sub-gram lines) against the pure-Python
    replication at corpus scale."""
    from spendinganalysisetl_spark.operators.dedup import (
        line_boilerplate_stats,
    )

    rows = documents.select("doc_id", "text").collect()
    docs = [(r["doc_id"], r["text"]) for r in rows]
    got = {
        r["doc_id"]: (r["n_lines"], r["boiler_lines"], r["boiler_frac"])
        for r in line_boilerplate_stats(documents).collect()
    }
    assert got == _line_boiler_py(docs)
    # the real corpus must witness both outcomes at this scale too
    flags = [b for _, b, _ in got.values()]
    assert any(b > 0 for b in flags) and any(b == 0 for b in flags)
