"""Training-data preparation operators (SURVEY.md §2.11 / north_star):
benchmark decontamination, cross-document boilerplate detection,
sequence packing, PII scrubbing, and domain-mixture weighting.

These are the corpus-level passes a pretraining pipeline runs between
"raw documents" and "token shards", beyond the per-document quality /
dedup families in :mod:`operators.textanalysis` and
:mod:`operators.dedup`. Everything stays in built-in Catalyst
expressions (functions.text) so the 100 TB scan is whole-stage codegen
and every operator has a DuckDB oracle twin (registry).

The reference pipeline has no counterpart for any of these (it is a
spending-report ETL, /root/reference/transformer.py); they exist because
the north_star scope is "the operations a large-scale training-data
pipeline would need".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spendinganalysisetl_spark.functions.text import (
    shingles_of_tokens,
    word_shingles,
    ws_tokens,
)
from spendinganalysisetl_spark.partitioning import spread as _spread

# PII regexes shared by the Spark operator and the DuckDB oracle
# (registry). Deliberately restricted to syntax with identical semantics
# in Java regex and RE2: character classes, bounded repetition, \d, \b —
# no lookaround, no backreferences (RE2 has neither).
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"\+1-\d{3}-\d{3}-\d{4}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}
PII_REDACTIONS: dict[str, str] = {
    "email": "<EMAIL>",
    "phone": "<PHONE>",
    "ssn": "<SSN>",
}


def decon_counts(
    documents: DataFrame, n: int = 8, bench_mod: int = 20
) -> DataFrame:
    """Presentation-free core of ``decontaminate`` (also composed into
    ``build_training_shards``): per TRAINING doc (docs with at least one
    gram; the benchmark slice is excluded), distinct-gram count and
    benchmark-overlap count."""
    is_bench = (F.col("doc_id") % bench_mod) == 0
    # Tokens materialized in their OWN projection, grams via unrolled
    # element_at (shingles_of_tokens): the inline concat_ws(slice(…))
    # form re-evaluated work per gram inside the interpreted HOF —
    # A/B at sf1: 2.16 s → 1.15 s for the whole decon plan.
    grams = (
        _spread(documents.select("doc_id", "text"))
        .select("doc_id", ws_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), n)).alias("gram"),
        )
    )
    bench_grams = (
        grams.filter(is_bench).select("gram").distinct().withColumn("hit", F.lit(1))
    )
    train_grams = grams.filter(~is_bench)
    joined = train_grams.join(F.broadcast(bench_grams), "gram", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("hit").alias("n_hits"),
    )


def decontaminate(
    documents: DataFrame,
    n: int = 8,
    bench_mod: int = 20,
    ordered: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word ``n``-gram with the held-out benchmark slice.

    The standard pretraining hygiene pass (13-gram overlap in GPT-3's
    appendix; ``n`` is a knob — default 8 suits the short synthetic
    docs). The benchmark here is the deterministic ``doc_id % bench_mod
    == 0`` slice standing in for an eval-set table; a real deployment
    passes its eval corpus through the same n-gram pipeline.

    Output per TRAINING doc: distinct n-gram count, how many of those
    grams also occur anywhere in the benchmark, the overlap ratio, and
    the contamination flag (any hit).

    Scale shape: real benchmark suites are MB-scale against a 100 TB
    corpus, so the benchmark gram set is built once and BROADCAST; the
    exploded training grams then probe it map-side — the big side never
    shuffles for the join, and the per-doc count that follows partially
    aggregates before its exchange. Both explodes sit behind
    ``spread`` so coarse file splits don't serialize the shingling.
    """
    out = decon_counts(documents, n, bench_mod).select(
        "doc_id",
        "n_grams",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.col("n_grams"), 6).alias(
            "overlap_ratio"
        ),
        (F.col("n_hits") > 0).cast("int").alias("is_contaminated"),
    )
    if not ordered:
        # Production core: per-doc output stays distributed; canonical
        # ordering is oracle/report-only (presentation-layer boundary).
        return out
    return out.repartition(1).sortWithinPartitions("doc_id")


def boilerplate_stats(
    documents: DataFrame, n: int = 5, min_docs: int = 2, ordered: bool = True
) -> DataFrame:
    """Cross-document boilerplate detection: for every document, the
    fraction of its distinct word ``n``-grams that occur in at least
    ``min_docs`` documents corpus-wide (CCNet-style shared-text removal,
    the cross-doc complement of the within-doc ``repetition_scores``).

    ONE corpus shingle pass, two shuffles both on near-uniform keys:
    document frequency per gram is a WINDOW over the gram partition
    (grams are distinct within a doc, so ``count(*)`` IS the document
    frequency — no ``count distinct``), chained straight into the
    per-doc rollup — not a groupBy + join-back, which forks the plan
    and re-runs the shingle explode per branch (Spark plans no exchange
    reuse across forked aggregate branches). At 100 TB the gram string
    itself is the shuffle payload — the scale path hashes each gram to
    a 64-bit key (xxhash64) first; the portable string form here is
    what the DuckDB oracle can replicate.
    """
    grams = (
        _spread(documents.select("doc_id", "text"))
        .select("doc_id", ws_tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), n)).alias("gram"),
        )
    )
    with_df = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    out = (
        with_df.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("df") >= min_docs, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.col("n_boiler").cast("long").alias("n_boiler"),
            F.round(
                F.col("n_boiler").cast("double") / F.col("n_grams"), 6
            ).alias("boiler_ratio"),
        )
    )
    if not ordered:
        # Production core: per-doc output stays distributed; canonical
        # ordering is oracle/report-only (presentation-layer boundary).
        return out
    return out.repartition(1).sortWithinPartitions("doc_id")


def duplicate_token_spans(
    documents: DataFrame, n: int = 5, min_docs: int = 2, ordered: bool = True
) -> DataFrame:
    """Cross-document duplicate-substring SPAN detection — the applied
    "WHERE is the shared text" half of substring-level dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — public knowledge; their exact suffix-array pass, here
    approximated at n-gram resolution the way production pipelines
    run it distributed). ``boilerplate_stats`` scores HOW MUCH of a
    document is cross-doc boilerplate; this returns the maximal token
    ranges to cut: every run of word ``n``-gram window positions whose
    grams occur in ≥ ``min_docs`` documents corpus-wide, with
    overlapping/adjacent duplicated windows merged into one span
    (gaps-and-islands). Output: ``(doc_id, span_start, span_end,
    span_tokens, n_dup_grams)`` with token-index spans, end exclusive.

    Scale shape: ONE corpus tokenize+window pass; document frequency
    without a groupBy+join-back fork (the fork would re-run the
    corpus explode per branch) AND without a second exchange: both
    frequency windows share ONE hash(gram) exchange + one
    (gram, doc_id, gpos) sort — the per-(gram, doc) first flag is a
    ``lag(doc_id)`` change marker over that sort (not a row_number
    over a separate (gram, doc) partitioning, which forced its own
    exchange — r9 rewrite, VERDICT r8 ask #2), and the unbounded
    ``df`` sum's (gram)-prefix sort requirement is satisfied by the
    same order, so Catalyst plans no re-exchange between them. Two
    exploded-table shuffles total (gram; then doc for the island
    merge, post-filter — dup rows only). At 100 TB hash each gram to
    a 64-bit xxhash64 key before the exchange (the portable string
    form here is what the DuckDB oracle replicates), and note the
    gram-only partitioning concentrates a pathologically hot gram in
    one partition — pre-aggregate (gram, doc) runs map-side or salt
    the df count if a corpus has one. Docs with fewer than ``n``
    tokens host no full window and emit nothing, by definition of
    the span."""
    toks = _spread(documents.select("doc_id", "text")).select(
        "doc_id", ws_tokens(F.col("text")).alias("toks")
    )
    cnt = F.size("toks")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at("toks", i + F.lit(1 + j)) for j in range(n)]
    )
    # Sub-n docs are excluded by emitting an EMPTY gram array inside the
    # projection, not a separate filter(size >= n): Catalyst pushes that
    # filter below the tokenize projection AND the spread exchange, so
    # the regexp tokenize would run twice — once on the coarse file
    # partitions for the filter, again after the exchange (caught in the
    # executed plan). (An array-domain first-occurrence flag
    # (array_position == own index) would delete the (gram, doc_id)
    # exchange below, but referencing the gram array across the Generate
    # re-inlines the whole expression tree — measured 16 tokenizes in
    # the executed plan; the window form keeps the plan single-tokenize.)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.when(cnt >= n, F.transform(F.sequence(F.lit(0), cnt - n), gram))
            .otherwise(F.array().cast("array<string>"))
        ).alias("gpos", "gram"),
    )
    w_seq = Window.partitionBy("gram").orderBy("doc_id", "gpos")
    w_gram = Window.partitionBy("gram")
    prev_doc = F.lag("doc_id").over(w_seq)
    dup = (
        grams.withColumn(
            "first",
            (prev_doc.isNull() | (prev_doc != F.col("doc_id"))).cast("int"),
        )
        .withColumn("df", F.sum("first").over(w_gram))
        .filter(F.col("df") >= min_docs)
        .select("doc_id", "gpos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("gpos")
    islands = dup.withColumn(
        "brk",
        F.when(
            F.lag("gpos").over(w_doc).isNull()
            | (F.col("gpos") > F.lag("gpos").over(w_doc) + n),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("brk").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out = (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("gpos").alias("span_start"),
            (F.max("gpos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start"))
            .cast("long")
            .alias("span_tokens"),
            "n_dup_grams",
        )
    )
    if not ordered:
        # Production core: per-doc output stays distributed; canonical
        # ordering is oracle/report-only (presentation-layer boundary).
        return out
    return out.repartition(1).sortWithinPartitions("doc_id", "span_start")


# Last persisted packing frame (see _pack_from_counts cache note).
_LAST_PACK_BASE = None


def pack_sequences(
    documents: DataFrame,
    budget: int = 512,
    bucket_width: int = 1 << 16,
    ordered: bool = True,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in ``doc_id``
    order and cut the token stream into fixed-``budget`` bins; each
    document belongs to the bin where it STARTS (documents may straddle
    a boundary — the concatenate-and-chunk contract).

    Per bin: document count, token sum, and the first/last doc ids.

    Scale shape — a distributed prefix sum in ONE declarative plan, NOT
    a global window (which would funnel the whole corpus through one
    task) and NOT a driver loop: (1) range-bucket by ``doc_id`` with a
    FIXED width; (2) per-bucket token partials prefix-sum through an
    unpartitioned window — safe because it moves one row per bucket
    (~150 k rows at 10^10 docs for the default width), not data;
    (3) the tiny offset table broadcast-joins back, and a within-bucket
    window (partitioned ⇒ parallel) yields every document's global
    token offset in a single pass over the data. Same two-phase scan a
    1000-node job uses for order-dependent assignment; no collect, no
    multi-job driver round-trips (vs the earlier collect-offsets form:
    two fewer driver sync points, measured ~0.3-0.5 s at sf0.1 under
    run-to-run variance).
    """
    base = _spread(documents.select("doc_id", "text")).select(
        "doc_id", F.size(ws_tokens(F.col("text"))).alias("n_tok")
    )
    return _pack_from_counts(base, budget, bucket_width, ordered=ordered)


def _pack_from_counts(
    base: DataFrame, budget: int, bucket_width: int, ordered: bool = True
) -> DataFrame:
    """Packing core over a pre-tokenized ``(doc_id, n_tok)`` frame —
    split out so ``build_training_shards`` can pack without re-scanning
    the corpus (it already carries ``n_tok`` on its per-doc frame).

    The bucket-offset table and the positioned join both consume
    ``base``, and Spark re-executes forked branches from the source —
    so ``base`` is persisted: it is 16 bytes/doc (vs the corpus's
    ~10 MB/doc), i.e. ~160 GB cluster-wide at 10^10 docs, a negligible
    MEMORY_AND_DISK footprint that converts a guaranteed full upstream
    re-execution (scan + tokenize + shuffle) into one pass. Repeated
    calls with an identical plan share one cache entry (Spark
    canonical-plan matching); a call with a DIFFERENT plan (new scale
    step, changed params) unpersists the previous call's frame first so
    a probe/bench session doesn't accrete dead cache entries."""
    from pyspark import StorageLevel

    global _LAST_PACK_BASE
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    prev = _LAST_PACK_BASE
    if prev is not None and prev is not base:
        try:
            if (
                prev._jdf.queryExecution().analyzed().sameResult(
                    base._jdf.queryExecution().analyzed()
                )
                is False
            ):
                prev.unpersist(blocking=False)
        except Exception:
            pass  # a dead/stopped session: nothing to release
    _LAST_PACK_BASE = base
    bucketed = base.withColumn(
        "bucket", F.floor(F.col("doc_id") / F.lit(int(bucket_width)))
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("bucket")
        .agg(F.sum("n_tok").alias("s"))
        .select(
            "bucket", F.coalesce(F.sum("s").over(wb), F.lit(0)).alias("bucket_off")
        )
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    positioned = (
        bucketed.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "offset",
            F.col("bucket_off") + F.coalesce(F.sum("n_tok").over(w), F.lit(0)),
        )
        .withColumn("bin_id", F.floor(F.col("offset") / F.lit(budget)))
    )
    out = positioned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    if not ordered:
        # Production core: the bin manifest grows with the corpus —
        # keep it distributed; canonical ordering is oracle/report-only
        # (presentation-layer boundary, VERDICT r6 #7).
        return out
    return out.repartition(1).sortWithinPartitions("bin_id")


def build_training_shards(
    documents: DataFrame,
    budget: int = 512,
    min_quality: float = 0.75,
    n: int = 8,
    bench_mod: int = 20,
    bucket_width: int = 1 << 16,
    observations: dict | None = None,
) -> DataFrame:
    """The end-to-end shard build a pretraining pipeline runs nightly,
    as ONE declarative plan: quality-gate → exact-dedup survivor
    election (``textanalysis.curated_docs``) → benchmark
    decontamination (``decon_counts``: keep training docs with zero
    benchmark n-gram overlap; the benchmark slice itself never ships) →
    concatenate-and-chunk sequence packing of the surviving stream
    (``pack_sequences``). Output = per-bin packing manifest.

    Composability is the point: Catalyst sees one tree — the quality
    gate prunes before the dedup shuffle, the decon verdict is a doc_id
    aggregation (ids only, not text), and nothing materializes or sorts
    between stages.

    Scale shape — the corpus is scanned exactly TWICE at runtime
    (asserted structurally in tests/test_plan_audit): one narrow scan
    derives the distinct benchmark-gram set (broadcast side), and ONE
    enriched scan computes every per-doc feature the pipeline needs —
    fingerprint, quality score, token count, and the exploded gram
    stream — in a single codegen projection. Both packing consumers
    read the persisted per-doc frame (see ``_pack_from_counts``), so
    its one-time build holds the only two corpus FileScans. All later
    stages (survivor election, decon verdict, sequence packing) operate
    on the aggregated per-doc frame (doc_id + a few scalars, no text),
    so no further corpus scan, cache, or spill exists at 100 TB. The
    earlier form forked ``curated_docs`` / ``decon_counts`` /
    ``pack_sequences`` off the raw input and paid 3 full tokenizing
    scans — Spark plans no exchange reuse across forked aggregate
    branches (SURVEY.md §8), so fusing the forks onto one flow is the
    same window/carry idiom that fixed tfidf and PMI.

    Semantics are pinned by the DuckDB oracle (registry): survivor
    election runs over ALL quality-passing docs (benchmark rows and
    zero-gram rows compete for fingerprints); the packed set is the
    non-benchmark, ≥1-gram, zero-overlap, elected survivors.
    """
    from spendinganalysisetl_spark.operators.textanalysis import (
        _quality_parts,
        fingerprint,
    )

    _, _, _, score = _quality_parts()
    # Tokens materialized once, then n_tok and the shingle array read
    # the attribute (same HOF-materialization idiom as decon_counts —
    # the inline word_shingles(text) form paid the slice-per-gram tax).
    enriched = (
        _spread(documents.select("doc_id", "n_chars", "text"))
        .select(
            "doc_id", "n_chars", "text", ws_tokens(F.col("text")).alias("toks")
        )
        .select(
            "doc_id",
            ((F.col("doc_id") % bench_mod) == 0).alias("is_bench"),
            fingerprint(F.col("text")).alias("fp"),
            F.round(score, 2).alias("quality_score"),
            F.size("toks").alias("n_tok"),
            shingles_of_tokens(F.col("toks"), n).alias("grams"),
        )
    )
    bench_grams = (
        enriched.filter("is_bench")
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    exploded = enriched.filter(F.col("quality_score") >= min_quality).select(
        "doc_id",
        "is_bench",
        "fp",
        "n_tok",
        # explode_outer keeps zero-gram docs: they still compete in the
        # fingerprint election (oracle semantics) even though they can
        # never be packed.
        F.explode_outer("grams").alias("gram"),
    )
    # The doc-constant attributes ride the GROUPING KEY, not first():
    # a first(string) aggregate has a variable-length buffer, which
    # disqualifies hash aggregation — Spark planned SortAggregate and
    # fully SORTED the exploded gram stream (the largest intermediate
    # in the pipeline) on both sides of the per-doc exchange. With
    # counts-only buffers the same aggregation is a partial+final
    # HashAggregate pair, sort-free; (is_bench, fp, n_tok) are
    # functionally dependent on doc_id, so the groups — and the rows —
    # are identical (guide §2: same shuffle, no sort passes).
    perdoc = (
        exploded.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("doc_id", "is_bench", "fp", "n_tok")
        .agg(
            F.count("gram").alias("n_grams"),
            F.count("hit").alias("n_hits"),
        )
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    clean = (
        perdoc.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & ~F.col("is_bench")
            & (F.col("n_grams") > 0)
            & (F.col("n_hits") == 0)
        )
        .select("doc_id", "n_tok")
    )
    out = _pack_from_counts(clean, budget=budget, bucket_width=bucket_width)
    if observations is not None:
        # Production counters WITHOUT an extra pass: a CollectMetrics
        # node (pyspark Observation) on the manifest aggregates during
        # whatever action the caller runs anyway — the "how many
        # bins / docs / tokens made it past the gates tonight" numbers
        # a pipeline dashboards, for free. Attached ABOVE the packing
        # persist: metrics emitted inside a cache-materialization
        # subquery don't reach the caller's listener.
        from pyspark.sql import Observation

        obs = Observation("shard_build")
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("n_bins"),
            # coalesce: an all-gated-out run must dashboard 0, not NULL
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("docs_packed"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens_packed"),
        )
        observations["shard_build"] = obs
    return out


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII (email / phone / SSN patterns) from ``text_col`` and
    count each class. Returns the input columns with ``<class>``
    occurrence counts, the redacted text, and its length.

    Counts are measured on the ORIGINAL text per pattern independently;
    redaction applies the patterns in a fixed order (email → phone →
    ssn). Pure ``regexp_extract_all`` / ``regexp_replace`` — a
    single codegen'd projection, embarrassingly parallel at any scale,
    and expressible identically in RE2 for the oracle (see
    ``PII_PATTERNS`` syntax note).
    """
    text = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    redacted = text
    for name, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, PII_REDACTIONS[name])
    return df.select(
        *df.columns,
        *counts,
        redacted.alias("clean_text"),
        F.length(redacted).alias("clean_len"),
    )


def vocab_top_terms(
    documents: DataFrame, k: int = 100, doc_terms: DataFrame | None = None
) -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent whitespace tokens
    with total count, document frequency, and corpus rank — the first
    pass of building a tokenizer vocabulary (and the sanity report every
    corpus refresh prints).

    One explode → one hash aggregation on the token (map-side combined;
    token keys follow a Zipf distribution, but partial aggregation
    collapses the head BEFORE the shuffle, so the hot keys ship one row
    per map partition — skew-safe without salting). The top-k is
    ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject (per-
    partition heaps merged at the driver), so the full vocabulary is
    never globally sorted or moved to one task; ranks are then numbered
    on the k surviving rows. Ties break lexicographically.
    """
    if doc_terms is not None:
        # Registry-shared doc-term index (textanalysis.
        # doc_term_counts): the table is already distinct per
        # (doc_id, term), so n_occurrences = Σc and the document
        # frequency is a plain count — no second tokenize, no
        # countDistinct shuffle over raw occurrences.
        vocab = doc_terms.groupBy(F.col("term").alias("token")).agg(
            F.sum("c").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    else:
        toks = _spread(documents.select("doc_id", "text")).select(
            "doc_id", F.explode(ws_tokens(F.col("text"))).alias("token")
        )
        vocab = toks.groupBy("token").agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    head = vocab.orderBy(F.col("n_occurrences").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return (
        head.withColumn("rank", F.row_number().over(w))
        .select("rank", "token", "n_occurrences", "n_docs")
        .repartition(1)
        .sortWithinPartitions("rank")
    )


def bigram_pmi(documents: DataFrame, min_count: int = 5) -> DataFrame:
    """Collocation mining: pointwise mutual information over adjacent
    token pairs — ``log2((c_ab/B) / ((c_a/N)(c_b/N)))`` with unigram
    totals ``N`` and bigram totals ``B`` — the standard phrase-detection
    pass (word2vec-style "new_york" merging) a corpus build runs before
    tokenizer training. Only pairs with ``c_ab >= min_count`` are
    emitted (PMI is noise below a support floor).

    Scale shape: each token occurrence is emitted exactly once — as the
    first member ``(w1, w2)`` of its following bigram, or as a terminal
    ``(w1, NULL)`` marker for a document's last token — so the unigram
    count of ``w1`` is a WINDOW over the ``w1`` partition of the bigram
    aggregate, chained on the main flow (zero extra corpus work). Only
    the ``w2``-side unigram lookup needs a second pass (its count lives
    on OTHER rows' ``w1`` — not derivable by a window over this
    partition), so the plan pays exactly two corpus passes. Corpus
    totals ``N``/``B`` are SCALAR aggregates of the pair aggregate
    crossJoined back as broadcasts — never ``sum().over(Window
    .partitionBy())``: at 100 TB the pair-type table is billions of
    rows and an unpartitioned window would move ALL of it through ONE
    partition, whereas the scalar agg ships one partial row per
    partition, and its branch rides a ``ReusedExchange`` of the main
    flow's pair shuffle (verified in the executed plan; pinned by
    tests/test_plan_audit.py::test_pmi_no_unpartitioned_window), so
    the totals cost no extra corpus pass. The ``w2`` join keys on a
    token — a uniform hash join. The log2 identity is computed as one
    double expression identically in the DuckDB twin; PMI rounds at
    4dp (log ulp-safety margin).
    """
    toks = _spread(documents.select("text")).select(
        ws_tokens(F.col("text")).alias("toks")
    )
    cnt = F.size(F.col("toks"))
    # (w_i, w_{i+1}) for i < n, plus (w_n, NULL): every occurrence appears
    # exactly once in the w1 position.
    pair_structs = F.when(
        cnt >= 2,
        F.transform(
            F.sequence(F.lit(1), cnt - 1),
            lambda i: F.struct(
                F.element_at("toks", i).alias("w1"),
                F.element_at("toks", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    exploded = (
        toks.filter(cnt >= 1)
        .select(
            F.explode(
                F.concat(
                    pair_structs,
                    F.array(
                        F.struct(
                            F.element_at("toks", cnt).alias("w1"),
                            F.lit(None).cast("string").alias("w2"),
                        )
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    agg = exploded.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    # Corpus totals as ONE 1-row scalar aggregate, broadcast back: B =
    # all bigram occurrences (non-NULL w2 rows), N = all token
    # occurrences (every occurrence sits on exactly one w1). B uses a
    # conditional sum, NOT a filter — a pushed-down filter would change
    # the exchange subtree and break the ReusedExchange of the main
    # flow's pair shuffle (see docstring).
    tot = agg.agg(
        F.sum(F.when(F.col("w2").isNotNull(), F.col("c")))
        .cast("long")
        .alias("b_total"),
        F.sum("c").cast("long").alias("n_total"),
    )
    # c_a chained as a window on the main flow — every occurrence of w1
    # is on some (w1, *) row, so the partition sum IS its unigram count.
    with_ca = agg.withColumn(
        "c_a", F.sum("c").over(Window.partitionBy("w1")).cast("long")
    )
    bigr = (
        with_ca.filter(F.col("w2").isNotNull())
        .withColumnRenamed("c", "c_ab")
        .filter(F.col("c_ab") >= min_count)
        .crossJoin(F.broadcast(tot))
    )
    # The ONE remaining fork: the w2-side lookup table (vocab-sized).
    ub = (
        agg.groupBy("w1")
        .agg(F.sum("c").cast("long").alias("c_b"))
        .withColumnRenamed("w1", "w2")
    )
    num = F.col("c_ab").cast("double") * F.col("n_total") * F.col("n_total")
    den = F.col("b_total").cast("double") * F.col("c_a") * F.col("c_b")
    return (
        bigr.join(ub, "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            # ``+ 0.0`` canonicalizes IEEE signed zero: a tiny negative
            # PMI rounds to ``-0.0`` in DuckDB but ``+0.0`` here — value
            # -equal yet hash-distinct (the round-2 driver red row).
            (F.round(F.log2(num / den), 4) + F.lit(0.0)).alias("pmi"),
        )
        .repartition(1)
        .sortWithinPartitions("w1", "w2")
    )


def skipgram_pmi(
    documents: DataFrame,
    window: int = 3,
    min_count: int = 5,
    unigrams: DataFrame | None = None,
) -> DataFrame:
    """Collocation mining over a SKIP-GRAM window: PMI of ordered token
    pairs ``(w_i, w_{i+d})`` for ``1 ≤ d ≤ window`` — the word2vec-style
    generalization of ``bigram_pmi`` (adjacent-only = window 1), the
    co-occurrence pass behind phrase detection and embedding-training
    context windows. ``pmi = log2((c_ab/B) / ((c_a/N)(c_b/N)))`` with
    unigram totals ``N``, pair totals ``B``, support floor
    ``c_ab >= min_count``.

    Scale shape: pair generation is ONE nested-``transform`` projection
    over the token array — no self-join of the exploded position table
    (the join-shaped formulation shuffles corpus-token-sized inputs on
    doc_id and re-tokenizes per branch); the exploded pair stream is
    ``window``-bounded (≤ k rows per token occurrence) and aggregates
    map-side. The unigram side reuses the session-shared doc-term index
    when the caller passes it (``unigrams`` = (doc_id, term, c) rows —
    registry._doc_terms; a vocab-sized re-aggregation of a CACHED
    table, zero extra corpus scans) and otherwise pays one more
    tokenize pass. Corpus totals ``B``/``N`` are SCALAR aggregates
    crossJoined back as broadcasts (never unpartitioned windows — at
    100 TB the distinct skip-gram pair-type table is billions of rows
    and a ``Window.partitionBy()`` would funnel all of it through one
    partition; the scalar branch ships one partial row per partition
    and rides a ReusedExchange of the pair shuffle); the two unigram
    lookups join on a token key. PMI rounds at 4dp with signed-zero
    canonicalization (the bigram_pmi conventions)."""
    toks = _spread(documents.select("text")).select(
        ws_tokens(F.col("text")).alias("toks")
    )
    cnt = F.size(F.col("toks"))
    # (w_i, w_{i+d}) for i in 1..n-1, d in 1..min(window, n-i): inner
    # sequence bounds stay ≥ 1 for every generated i (a start>stop
    # Spark sequence would DESCEND, not empty out — guarded by the
    # outer range and the n>=2 gate, which also keeps the filter out
    # of the tokenize projection's pushdown path).
    pair_structs = F.when(
        cnt >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), cnt - 1),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(window), cnt - i)
                    ),
                    lambda d: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + d).alias("w2"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pc = (
        toks.select(F.explode(pair_structs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    # Corpus pair total B as a 1-row scalar aggregate broadcast back —
    # NOT an unpartitioned window: at 100 TB the distinct skip-gram
    # pair-type table is billions of rows and a window over an empty
    # partition spec would move all of it through ONE partition. The
    # scalar branch ships one partial row per partition and rides a
    # ReusedExchange of the main flow's pair shuffle (pinned by
    # tests/test_plan_audit.py::test_pmi_no_unpartitioned_window).
    b_tot = pc.agg(F.sum("c_ab").cast("long").alias("b_total"))
    pc = pc.filter(F.col("c_ab") >= min_count).crossJoin(F.broadcast(b_tot))
    if unigrams is not None:
        uc = unigrams.groupBy("term").agg(
            F.sum("c").cast("long").alias("c_u")
        )
    else:
        uc = (
            _spread(documents.select("text"))
            .select(F.explode(ws_tokens(F.col("text"))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c_u"))
        )
    # Unigram total N: same scalar-broadcast idiom over the vocab-sized
    # aggregate (vocab is itself unbounded at crawl scale).
    n_tot = uc.agg(F.sum("c_u").cast("long").alias("n_total"))
    ua = uc.select(
        F.col("term").alias("w1"),
        F.col("c_u").alias("c_a"),
    )
    ub = uc.select(F.col("term").alias("w2"), F.col("c_u").alias("c_b"))
    num = F.col("c_ab").cast("double") * F.col("n_total") * F.col("n_total")
    den = F.col("b_total").cast("double") * F.col("c_a") * F.col("c_b")
    return (
        pc.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            (F.round(F.log2(num / den), 4) + F.lit(0.0)).alias("pmi"),
        )
        .repartition(1)
        .sortWithinPartitions("w1", "w2")
    )


def domain_mix_weights(
    documents: DataFrame, max_weight: float = 5.0
) -> DataFrame:
    """Domain-mixture weighting: per language, observed token share vs a
    uniform target share, and the resampling weight ``min(target /
    observed, max_weight)`` — the computation behind "upsample
    low-resource languages to a target mixture" in a pretraining data
    recipe (the cap bounds repetition of tiny domains).

    One grouped aggregation (map-side combined); the corpus totals come
    from an unpartitioned window OVER THE AGGREGATED ROWS (group count =
    number of languages, so the single-partition window moves a handful
    of rows) — a crossJoin with a separate totals aggregate would plan a
    second full corpus scan instead (measured ~0.2 s faster at sf0.1).
    """
    per_lang = (
        _spread(documents.select("lang", "text"))
        .select("lang", F.size(ws_tokens(F.col("text"))).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    obs = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
    target = F.lit(1.0) / F.count(F.lit(1)).over(w)
    return (
        per_lang
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(obs, 6).alias("obs_share"),
            F.round(target, 6).alias("target_share"),
            F.round(F.least(target / obs, F.lit(max_weight)), 4).alias(
                "mix_weight"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("lang")
    )


def temperature_mix_weights(
    documents: DataFrame,
    tau: float = 0.5,
    max_weight: float = 5.0,
    qscale: float = 1e9,
) -> DataFrame:
    """Temperature-flattened domain-mixture weights: per language the
    observed token share ``p_i``, the flattened share
    ``q_i = p_i^τ / Σ_j p_j^τ``, and the resampling weight
    ``min(q_i / p_i, max_weight)`` — the standard multilingual-LM
    data-mix device (public knowledge: temperature/exponent sampling in
    mBERT/XLM-R/mT5 data recipes; τ=1 keeps the natural mix, τ→0
    approaches uniform, so it interpolates between ``domain_mix_weights``'
    uniform target and no resampling).

    Portability: the registered query runs τ=0.5, where ``p^τ`` is
    ``sqrt`` — an IEEE-754 EXACT-ROUNDED operation, bit-identical on
    every engine (general ``pow`` is libm-dependent and stays off the
    oracle path). The flattened numerators are then quantized to
    ``qscale`` integer units BEFORE the normalizing sum, so the sum is
    an exact int64 in any accumulation order — without this, the
    |langs|-term float sum's order would differ between engines and a
    1-ulp wiggle could cross the 6dp rounding boundary.

    Scale shape: identical to ``domain_mix_weights`` — ONE map-side-
    combined grouped aggregation over the corpus; every share/total is
    a window over the |langs| aggregated rows (a crossJoin with a
    separate totals aggregate would plan a second corpus scan)."""
    if tau != 0.5:  # non-oracle path: honest general form
        flat_num = lambda c: F.pow(c, F.lit(tau))  # noqa: E731
    else:
        flat_num = F.sqrt
    per_lang = (
        _spread(documents.select("lang", "text"))
        .select("lang", F.size(ws_tokens(F.col("text"))).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    obs = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
    s_i = F.floor(flat_num(obs) * F.lit(qscale) + F.lit(0.5)).cast("long")
    q_i = s_i.cast("double") / F.sum(s_i).over(w).cast("double")
    return (
        per_lang.select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(obs, 6).alias("obs_share"),
            F.round(q_i, 6).alias("flat_share"),
            F.round(F.least(q_i / obs, F.lit(max_weight)), 4).alias(
                "mix_weight"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("lang")
    )


def resample_to_mixture(
    documents: DataFrame,
    domain_col: str = "lang",
    id_col: str = "doc_id",
    max_weight_bp: int = 50000,
) -> DataFrame:
    """APPLY a domain-mixture target: deterministic fractional
    resampling of each domain toward the uniform doc share — the
    executable half of ``domain_mix_weights`` (which only REPORTS the
    weights). Returns ``(id, domain, copy_idx)``: over-represented
    domains are hash-thinned, under-represented ones replicated (whole
    copies + one hash-gated fractional copy), so the expected output
    mixture is uniform up to the ``max_weight_bp`` repetition cap —
    "upsample low-resource languages to the target mix" from a
    pretraining data recipe.

    Exactness: the per-domain weight is integer basis points
    ``w_bp = min(cap, (10000·N) div (D·n_d))``; a document emits
    ``w_bp div 10000`` whole copies plus one more iff its md5 fold
    ``% 10000 < w_bp % 10000``. Deterministic per id (stable across
    runs/engines/appends — never ``rand()``), and every step is integer
    floor arithmetic, so the DuckDB twin reproduces the exact copy set.

    Scale shape: one vocab-sized aggregate (domain counts), weights
    joined back by BROADCAST (|domains| rows), then a pure projection +
    ``posexplode(sequence(...))`` whose expansion is bounded by the
    cap — no corpus shuffle at all."""
    base = documents.select(
        F.col(id_col).alias("id"), F.col(domain_col).alias("domain")
    )
    st = base.groupBy("domain").agg(F.count(F.lit(1)).alias("n_d"))
    # Corpus totals via an unpartitioned window OVER THE AGGREGATED ROWS
    # (|domains| rows — the domain_mix_weights idiom; a crossJoin with a
    # separate totals aggregate would rescan the corpus).
    weights = st.select(
        "domain",
        F.least(
            F.lit(max_weight_bp).cast("long"),
            F.expr("(10000 * sum(n_d) over ()) div (count(1) over () * n_d)"),
        ).alias("w_bp"),
    )
    from spendinganalysisetl_spark.functions.text import hex_fold

    enriched = base.join(F.broadcast(weights), "domain").select(
        "id",
        "domain",
        (
            F.expr("w_bp div 10000")
            + F.when(
                (hex_fold(F.md5(F.col("id").cast("string")), 1, 7) % 10000)
                < F.expr("w_bp % 10000"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("int").alias("n_copies"),
    )
    return enriched.filter(F.col("n_copies") > 0).select(
        "id",
        "domain",
        F.explode(F.expr("sequence(1, n_copies)")).alias("copy_idx"),
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 128, overlap: int = 16
) -> DataFrame:
    """Sliding-window document chunking — the fixed-budget split with
    overlap every training/embedding/RAG pipeline runs on documents
    longer than its context window: chunk ``i`` covers tokens
    ``[i·stride, i·stride + chunk_tokens)`` with ``stride =
    chunk_tokens − overlap``, so consecutive chunks share ``overlap``
    tokens and no token is lost. The final partial chunk is kept
    (standard convention: better a short tail than dropped text);
    empty documents yield no chunks.

    One projection pass — tokenize, ``sequence()`` of chunk starts,
    ``slice()`` per start, one ``posexplode`` — all inside whole-stage
    codegen; embarrassingly parallel at any scale (no shuffle at all
    until a consumer aggregates). Emitted per chunk: ordinal, token
    count, first/last token (the boundary evidence the oracle checks —
    chunk TEXT is reconstructable via ``array_join`` but whitespace
    normalization makes byte-exact reconstruction tokenizer-dependent,
    so the contract is token-level).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            "overlap must satisfy 0 <= overlap < chunk_tokens: a negative "
            "overlap makes stride exceed the chunk and silently DROPS the "
            "tokens between consecutive chunks"
        )
    stride = chunk_tokens - overlap
    toks = F.col("toks")
    n = F.size(toks)
    # starts: 1, 1+stride, ... up to the last index that begins a chunk
    # with at least one NEW token: n - overlap ... for a partial tail the
    # last start is the largest s with s <= n (1-based slice()).
    last_start = (
        F.floor((n - F.lit(overlap) - 1) / F.lit(stride)) * F.lit(stride) + 1
    )
    starts = F.when(n <= chunk_tokens, F.array(F.lit(1))).otherwise(
        F.sequence(F.lit(1), last_start.cast("int"), F.lit(stride))
    )
    chunks = F.transform(starts, lambda s: F.slice(toks, s, chunk_tokens))
    return (
        _spread(documents.select("doc_id", "text"))
        .select("doc_id", ws_tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 1)
        .select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").alias("n_tokens"),
            F.element_at("chunk", 1).alias("first_token"),
            F.element_at("chunk", -1).alias("last_token"),
        )
    )


def token_drift_psi(
    documents: DataFrame,
    split_id: int = 250,
    top_n: int = 200,
    doc_terms: DataFrame | None = None,
) -> DataFrame:
    """Corpus drift monitor: Population Stability Index of the unigram
    distribution between two corpus slices (here: doc_id < ``split_id``
    as the reference snapshot vs the rest as the incoming one) — the
    check a data pipeline runs before accepting a refreshed crawl, where
    a PSI spike means the token mix moved (new boilerplate, a broken
    source, a language shift).

    Buckets are the ``top_n`` tokens of the COMBINED corpus (count-desc,
    token-asc tiebreak — deterministic, engine-portable); each side's
    distribution is add-one smoothed over those buckets so a token
    absent on one side contributes a finite term. Per-bucket
    contribution ``(p_new - p_ref) * ln(p_new / p_ref)`` is ≥ 0; the
    output is the top contributors plus each side's token counts.

    Scale shape: ONE corpus tokenize → one (side-conditional) hash
    aggregation per token; totals and the top-n election are windows
    over the aggregated vocab table (vocab-sized, never the corpus);
    the PSI sum is an aggregation of ``top_n`` rows.
    """
    from pyspark.sql import Window

    is_ref = F.col("doc_id") < split_id
    if doc_terms is not None:
        # Registry-shared doc-term index: per-side unigram
        # counts are a re-aggregation (Σc gated on the doc_id side) —
        # no corpus re-tokenize. Values identical to the explode path.
        vocab = doc_terms.groupBy(F.col("term").alias("token")).agg(
            F.sum(F.when(is_ref, F.col("c")).otherwise(F.lit(0))).alias("c_ref"),
            F.sum(F.when(~is_ref, F.col("c")).otherwise(F.lit(0))).alias("c_new"),
        )
    else:
        toks = _spread(documents.select("doc_id", "text")).select(
            is_ref.alias("is_ref"),
            F.explode(ws_tokens(F.col("text"))).alias("token"),
        )
        vocab = toks.groupBy("token").agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("c_ref"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("c_new"),
        )
    w_rank = Window.orderBy(
        (F.col("c_ref") + F.col("c_new")).desc(), F.col("token").asc()
    )
    head = (
        vocab.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= top_n)
    )
    tot = Window.partitionBy(F.lit(1))
    p_ref = (F.col("c_ref") + 1).cast("double") / (
        F.sum("c_ref").over(tot) + top_n
    )
    p_new = (F.col("c_new") + 1).cast("double") / (
        F.sum("c_new").over(tot) + top_n
    )
    return (
        head.withColumn(
            "psi_term",
            F.round((p_new - p_ref) * F.log(p_new / p_ref), 6) + F.lit(0.0),
        )
        .select(
            "token",
            F.col("c_ref").cast("long").alias("c_ref"),
            F.col("c_new").cast("long").alias("c_new"),
            "psi_term",
        )
        .orderBy(F.col("psi_term").desc(), F.col("token").asc())
        .limit(20)
    )


def dsir_bucket_stats(
    documents: DataFrame, target_lang: str = "en", n_buckets: int = 256
) -> DataFrame:
    """Hashed-unigram bucket statistics for DSIR-style data selection
    (public method: Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling" — hashed n-gram features, a
    target-vs-raw likelihood ratio per feature, per-document importance
    weights). Returns one row per hash bucket with the target-side and
    raw-side token counts: ``(bk, c_t, c_r)``.

    Scale shape: ONE tokenize scan; membership in the target domain is
    a column predicate, so BOTH counts come from one conditional
    aggregation (map-side combined, bucket-cardinality output — no
    second corpus pass for the target side). The bucket hash is the
    engine-portable md5-fold (functions/text.py:hex_fold — same device
    as the portable MinHash family), so a DuckDB oracle reproduces
    every count bit-for-bit; the xxhash64 one-op hash is the drop-in
    at-scale variant, exactly as in the dedup family."""
    from spendinganalysisetl_spark.functions.text import hex_fold

    toks = _spread(documents.select("lang", "text")).select(
        "lang", F.explode(ws_tokens(F.col("text"))).alias("t")
    )
    bk = (hex_fold(F.md5("t"), 1, width=8) % n_buckets).cast("int")
    return (
        toks.select(
            bk.alias("bk"),
            (F.col("lang") == target_lang).cast("long").alias("is_t"),
        )
        .groupBy("bk")
        .agg(
            F.sum("is_t").cast("long").alias("c_t"),
            F.count(F.lit(1)).cast("long").alias("c_r"),
        )
    )


def dsir_quantized_weights(
    stats_rows, n_buckets: int = 256
) -> list[int]:
    """Per-bucket importance weights from collected bucket stats:
    ``w_b = log2( p_target(b) / p_raw(b) )`` with add-half smoothing,
    quantized to integer MICRO-units (half away from zero) so document
    scores are exact int64 sums — order-independent and bit-identical
    across engines (the quality-classifier convention). The smoothed
    ratio is built from EXACT int64 products first —
    ``((2·c_t+1)·(2·N_r+B)) / ((2·c_r+1)·(2·N_t+B))`` — each side fits
    2^53 at any oracle-checked scale, so the double quotient is the
    correctly-rounded value of an exact rational on every engine; the
    only libm call is the single log2 per bucket, fenced off the
    quantization boundary by a test (the PMI fence device). At 100 TB
    the int64 products overflow 2^53: compute the weight in log space
    (log2 numerator − log2 denominator) and accept per-weight ulp
    noise — scores are then no longer bit-portable, which only the
    oracle gate needs. Missing buckets (no token hashed there) get the
    c_t=c_r=0 smoothed weight so the scorer can index any bucket."""
    import math

    stats = {int(r["bk"]): (int(r["c_t"]), int(r["c_r"])) for r in stats_rows}
    n_t = sum(ct for ct, _ in stats.values())
    n_r = sum(cr for _, cr in stats.values())
    out = []
    for b in range(n_buckets):
        c_t, c_r = stats.get(b, (0, 0))
        num = (2 * c_t + 1) * (2 * n_r + n_buckets)
        den = (2 * c_r + 1) * (2 * n_t + n_buckets)
        assert num < 2**53 and den < 2**53, "use log-space at this scale"
        lg = math.log2(num / den)
        q = math.floor(abs(lg) * 1_000_000 + 0.5)
        out.append(q if lg >= 0 else -q)
    return out


def dsir_scores(
    documents: DataFrame,
    weights_q: list[int],
    n_buckets: int = 256,
    ordered: bool = True,
) -> DataFrame:
    """Score every document under quantized DSIR bucket weights:
    ``dsir_micro = Σ w_q[bucket(token)]`` over all token occurrences —
    the log importance ratio in micro-units, an exact int64. The whole
    pass is ONE PROJECTION (the classifier margin_scores idiom): the
    bucket-sized weight vector is an all-literal array that
    ConstantFolding collapses to a single Literal, tokens map through
    ``transform`` + ``element_at`` and sum via ``aggregate`` — no
    explode, no join, no groupBy; doc rows never shuffle. ``n_tokens``
    re-runs the tokenize regex in the same scan (one extra regex per
    row, the text_token_counts precedent) rather than referencing the
    transformed array twice, which CollapseProject would re-inline
    into two full evaluations anyway. At 100 TB with 10^5+ buckets the
    literal array gives way to a broadcast map-side join — same
    shuffle-free shape, dictionary instead of literal."""
    from spendinganalysisetl_spark.functions.text import hex_fold

    warr = F.array(*[F.lit(int(w)) for w in weights_q])
    tok_w = F.transform(
        ws_tokens(F.col("text")),
        lambda t: F.element_at(
            warr,
            (hex_fold(F.md5(t), 1, width=8) % n_buckets).cast("int")
            + F.lit(1),
        ),
    )
    s = F.aggregate(
        tok_w, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
    )
    out = _spread(documents.select("doc_id", "text")).select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.coalesce(s, F.lit(0)).cast("long").alias("dsir_micro"),
    )
    if not ordered:
        return out
    return out.repartition(1).sortWithinPartitions("doc_id")


def unimax_language_budgets(
    documents: DataFrame,
    budget_num: int = 3,
    budget_den: int = 2,
    max_epochs: int = 2,
) -> DataFrame:
    """UniMax language-budget allocation (public method: Chung et al.
    2023, "UniMax: Fairer and More Effective Language Sampling for
    Large-Scale Multilingual Pretraining"): given a total token budget
    ``B`` and an epoch cap ``E``, allocate tokens to languages by
    WATER-FILLING — every language gets the uniform share of the
    remaining budget unless that would repeat its corpus more than
    ``E`` times, in which case it caps at ``E·N_l`` and frees budget
    for the rest. The third member of the mixture family: uniform
    target (``domain_mix_weights``) and temperature flattening
    (``temperature_mix_weights``) reweight SHARES; UniMax allocates an
    absolute budget under a repetition bound.

    ``B = floor(total_tokens · budget_num / budget_den)`` keeps the
    budget data-derived (so the same query is meaningful at every SF)
    and INTEGER — the whole allocation is exact int64 arithmetic, so
    the DuckDB twin reproduces it bit-for-bit with no rounding fence
    needed. The sequential water-filling loop has a closed form when
    languages are processed in ascending ``E·N_l`` order: the capped
    set is exactly the prefix where ``t_i·(k−i+1) + Σ_{j<i} t_j ≤ B``
    (standard water-filling: once a language is rich enough to take
    the uniform share, so is every richer one), and every uncapped
    language splits the post-cap remainder evenly — floor division,
    with the ``rem`` leftover tokens granted one each to the first
    ``rem`` uncapped languages in the same canonical order (exact
    budget conservation, deterministically).

    Scale shape: ONE map-side-combined grouped aggregation over the
    corpus; every window after it runs over the |languages| aggregated
    rows (the domain_mix convention — a handful of rows through one
    partition, not corpus data). Columns: per-language tokens, the
    epoch cap, capped flag, allocated tokens, and the realized
    repetition rate in exact basis points."""
    per_lang = (
        _spread(documents.select("lang", "text"))
        .select("lang", F.size(ws_tokens(F.col("text"))).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    t = (F.lit(int(max_epochs)) * F.col("n_tokens")).cast("long")
    wall = Window.partitionBy()
    order = Window.orderBy(F.col("cap_tokens").asc(), F.col("lang").asc())
    base = per_lang.withColumn("cap_tokens", t).withColumn(
        "budget",
        F.floor(
            F.sum("n_tokens").over(wall)
            * F.lit(int(budget_num))
            / F.lit(int(budget_den))
        ).cast("long"),
    )
    ranked = (
        base.withColumn("idx", F.row_number().over(order))
        .withColumn("k", F.count(F.lit(1)).over(wall))
        .withColumn(
            "cum_excl",
            F.coalesce(
                F.sum("cap_tokens").over(
                    order.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "capped",
            (
                F.col("cap_tokens") * (F.col("k") - F.col("idx") + 1)
                + F.col("cum_excl")
                <= F.col("budget")
            ).cast("int"),
        )
    )
    shared = (
        ranked.withColumn(
            "capped_sum",
            F.coalesce(
                F.sum(
                    F.when(F.col("capped") == 1, F.col("cap_tokens"))
                ).over(wall),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "n_uncapped",
            (F.col("k") - F.sum("capped").over(wall)).cast("long"),
        )
        .withColumn(
            "rank_u",
            F.sum(1 - F.col("capped")).over(
                order.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    leftover = F.col("budget") - F.col("capped_sum")
    alloc = F.when(F.col("capped") == 1, F.col("cap_tokens")).otherwise(
        F.floor(leftover / F.col("n_uncapped")).cast("long")
        + (
            F.col("rank_u") <= leftover % F.col("n_uncapped")
        ).cast("long")
    )
    return (
        shared.select(
            "lang",
            "n_docs",
            "n_tokens",
            "cap_tokens",
            "budget",
            "capped",
            alloc.cast("long").alias("alloc_tokens"),
            # repetition rate in exact basis points: 10000 = one epoch
            F.floor(
                alloc * F.lit(10000) / F.col("n_tokens")
            ).cast("long").alias("epochs_bp"),
        )
        .repartition(1)
        .sortWithinPartitions("lang")
    )
