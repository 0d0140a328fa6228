"""Deduplication family over ``documents`` (SURVEY.md §2.11 /
north_star): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Not present in the reference (its dedup is the sink-side upsert probe,
/root/reference/transformer.py:30-76 — see ``sources.upsert``); these
are the training-data-pipeline operators the engine adds.

Scale design
------------
- exact dedup: hash-groupBy on a fingerprint — one shuffle keyed by the
  digest, no text comparison beyond the group.
- MinHash+LSH: signatures are computed scan-side (per-row, codegen'd
  xxhash64 — no UDF, no shuffle); banding turns near-dup search into an
  equi-join on (band_id, band_hash), so candidate generation is a hash
  shuffle whose key space spreads uniformly. Candidate pairs are then
  verified with exact Jaccard — only candidates pay the set-intersection
  cost. This is the standard shingle→minhash→band→bucket-join pipeline
  and survives a 1000-executor fan-out because every stage is a plain
  shuffle/join on uniform keys.
- SimHash: 64-bit signature via per-token xxhash64 bit-vote; hamming
  bucketing by signature prefix blocks, verification by popcount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spendinganalysisetl_spark import partitioning as P
from spendinganalysisetl_spark.catalog import release, size_of
from spendinganalysisetl_spark.functions.text import (
    char_shingles,
    fingerprint,
    norm_text,
    ws_tokens,
)
from spendinganalysisetl_spark.partitioning import spread as _spread


def _normed(documents: DataFrame) -> DataFrame:
    """(doc_id, norm) with the normalized text MATERIALIZED behind an
    exchange. Two reasons (both measured, see functions.text.norm_text):
    the regex normalization must not inline into downstream HOF lambdas
    (per-element re-evaluation), and the one-file-per-table source needs
    a repartition before per-doc CPU work anyway."""
    return _spread(documents.select("doc_id", norm_text(F.col("text")).alias("norm")))


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup on normalized text: keep the lowest doc_id per
    fingerprint (deterministic survivor rule — hash-groupBy, one
    shuffle on the digest)."""
    return (
        documents.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .repartition(1).sortWithinPartitions("keep_id")
        .select("keep_id", "n_copies")
    )


def incremental_dedup(documents: DataFrame, batch_mod: int = 10, batch_rem: int = 7) -> DataFrame:
    """Append-batch dedup: decide keep/drop for a NEW batch of documents
    against the already-ingested corpus WITHOUT re-deduplicating the
    corpus — the nightly-ingest shape (only the delta pays compute).
    The batch here is the deterministic ``doc_id % batch_mod ==
    batch_rem`` slice standing in for an arrival partition; history is
    everything else.

    A new doc is dropped if its fingerprint already exists in history
    (``in_history``) or if an earlier doc in the same batch has it
    (``batch_dup`` — lowest doc_id wins, the same survivor rule as
    ``exact_dedup``). ``keep = NOT in_history AND NOT batch_dup``.

    Scale shape: one hash-shuffle of the (small) batch and a
    fingerprint-keyed join against the history index. In production the
    history side is the stored fingerprint column of the corpus table —
    bucketed by fp, so this join co-locates with zero shuffle of the
    100 TB side; here it is derived in-plan. Within-batch election is a
    window over fp on the batch only.
    """
    fps = documents.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    in_batch = (F.col("doc_id") % batch_mod) == batch_rem
    hist = fps.filter(~in_batch).select("fp").distinct().withColumn("seen", F.lit(1))
    batch = fps.filter(in_batch)
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        batch.withColumn("rn", F.row_number().over(w))
        .join(hist, "fp", "left")
        .select(
            "doc_id",
            F.coalesce("seen", F.lit(0)).alias("in_history"),
            (F.col("rn") > 1).cast("int").alias("batch_dup"),
            (F.col("seen").isNull() & (F.col("rn") == 1)).cast("int").alias("keep"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def dedup_stats(documents: DataFrame) -> DataFrame:
    """Corpus-level dedup summary: total rows, distinct normalized texts,
    duplicate count."""
    return documents.select(fingerprint(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dups"),
    )


def shingle_table(documents: DataFrame, shingle_n: int = 5) -> DataFrame:
    """(doc_id, shh, n_sh, nh_sh) — the per-document shingle-DIGEST
    table BOTH halves of the MinHash pipeline read, so the signature
    build and the Jaccard verify share one corpus
    normalize+shingle+hash scan instead of each re-shingling the corpus.

    - ``shh``: the 64-bit xxhash64 digest of each distinct shingle — the
      SAME ``h`` the signature family has always fed into
      ``min(xxhash64(h, seed))`` (bit-identical signatures by
      construction), reused by the verify's hash-screen phase;
    - ``n_sh``: |distinct shingle strings| (exact set size — Jaccard
      denominators; ``char_shingles`` is distinct by construction so
      the exploded count equals it);
    - ``nh_sh``: |distinct shh| — ``n_sh − nh_sh`` counts this doc's
      internal hash collisions, the quantity the verify's screen bound
      needs (see ``minhash_lsh_pairs``; virtually always 0).

    Physical shape: explode → codegen'd xxhash64 → collect_list inside
    one hash aggregation. NOT ``transform(sh, s -> xxhash64(s))``: a
    higher-order-function lambda is CodegenFallback — interpreted,
    per-element — and the first cut measured ~85 s of pure transform
    overhead on the 35M-shingle sf1 corpus where the explode path pays
    codegen rates. ``array_distinct`` over the long array IS codegen'd,
    so ``nh_sh`` stays a projection.

    Callers that reuse the table across branches/queries should persist
    it (the registry shares ONE cached instance per session — the
    materialized-fingerprint table of guide §8 step 1; at warehouse
    scale it would be written next to the corpus instead)."""
    ex = _normed(documents).select(
        "doc_id", F.explode(char_shingles(F.col("norm"), shingle_n)).alias("s")
    )
    hh = ex.select("doc_id", F.xxhash64("s").alias("h"))
    return (
        hh.groupBy("doc_id")
        .agg(
            F.collect_list("h").alias("shh"),
            F.count(F.lit(1)).cast("int").alias("n_sh"),
        )
        .withColumn("nh_sh", F.size(F.array_distinct("shh")))
    )


def _minhash_signatures(
    documents: DataFrame,
    n_hashes: int,
    shingle_n: int,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, m0..m{n-1}) — minhash signature as WIDE columns over
    character shingles.

    Physical shape: explode shingles → one string xxhash64 per shingle →
    hash-aggregate with n_hashes ``min(xxhash64(h, seed))`` columns. The
    per-seed family re-hashes the shingle's 64-bit digest (fixed-width —
    far cheaper than n string hashes), and Generate + HashAggregate both
    run inside whole-stage codegen. This beats the HOF-fold alternative
    (``aggregate`` with a running-min array accumulator) 2.3× measured at
    sf0.1 — higher-order-function lambdas are interpreted expressions,
    and the fold allocates an n-long array per shingle. The shuffle is
    harmless at any scale: map-side partial aggregation reduces each
    partition to |docs-in-partition| wide rows before the exchange.

    ``shingled``: optionally a pre-built :func:`shingle_table` — the
    string hash ``h`` is read from its ``shh`` column instead of being
    recomputed from the corpus (identical values by construction), so a
    session that shares the table pays the normalize+shingle+hash scan
    once across the signature and verify branches.
    """
    if shingled is not None:
        h = shingled.select("doc_id", F.explode("shh").alias("h"))
    else:
        ex = _normed(documents).select(
            "doc_id", F.explode(char_shingles(F.col("norm"), shingle_n)).alias("s")
        )
        h = ex.select("doc_id", F.xxhash64("s").alias("h"))
    # Wide aggregates are built as SQL expression strings: one py4j
    # round trip per column instead of ~5 per Column-object op. Plan
    # CONSTRUCTION is driver-side wall-clock a resident server pays per
    # query — measured seconds for the widest plans (SimHash's 64-sum +
    # 64-term recombine) before this change.
    aggs = [F.expr(f"min(xxhash64(h, {i})) AS m{i}") for i in range(n_hashes)]
    return h.groupBy("doc_id").agg(*aggs)


def banded_signatures(
    sig: DataFrame, n_hashes: int, bands: int
) -> DataFrame:
    """(doc_id, band, band_sig) — the LSH banding of a wide minhash
    signature table: each band's rows hash into one 32-bit key, one
    posexplode emits docs×bands rows. ONE definition shared by the
    pair pipeline, the star-edge clustering, and the star≡pair
    equivalence test — the banding scheme (row grouping, hash) is the
    contract those three must agree on bit-for-bit."""
    rows_per_band = n_hashes // bands
    bands_sql = ", ".join(
        "hash("
        + ", ".join(f"m{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    return sig.selectExpr(
        "doc_id", f"posexplode(array({bands_sql})) AS (band, band_sig)"
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.6,
    banded: DataFrame | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    Pipeline: signature (scan-side) → band keys (rows×bands) →
    self-equi-join on (band, band_sig) → distinct candidate pairs →
    verify with exact shingle Jaccard.

    ``banded`` / ``shingled``: optionally pre-built (PERSISTED)
    banded-signature / :func:`shingle_table` frames — the registry
    shares ONE of each per session between this operator and
    ``lsh_cluster_stars`` (identical n_hashes/bands/shingle_n →
    identical tables; the normalize+shingle+hash corpus scan behind
    them is both queries' dominant cost, and it runs ONCE: signature
    and verify both read the shared shingle table).
    ``minhash_lsh_pairs_portable`` runs this same band join and verify
    over portable band keys, so everything but the hash stage is
    oracle-checked.

    Verify: a single-phase check would shuffle the per-doc shingle
    STRING arrays through two joins and run the interpreted
    ``array_intersect`` over ~700-element string arrays for every
    candidate pair (sf1: 1.4M pairs → ~2×10⁹ UTF8String hash/eq ops,
    ~15 KB of array payload per pair through the second exchange) —
    measured 84 s cold / 15 s warm for that one stage at sf1. The
    verify is therefore two-phase, both phases exact in composition:

    1. **Hash screen** — the same per-pair join shape but over the
       64-bit digests (``shh``, 8 bytes/element, JVM long equality):
       ``inter_h = |shh_a ∩ shh_b|``. Hash collisions could make
       ``inter_h`` differ from the true string intersection in either
       direction, so the screen filters on a PROVABLE upper bound of
       the true Jaccard: with ``c = n_sh − nh_sh`` (each doc's internal
       collision count, almost always 0), ``inter_true ≤ inter_cap =
       least(inter_h + least(c_a, c_b), n_a, n_b)`` — c is monotone
       under subsets, so collisions inside A∩B are bounded by
       min(c_a, c_b). Jaccard is increasing in inter, so
       ``jacc(inter_cap) ≥ jacc(inter_true)`` and filtering
       ``jacc(inter_cap) ≥ threshold`` passes a SUPERSET of the true
       pairs (no false negatives, whatever the collisions do).
    2. **Exact confirm** — survivors only (orders of magnitude fewer:
       sf1 2 559 of 1.4M) rebuild their STRING shingle sets from a
       survivor-semi-joined corpus scan and compute the exact
       intersection and Jaccard — bit-identical output to the
       single-phase form, at ~1/500th the string-kernel work.

    Candidate gate (``partitioning.BROADCAST_CANDIDATES_MAX`` rows): at
    or below it the candidate-id set broadcasts into the shingle-table
    semi-joins (the corpus payload never moves for a membership
    decision). The count probe — a Spark job — runs ONLY when
    ``banded`` was supplied pre-cached (the registry path: one cheap
    job over the session-shared cache); with an inline build the
    operator fires no job during query construction and keeps the
    scale-safe shuffle-join arms, which AQE upgrades from runtime sizes
    where they fit.

    Digest gate (``partitioning.BROADCAST_DIGESTS_MAX_BYTES``): the
    screen's digest-broadcast arm (see the phase-1 note in the code),
    compared against ``size_of(shingled)`` — for the registry's
    checkpointed shingle table, the bytes its blocks hold, read on the
    driver without a job. 512 MB: well under the 8 GB broadcast
    relation cap, the "few hundred MB is usually fine" band of guide
    §3.1, and at that size the avoided exchange is pairs/docs × 512 MB
    ≫ the broadcast's executor-count × 512 MB for any candidate set
    dense enough to be worth screening.
    """
    if shingled is None and banded is None:
        # One corpus scan serves both branches; cache locally since the
        # signature build and the verify each read it.
        shingled = shingle_table(documents, shingle_n).cache()
    if banded is None:
        sig = _minhash_signatures(documents, n_hashes, shingle_n, shingled=shingled)
        # The self-join references `banded` twice; without
        # materialization the whole shingle→hash→min pipeline runs
        # twice. The banded signature table is tiny (docs × bands rows
        # of 3 longs) — cache it.
        banded = banded_signatures(sig, n_hashes, bands).cache()
        probe_ok = False  # inline build: no job at construction
    else:
        probe_ok = True  # pre-cached shared table: the count is cheap
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .cache()
    )
    small_cand = (
        probe_ok
        and 0 < P.BROADCAST_CANDIDATES_MAX
        and cand.count() <= P.BROADCAST_CANDIDATES_MAX
    )
    # Verify needs shingle SETS — but only for docs that appear in a
    # candidate pair: semi-join down to candidates before the arrays
    # move anywhere. At scale the candidate set is orders of magnitude
    # smaller than the corpus.
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    if small_cand:
        cand_ids = F.broadcast(cand_ids)
    if shingled is not None:
        sh = shingled.join(cand_ids, "doc_id", "left_semi")
    else:
        # banded supplied without a shared shingle table: build (and
        # cache — the screen reads it twice) the candidate slice only.
        sh = shingle_table(
            documents.join(cand_ids, "doc_id", "left_semi"), shingle_n
        ).cache()
    # Phase 1: hash screen over the 64-bit digests. The digest arrays
    # are the heavy payload here (sf1: 1.4M pairs × ~5.6 KB — an ~8 GB
    # exchange of incompressible hashes if the pair⋈digest join shuffles
    # its intermediate, and the planner's SMJ additionally SORTS that
    # array-carrying side: measured 32–64 s). Two arms, chosen without
    # running a job (``size_of`` reads the digest table's block bytes
    # on the driver):
    # - digest-broadcast (guide §8 "move big rows once" taken to its
    #   limit — move them never): at or below the digest gate
    #   both digest sides broadcast and the screen streams the thin
    #   pair table through two BroadcastHashJoins — zero array bytes
    #   through any exchange (sf1: 5.3 s stable vs 9.4 s SHJ).
    # - SHUFFLE_HASH (any scale): the digest sides build per-partition
    #   hash tables — sort-free; the one array-carrying exchange
    #   remains, bounded per partition by corpus/N.
    hs_a = sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("shh").alias("shh_a"),
        F.col("n_sh").alias("n_a"),
        F.col("nh_sh").alias("nh_a"),
    )
    hs_b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("shh").alias("shh_b"),
        F.col("n_sh").alias("n_b"),
        F.col("nh_sh").alias("nh_b"),
    )
    if (
        small_cand
        and shingled is not None
        and 0 < size_of(shingled) <= P.BROADCAST_DIGESTS_MAX_BYTES
    ):
        hs_a, hs_b = F.broadcast(hs_a), F.broadcast(hs_b)
    else:
        hs_a = hs_a.hint("SHUFFLE_HASH")
        hs_b = hs_b.hint("SHUFFLE_HASH")
    survivors = (
        cand.join(hs_a, "id_a")
        .join(hs_b, "id_b")
        .withColumn("inter_h", F.size(F.array_intersect("shh_a", "shh_b")))
        .withColumn(
            "inter_cap",
            F.least(
                F.col("inter_h")
                + F.least(
                    F.col("n_a") - F.col("nh_a"), F.col("n_b") - F.col("nh_b")
                ),
                F.col("n_a"),
                F.col("n_b"),
            ),
        )
        .filter(
            F.col("inter_cap").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter_cap")).cast("double")
            >= jaccard_threshold
        )
        .select("id_a", "id_b")
        # Referenced ONCE below (see the phase-2 note), so the cache is
        # purely cross-rep: a bench/session re-running the same plan
        # skips the screen, while a cold run computes it exactly once.
        .cache()
    )
    # Phase 2: exact string-set Jaccard for the (tiny) survivor set.
    # |A∪B| = |A|+|B|−|A∩B| — one set operation per pair. The string
    # shingle sets are rebuilt from the corpus for CANDIDATE docs (the
    # semi-join slice keyed on cand_ids, NOT on the survivors: a
    # survivor-keyed slice would reference the screen plan three times,
    # and an uncached-at-plan-time subtree referenced N times
    # materializes N× concurrently on first execution — the first cut
    # measured a 128 s action from exactly that; `survivors` below is
    # referenced exactly ONCE so the screen runs once). Keeping string arrays in the shared digest table
    # instead would double its cache footprint for a phase that reads a
    # few thousand rows. SHUFFLE_HASH on the survivor side of the pair
    # joins: broadcast would need a size the plan can't know (survivor
    # count is data-dependent), SMJ would sort the array side; hashing
    # the small side is safe at any scale.
    sstr = (
        _normed(documents.join(cand_ids, "doc_id", "left_semi"))
        .select("doc_id", char_shingles(F.col("norm"), shingle_n).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .cache()  # read by both pair-join sides (and by later reps)
    )
    sh_a = sstr.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sh_b = sstr.select(
        F.col("doc_id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    verified = (
        survivors.hint("SHUFFLE_HASH")  # build side of the sh_a join
        .join(sh_a, "id_a")
        .hint("SHUFFLE_HASH")  # (survivors ⋈ sh_a) builds for the sh_b join
        .join(sh_b, "id_b")
        # own column, then referenced twice: the interpreted
        # array_intersect is not CSE'd across expression references
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        # repartition(1)+sortWithinPartitions, not orderBy: a global
        # sort's range-partitioner sampling pass would re-run the verify
        # joins; coalesce(1) would collapse the (narrow, broadcast-join)
        # verify itself into one task. The explicit exchange keeps verify
        # parallel and sorts the small result in one task.
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )
    return verified


def ngram_jaccard_pairs(
    documents: DataFrame, shingle_n: int = 3, threshold: float = 0.4, id_cap: int | None = 200
) -> DataFrame:
    """Exact word-n-gram Jaccard over all pairs (optionally capped to the
    first ``id_cap`` doc_ids — the quadratic baseline exists as the
    oracle-checkable ground truth for the LSH path, not as the scale
    path)."""
    docs = documents
    if id_cap is not None:
        docs = docs.filter(F.col("doc_id") < id_cap)
    sh = _spread(docs).select(
        "doc_id", F.array_distinct(ws_tokens(F.col("text"))).alias("toks")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("t_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("t_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("t_a", "t_b")).cast("double")
            / F.size(F.array_union("t_a", "t_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .repartition(1).sortWithinPartitions("id_a", "id_b")
    )


def simhash_signatures(hashed: DataFrame, bits: int = 64) -> DataFrame:
    """SimHash per doc from per-token hashes ``(doc_id, h)``: bit-vote
    via sum of ±1 per bit position over the low ``bits`` bits, sign →
    bit.

    Physical shape mirrors ``_minhash_signatures``: hash-aggregate with
    ``bits`` set-bit-count ``sum`` columns plus one token count. The ±1
    vote never needs to be materialized: vote_i = 2·setbits_i − n, so
    bit i of the signature is set iff ``2·c_i > n`` (a tie gives 0) —
    the recombine is a mask projection over the wide aggregate row.
    Everything — Generate, the sums, the recombine — runs inside
    whole-stage codegen. Measured at sf0.1: ~0.9 s warm vs ~3.6 s for
    conditional-``when`` sums and ~2.4 s for the earlier HOF fold
    (``aggregate``/``zip_with`` re-building a 64-long accumulator array
    per token, interpreted). Masks use JVM ``shiftleft`` — 1 << 63 wraps
    to Long.MIN_VALUE JVM-side, whereas a Python literal 2**63 overflows
    py4j's signed long transport.
    """
    # Both wide stages are SQL expression strings (one py4j round trip
    # per column / one for the whole recombine chain) — building them
    # Column-op by Column-op cost ~1.7 s of driver time PER plan
    # construction. Recombine is a flat Add chain, not nested
    # bitwiseORs: the masks are disjoint so sum == or, and Catalyst
    # codegens a 64-term Add far better than a 64-deep OR tree
    # (measured 1.1 s vs 7.5 s cold at sf0.1).
    counts = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"sum(shiftrightunsigned(h, {i}) & 1) AS c{i}")
            for i in range(bits)
        ],
    )
    sig = " + ".join(
        f"(CASE WHEN c{i} * 2 > n THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return counts.select("doc_id", F.expr(f"({sig}) AS simhash"))


def simhash_blocks(
    hashed: DataFrame, bits: int = 64, prefix_bits: int = 16
) -> DataFrame:
    """Block stage of both SimHash operators: vote
    (:func:`simhash_signatures`) plus the ``block`` key, the top
    ``prefix_bits`` of the ``bits``-bit signature. Candidates are pairs
    that share a block."""
    return simhash_signatures(hashed, bits).withColumn(
        "block", F.shiftrightunsigned("simhash", bits - prefix_bits)
    )


def _simhash_pairs(blocked: DataFrame, max_hamming: int) -> DataFrame:
    """Pair stage of both SimHash operators over a :func:`simhash_blocks`
    frame: block equi-join → popcount-of-XOR verify → sorted pairs. The
    self-join reads ``blocked`` twice, so callers pass it cached."""
    a = blocked.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("s_a"), "block"
    )
    b = blocked.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("s_b"), "block"
    )
    return (
        a.join(b, ["block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        # Small result: single-task sort, not a global orderBy whose
        # range-sampling pass would re-run the self-join.
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


def simhash_token_hashes(documents: DataFrame) -> DataFrame:
    """Hash stage of ``simhash_near_pairs``: ``(doc_id, h)`` with one
    xxhash64 per whitespace token of the normalized text."""
    tok = _normed(documents).select(
        "doc_id", F.explode(ws_tokens(F.col("norm"))).alias("t")
    )
    return tok.select("doc_id", F.xxhash64("t").alias("h"))


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    blocked: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures from per-token xxhash64
    over normalized text (:func:`simhash_token_hashes`), then the shared
    block and pair stages. Only the hash stage differs from
    ``simhash_near_pairs_portable``, so the rest is oracle-checked
    there. A production variant would use multiple rotated blocks; one
    block keeps the oracle simple while exercising the plan shape.

    ``blocked``: a cached ``simhash_blocks`` frame a session shares
    across calls (``prefix_bits`` is then the builder's). Without it one
    is built and cached here: the self-join reads it twice."""
    if blocked is None:
        blocked = simhash_blocks(
            simhash_token_hashes(documents), 64, prefix_bits
        ).cache()
    return _simhash_pairs(blocked, max_hamming)


def simhash_near_pairs_portable(
    documents: DataFrame,
    bits: int = 32,
    max_hamming: int = 4,
    prefix_bits: int = 12,
    id_cap: int | None = 1000,
) -> DataFrame:
    """Oracle-checkable SimHash near-dup pairs: the
    ``simhash_near_pairs`` block and pair stages fed a
    32-bit md5-fold hash of the raw tokens
    (``functions.text.hex_fold`` over 8 hex chars) that DuckDB
    reproduces bit-for-bit — the differential-correctness proof for the
    SimHash family's vote, block and verify. The xxhash64 64-bit variant
    stays the scale path. Capped to the first ``id_cap`` docs:
    md5-on-string is several times the per-token cost of the JVM-native
    hash.
    """
    from spendinganalysisetl_spark.functions.text import hex_fold

    base = documents if id_cap is None else documents.filter(F.col("doc_id") < id_cap)
    tok = _spread(base.select("doc_id", "text")).select(
        "doc_id", F.explode(ws_tokens(F.col("text"))).alias("t")
    )
    hashed = tok.select("doc_id", hex_fold(F.md5("t"), 1, width=8).alias("h"))
    blocked = simhash_blocks(hashed, bits, prefix_bits).cache()
    return _simhash_pairs(blocked, max_hamming)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 25,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    ``label(v) = min(label(v), min over neighbors' labels)`` until a
    fixpoint. Returns ``(doc_id, cluster_id)`` where cluster_id is the
    smallest doc_id in the component (singletons keep their own id).

    Scale design: each round is one shuffle join (edges × labels) plus
    one shuffle min-aggregate; rounds needed = component diameter, which
    for near-dup graphs is tiny (dup clusters are near-cliques — the
    banding join links most members directly). For adversarial
    long-chain graphs the alternating large-star/small-star contraction
    gets O(log n) rounds; not needed for dedup workloads. Per round the
    label table is ``localCheckpoint``-ed: it truncates lineage so the
    plan doesn't double every iteration (driver-side planning would
    otherwise dominate) — on a real cluster use ``checkpoint()`` to
    reliable storage instead so recomputation-on-executor-loss is
    bounded. Convergence is detected by the sum of labels: propagation
    only ever lowers labels, so an unchanged (monotone) sum is a
    fixpoint — and the sum rides the checkpoint materialization itself
    as an ``Observation`` (CollectMetrics on the eager localCheckpoint
    action), so a round costs exactly ONE job: no separate scalar
    aggregate, no changed-rows join.

    The reference has no graph ops at all (SURVEY.md §2.3: no joins
    beyond key probes); this is north_star dedup-pipeline machinery.

    The per-round shuffles take the session's sizing: label tables are
    often far smaller than ``spark.sql.shuffle.partitions``, and AQE
    coalesces their exchanges from runtime sizes. The edge table is a
    local checkpoint, not a cache, because Spark runs a cached plan
    without AQE (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    is off), so a cached exchange keeps the static partition count.
    """
    und = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()  # probed every round
    )
    # Optional warm start: ``init_labels`` (id, label) with label ≤ id
    # and label in the same component — e.g. the bucket-min hub in
    # lsh_cluster_stars. Min-propagation is monotone from ANY such
    # over-approximation, so correctness is unchanged; a good seed cuts
    # rounds (star-shaped components converge in one confirmation pass
    # instead of propagating hub labels outward round by round).
    from pyspark.sql import Observation

    def _ck_with_sum(df: DataFrame) -> tuple[DataFrame, int]:
        # Eager localCheckpoint runs one job; the label-sum convergence
        # metric rides it as an Observation, and the returned frame's
        # lineage is truncated to the checkpointed RDD, so the
        # CollectMetrics node never re-fires downstream.
        obs = Observation()
        ck = df.observe(obs, F.sum("label").alias("lsum")).localCheckpoint()
        return ck, obs.get["lsum"]

    self_labels = nodes.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("label")
    )
    if init_labels is not None:
        # Nodes absent from the seed table (e.g. docs with no buckets)
        # keep their self-label — a seed join must never DROP nodes.
        labels, prev = _ck_with_sum(
            self_labels.join(
                init_labels.select("id", F.col("label").alias("_seed")),
                "id",
                "left",
            ).select("id", F.coalesce("_seed", "label").alias("label"))
        )
    else:
        labels, prev = _ck_with_sum(self_labels)
    for _ in range(max_iter):
        msgs = und.join(
            labels.select(F.col("id").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("id"), "label")
        labels, cur = _ck_with_sum(
            labels.union(msgs).groupBy("id").agg(F.min("label").alias("label"))
        )
        if cur == prev:
            break
        prev = cur
    release(und)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def near_dup_clusters(
    documents: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.4,
    id_cap: int | None = 200,
) -> DataFrame:
    """The full near-dup pipeline ending in survivor election: exact
    n-gram Jaccard pairs (the oracle-checkable edge set) → connected
    components → per-doc cluster id, cluster size, and a deterministic
    canonical flag (smallest doc_id in the cluster survives). This is
    the operator a training-data pipeline actually runs — pairs alone
    don't tell you which docs to drop when dups chain (a~b, b~c ⇒
    {a,b,c} is ONE cluster even if a~c is below threshold).

    At scale the edge set comes from ``minhash_lsh_pairs`` instead of
    the quadratic exact-Jaccard baseline; the clustering is identical.
    """
    from pyspark.sql import Window

    docs = documents
    if id_cap is not None:
        docs = docs.filter(F.col("doc_id") < id_cap)
    pairs = ngram_jaccard_pairs(
        documents, shingle_n=shingle_n, threshold=threshold, id_cap=id_cap
    ).select("id_a", "id_b")
    cc = connected_components(pairs, docs.select("doc_id"))
    w = Window.partitionBy("cluster_id")
    return (
        cc.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("int")
        )
        .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def lsh_cluster_stars(
    documents: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup CLUSTERS from LSH buckets via star edges — the scale
    path for massively duplicated corpora, where pairwise output is the
    bottleneck: a mirror-site crawl with d copies of each page puts d
    docs in the same band bucket, so the pair construction
    (``minhash_lsh_pairs``) emits O(d²) rows per cluster — measured by
    ``scale_probe.py``: 10× data with 10-way duplication ran the pair
    operator 28× longer, a pure output-size effect. Star edges keep
    connectivity with O(d) rows: within each (band, band_sig) bucket
    every member links only to the bucket's MIN doc_id (a star is
    connected; shared members connect across buckets), so the edge set
    is ≤ docs × bands regardless of duplication depth, and connected
    components over it yields EXACTLY the same clustering as over all
    intra-bucket pairs (pinned by test: star-CC ≡ pair-CC on identical
    buckets).

    Trade-off vs the pair pipeline: no exact-Jaccard verify — banding
    is trusted (the CCNet/web-dedup convention; false-positive buckets
    can over-merge), which is what makes the linear edge count
    possible. Where verified edges matter, run ``minhash_lsh_pairs`` on
    the candidate-pair scale the corpus allows, or verify only each
    star edge (still O(d) per cluster) before clustering.
    """
    if banded is None:
        sig = _minhash_signatures(documents, n_hashes, shingle_n)
        banded = banded_signatures(sig, n_hashes, bands)
    return _star_clusters(banded, documents)


def _star_clusters(banded: DataFrame, documents: DataFrame) -> DataFrame:
    """Shared back half of the star-clustering family: bucket → hub
    (min doc_id per (band, band_sig)) → star edges → warm-started
    connected components → presented cluster report. ``banded`` must
    carry (doc_id, band, band_sig); ``documents`` supplies the
    vertex set (docs in no bucket collision stay singleton clusters)."""
    with_hub = banded.withColumn(
        "hub", F.min("doc_id").over(Window.partitionBy("band", "band_sig"))
    ).localCheckpoint()  # feeds both the edge set and the warm-start labels
    edges = (
        with_hub.filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("doc_id").alias("id_b"))
        .distinct()
    )
    # Warm start: every doc's initial label is the min hub over its own
    # buckets (≤ doc_id, same component) — pure star components then
    # need only the confirmation round instead of outward propagation.
    seeds = (
        with_hub.groupBy("doc_id")
        .agg(F.min("hub").alias("label"))  # hub ≤ every bucket member
        .select(F.col("doc_id").alias("id"), "label")
    )
    cc = connected_components(edges, documents.select("doc_id"), init_labels=seeds)
    release(with_hub)
    w = Window.partitionBy("cluster_id")
    return (
        cc.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("int")
        )
        .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def lsh_cluster_stars_portable(
    documents: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    id_cap: int | None = None,
) -> DataFrame:
    """Star clustering over the PORTABLE md5-fold MinHash family
    (``_portable_bands`` — the same Kirsch-Mitzenmacher signatures
    behind ``minhash_lsh_pairs_portable``): identical star-edge → CC
    pipeline to :func:`lsh_cluster_stars`, but every hash is
    reproducible outside the JVM, so a golden oracle can compute the
    expected clustering independently (registry ``lsh_cluster_fixture``
    does exactly that over a planted corpus with a pure-Python
    replication). The xxhash64 variant stays the scale path. The bands
    are read once, so they are not cached: a cached plan runs without
    AQE and would keep the static shuffle partitions."""
    base = documents if id_cap is None else documents.filter(F.col("doc_id") < id_cap)
    ex = _normed(base).select(
        "doc_id", F.explode(char_shingles(F.col("norm"), shingle_n)).alias("s")
    )
    return _star_clusters(_portable_bands(ex, "doc_id", n_hashes, bands), base)


def _portable_bands(
    ex: DataFrame, key: str, n_hashes: int, bands: int
) -> DataFrame:
    """(``key``, band, band_sig) — banded signatures of the portable
    md5-fold Kirsch-Mitzenmacher MinHash family over ``ex``, one
    ``(key, s)`` row per shingle string ``s``: md5 → two hex folds →
    ``min(h1 + i*h2)`` per family member → one struct key per band.
    Every step is reproducible outside the JVM, so DuckDB and pure-Python
    oracles recompute the keys bit-for-bit. The struct (not a hash of
    it) is the band key, so equal keys mean equal signature rows."""
    from spendinganalysisetl_spark.functions.text import hex_fold

    if n_hashes > 8:
        # The hex_fold family contract: i < 8 keeps h1 + i*h2 (two
        # 56-bit folds) under 2^59, the range the oracles reproduce.
        raise ValueError(
            f"portable MinHash supports n_hashes <= 8, got {n_hashes}"
        )
    rows_per_band = n_hashes // bands
    # md5 then the two folds in their OWN projections: each 14-op fold
    # chain appears once in the plan, and the n family members are
    # trivial affine combinations inside the aggregate.
    hm = ex.select(key, F.md5("s").alias("hx"))
    hh = hm.select(
        key,
        hex_fold(F.col("hx"), 1).alias("h1"),
        hex_fold(F.col("hx"), 15).alias("h2"),
    )
    sig = hh.groupBy(key).agg(
        *[
            F.expr(f"min(h1 + CAST({i} AS BIGINT) * h2) AS m{i}")
            for i in range(n_hashes)
        ]
    )
    return sig.select(
        key,
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        *[
                            F.col(f"m{b * rows_per_band + r}").alias(f"k{r}")
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )


def _portable_sig_bands(
    documents: DataFrame,
    n_hashes: int,
    bands: int,
    shingle_n: int,
    id_cap: int | None,
):
    """Shared front half of the portable MinHash family over documents:
    (cached) shingle sets and (cached) per-band signature keys."""
    base = documents if id_cap is None else documents.filter(F.col("doc_id") < id_cap)
    shingled = _normed(base).select(
        "doc_id", char_shingles(F.col("norm"), shingle_n).alias("sh")
    ).cache()  # reused: signature build + Jaccard verify
    ex = shingled.select("doc_id", F.explode("sh").alias("s"))
    return shingled, _portable_bands(ex, "doc_id", n_hashes, bands).cache()


def minhash_lsh_pairs_portable(
    documents: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.6,
    id_cap: int | None = 1000,
) -> DataFrame:
    """Oracle-checkable MinHash+LSH near-dup pairs: ``minhash_lsh_pairs``
    itself — its band self-join and two-phase screen-and-confirm verify
    — fed the portable md5-fold Kirsch-Mitzenmacher band keys
    (:func:`_portable_bands`) so a DuckDB oracle reproduces the
    signatures bit-for-bit. This is the differential-correctness proof
    for the whole MinHash family; only the hash stage differs from the
    xxhash64 scale path (cheaper per-value hash, wider signature).
    Capped to the first ``id_cap`` docs because the md5 + hex-fold
    hashing is several times the per-shingle work of the production
    variant. The bands arrive pre-cached, so building the query runs
    ``minhash_lsh_pairs``' one candidate-count job.
    """
    base = documents if id_cap is None else documents.filter(F.col("doc_id") < id_cap)
    _, banded = _portable_sig_bands(base, n_hashes, bands, shingle_n, None)
    return minhash_lsh_pairs(
        base,
        n_hashes,
        bands,
        shingle_n,
        jaccard_threshold,
        banded=banded,
        shingled=shingle_table(base, shingle_n).cache(),
    )


def _band_probe(probe: DataFrame, index: DataFrame) -> DataFrame:
    """Distinct ``(id_a < id_b)`` candidate pairs of ``probe`` rows
    against an ``index`` band table, both (doc_id, band, band_sig). The
    ``!=`` + least/greatest form finds pairs in either id order, which
    a probe of the batch alone needs; a full self-join
    (``minhash_lsh_pairs``) keeps ``<`` instead, which halves the join
    output."""
    return (
        probe.alias("p")
        .join(
            index.alias("x"),
            (F.col("p.band") == F.col("x.band"))
            & (F.col("p.band_sig") == F.col("x.band_sig"))
            & (F.col("p.doc_id") != F.col("x.doc_id")),
        )
        .select(
            F.least("p.doc_id", "x.doc_id").alias("id_a"),
            F.greatest("p.doc_id", "x.doc_id").alias("id_b"),
        )
        .distinct()
    )


def _jaccard_verify(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs ``(id_a, id_b)``,
    with shingle sets ``(doc_id, sh)``; sorted ``(id_a, id_b, jaccard)``
    rows at or above ``threshold``."""
    sh_a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


def incremental_near_dup(
    documents: DataFrame,
    batch_mod: int = 10,
    batch_rem: int = 7,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.6,
    id_cap: int | None = 1000,
) -> DataFrame:
    """Incremental NEAR-dup detection: the MinHash analog of
    ``incremental_dedup`` — near-dup pairs INVOLVING the arriving batch
    (``doc_id % batch_mod == batch_rem`` stands in for the new slice),
    via a probe-vs-index band join: the batch's band keys PROBE the full
    band table, so history×history pairs are never enumerated.

    Scale shape: in production the full band table is a STORED index
    (banded signatures persist next to the corpus, bucketed on
    (band, band_sig)); an arriving batch shingles and signs ONLY its own
    documents, the probe is a bucket-pruned equi-join, and verified new
    pairs append to the pair/cluster store — per-batch cost is
    O(batch × bands), independent of corpus size. Here both sides
    derive from one table (the driver's parquet is the whole corpus) but
    the PLAN has the probe shape: the left side of the band join is the
    batch slice only.
    """
    shingled, banded = _portable_sig_bands(
        documents, n_hashes, bands, shingle_n, id_cap
    )
    is_batch = (F.col("doc_id") % batch_mod) == batch_rem
    cand = _band_probe(banded.filter(is_batch), banded)
    return _jaccard_verify(cand, shingled, jaccard_threshold)


def near_dup_index(
    documents: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    id_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The STORED half of incremental near-dup: ``(shingled, banded)``
    for the history corpus — in production written ONCE next to the
    corpus (the band table bucketed+sorted by ``bk`` via
    ``sources.bucketing.write_bucketed``, the shingle store sorted by
    ``doc_id``) and appended per batch. ``probe_near_dup_batch`` is the
    per-batch half that reads these instead of recomputing the corpus.

    The banded side carries ``bk`` — a scalar xxhash64 of (band,
    band_sig) — because the signature key itself is a STRUCT, which
    neither ``bucketBy`` layouts nor IN-pushdown handle; the scalar is
    the storage/pruning key, the struct stays in the join condition so
    a hash collision can never produce a false pair."""
    shingled, banded = _portable_sig_bands(
        documents, n_hashes, bands, shingle_n, id_cap
    )
    return shingled, banded.withColumn("bk", F.xxhash64("band", "band_sig"))


def probe_near_dup_batch(
    batch_docs: DataFrame,
    index_banded: DataFrame,
    index_shingled: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.6,
    pushdown: bool = True,
    max_probe_keys: int = 1_000_000,
) -> DataFrame:
    """Per-batch near-dup against a STORED index: shingle + sign ONLY
    the arriving batch, probe the stored band table, Jaccard-verify the
    candidates against stored shingles. With the index persisted, the
    per-batch cost is O(batch × bands) plus candidate verification —
    this is the operational form whose fused single-table twin is
    ``incremental_near_dup`` (same signatures, same pairs).

    ``pushdown=True`` collects the batch's distinct band keys and its
    candidates' doc ids on the driver (both bounded by the BATCH size —
    batch×bands keys, ≤2·candidates ids; ``max_probe_keys`` guards the
    collect) and pushes them as IN-filters onto the index scans: on an
    index written sorted by the filtered column, parquet row-group
    stats prune the read to the matched groups, so probe I/O follows
    the BATCH, not the corpus — the point-lookup half of the
    "probe-vs-index" claim, measured in scale_probe.py (10× corpus,
    fixed batch). The band join condition itself is unchanged, so
    pushdown only ever removes rows the join would drop."""
    b_shingled, b_banded = near_dup_index(
        batch_docs, n_hashes, bands, shingle_n, None
    )
    idx = index_banded
    if pushdown:
        keys = [
            r[0]
            for r in b_banded.select("bk").distinct().limit(
                max_probe_keys + 1
            ).collect()
        ]
        if len(keys) <= max_probe_keys:
            idx = index_banded.filter(F.col("bk").isin(keys))
    cand = _band_probe(b_banded, idx).cache()
    # Shingle lookup for the verify: batch shingles are already in hand;
    # history shingles are point reads of the store, pruned by the
    # candidates' ids (bounded by the batch's candidate fan-out).
    hist_sh = index_shingled
    if pushdown:
        ids = [
            r[0]
            for r in cand.select(F.explode(F.array("id_a", "id_b")))
            .distinct()
            .limit(max_probe_keys + 1)
            .collect()
        ]
        if len(ids) <= max_probe_keys:
            hist_sh = index_shingled.filter(F.col("doc_id").isin(ids))
    sh = b_shingled.unionByName(hist_sh).dropDuplicates(["doc_id"])
    return _jaccard_verify(cand, sh, jaccard_threshold)


def fuzzy_pairs_levenshtein(
    documents: DataFrame,
    prefix_len: int = 80,
    max_dist: int = 15,
    id_cap: int | None = 300,
) -> DataFrame:
    """Edit-distance near-dup pairs: Levenshtein over normalized text
    prefixes, candidates BLOCKED on the prefix's first character — the
    fuzzy-match family (typo'd titles, OCR noise) that set-similarity
    (Jaccard/MinHash) misses because token multisets differ.

    Scale shape: blocking turns the quadratic comparison into an
    equi-join on the block key (candidates = Σ|block|², not N²); real
    deployments block on a few normalized leading characters or a
    phonetic key — same plan, finer key. The Levenshtein kernel is
    JVM codegen (``F.levenshtein``), identical to DuckDB's, so pairs +
    distances are oracle-exact. ``id_cap`` bounds the oracle form.
    """
    docs = documents
    if id_cap is not None:
        docs = docs.filter(F.col("doc_id") < id_cap)
    normed = _spread(docs).select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), r"\s+", " "), 1, prefix_len
        ).alias("prefix"),
    ).withColumn("block", F.substring("prefix", 1, 1))
    a = normed.select(
        F.col("doc_id").alias("id_a"), F.col("prefix").alias("p_a"), "block"
    )
    b = normed.select(
        F.col("doc_id").alias("id_b"), F.col("prefix").alias("p_b"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("p_a", "p_b"))
        .filter(F.col("edit_dist") <= max_dist)
        .select("id_a", "id_b", "edit_dist")
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


def line_boilerplate_stats(
    documents: DataFrame,
    line_len: int = 10,
    n_hashes: int = 8,
    bands: int = 2,
    gram: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Line-level near-dedup in the RefinedWeb/CCNet line-dedup shape
    (public methods: Penedo et al. 2023 §3.3 exact-substring/line
    dedup; Wenzek et al. 2019 §2 per-line dedup before LM filtering):
    split every document into pseudo-lines (consecutive ``line_len``-
    token windows — the synthetic corpus carries no newlines, so the
    fixed-width window stands in for physical lines; a real corpus
    would split on '\\n' in the same projection), flag lines whose
    near-duplicates span ``>= min_docs`` distinct documents
    (boilerplate: headers, footers, navigation chrome), and emit the
    per-document boilerplate-line fraction a CCNet-style cleaner would
    use to drop or trim the document.

    Near-duplicate detection reuses the banded-MinHash machinery at
    LINE granularity over the portable md5-fold hash family
    (``functions.text.hex_fold``, the Kirsch-Mitzenmacher family the
    oracle reproduces bit-for-bit): per DISTINCT line, word
    ``gram``-shingles -> ``n_hashes`` minhashes -> ``bands`` band keys;
    a line is boilerplate iff ANY of its band buckets gathers
    ``min_docs`` distinct documents. Exact duplicate lines share every
    band by construction, so CCNet's exact line-hash dedup is the
    degenerate case; the band semantics add RefinedWeb's near-match
    tolerance (an LSH over-approximation, documented rather than
    chased with a pair-verify — boilerplate flagging is a recall
    filter, not a join).

    The final flag join attaches the flagged-line vocabulary back to
    the PER-OCCURRENCE line table — the largest table in the plan — and
    without a hint the planner sort-merge-joins it, exchanging every
    occurrence on the line key just to set one bit (measured: that
    exchange+sort was the plan's only SMJ). The flag side is the
    boilerplate vocabulary — bounded by distinct flagged lines, orders
    of magnitude below the occurrence stream on any boilerplate-heavy
    corpus (the only corpora where the flag set is large at all) — so
    it broadcasts.

    Scale shape: NO pair join anywhere — O(distinct lines x bands)
    bucket rows, so a bucket shared by a million boilerplate copies
    costs one aggregation row, not 10^12 candidate pairs (the failure
    mode that rules out pairwise line comparison at 100 TB). Exchanges:
    the distinct-line collapse (keyed on the line; occurrence count
    >> distinct count for boilerplate-heavy crawls), the signature
    groupBy, the bucket-support aggregation (band key), and the final
    doc_id rollup. The boilerplate-line set is the flagged vocabulary
    — typically tiny; it broadcasts (above).

    Differential: tests/test_dedup_similarity.py replicates the full
    pipeline in pure Python (hashlib.md5) on a planted corpus;
    registry oracle ``line_boilerplate_minhash`` reproduces it in
    DuckDB SQL at the driver's check scales.
    """
    from spendinganalysisetl_spark.functions.text import shingles_of_tokens

    toks = _spread(documents.select("doc_id", "text")).select(
        "doc_id", ws_tokens(F.col("text")).alias("toks")
    )
    cnt = F.size("toks")
    starts = F.when(
        cnt >= 1, F.sequence(F.lit(1), cnt, F.lit(line_len))
    ).otherwise(F.array().cast("array<int>"))
    dl = (
        toks.select(
            "doc_id", "toks", F.posexplode(starts).alias("line_idx", "s")
        )
        .select(
            "doc_id",
            "line_idx",
            F.concat_ws(" ", F.slice("toks", F.col("s"), line_len)).alias(
                "line"
            ),
        )
        .cache()  # reused: bucket support + final per-doc rollup
    )
    dist = dl.select("line").distinct()
    sh = dist.select(
        "line",
        shingles_of_tokens(
            F.split(F.col("line"), " "), gram, _inline=True
        ).alias("sh"),
    )
    ex = sh.select("line", F.explode("sh").alias("s"))
    # reused: bucket support + boiler-line lookup
    line_bands = _portable_bands(ex, "line", n_hashes, bands).cache()
    support = (
        dl.select("doc_id", "line")
        .join(line_bands, "line")
        .groupBy("band", "band_sig")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    boiler = (
        line_bands.join(support, ["band", "band_sig"])
        .select("line")
        .distinct()
        .withColumn("is_boiler", F.lit(1))
    )
    return (
        dl.join(F.broadcast(boiler), "line", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("long")
            .alias("boiler_lines"),
        )
        .select(
            "doc_id",
            "n_lines",
            "boiler_lines",
            (
                F.col("boiler_lines").cast("double") / F.col("n_lines")
            ).alias("boiler_frac"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
