"""Bloom-filter file/bucket skipping index: point-lookup data skipping
on a HIGH-cardinality column that is neither the partition key nor the
sort key.

The lookup it serves: equality on a column the table is neither
partitioned nor sorted by ("orders by customer X" against a table
partitioned by date and sorted by key).

A 100 TB fact table answers that lookup today by scanning every file.
A per-file Bloom filter over the column (k hash bits in an m-bit
filter) lets the reader skip every file whose filter provably lacks the
value — one-sided: a candidate file MAY contain it (false-positive rate
~(fill)^k), a skipped file CANNOT. Parquet can embed such filters per
column chunk; building the index as a TABLE (as Iceberg/Hudi metadata
do) additionally lets the PLANNER prune the file list before any scan
task launches, which is the version implemented here.

Portability contract: positions come from the md5 hex fold
(functions.text.hex_fold), so the whole index — set bits, candidate
sets, pruning counts — is bit-reproducible in DuckDB; the
``bloom_skip_report`` registry query oracle-checks the index math
end-to-end (build → probe → prune → verify). The index is stored as
one ``(bucket, bset)`` row per bucket — a sorted position array of at
most ``min(k·ndv, m)`` ints (a production store packs it 64-per-BIGINT,
the Count-Min module's packed-aggregate idiom — storage, not
semantics); ``build_bloom_index`` exposes the exploded
``(bucket, pos)`` row form of the same filter.

Scale shape: the build is scan → hash → explode×k → per-bucket
``collect_set`` — two exchanges, and the map-side partial collect_set
caps shuffle volume at ≤ buckets·m positions per map task however many
rows feed it. A probe BROADCASTS the hashed probe list against the
bitset table and filters with an ``array_contains`` HOF — zero
probe-side exchanges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spendinganalysisetl_spark.functions.text import hex_fold

K_HASHES = 4
M_BITS = 65536


def bloom_positions(value: Column, k: int = K_HASHES, m: int = M_BITS) -> Column:
    """Array of the ``k`` filter positions for ``value`` — the
    Kirsch–Mitzenmacher construction ``h_j = h1 + j·h2`` over ONE md5
    (two 28-bit folds), the same portable hash family as the
    oracle-checked MinHash variant: one hash per value instead of ``k``,
    which is the textbook Bloom build and measured ~4× less hash CPU
    than per-``j`` seeded md5s."""
    md = F.md5(value.cast("string"))
    h1 = hex_fold(md, 1, 7)
    h2 = hex_fold(md, 8, 7)
    return F.array(*[((h1 + F.lit(j) * h2) % m).cast("int") for j in range(k)])


def build_bloom_bitsets(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
    k: int = K_HASHES,
    m: int = M_BITS,
) -> DataFrame:
    """Per-bucket Bloom filter as ONE row ``(bucket, bset)`` where
    ``bset`` is the sorted array of set positions (≤ min(k·ndv, m)
    ints — at most m·4 bytes per bucket, the same information a packed
    m-bit word array carries). This is the aggregate form the planner
    probes: bucket-count rows, no per-bit table.

    Build shape — TWO exchanges total (spread + the final aggregate),
    measured at sf0.1: hash at row grain (the conv-based fold is ~3
    cheap ops — a pre-dedup pass isn't worth its exchange), explode the
    k positions, and ``collect_set`` per bucket. The map-side partial
    collect_set bounds shuffle volume at ≤ buckets·m positions PER MAP
    TASK regardless of row count — repeats dedup before the wire, so
    the shape holds at 100 TB. SPREAD first because a single <128 MB
    parquet file is one input partition and the explode+partial-agg
    would serialize on a core. The per-bucket set output (bucket-count
    rows, not a set-bit table) is what lets the probe side broadcast
    instead of shuffle-join.

    explode_OUTER, deliberately: the positions array is provably
    non-empty (k>0 literals), so outer ≡ inner — but an INNER explode
    makes InferFiltersFromGenerate add ``size(arr) > 0``, and the
    positions array re-expands through the projection into a per-row
    md5-fold filter pushed into the parquet scan (interpreted, no CSE):
    measured 8 s of the 9.6 s draft at sf0.1 on one core."""
    from spendinganalysisetl_spark.partitioning import spread

    return (
        spread(df.select(F.col(bucket_col).alias("bucket"), F.col(value_col)))
        .select(
            "bucket",
            F.explode_outer(bloom_positions(F.col(value_col), k, m)).alias("pos"),
        )
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_set("pos")).alias("bset"))
    )


def build_bloom_index(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
    k: int = K_HASHES,
    m: int = M_BITS,
) -> DataFrame:
    """Set-bit table ``(bucket, pos)`` of each bucket's Bloom filter —
    the exploded row form of :func:`build_bloom_bitsets` (a collect_set
    explodes to exactly the DISTINCT (bucket, pos) rows).
    ``bucket_col`` is the file/bucket identity (a deterministic bucket
    id, or ``input_file_name()`` for a physical-file index)."""
    return build_bloom_bitsets(df, bucket_col, value_col, k, m).select(
        "bucket", F.explode("bset").alias("pos")
    )


def candidate_buckets_bitset(
    bitsets: DataFrame,
    probes: DataFrame,
    probe_col: str = "probe",
    k: int = K_HASHES,
    m: int = M_BITS,
) -> DataFrame:
    """Buckets the bitset index cannot rule out for each probe —
    the zero-shuffle probe path: the (tiny) probe list hashes into a
    positions array, BROADCASTS against the bucket-count bitset table,
    and a ``forall(..., array_contains(...))`` HOF keeps the pairs
    where every probe position is set. No exchange, no aggregate —
    candidate math runs entirely inside one codegen stage. Probe rows
    pass through as given — array membership is idempotent, so a
    duplicated probe value yields duplicate candidate ROWS but can
    never flip a verdict (pure projection semantics; an explicit
    ``.distinct()`` here would cost an exchange job even on a 9-row
    probe list — dedup upstream if row multiplicity matters)."""
    pb = probes.select(F.col(probe_col).alias("probe")).withColumn(
        "_pp", bloom_positions(F.col("probe"), k, m)
    )
    return (
        bitsets.join(F.broadcast(pb))
        .filter(F.expr("forall(_pp, p -> array_contains(bset, p))"))
        .select("probe", "bucket")
    )


def candidate_buckets(
    index: DataFrame,
    probes: DataFrame,
    probe_col: str = "probe",
    k: int = K_HASHES,
    m: int = M_BITS,
) -> DataFrame:
    """Buckets the index CANNOT rule out for each probe value:
    ``(probe, bucket)`` where all ``k`` probe positions are set. The
    one-sided guarantee (candidates ⊇ true buckets) is pinned in
    tests/test_bloom_index.py."""
    # Distinct first: a duplicated probe value would double its (j, pos)
    # rows and the nj == k filter below would then reject every TRUE
    # bucket for it — a silent false negative, the one failure a Bloom
    # index must never have.
    ppos = probes.select(F.col(probe_col).alias("probe")).distinct().select(
        "probe",
        F.posexplode(bloom_positions(F.col("probe"), k, m)).alias("j", "pos"),
    )
    # count(*) ≡ count(distinct j) here: each probe contributes exactly
    # one (j, pos) row per hash row and the index is distinct on
    # (bucket, pos), so a (probe, bucket) group holds at most one row
    # per j — skipping the two-phase distinct saves two exchanges.
    return (
        ppos.join(index, "pos")
        .groupBy("probe", "bucket")
        .agg(F.count(F.lit(1)).alias("nj"))
        .filter(F.col("nj") == k)
        .select("probe", "bucket")
    )

