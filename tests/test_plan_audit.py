"""Physical-plan audits (SURVEY.md §4): the scale-design claims in the
README are properties of the PLAN, so pin them as assertions — filters
reach the parquet scan, projections prune the read schema, dimension
joins broadcast, and the report aggregation is partial/final."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spendinganalysisetl_spark.catalog import load_table


from spendinganalysisetl_spark.plans import physical_plan as _plan  # noqa: E402
from spendinganalysisetl_spark.plans import plan_report  # noqa: E402


def test_plan_report_shape(spark, sf_dir):
    """The public introspection API (plans.plan_report) reports the
    properties the audits below assert individually."""
    df = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .filter(F.col("o_orderdate") >= "1995-01-01")
    )
    rep = plan_report(df)
    assert rep["cartesian"] == 0 and rep["python_row_udfs"] == 0
    assert rep["codegen_stages"] >= 1
    assert any("o_orderdate" in ln for ln in rep["pushed_filters"])
    assert any("o_orderkey" in ln for ln in rep["read_schemas"])


def test_date_filter_pushed_to_orders_scan(spark, sf_dir):
    from spendinganalysisetl_spark.operators.report import base_sales

    sales = base_sales(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        begin_date="1995-01-01",
        end_date="1996-01-01",
    )
    plan = _plan(sales)
    # The range predicate must appear among the scan's pushed filters,
    # not only as a post-scan Filter node.
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "o_orderdate" in ln]
    assert pushed, f"o_orderdate not pushed: {plan[:2000]}"


def test_dim_joins_broadcast_not_shuffle(spark, sf_dir):
    from spendinganalysisetl_spark.operators.report import base_sales

    sales = base_sales(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )
    plan = _plan(sales)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    # The fact table must not shuffle for enrichment: no Exchange
    # hashpartitioning on lineitem join keys in the enrich pipeline.
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_projection_prunes_read_schema(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    plan = _plan(df)
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines, plan[:1000]
    line = schema_lines[0]
    assert "o_orderkey" in line and "o_orderdate" in line
    # a pruned scan must not read the wide payload columns
    assert "o_comment" not in line and "o_totalprice" not in line


def test_grouped_sum_is_partial_final(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    plan = _plan(df)
    # partial (map-side) + final HashAggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_correlated_subquery_is_decorrelated(spark, sf_dir):
    """Catalyst must rewrite the per-row scalar subquery into one
    brand-level aggregate joined back — the plan may contain joins and
    aggregates but NO per-row subquery execution node."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["correlated_subquery_above_brand_avg"](spark, sf_dir)
    plan = _plan(df)
    assert "Subquery" not in plan, plan[:2000]
    assert "Join" in plan and "Aggregate" in plan


def test_sales_cache_scans_in_parallel(spark, sf_dir):
    """The shared sales intermediate is spread across the default
    parallelism (its plan is all broadcast joins over a 1-file scan, so
    without the explicit repartition the cache would hold 1-2 partitions
    and every report-family query would scan it nearly serially)."""
    from spendinganalysisetl_spark import registry

    sales = registry._sales(spark, sf_dir)
    assert (
        sales.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_unpivot_plans_no_exchange(spark, sf_dir):
    """UNPIVOT (melt) is a row-expanding projection — it must not add
    any exchange over the wide input."""
    import __spark_entry__ as entrymod

    wide_to_long = entrymod.queries()["monthly_unpivot_roundtrip"](spark, sf_dir)
    plan = _plan(wide_to_long)
    # Unpivot lowers to Expand (a row-generating projection); the only
    # hashpartitioning exchange in the whole plan is the pivot's own
    # aggregation below it — nothing between the pivot output and the
    # melt.
    assert "Expand" in plan, plan[:2000]
    above_agg = plan.split("HashAggregate")[0]
    assert "Exchange hashpartitioning" not in above_agg, plan[:3000]


def test_catalog_wide_plan_discipline(spark, sf_dir):
    """Engine-wide physical-plan lint over the whole query catalog:

    - no CartesianProduct anywhere (cross-shaped plans must broadcast —
      BroadcastNestedLoopJoin — or be rewritten as equi-joins);
    - no row-at-a-time Python UDFs (BatchEvalPython); Python is allowed
      only through Arrow (ArrowEvalPython / MapInPandas), which is the
      whole-stage-codegen-adjacent slow path the design brief permits.

    Streaming queries are excluded (building them executes a stream);
    everything else is plan-construction only.
    """
    import __spark_entry__ as entrymod

    offenders = {}
    for name, qfn in entrymod.queries().items():
        if name.startswith("stream_"):
            continue
        plan = _plan(qfn(spark, sf_dir))
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_training_shards_scan_corpus_at_most_twice(spark, sf_dir):
    """build_training_shards must hold exactly TWO documents FileScans,
    both inside the one-time build of the persisted per-doc frame
    (bench-gram branch + enriched feature branch); the packing fork
    must consume the cache, never re-derive the corpus. The plan STRING
    prints the cached build under every InMemoryTableScan reference, so
    walk the node tree instead: caches are leaves of the consuming
    plan, and the cached build plan is counted once."""
    from spendinganalysisetl_spark.operators.trainprep import (
        build_training_shards,
    )

    df = build_training_shards(load_table(spark, sf_dir, "documents"))
    sp = df._jdf.queryExecution().sparkPlan()

    def walk(node):
        yield node
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))

    nodes = list(walk(sp))
    names = [n.nodeName() for n in nodes]
    # every FileScan in the consuming tree must sit under a broadcast
    # of the cached relation or inside the cache build — the consuming
    # tree itself reads only InMemoryTableScans
    file_scans_outside_cache = [n for n in names if "Scan parquet" in n or n == "FileSourceScan"]
    cache_reads = [n for n in nodes if n.nodeName() == "InMemoryTableScan"]
    assert not file_scans_outside_cache, names
    assert len(cache_reads) == 2, names
    # the shared cache build (identical relations) holds exactly the
    # two corpus scans
    builds = {
        n.relation().cachedPlan().toString() for n in cache_reads
    }
    assert len(builds) == 1, "packing fork must share ONE cached frame"
    # once a prior test has executed the cache, its plan prints AQE
    # "== Final Plan ==" AND "== Initial Plan ==" sections — count
    # scans in the final section only, or the tally doubles
    build = next(iter(builds)).split("== Initial Plan ==")[0]
    assert build.count("FileScan") == 2


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q4_order_priority_exists",
        "tpch_q21_waiting_supplier",
        "tpch_q2_min_cost_supplier",
        "tpch_q17_small_qty_revenue",
        "tpch_q20_volume_part_shippers",
        "tpch_q22_dormant_rich_customers",
    ],
)
def test_classic_shapes_decorrelate(spark, sf_dir, name):
    """The Q4/Q21/Q2/Q17/Q20/Q22 forms (correlated EXISTS,
    multi-correlated EXISTS+NOT EXISTS, correlated scalar MIN,
    correlated scalar AVG under a scaled inequality, nested
    IN-with-HAVING-scalar, and uncorrelated-scalar + predicated NOT
    EXISTS) must all compile to joins+aggregates — a surviving per-row
    correlated Subquery node would mean per-row re-execution, which
    cannot run at 100 TB. (Q22's UNcorrelated scalar legitimately
    remains a one-shot ``Subquery`` that executes once — the audit
    below distinguishes the two by checking the plan has no
    ``in-subquery``/correlated exec nodes rather than banning the
    one-shot scalar.)"""
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, sf_dir)
    plan = _plan(df)
    if name == "tpch_q22_dormant_rich_customers":
        # The global positive-balance average is an UNCORRELATED scalar:
        # it must execute exactly once (a Subquery/ReusedSubquery exec
        # node is the correct shape), while the correlated NOT EXISTS
        # must still have been rewritten to an anti join.
        assert "AntiJoin" in plan or "LeftAnti" in plan, plan[:2000]
    else:
        assert "Subquery" not in plan, plan[:2000]
    assert "Join" in plan


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """The third join-pruning mechanism next to broadcast and DPP: when
    a SELECTIVE dim join cannot broadcast (build side above the
    broadcast threshold — at 100 TB that is anything but a true
    dimension), Spark injects a runtime bloom filter built from the
    dim's join keys into the FACT side, so the fact shuffle carries
    only rows that can match. At local test scale every table sits
    under every size threshold, so the thresholds are pinned here to
    expose the mechanism itself; the assertion is that the rewritten
    plan applies ``might_contain`` on the fact side of the join."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {}
    for k in confs:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 42)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_quantity"
        )
        df = (
            li.join(part, li["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = _plan(df)
        assert "might_contain" in plan.lower(), plan[:3000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- TPC-H completion batch (round 4c) ----------------------------------------


def test_q19_disjunction_stays_equi_join(spark, sf_dir):
    """TPC-H Q19's OR-of-ANDs references both join sides; the plan must
    keep the partkey equi-join (broadcast hash, never nested-loop /
    cartesian) with the disjunction as a residual, and the single-table
    implications (brand IN-set + size cap; quantity range) must reach
    the parquet scans as pushed filters."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["tpch_q19_disjunctive_revenue"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, plan[:2000]
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln for ln in pushed), plan[:3000]
    assert any("l_quantity" in ln for ln in pushed), plan[:3000]


def test_q8_single_fact_shuffle_one_pass_share(spark, sf_dir):
    """TPC-H Q8: every dim broadcasts (region-filtered customers,
    type-filtered part, nation-tagged supplier) so the only shuffle
    join is lineitem meeting orders, and BOTH the numerator (CASE) and
    denominator come out of one partial/final aggregate — no second
    scan of the fact."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["tpch_q8_market_share"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln]
    assert len(scans) == 1, f"lineitem scanned {len(scans)}x"


def test_q15_one_lineitem_scan(spark, sf_dir):
    """TPC-H Q15's verbatim CTE form scans the fact twice (once for the
    join input, once inside the scalar MAX). The build replaces the
    uncorrelated scalar with a window-max over the supplier-sized
    aggregate — exactly one lineitem FileScan may appear."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["tpch_q15_top_supplier"](spark, sf_dir)
    plan = _plan(df)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln]
    assert len(scans) == 1, f"lineitem scanned {len(scans)}x"


def test_q6_pure_scan_aggregate(spark, sf_dir):
    """TPC-H Q6 is the scan-path benchmark: all three predicates pushed,
    2-column read schema, no join, partial/final aggregate only."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["tpch_q6_forecast_revenue"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan, plan[:2000]
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln and "l_discount" in ln and "l_quantity" in ln for ln in pushed), plan[:3000]
    schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" not in schema and "l_tax" not in schema


def test_initial_plan_sections_stripped():
    """physical_plan drops the duplicate ``== Initial Plan ==`` section
    an EXECUTED AdaptiveSparkPlan prints (e.g. the build plan of a
    persisted shared intermediate another query already ran) — without
    this, FileScan/Exchange substring counts in the audits below double
    depending on test order (caught live: tfidf's doc-term cache build
    printed its one documents scan in both sections after the parity
    suite executed the cache first)."""
    from spendinganalysisetl_spark.plans import _strip_initial_plan_sections

    plan = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   ResultQueryStage 2\n"
        "   +- HashAggregate\n"
        "      +- FileScan parquet documents\n"
        "+- == Initial Plan ==\n"
        "   HashAggregate\n"
        "   +- FileScan parquet documents\n"
        "NextSiblingAtMarkerIndent\n"
    )
    out = _strip_initial_plan_sections(plan)
    assert out.count("FileScan") == 1
    assert "Initial Plan" not in out
    # sibling content at/above the marker's indent survives
    assert "NextSiblingAtMarkerIndent" in out
    # unexecuted plans (no section markers) pass through untouched
    assert _strip_initial_plan_sections("A\n+- B\n") == "A\n+- B\n"


def test_tfidf_one_documents_scan(spark, sf_dir):
    """tfidf_top_terms with the catalog-statistics doc count (parquet
    footer num_rows, how the registry calls it) reads the session-shared
    doc-term index exactly ONCE (the text family's one corpus tokenize)
    and never scans ``documents`` itself: the index is a checkpoint, so
    the consumer plan stops at its ``Scan ExistingRDD``. The index's
    own build is a single documents FileScan: the count-star
    IDF-numerator branch is gone, and df/len_d/top-k all chain as
    windows on the one flow."""
    import __spark_entry__ as entrymod

    from spendinganalysisetl_spark.operators.textanalysis import doc_term_counts

    plan = _plan(entrymod.queries()["tfidf_top_terms"](spark, sf_dir))
    index = [ln for ln in plan.splitlines() if "Scan ExistingRDD" in ln]
    assert len(index) == 1, f"doc-term index read {len(index)}x\n{plan[:2000]}"
    assert not _file_scans(plan, ("documents",)), plan[:2000]
    build = _plan(doc_term_counts(load_table(spark, sf_dir, "documents")))
    n = len(_file_scans(build, ("documents",)))
    assert n <= 1, f"documents scanned {n}x in the build"


def _file_scans(plan: str, tables) -> list[str]:
    return [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and any(f"{t}.parquet" in ln for t in tables)
    ]


@pytest.mark.parametrize(
    "query, inputs",
    [
        ("simhash_near_pairs", ("documents",)),
        ("category_totals", ("lineitem", "orders", "part", "supplier")),
    ],
)
def test_shared_consumers_stop_at_the_checkpoint(spark, sf_dir, query, inputs):
    """A consumer of a ``registry.shared`` entry reads its checkpointed
    rows: no in-memory cache scan, and none of the entry's input files,
    appear in the consumer's plan."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()[query](spark, sf_dir))
    assert "InMemoryTableScan" not in plan, plan[:2000]
    assert not _file_scans(plan, inputs), plan[:2000]
    assert "Scan ExistingRDD" in plan, plan[:2000]


def test_q21_one_lineitem_scan(spark, sf_dir):
    """Q21's verbatim EXISTS/NOT-EXISTS form re-scans lineitem three
    times (main + semi + anti). The r6 windowed rewrite must hold
    exactly ONE lineitem FileScan, with both per-order supplier counts
    as windows sharing the join's orderkey exchange."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["tpch_q21_waiting_supplier"](spark, sf_dir)
    plan = _plan(df)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln]
    assert len(scans) == 1, f"lineitem scanned {len(scans)}x"


def test_presentation_free_cores_have_no_single_partition_sink(spark, sf_dir):
    """Presentation-layer boundary (VERDICT r6 #7): operators whose
    output grows with the corpus expose a distributed core — canonical
    single-partition ordering is an oracle/report wrapper only. The
    core plans must contain NO SinglePartition exchange (a one-task
    sink over a corpus-sized output at 100 TB)."""
    from spendinganalysisetl_spark.catalog import load_table
    from spendinganalysisetl_spark.operators.pca import pca_project
    from spendinganalysisetl_spark.operators.textanalysis import (
        curated_docs,
        repetition_features,
    )
    from spendinganalysisetl_spark.operators.trainprep import (
        boilerplate_stats,
        decon_counts,
        decontaminate,
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    cores = {
        "repetition_features": repetition_features(docs),
        "curated_docs": curated_docs(docs),
        "decon_counts": decon_counts(docs),
        "decontaminate_core": decontaminate(docs, ordered=False),
        "boilerplate_core": boilerplate_stats(docs, ordered=False),
        "pack_sequences_core": pack_sequences(docs, ordered=False),
        "pca_project_core": pca_project(emb, k=2, ordered=False),
    }
    for name, df in cores.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        # REPARTITION_BY_NUM = an explicit .repartition(1) sink. A
        # SinglePartition ENSURE_REQUIREMENTS exchange is allowed where
        # it moves a bounded side table (pack_sequences' bucket-offset
        # prefix sum: one row per doc_id bucket, not the corpus).
        assert "Exchange SinglePartition, REPARTITION" not in plan, (
            f"{name}: presentation-free core plans a single-partition "
            f"sink\n{plan[:1500]}"
        )


def test_spread_scaled_reconciles_with_input_partitioning(
    spark, sf_dir, monkeypatch
):
    """spread_scaled (guide §2.5) derives its fan-out from the
    optimizer's size estimate, then reconciles with the input's actual
    partition count: shrink-or-stay → narrow Coalesce (the derived-1
    case must NOT plan an Exchange SinglePartition REPARTITION_BY_NUM —
    the presentation-boundary audit above cannot tell that apart from a
    hard-coded single-partition sink — while Coalesce(1) still declares
    SinglePartition so downstream aggregates skip their exchanges);
    grow → round-robin repartition."""
    from spendinganalysisetl_spark import partitioning
    from spendinganalysisetl_spark.partitioning import spread_scaled

    base = load_table(spark, sf_dir, "embeddings").select("embedding")

    # sub-8MB single-partition scan: derived n == current 1 → narrow
    # coalesce, never the explicit single-partition exchange.
    same = spread_scaled(base)
    plan_same = _plan(same)
    assert "REPARTITION_BY_NUM" not in plan_same, plan_same
    assert "Coalesce" in plan_same, plan_same
    # Coalesce(1) declares SinglePartition: a groupBy over it must not
    # add an exchange (the collapsed tiny-scale aggregate plan).
    agg_plan = _plan(same.groupBy().count())
    assert "Exchange" not in agg_plan, agg_plan

    # derived n (=1 for a tiny estimate) below the current count →
    # narrow coalesce, never a shuffle.
    wide = base.repartition(4)
    shrunk = spread_scaled(wide)
    plan_shrunk = _plan(shrunk)
    assert plan_shrunk.count("Exchange") == plan_shrunk.count(
        "Exchange RoundRobinPartitioning(4"
    ), plan_shrunk  # only the setup repartition(4), nothing added
    assert shrunk.rdd.getNumPartitions() == 1

    # derived n above the current count (1 byte/task → cap) → fan out.
    monkeypatch.setattr(partitioning, "SPREAD_BYTES_PER_TASK", 1)
    grown = spread_scaled(base)
    assert (
        grown.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert "RoundRobinPartitioning" in _plan(grown)


def test_spread_scaled_rdd_fallback_never_plans_single_partition_exchange(
    spark, sf_dir, monkeypatch
):
    """r11 ADVICE #1 (fixed r12): when ``df.rdd`` raises (partition
    count unknowable), the derived-1 fallback must still be a narrow
    Coalesce — an explicit repartition(1) there would reintroduce the
    ``Exchange SinglePartition REPARTITION_BY_NUM`` node the
    presentation-boundary audit forbids, silently, only on hosts where
    the RDD conversion fails."""
    from pyspark.sql import DataFrame

    from spendinganalysisetl_spark.partitioning import spread_scaled

    base = load_table(spark, sf_dir, "embeddings").select("embedding")

    def _boom(self):
        raise RuntimeError("rdd conversion unavailable")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))
    out = spread_scaled(base)  # sub-8MB estimate → derived n == 1
    monkeypatch.undo()
    plan = _plan(out)
    assert "REPARTITION_BY_NUM" not in plan, plan
    assert "Coalesce" in plan, plan


def test_classifier_scoring_plans_no_hash_exchange(spark, sf_dir):
    """r9 rewrite: margin_scores is ONE projection (constant-folded
    weight array + transform/aggregate) — no explode, no join, no
    groupBy; the only exchanges are the round-robin spread and the
    presentation repartition(1), never a hashpartitioning shuffle."""
    from spendinganalysisetl_spark.operators.classifier import margin_scores

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(margin_scores(docs, [1] * 16, 0, 16))
    assert "hashpartitioning" not in plan, plan
    assert "Generate" not in plan  # no explode
    assert "Join" not in plan


def test_duplicate_spans_single_gram_exchange(spark, sf_dir):
    """r9 rewrite (VERDICT r8 ask #2): both document-frequency windows
    ride ONE hash(gram) exchange (lag(doc_id) change marker over the
    same sort); the only other hash exchange is the per-doc island
    merge after the df filter. Exactly two hashpartitioning exchanges,
    on gram then doc_id."""
    import re

    from spendinganalysisetl_spark.operators.trainprep import (
        duplicate_token_spans,
    )

    plan = _plan(duplicate_token_spans(load_table(spark, sf_dir, "documents")))
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert sorted(keys) == ["doc_id", "gram"], keys


def test_pmi_no_unpartitioned_window(spark, sf_dir):
    """r10 (VERDICT r9 ask #1): the corpus totals B/N in bigram/skipgram
    PMI are scalar aggregates broadcast back via crossJoin — NEVER
    ``sum().over(Window.partitionBy())`` on the pair-type table, which
    at 100 TB would funnel billions of aggregated pair rows through ONE
    partition. An unpartitioned (and order-less) window prints as
    ``windowspecdefinition(specifiedwindowframe...`` — partition or
    order expressions would precede the frame. Executed first so AQE's
    runtime stage reuse is visible: the scalar-total branch must ride a
    ReusedExchange of the main flow's pair shuffle (zero extra corpus
    work), not replan the corpus scan."""
    import __spark_entry__ as entrymod

    for name in ("bigram_pmi_collocations", "skipgram_pmi_collocations"):
        df = entrymod.queries()[name](spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "windowspecdefinition(specifiedwindowframe" not in plan, (
            f"{name}: unpartitioned window over the pair table\n{plan[:2000]}"
        )
        assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, (
            f"{name}: scalar-total branch replans instead of reusing the "
            f"pair exchange\n{plan[:2000]}"
        )


def test_local_table_plans_local_relation(spark):
    """ADVICE r9 #2: catalog.local_table's performance guarantee — rows
    land in a JVM LocalRelation via Arrow, NOT a pickled Python RDD that
    a worker stage re-evaluates on every action (``Scan ExistingRDD``,
    the r9 0.5-7 s/action defect). The except-Exception fallback and
    spark.sql.execution.arrow.pyspark.fallback.enabled can silently
    degrade to the slow path, so pin the plan shape: direct calls and a
    representative registry caller (pca_fixture) both scan a
    LocalTableScan and never an ExistingRDD."""
    import __spark_entry__ as entrymod

    from spendinganalysisetl_spark.catalog import local_table

    df = local_table(
        spark,
        [(i, [float(i), float(i + 1)]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(df)
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan

    fx = entrymod.queries()["pca_fixture"](spark, "/root/testdata/sf0.001")
    fx.collect()
    fplan = _plan(fx)
    assert "ExistingRDD" not in fplan, fplan[:2000]
    assert "LocalTableScan" in fplan, fplan[:2000]


def test_q7_q9_fact_join_broadcasts_below_threshold(spark, sf_dir):
    """r10 (_fact_join_hint): below the broadcast threshold the one
    fact⋈fact join in Q7/Q9 must ride a broadcast — q7's pre-cut
    orders side is a join output whose stats-free size estimate
    otherwise lands an SMJ on a tiny side (and an unconditional
    SHUFFLE_HASH hint would outrank the free broadcast, the r10 sf0.1
    regression). Above the threshold the same helper swaps in
    SHUFFLE_HASH (asserted by the sf1 A/B in the registry docstring,
    not here — the test corpus is all sub-threshold)."""
    import __spark_entry__ as entrymod

    for name in (
        "tpch_q7_volume_shipping",
        "tpch_q9_product_profit",
        "tpch_q10_returned_items",
    ):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = _plan(df)
        assert "SortMergeJoin" not in plan, f"{name}\n{plan[:1500]}"
        assert "ShuffledHashJoin" not in plan, f"{name}\n{plan[:1500]}"
        assert "BroadcastHashJoin" in plan, f"{name}\n{plan[:1500]}"


def test_q7_q9_fact_join_shuffle_hash_above_threshold(
    spark, sf_dir, monkeypatch
):
    """The ABOVE-threshold arm of _fact_join_hint — the one that
    matters at scale. Report every table's size above the session's
    auto-broadcast threshold to the hint (lowering the threshold itself
    would also turn the un-hinted joins into sort-merge joins), then
    assert the fact⋈fact join lands ShuffledHashJoin (sort-free on both
    sides), never the SMJ default; the dim joins stay broadcast either
    way."""
    import __spark_entry__ as entrymod  # noqa: F401

    from spendinganalysisetl_spark import registry as reg

    monkeypatch.setattr(reg, "size_of", lambda df: 1 << 62)
    for name in (
        "tpch_q7_volume_shipping",
        "tpch_q9_product_profit",
        "tpch_q10_returned_items",
    ):
        df = reg.QUERIES[name](spark, sf_dir)
        plan = _plan(df)
        assert "ShuffledHashJoin" in plan, f"{name}\n{plan[:1500]}"
        assert "SortMergeJoin" not in plan, f"{name}\n{plan[:1500]}"
        assert "BroadcastHashJoin" in plan, f"{name}\n{plan[:1500]}"


def test_stupid_backoff_pair_stream_exchanges_only_on_doc_id(spark, sf_dir):
    """r10 VERDICT ask #1 (plan pin): the corpus pair stream in
    stupid_backoff_bigram_ce must never exchange on a pair key — the
    three weight joins (c_ab / c_a / c_b, all O(train-LM)-sized in the
    CCNet arrangement) ride explicit broadcasts, so the ONLY shuffle the
    per-occurrence pair stream pays is the final map-side-combined
    doc_id aggregation. Pre-r11 this held only while AQE's runtime stats
    happened to pick broadcast; the operator now hints it and this
    test pins the shape: zero
    SortMergeJoin / ShuffledHashJoin anywhere (the remaining exchanges
    are the TRAIN-slice aggregations' own groupBys, 5% of the corpus),
    ≥3 BroadcastHashJoin, and a doc_id hash exchange present."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["stupid_backoff_bigram_ce"](spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "ShuffledHashJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "hashpartitioning(doc_id" in plan, plan[:2000]


def test_line_boilerplate_flag_join_broadcasts(spark, sf_dir):
    """r11 (guide §3.1): line_boilerplate_stats' final flag join
    attaches the flagged-line vocabulary to the PER-OCCURRENCE line
    table — the largest table in the plan. Un-hinted, the planner
    sort-merge-joined it, exchanging and sorting every line occurrence
    just to set one bit; the operator now broadcasts the vocabulary,
    so the occurrence stream's only
    exchanges are the distinct-line collapse and the final doc_id
    rollup. Pin: the left-outer flag join is a BroadcastHashJoin and no
    SortMergeJoin appears anywhere in the query's plan."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["line_boilerplate_minhash"](spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    # simple-mode toString prints the node as
    # "BroadcastHashJoin [k], [k], LeftOuter, BuildRight"
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "LeftOuter, BuildRight" in plan, plan[:2000]


def test_minhash_verify_semi_join_broadcasts_candidate_ids(spark, sf_dir):
    """r11 (guide §3.2/§8): minhash_lsh_pairs' verify semi-join decides
    corpus membership — un-hinted it sort-merge-joined, shuffling the
    full document text on doc_id just to drop non-candidates. The
    operator now probes the cached candidate count and broadcasts the
    id set below the gate, so the corpus text never moves. Pin: no
    SortMergeJoin in the query's plan; the semi join is a
    BroadcastHashJoin."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["minhash_lsh_pairs"](spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "LeftSemi, BuildRight" in plan, plan[:2000]


def test_pagerank_above_gate_arm_single_live_exchange_per_iteration(
    spark, monkeypatch
):
    """r12 (VERDICT r11 ask #6, guide §2.4): above the broadcast-state
    gate the loop used to pay two join exchanges plus the aggregation
    exchange per iteration. The src-partitioned, MATERIALIZED edge
    cache co-partitions the edges⋈shares join (the rank state flows out
    of node-keyed shuffle operators at the same partition count), so
    each iteration's only live (ENSURE_REQUIREMENTS) exchange is the
    narrow contrib aggregation. Join STRATEGY is deliberately the
    planner's (forcing SHUFFLE_HASH measured 25–28 s vs 5.1 s for the
    co-partitioned SMJ at 4M nodes), so only the exchange structure is
    pinned here."""
    from spendinganalysisetl_spark import partitioning
    from spendinganalysisetl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    iterations = 3
    monkeypatch.setattr(partitioning, "BROADCAST_STATE_MAX_NODES", 0)
    df = pagerank(edges, iterations=iterations)
    plan = _plan(df)
    # Distinct plan ids, because cached subtrees (nd's groupBy build)
    # reprint under every InMemoryTableScan reference with the SAME id.
    import re

    ids = {
        (m.group(2), m.group(1))
        for m in re.finditer(
            r"Exchange hashpartitioning\((\w+)#\d+[^\]]*ENSURE_REQUIREMENTS,"
            r" \[plan_id=(\d+)\]",
            plan,
        )
    }
    dst_live = [i for i, key in ids if key == "dst"]
    src_live = [i for i, key in ids if key == "src"]
    # one narrow (dst, share) aggregation exchange per iteration ...
    assert len(dst_live) == iterations, f"{sorted(ids)}\n{plan[:2500]}"
    # ... and the only src-keyed exchange is nd's one-time cache build
    # (the edges⋈shares join is co-partitioned: no live src exchange)
    assert len(src_live) <= 1, f"{sorted(ids)}\n{plan[:2500]}"


def _minhash_fresh_arm(spark, sf_dir):
    """``minhash_lsh_pairs`` over the session's shared shingle table and
    a new checkpoint of its banded signatures: a plan no earlier call
    built, so the operator's own caches (candidates, screen survivors,
    candidate shingle sets) cannot hand back another arm's cached plan
    — ``CacheManager`` matches plans with their hints stripped. Returns
    (physical plan, rows)."""
    from spendinganalysisetl_spark.catalog import release
    from spendinganalysisetl_spark.operators.dedup import minhash_lsh_pairs
    from spendinganalysisetl_spark.registry import (
        _minhash_banded,
        _minhash_shingled,
    )

    banded = _minhash_banded(spark, sf_dir).localCheckpoint(eager=True)
    try:
        df = minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            banded=banded,
            shingled=_minhash_shingled(spark, sf_dir),
        )
        return _plan(df), [tuple(r) for r in df.collect()]
    finally:
        release(banded)


def _broadcast_feeds(plan: str, alias: str) -> int:
    """BroadcastExchange nodes whose child projects ``alias``."""
    lines = plan.splitlines()
    return sum(
        "BroadcastExchange" in ln and f" AS {alias}#" in nxt
        for ln, nxt in zip(lines, lines[1:])
    )


def test_minhash_two_phase_verify_plan_arms(spark, sf_dir, monkeypatch):
    """r12 (guide §8/§3.1): the verify's hash-screen must never
    sort-merge — the planner's SMJ sorts a 1.4M-row array-carrying
    side (measured 32–64 s at sf1). Below the digest-size gate both
    digest sides BROADCAST (zero array bytes through any exchange);
    with the gate forced off they carry SHUFFLE_HASH hints (sort-free
    exchange arm). The exact-confirm pair joins are ShuffledHashJoins
    in both arms, and both arms produce identical rows (the screen is
    a provable superset + exact confirm; the arm only moves bytes
    differently)."""
    from spendinganalysisetl_spark import partitioning

    # broadcast arm (default gate; the tiny test corpus is far below it)
    plan, rows = _minhash_fresh_arm(spark, sf_dir)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "ShuffledHashJoin" in plan, plan[:2000]  # exact-confirm joins

    # forced shuffle arm: no digest broadcast, still sort-free
    monkeypatch.setattr(partitioning, "BROADCAST_DIGESTS_MAX_BYTES", 0)
    plan_shj, rows_shj = _minhash_fresh_arm(spark, sf_dir)
    assert "SortMergeJoin" not in plan_shj, plan_shj[:2000]
    assert "ShuffledHashJoin" in plan_shj, plan_shj[:2000]
    assert rows_shj == rows


def test_minhash_digest_gate_reads_checkpoint_block_bytes(
    spark, sf_dir, monkeypatch
):
    """The digest gate compares the shared shingle table's BLOCK bytes,
    not its checkpoint's plan statistics (the estimate made before the
    build, tens of times under the blocks). With the gate one byte
    under ``size_of`` of that table, neither digest side broadcasts,
    and the rows equal the broadcast arm's."""
    from spendinganalysisetl_spark import partitioning
    from spendinganalysisetl_spark.catalog import size_of
    from spendinganalysisetl_spark.registry import _minhash_shingled

    plan, rows = _minhash_fresh_arm(spark, sf_dir)
    assert _broadcast_feeds(plan, "shh_a") and _broadcast_feeds(plan, "shh_b")

    monkeypatch.setattr(
        partitioning,
        "BROADCAST_DIGESTS_MAX_BYTES",
        size_of(_minhash_shingled(spark, sf_dir)) - 1,
    )
    plan_off, rows_off = _minhash_fresh_arm(spark, sf_dir)
    for alias in ("shh_a", "shh_b"):
        assert not _broadcast_feeds(plan_off, alias), plan_off[:3000]
    assert "SortMergeJoin" not in plan_off, plan_off[:3000]
    assert rows_off == rows


def test_minhash_candidate_gate_arms(spark, sf_dir, monkeypatch):
    """Both arms of the candidate gate: at the default the candidate-id
    set broadcasts into the verify semi-joins; with the gate at 0 rows
    no semi-join broadcasts it, and the rows are the same."""
    from spendinganalysisetl_spark import partitioning

    def semi_broadcasts(plan: str) -> int:
        return sum(
            "BroadcastHashJoin" in ln and "LeftSemi" in ln
            for ln in plan.splitlines()
        )

    plan, rows = _minhash_fresh_arm(spark, sf_dir)
    assert semi_broadcasts(plan), plan[:3000]

    monkeypatch.setattr(partitioning, "BROADCAST_CANDIDATES_MAX", 0)
    plan_off, rows_off = _minhash_fresh_arm(spark, sf_dir)
    assert not semi_broadcasts(plan_off), plan_off[:3000]
    assert rows_off == rows


def test_ivf_cell_assignment_evaluates_udf_once(spark, sf_dir):
    """r11 (guide §4.4): the inner join on the UDF-computed cell pushes
    an isnotnull(cell) filter below the projection, and a deterministic
    pandas UDF gets CLONED — one ArrowEvalPython under the filter, one
    in the projection, every corpus row paying the assignment matmul
    twice. ivf_topk marks the quantizer non-deterministic so exactly
    one ArrowEvalPython node survives (rows unchanged: the function is
    pure)."""
    import __spark_entry__ as entrymod

    for name in ("ivf_topk", "ivf_ann_fixture"):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = _plan(df)
        n = plan.count("ArrowEvalPython")
        assert n == 1, f"{name}: {n} ArrowEvalPython nodes\n{plan[:1500]}"


def test_merge_full_outer_joins_are_sort_free(spark, sf_dir):
    """r11 (guide §3.1): the MERGE core's FULL OUTER equi-join can
    never broadcast, and the planner's SMJ default exchanges AND sorts
    both sides. _merge_join / scd2_apply hint SHUFFLE_HASH on the
    delta side, so the plan must carry a ShuffledHashJoin FullOuter and
    no SortMergeJoin anywhere in the merge family."""
    import __spark_entry__ as entrymod

    for name in (
        "upsert_merge_monthly",
        "merge_delete_retention",
        "incremental_monthly_refresh",
        "scd2_customer_dim",
        "pit_join_orders_scd2",
    ):
        plan = _plan(entrymod.queries()[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, f"{name}\n{plan[:1500]}"
        assert "ShuffledHashJoin" in plan, f"{name}\n{plan[:1500]}"


def test_training_shards_perdoc_agg_is_hash_not_sort(spark, sf_dir):
    """r11 (guide §2): first(fp) had a variable-length buffer, which
    disqualified hash aggregation — the per-doc aggregation planned
    SortAggregate and fully sorted the exploded gram stream on both
    sides of its exchange. With the doc-constant attributes in the
    grouping key the buffers are counts-only, so the whole pipeline
    must plan zero SortAggregate nodes."""
    from spendinganalysisetl_spark.operators.trainprep import (
        build_training_shards,
    )

    plan = _plan(build_training_shards(load_table(spark, sf_dir, "documents")))
    assert "SortAggregate" not in plan, plan[:2000]
