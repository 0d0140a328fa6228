"""Self-hosted version of the driver's correctness gate (SURVEY.md §5.1):
run every registered Spark query AND its DuckDB oracle on the same
parquet, compare row count, column names, and values order-insensitively.

Runs at sf0.001 for speed; the driver runs the same comparison at
sf0.01. Keeping this green locally is the leading indicator for
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

# The driver materializes BOTH result sets through pandas before hashing
# (VERDICT r1: DuckDB HUGEINT -> float64 made `12345.0` hash-differently
# from Spark's `12345`). To be a predictive leading indicator this gate
# must therefore compare pandas dtype KINDS as well as values: a Python
# value compare alone treats 3 == 3.0 as equal and let the r1 typing bug
# through.

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0 and math.copysign(1.0, v) < 0.0:
            # IEEE -0.0: value-equal to +0.0 in Python but hash-distinct
            # in the driver (r2: bigram_pmi red on exactly this) — make
            # the local gate fail the same way the driver would.
            return "-0.0"
        return round(v, 6)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def _dtype_kind(dtype) -> str:
    """Collapse a pandas/numpy dtype to the kind the driver's hash is
    sensitive to: int-vs-float is the r1 failure class; everything in
    {object, string, bool, datetime} hashes by value either way."""
    k = getattr(dtype, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "M":
        return "datetime"
    if k == "b":
        return "bool"
    return "obj"


def _pandas_sides(spark_df, ddb_res):
    spdf = spark_df.toPandas()
    oradf = ddb_res.df()
    spdf.columns = [c.lower() for c in spdf.columns]
    oradf.columns = [c.lower() for c in oradf.columns]
    return spdf[sorted(spdf.columns)], oradf[sorted(oradf.columns)]


def queries_with_oracles():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    return [(name, qs[name], os_[name]) for name in qs if name in os_]


@pytest.mark.parametrize(
    "name,qfn,sql", queries_with_oracles(), ids=[n for n, _, _ in queries_with_oracles()]
)
def test_query_matches_oracle(spark, ddb, name, qfn, sql):
    sdf = qfn(spark, SF_DIR)
    spdf, oradf = _pandas_sides(sdf, ddb.execute(sql))

    assert list(spdf.columns) == list(oradf.columns), (
        f"{name}: column mismatch {list(spdf.columns)} vs {list(oradf.columns)}"
    )
    assert len(spdf) == len(oradf), f"{name}: row count {len(spdf)} vs {len(oradf)}"

    # Driver-predictive dtype check: int-vs-float64 (the DuckDB HUGEINT
    # class) must fail HERE, not in CORRECTNESS_r{N}.json.
    s_kinds = {c: _dtype_kind(spdf[c].dtype) for c in spdf.columns}
    d_kinds = {c: _dtype_kind(oradf[c].dtype) for c in oradf.columns}
    assert s_kinds == d_kinds, (
        f"{name}: pandas dtype-kind mismatch (driver hash would differ): "
        f"spark={s_kinds} oracle={d_kinds}"
    )

    s_cols, s_rows = _norm_rows(
        list(spdf.columns), list(spdf.itertuples(index=False, name=None))
    )
    d_cols, d_rows = _norm_rows(
        list(oradf.columns), list(oradf.itertuples(index=False, name=None))
    )
    for sr, dr in zip(s_rows, d_rows):
        assert sr == pytest.approx(dr, rel=1e-9, abs=1e-9, nan_ok=True), (
            f"{name}: value mismatch {sr} vs {dr}"
        )


# Queries that return no rows at SF_DIR, each with the reason. An entry
# that starts returning rows must leave this dict.
KNOWN_EMPTY = {
    "events_value_anomalies":
        "no event has the 30 same-type events an hour or more before it "
        "that its z-score baseline needs",
    "join_anti_customers_without_orders": "every customer has an order",
    "tpch_q7_volume_shipping": "no supplier is in NATION_1 or NATION_2",
    "oversized_supplier_baskets":
        "the largest customer basket has 10 suppliers, under the cap of 50",
}


def test_all_queries_have_rows_or_known_empty(spark):
    queries = entrymod.queries().items()
    empty = {name for name, qfn in queries if qfn(spark, SF_DIR).count() == 0}
    assert empty == set(KNOWN_EMPTY)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
