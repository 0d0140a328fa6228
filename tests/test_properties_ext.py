"""Property-based invariants for the round-2 operator families:
additive view maintenance, int8 quantization, gap-fill conservation.

Few examples, rich assertions (every Spark action is a full job — see
test_properties.py).
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spendinganalysisetl_spark.operators.events import gap_fill_hourly
from spendinganalysisetl_spark.operators.similarity import quantize_int8
from spendinganalysisetl_spark.sources.upsert import merge_additive

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

KEYS = st.sampled_from(["2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01"])
PARTIAL = st.tuples(KEYS, st.integers(1, 100), st.integers(-500, 500))


@given(view=st.lists(PARTIAL, max_size=6), delta=st.lists(PARTIAL, max_size=6))
@settings(**_SETTINGS)
def test_merge_additive_equals_direct_sum(spark, view, delta):
    """Folding partials through merge_additive must equal aggregating
    the concatenated inputs directly — the incremental ≡ recompute law
    for ANY pair of partial tables (duplicate keys pre-summed per side,
    as real partials are)."""

    def agg(rows):
        out = {}
        for k, tx, sp in rows:
            t, s = out.get(k, (0, 0))
            out[k] = (t + tx, s + sp)
        return out

    va, da = agg(view), agg(delta)
    mk = lambda d: spark.createDataFrame(
        [(k, k, tx, float(sp)) for k, (tx, sp) in sorted(d.items())],
        "begin_date string, end_date string, total_transactions long, total_spent double",
    )
    got = {
        r["begin_date"]: (r["total_transactions"], r["total_spent"])
        for r in merge_additive(mk(va), mk(da)).collect()
    }
    want = {
        k: (tx, float(sp)) for k, (tx, sp) in agg(list(view) + list(delta)).items()
    }
    assert got == want


VECS = st.lists(
    st.lists(
        st.floats(-100, 100, allow_nan=False, allow_infinity=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=1,
    max_size=8,
)


@given(vecs=VECS)
@settings(**_SETTINGS)
def test_quantize_error_bound(spark, vecs):
    """For ANY float32 vectors: max reconstruction error ≤ scale/2 + ulp
    (half-away rounding, symmetric clamp only at the max element), and
    q_l1 ≤ 127·dim."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    for r in quantize_int8(df).collect():
        assert r["q_l1"] <= 127 * 4
        assert r["max_recon_err"] <= r["scale"] / 2 + 1e-6
        # the OUTPUT scale is 6dp-rounded (a subnormal max element shows
        # scale 0.0 with nonzero q) — gate the zero-vector law on q_l1
        if r["q_l1"] == 0:
            assert r["q_sum"] == 0 and r["max_recon_err"] == 0.0


EVENTS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 300), st.integers(-50, 50)),
    min_size=1,
    max_size=40,
)


@given(rows=EVENTS)
@settings(**_SETTINGS)
def test_gap_fill_conserves_events_and_densifies(spark, rows):
    """For ANY event set: the gap-filled grid (a) conserves each user's
    event count, (b) is hour-dense from first to last activity, and
    (c) never carries a value before one exists."""
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, t0 + datetime.timedelta(minutes=m), u, "view", float(v), None)
            for i, (u, m, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = gap_fill_hourly(df, user_cap=10).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    expect_counts: dict[int, int] = {}
    for u, m, v in rows:
        expect_counts[u] = expect_counts.get(u, 0) + 1
    assert set(by_user) == set(expect_counts)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["hour"])
        assert sum(r["n_events"] for r in rs) == expect_counts[u]
        hours = [
            datetime.datetime.strptime(r["hour"], "%Y-%m-%d %H:%M:%S") for r in rs
        ]
        for a, b in zip(hours, hours[1:]):
            assert (b - a) == datetime.timedelta(hours=1), "grid must be dense"
        # first grid hour has events by construction; carry never NULL after
        assert rs[0]["n_events"] > 0
        seen_value = False
        for r in rs:
            if r["carried_value"] is not None:
                seen_value = True
            assert not (seen_value and r["carried_value"] is None), (
                "carry must persist once a value exists"
            )


# --- chunking / SCD2 / change-feed invariants (round-2 additions) -----------

from hypothesis import HealthCheck as _HC
from hypothesis import given as _given
from hypothesis import settings as _settings
from hypothesis import strategies as _st

_DOC_LENS = _st.lists(
    _st.integers(min_value=0, max_value=400), min_size=1, max_size=12
)
_CHUNK_PARAMS = _st.tuples(
    _st.integers(min_value=2, max_value=64),  # chunk_tokens
    _st.integers(min_value=0, max_value=32),  # overlap (clamped below)
)


@_settings(max_examples=10, deadline=None, suppress_health_check=[_HC.too_slow])
@_given(lens=_DOC_LENS, params=_CHUNK_PARAMS)
def test_chunking_laws(spark, lens, params):
    """For ANY document lengths and any valid (chunk, overlap):
    per doc, chunk 0 starts at token 1; every later chunk overlaps its
    predecessor by exactly `overlap` tokens; distinct covered tokens ==
    doc length (nothing lost, nothing invented); zero-length docs emit
    nothing; every non-final chunk is full."""
    from spendinganalysisetl_spark.operators.trainprep import chunk_documents

    chunk, raw_overlap = params
    overlap = min(raw_overlap, chunk - 1)
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(1, n + 1))) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    out = sorted(
        (
            (r["doc_id"], r["chunk_id"], r["n_tokens"], r["first_token"], r["last_token"])
            for r in chunk_documents(docs, chunk, overlap).collect()
        )
    )
    by_doc: dict[int, list] = {}
    for d, cid, n, first, last in out:
        by_doc.setdefault(d, []).append((cid, n, first, last))
    stride = chunk - overlap
    for i, n_tok in enumerate(lens):
        chunks = by_doc.get(i, [])
        if n_tok == 0:
            assert chunks == []
            continue
        assert [c[0] for c in chunks] == list(range(len(chunks)))
        covered = sum(c[1] for c in chunks) - overlap * (len(chunks) - 1)
        assert covered == n_tok, "distinct covered tokens == doc length"
        assert chunks[0][2] == "t1", "chunk 0 starts at the first token"
        assert chunks[-1][3] == f"t{n_tok}", "last chunk ends at the last token"
        for cid, n, first, last in chunks[:-1]:
            assert n == chunk, "every non-final chunk is full"
        for cid, n, first, last in chunks:
            assert first == f"t{cid * stride + 1}", "chunk starts advance by stride"


_SCD_OPS = _st.lists(
    _st.tuples(
        _st.integers(min_value=1, max_value=5),  # key
        _st.integers(min_value=0, max_value=3),  # attribute value per batch
    ),
    min_size=1,
    max_size=4,
)


@_settings(max_examples=8, deadline=None, suppress_health_check=[_HC.too_slow])
@_given(batches=_st.lists(_SCD_OPS, min_size=1, max_size=3))
def test_scd2_laws(spark, batches):
    """For ANY sequence of change batches applied in order: exactly one
    open row per key ever touched; versions of a key have strictly
    increasing effective_from; every closed row's effective_to equals
    some later version's effective_from; re-applying the final batch is
    a no-op."""
    from spendinganalysisetl_spark.sources.upsert import scd2_apply

    schema = (
        "k long, val long, effective_from string, effective_to string, "
        "is_current int"
    )
    dim = spark.createDataFrame([], schema)
    batch_schema = "k long, val long, effective_from string"
    last = None
    for i, ops in enumerate(batches):
        # one change per key per batch (last write wins inside a batch)
        dedup = {}
        for k, v in ops:
            dedup[k] = v
        eff = f"2024-0{i + 1}-01"
        last = spark.createDataFrame(
            [(k, v, eff) for k, v in dedup.items()], batch_schema
        )
        dim = scd2_apply(dim, last, key=("k",), tracked=("val",))
    rows = [
        (r["k"], r["val"], r["effective_from"], r["effective_to"], r["is_current"])
        for r in dim.collect()
    ]
    by_key: dict[int, list] = {}
    for k, v, ef, et, cur in rows:
        by_key.setdefault(k, []).append((ef, et, cur, v))
    for k, versions in by_key.items():
        versions.sort()
        assert sum(1 for _, _, cur, _ in versions if cur == 1) == 1, (
            "exactly one open row per key"
        )
        assert versions[-1][2] == 1, "the newest version is the open one"
        froms = [ef for ef, _, _, _ in versions]
        assert froms == sorted(set(froms)), "strictly increasing effective_from"
        for ef, et, cur, _ in versions:
            if cur != 1:
                assert et in froms, "closed rows chain to a later version"
    # idempotence on the final batch
    again = scd2_apply(dim, last, key=("k",), tracked=("val",))
    assert sorted(
        (r["k"], r["val"], r["effective_from"], r["effective_to"], r["is_current"])
        for r in again.collect()
    ) == sorted(rows)


@given(
    t_rows=st.lists(
        st.tuples(KEYS, st.integers(1, 50), st.integers(0, 999)),
        max_size=4,
        unique_by=lambda r: r[0],
    ),
    b_rows=st.lists(
        st.tuples(KEYS, st.integers(1, 50), st.integers(0, 999)),
        max_size=4,
        unique_by=lambda r: r[0],
    ),
)
@settings(**_SETTINGS)
def test_merge_schema_evolution_laws(spark, t_rows, b_rows):
    """mergeSchema laws for any key overlap: output columns are
    target-order + batch-only appended; keys are the union; target-only
    columns survive updates and are NULL on inserts; batch-only columns
    are NULL exactly on the rows the batch did not win."""
    from pyspark.sql import functions as F

    from spendinganalysisetl_spark.sources.upsert import merge_frames

    target = spark.createDataFrame(
        [(k, n, float(v), f"note-{k}") for k, n, v in t_rows],
        "begin_date string, total_transactions long, total_spent double, old_note string",
    ).withColumn("end_date", F.concat(F.col("begin_date"), F.lit("#e")))
    batch = spark.createDataFrame(
        [(k, n, float(v), f"cur-{k}") for k, n, v in b_rows],
        "begin_date string, total_transactions long, total_spent double, currency string",
    ).withColumn("end_date", F.concat(F.col("begin_date"), F.lit("#e")))

    out = merge_frames(target, batch, evolve_schema=True).collect()
    t_map = {r[0]: r for r in t_rows}
    b_map = {r[0]: r for r in b_rows}

    cols = merge_frames(target, batch, evolve_schema=True).columns
    assert cols == [
        "begin_date", "total_transactions", "total_spent", "old_note",
        "end_date", "currency", "action",
    ]
    assert {r["begin_date"] for r in out} == set(t_map) | set(b_map)
    for r in out:
        k = r["begin_date"]
        if r["action"] == "inserted":
            assert k not in t_map and r["old_note"] is None
            assert r["currency"] == f"cur-{k}"
        elif r["action"] == "updated":
            assert b_map[k][1] > t_map[k][1], "update requires growth"
            assert r["old_note"] == f"note-{k}", "target-only col survives"
            assert r["currency"] == f"cur-{k}"
        elif r["action"] == "kept":
            assert r["old_note"] == f"note-{k}"
            assert r["currency"] is None, "batch-only col NULL when batch lost"


# --- int64-overflow sweep at documented bounds (VERDICT r5 ask #5) ----------
# Every exact-integer operator multiplies BIGINTs somewhere; under ANSI
# mode an overflow aborts the whole report, but only on data that
# reaches it — so each value-bearing operator gets a planted
# extreme-but-legal fixture at its documented bound, asserted against
# exact Python integers. Count-only expressions (CMS bsum, the Jaccard
# numerator 10000·support, mixture weights 10000·Σn_d) are sums or
# single 10⁴ multiplies over row COUNTS — they cannot overflow below
# ~9·10¹⁴ input rows and carry docstring bounds instead of fixtures.


def test_recurring_cv2_survives_extreme_but_legal_gaps(spark):
    """~10⁴ distinct order dates with bimodal gaps (1 day / 579 days,
    total span inside the date type's range): the CV² numerator
    10000·n·(n·Σg²−(Σg)²) reaches ~8·10²⁰ — far past int64 — and must
    come back as the exact Python-int value via the DECIMAL(38,0)
    promotion, not ANSI-abort."""
    import datetime

    from spendinganalysisetl_spark.operators.timeseries import (
        recurring_customers,
    )

    gaps = [1 if i % 2 == 0 else 579 for i in range(10_000)]
    d = datetime.date(1, 1, 1)
    rows = [(7, d)]
    for g in gaps:
        d += datetime.timedelta(days=g)
        rows.append((7, d))
    # small sanity customer: weekly for 5 weeks, cv2 = 0
    rows += [
        (8, datetime.date(2020, 1, 1) + datetime.timedelta(days=7 * i))
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "o_custkey long, o_orderdate date")
    got = {
        r["custkey"]: (r["n_dates"], r["mean_gap_days"], r["cv2_bp"])
        for r in recurring_customers(df, 10).collect()
    }
    n, s, q = len(gaps), sum(gaps), sum(g * g for g in gaps)
    assert 10000 * n * (n * q - s * s) > 2**63, "fixture must exceed int64"
    want = (10000 * n * (n * q - s * s)) // ((n - 1) * s * s)
    assert got[7] == (n + 1, s // n, want)
    assert got[8] == (5, 7, 0)


def test_ewma_forecast_survives_warehouse_scale_values(spark):
    """Monthly values ~5·10¹⁵ decimicents (a $500 B month — legal for a
    whole-priority rollup at warehouse scale): weight·value passes
    int64 at the 2¹¹ top weight; the DECIMAL(38,0) promotion must
    return the exact integer forecast."""
    from spendinganalysisetl_spark.operators.timeseries import ewma_forecast

    vals = [5_000_000_000_000_000 + 31 * i for i in range(12)]
    rows = [(f"2024-{m + 1:02d}", "K", v) for m, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "period string, name string, amount long")
    out = ewma_forecast(df, "name", "period", "amount", window=12).collect()
    assert len(out) == 1
    # rn=1 is the NEWEST period (2024-12) with weight 2^11
    weights = [2 ** (12 - rn) for rn in range(1, 13)]
    ordered = list(reversed(vals))  # newest first
    assert max(w * v for w, v in zip(weights, ordered)) > 2**63
    wsum = sum(w * v for w, v in zip(weights, ordered))
    wtot = sum(weights)
    r = out[0]
    assert (r["n_periods"], r["last_value"], r["forecast"]) == (
        12,
        vals[-1],
        wsum // wtot,
    )


def test_welch_report_survives_extreme_metric_values(spark):
    """Metric values ~10⁷ (the planted 'price ~1e7' bound): decimicents
    ~10¹¹, so each squared term is ~10²² — the r5 DECIMAL(38,0) fix
    must keep sizes and exact integer means right (t checked to 4dp)."""
    import hashlib

    from spendinganalysisetl_spark.operators.experiments import ab_welch_report

    def variant(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:7], 16) % 2

    uids = list(range(1, 41))
    rows = [
        (u, "buy", 10_000_000.0 + 17 * u + (1000.0 if variant(u) else 0.0))
        for u in uids
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, value double")
    out = ab_welch_report(df, "user_id", "value", "event_type").collect()
    assert len(out) == 1
    r = out[0]
    a = [int(v * 10000 + 0.5) for u, _, v in rows if variant(u) == 0]
    b = [int(v * 10000 + 0.5) for u, _, v in rows if variant(u) == 1]
    assert max(x * x for x in a + b) > 2**63, "fixture must exceed int64"
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert r["mean_a_decimicents"] == sum(a) // len(a)
    assert r["mean_b_decimicents"] == sum(b) // len(b)
    na, nb, sa, sb = len(a), len(b), sum(a), sum(b)
    qa, qb = sum(x * x for x in a), sum(x * x for x in b)
    t = (sa / na - sb / nb) / (
        ((na * qa - sa * sa) / (na * (na - 1) * na))
        + ((nb * qb - sb * sb) / (nb * (nb - 1) * nb))
    ) ** 0.5
    assert abs(r["t_stat"] - round(t, 4)) < 1e-9


def test_gini_survives_whale_segment(spark):
    """10⁴ customers at ~10⁷ per order: Σi·x ≈ 5·10¹⁸ and 2·Σi·x passes
    int64 — the DECIMAL(38,0) rank·revenue promotion must return the
    exact integer Gini."""
    from spendinganalysisetl_spark.operators.report import revenue_concentration

    n = 10_000
    orders = spark.createDataFrame(
        [(i, 10_000_000.0 + i) for i in range(1, n + 1)],
        "o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(i, "WHALES") for i in range(1, n + 1)],
        "c_custkey long, c_mktsegment string",
    )
    out = revenue_concentration(orders, customer).collect()
    assert len(out) == 1
    xs = sorted(int((10_000_000.0 + i) * 10000 + 0.5) for i in range(1, n + 1))
    six = sum(i * x for i, x in enumerate(xs, start=1))
    sx = sum(xs)
    assert 2 * six > 2**63, "fixture must exceed int64"
    want = (10000 * (2 * six - (n + 1) * sx)) // (n * sx)
    r = out[0]
    assert (r["n_customers"], r["revenue_decimicents"], r["gini_bp"]) == (
        n,
        sx,
        want,
    )


# --- duplicate_token_spans ≡ pure-Python reference ---------------------------

_SPAN_TOKENS = st.sampled_from(list("abcd"))
_SPAN_DOC = st.lists(_SPAN_TOKENS, min_size=0, max_size=14)


def _ref_spans(texts: list[str], n: int, min_docs: int):
    """Independent single-node reimplementation: df over distinct docs
    per gram, dup window positions, gaps-and-islands merge."""
    toked = {i: t.split() for i, t in enumerate(texts)}
    df: dict[tuple, set] = {}
    for i, toks in toked.items():
        for p in range(len(toks) - n + 1):
            df.setdefault(tuple(toks[p : p + n]), set()).add(i)
    out = []
    for i, toks in sorted(toked.items()):
        dup = [
            p
            for p in range(len(toks) - n + 1)
            if len(df[tuple(toks[p : p + n])]) >= min_docs
        ]
        start = prev = None
        cnt = 0
        for p in dup:
            if start is None or p > prev + n:
                if start is not None:
                    out.append((i, start, prev + n, prev + n - start, cnt))
                start, cnt = p, 0
            prev = p
            cnt += 1
        if start is not None:
            out.append((i, start, prev + n, prev + n - start, cnt))
    return out


@given(docs=st.lists(_SPAN_DOC, min_size=0, max_size=6), n=st.integers(2, 4))
@settings(**_SETTINGS)
def test_duplicate_token_spans_matches_reference(spark, docs, n):
    """The distributed span report over a tiny alphabet (collision-rich
    by construction) must equal the pure-Python reference for ANY corpus
    and gram size: dup membership (df counts DISTINCT docs), island
    merging (gap > n splits), counts, and span arithmetic."""
    from spendinganalysisetl_spark.operators.trainprep import (
        duplicate_token_spans,
    )

    texts = [" ".join(d) for d in docs]
    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    got = [
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"], r["n_dup_grams"])
        for r in duplicate_token_spans(df, n=n, min_docs=2).collect()
    ]
    assert got == _ref_spans(texts, n, 2)
