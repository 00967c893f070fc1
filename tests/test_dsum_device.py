"""The dsum three-band determinism device (kse/queries/_util.py).

Round-5 advisor finding: the old device fell back to a plain IEEE double
sum for ANY |x| > 9e9, including huge-but-FINITE values whose group sum
does not overflow — there the result is order-dependent under Spark's
partial aggregation and need not bit-match DuckDB's sequential sum. The
fix adds an exact micro/unit band for finite 9e9..9e15 (carried in two
BIGINT channels, combined in DECIMAL(38,0) once per group) and restricts
the plain-IEEE fallback to non-finite / absorption-band groups.

These tests pin the device head-to-head against its SQL twin on BOTH
engines (DuckDB oracle AND spark.sql of the same text — the device is
dialect-shared), in every form a query uses it (plain, window frame,
DISTINCT, FILTER, salted two-stage, unit scale, DECIMAL-accumulating,
DECIMAL total), across repartitionings (order independence), for every
band and boundary, including the decimal->double 2^53 split that works
around DuckDB's misrounded int128->double cast.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kse import registry
from kse.queries._util import (
    Bands,
    agg_bands,
    agg_bands_sql,
    band_decimal,
    band_decimal_sql,
    band_total,
    band_total_sql,
    bands,
    bands_sql,
    dsum,
    dsum_expr,
    dsum_sql,
)

from .conftest import SF_T2

CASES = {
    "hot": [0.5, 123.45, -67.89, 0.000001],
    "hot_edge": [9.0e9, -9.0e9],
    "wide_mid": [1e10 + 0.25, -7.25e10, 3.5, 0.125],
    "wide_unit": [5.0e14, 9.0e12 + 1024.0, -2.5e13, 42.5],
    "mixed_wide": [8.999e9, 9.001e9, 9.001e12, 1.5, None],
    # the advisor's case: one 1e10 among small values — old device was
    # order-dependent here, new device is exact (10000000001.3)
    "advisor": [1e10, 0.1, 0.2, 0.3, 0.7],
    # group total past 2^53 micro units: exercises the split conversion
    "big_total": [8.9e15, 8.9e15, 8.9e15, 0.125],
    "nan": [float("nan"), 1.0, 2.0],
    "inf": [float("inf"), -5.0],
    "neg_inf_pair": [float("inf"), float("-inf"), 3.0],
    "huge_finite": [1.5e308, 2.0, -3.0],
    "absorb": [9.1e15, 1.0],
    "nulls": [None, None],
    "only_wide": [None, 4.2e13],
    "band_edges": [-9.0e9, 9.0e9, -9.0e12, 9.0e12, -9.0e15, 9.0e15],
    "neg_total": [-5.0e14, -9.0e12 - 1024.0, 2.5e13, -42.5],
    "neg_zero": [-0.0, 0.0],
    "denormal": [5e-324, -2.5e-308, 1.0],
    # wide values whose truncation and rounding differ (floor(x) vs
    # floor(x+0.5) in the unit-scale wide band)
    "wide_frac": [1e10 + 0.75, -1e10 - 0.75],
    # hot-band total past 2^53 micro units (1.8e16 + 125000)
    "hot_past_2_53": [9.0e9, 9.0e9, 0.125],
    # mid-band value whose micro remainder rounds up to a whole unit
    "mid_round_up": [1e10 + 0.9999996],
    # a wide row's micro remainder (250000) equals a hot row's micro
    # value: a DISTINCT sum must keep both
    "distinct_remainder": [1e10 + 0.25, 0.25, 0.25],
}


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b


# (g, i, x): i is a global row index, the window forms' order key
ROWS = [
    (g, i, v)
    for i, (g, v) in enumerate((g, v) for g, vals in CASES.items() for v in vals)
]


@pytest.fixture(scope="module")
def band_df(spark):
    return spark.createDataFrame(ROWS, "g string, i int, x double")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE dsum_tt (g VARCHAR, i INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO dsum_tt VALUES (?, ?, ?)", ROWS)
    yield con
    con.close()


def _spark_results(band_df, npart):
    rows = (
        band_df.repartition(npart)
        .groupBy("g")
        .agg(dsum(F.col("x"), "s"))
        .collect()
    )
    return {r.g: r.s for r in rows}


def test_dsum_order_independent_across_partitionings(band_df):
    base = _spark_results(band_df, 1)
    for npart in (3, 16):
        got = _spark_results(band_df, npart)
        for g in base:
            assert _same(base[g], got[g]), (g, base[g], got[g])


def _window_form(df):
    w = Window.partitionBy("g").orderBy("i").rowsBetween(-2, Window.currentRow)
    frame = agg_bands(bands(F.col("x")))
    return df.select("g", "i", band_total(Bands(*(a.over(w) for a in frame))))


def _salted_form(df):
    parts = [f"p_{k}" for k in Bands._fields]
    partial = df.groupBy("g", (F.col("i") % 3).alias("salt")).agg(
        *(a.alias(n) for a, n in zip(agg_bands(bands(F.col("x"))), parts))
    )
    return partial.groupBy("g").agg(band_total(Bands(*(F.sum(n) for n in parts))))


def _pivot_form(df):
    cells = (
        df.withColumn("par", F.col("i") % 2)
        .groupBy("g")
        .pivot("par", [0])
        .agg(dsum_expr(F.col("x")))
    )
    return cells.select("g", "`0`")


def _grouped(device):
    return lambda df: df.groupBy("g").agg(device(F.col("x")))


def _per_g(expr: str) -> str:
    return f"SELECT g, {expr} AS s FROM dsum_tt GROUP BY g"


_EXACT = agg_bands_sql(bands_sql("x"), exact=True)

# form -> (DataFrame form over band_df, its SQL twin over dsum_tt); each
# yields (key columns..., value)
FORMS = {
    "plain": (_grouped(dsum_expr), _per_g(dsum_sql("x"))),
    "window_frame": (
        _window_form,
        f"SELECT g, i, {dsum_sql('x', over='w')} AS s FROM dsum_tt "
        "WINDOW w AS (PARTITION BY g ORDER BY i "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
    ),
    "distinct": (
        _grouped(lambda x: dsum_expr(x, distinct=True)),
        _per_g(dsum_sql("x", distinct=True)),
    ),
    "filter_pivot_cell": (_pivot_form, _per_g(dsum_sql("x", "i % 2 = 0"))),
    "salted_two_stage": (_salted_form, _per_g(dsum_sql("x"))),
    "unit_truncating": (
        _grouped(lambda x: band_total(agg_bands(bands(x, unit=True)), scale=1.0)),
        _per_g(band_total_sql(agg_bands_sql(bands_sql("x", unit=True)), scale=1.0)),
    ),
    "decimal_hot_band": (
        _grouped(lambda x: band_total(agg_bands(bands(x), exact=True), exact=True)),
        _per_g(band_total_sql(_EXACT, exact=True)),
    ),
    "decimal_total": (
        _grouped(lambda x: band_decimal(agg_bands(bands(x), exact=True))),
        _per_g(band_decimal_sql(_EXACT)),
    ),
}


def _by_key(rows):
    return {tuple(r)[:-1]: tuple(r)[-1] for r in rows}


@pytest.mark.parametrize("form", list(FORMS))
def test_dsum_matches_duckdb_oracle_per_band(spark, band_df, duck, form):
    """Each form of the device agrees bit-for-bit, per band and boundary
    case, with its SQL twin run on DuckDB and on spark.sql."""
    column_form, sql = FORMS[form]
    got = _by_key(column_form(band_df.repartition(7)).collect())
    band_df.createOrReplaceTempView("dsum_tt")
    for engine, rows in (
        ("duckdb", duck.execute(sql).fetchall()),
        ("spark.sql", spark.sql(sql).collect()),
    ):
        want = _by_key(rows)
        assert got.keys() == want.keys(), (engine, got.keys() ^ want.keys())
        for k in got:
            assert _same(got[k], want[k]), (engine, k, got[k], want[k])
    if form == "plain":
        # the advisor's case lands on the exact value, not an IEEE association
        assert got[("advisor",)] == 10000000001.3


def test_dsum_sql_text_is_dialect_shared(spark, band_df):
    """The generated device text runs on Spark SQL itself and agrees with
    the DataFrame expression bit-for-bit (SQL-path queries interpolate
    the same text into Spark-executed statements)."""
    band_df.createOrReplaceTempView("dsum_tt")
    via_sql = {
        r.g: r.s
        for r in spark.sql(
            f"SELECT g, {dsum_sql('x')} AS s FROM dsum_tt GROUP BY g"
        ).collect()
    }
    via_api = _spark_results(band_df, 5)
    for g in via_api:
        assert _same(via_api[g], via_sql[g]), (g, via_api[g], via_sql[g])


def test_dsum_sql_filter_variant(spark, band_df):
    """FILTER (WHERE ...) threads through every aggregate in the device
    (the pivot-cell form)."""
    band_df.createOrReplaceTempView("dsum_tt")
    filt = dsum_sql("x", "g = 'advisor'")
    got = spark.sql(f"SELECT {filt} AS s FROM dsum_tt").collect()[0].s
    assert got == 10000000001.3
    con = duckdb.connect()
    con.execute("CREATE TABLE tt (g VARCHAR, x DOUBLE)")
    con.executemany(
        "INSERT INTO tt VALUES (?, ?)",
        [(g, v) for g, vals in CASES.items() for v in vals],
    )
    assert con.execute(f"SELECT {filt} FROM tt").fetchone()[0] == got


def test_dsum_overflow_raises_never_wraps(spark):
    """The documented bound: 1,024 rows at the band edge (9e15) sum
    exactly; the 1,025th takes the BIGINT ``units`` sum past 2^63-1, and
    Spark must raise ARITHMETIC_OVERFLOW (ANSI) rather than wrap or turn
    the group NULL."""
    edge = spark.range(1024).select(F.lit(9.0e15).alias("x"))
    got = edge.agg(dsum(F.col("x"), "s")).collect()[0].s
    want = duckdb.sql(
        f"SELECT {dsum_sql('x')} FROM (SELECT 9.0e15::DOUBLE AS x FROM range(1024))"
    ).fetchone()[0]
    assert got == want == 9.216e18
    over = spark.range(1025).select(F.lit(9.0e15).alias("x"))
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        over.agg(dsum(F.col("x"), "s")).collect()


def test_exact_form_past_2_64_micro_units(spark):
    """``exact=True`` converts a hot-band DECIMAL total past 2^64 micro
    units through the 2^53 split on both engines. This total is one that
    DuckDB's direct int128->double cast misrounds, so a twin that casts
    straight to double diverges here (the column form cannot show it:
    Spark's own DECIMAL->double cast is correctly rounded)."""
    rows = [9.0e9] * 2100 + [130864196.470804]
    micro = sum(math.floor(v * 1e6 + 0.5) for v in rows)
    assert micro >= 2**64
    want = float(micro) / 1e6
    df = spark.createDataFrame([(v,) for v in rows], "x double")
    column = band_total(agg_bands(bands(F.col("x")), exact=True), exact=True)
    assert df.agg(column.alias("s")).collect()[0].s == want
    sql = band_total_sql(agg_bands_sql(bands_sql("x"), exact=True), exact=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE big_tt (x DOUBLE)")
    con.executemany("INSERT INTO big_tt VALUES (?)", [(v,) for v in rows])
    assert con.execute(f"SELECT {sql} FROM big_tt").fetchone()[0] == want
    df.createOrReplaceTempView("big_tt")
    assert spark.sql(f"SELECT {sql} AS s FROM big_tt").collect()[0].s == want


def _plan_nodes(p):
    """Every node of an executed plan, through AQE wrappers and query
    stages (which the plain ``children`` walk stops at)."""
    if p.nodeName() == "AdaptiveSparkPlan":
        yield from _plan_nodes(p.executedPlan())
        return
    yield p
    if p.getClass().getSimpleName().endswith("QueryStageExec"):
        yield from _plan_nodes(p.plan())
        return
    kids = p.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_flagship_partial_aggregate_has_no_decimal_buffer(spark):
    """q_agg_groupby's map-side HashAggregate holds four aggregates per
    dsum (4 sums) plus 3 avg and 1 count = 20 functions, and no
    DECIMAL(38,0) buffer: the wide band rides in BIGINT channels and
    meets DECIMAL only in the final per-group projection."""
    df = registry.all_queries()["q_agg_groupby"].fn(spark, SF_T2)
    df.collect()
    partial = [
        n
        for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName() == "HashAggregate"
        and n.aggregateExpressions().apply(0).mode().toString() == "Partial"
    ]
    assert len(partial) == 1
    agg = partial[0]
    assert agg.aggregateExpressions().size() == 20
    buf = agg.aggregateBufferAttributes()
    types = {buf.apply(i).dataType().simpleString() for i in range(buf.size())}
    assert "decimal(38,0)" not in types, types
