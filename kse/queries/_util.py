"""Shared helpers for query builders.

Oracle-parity rules used across all modules (SURVEY.md §7.6):

- Per-row scalar arithmetic on the same parquet values is bitwise identical
  between Spark and DuckDB (same IEEE-754 ops) — no rounding needed.
- Aggregation ORDER is engine-dependent, so double sums/avgs carry float
  association error ~1e-10 relative. Round sums of large magnitudes to 1 dp
  (quantum >> error), averages to 4-6 dp.
- DuckDB sums of integers produce HUGEINT — oracles must CAST(... AS BIGINT)
  to match Spark's LongType.
- Timestamps never appear raw in outputs: cast to epoch microseconds
  (Spark ``unix_micros`` under a UTC session == DuckDB ``epoch_us``) or to
  ISO date strings.
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kse.catalog import load, register_views


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table for a query builder."""
    return load(spark, sf_dir, name)


def sql_q(spark: SparkSession, sf_dir: str, sql: str, tables: list[str]) -> DataFrame:
    """SQL-path entry (SURVEY.md §3.2): register the needed tables as temp
    views under their canonical names and run Spark SQL. Used where the
    DataFrame API lacks a construct (GROUPING SETS) or where SQL is simply
    the clearer expression; the text is kept DuckDB-compatible when the
    dialects agree so the oracle can be byte-identical."""
    register_views(spark, sf_dir, tables)
    return spark.sql(sql)


# the micro-unit device's own exactness bound (see dsum): a BIGINT sum
# of floor(x*1e6) values stays exact (and round-trips the final double
# division) while each |x| <= ~9e9 and the group total stays under 2^53
# micro-units. Finite values beyond that take the wide DECIMAL/HUGEINT
# band (see dsum); only non-finite or absorption-band (> ~9e15) rows
# send the whole group down the plain IEEE path.
_MICRO_SAFE = 9.0e9
MICRO_SAFE_SQL = "BETWEEN -9000000000.0 AND 9000000000.0"

# wide-band bounds (see dsum): |x| <= 9e12 keeps floor(x*1e6) inside
# BIGINT (9.0000005e18 < 2^63-1 = 9.223e18), |x| <= 9e15 keeps the
# unit-scale floor(x) inside BIGINT with 1e6 headroom for the decimal
# re-scale. Spelled as literals so oracle guards mirror them textually.
_MID_SAFE = 9.0e12
MID_SAFE_SQL = "BETWEEN -9000000000000.0 AND 9000000000000.0"
_WIDE_SAFE = 9.0e15
WIDE_SAFE_SQL = "BETWEEN -9000000000000000.0 AND 9000000000000000.0"
_TWO53 = 9007199254740992  # 2^53 — the decimal->double split quantum
_DEC = "decimal(38,0)"


def micro_exact(c: Column) -> Column:
    """True when x is exactly representable in the micro-unit device's
    domain, false for huge-magnitude/NaN/±Inf, NULL for NULL.

    ``between`` gives all three in one comparison: NaN fails ``>=`` so
    between is false, huge values and ±Inf fall outside the bound, and
    NULL propagates. The identical predicate spells the same in DuckDB
    (MICRO_SAFE_SQL), so oracle guards can mirror it textually."""
    return c.between(-_MICRO_SAFE, _MICRO_SAFE)


def dsum(c: Column, alias: str) -> Column:
    """Order-independent, cross-engine-exact sum of a double expression.

    Rounding a float sum is boundary-fragile: Spark and DuckDB accumulate
    in different orders, so sums differ by ~1e-9 relative and any rounding
    quantum occasionally straddles a boundary (observed in practice).
    Instead: scale each value to integer micro-units (floor(x*1e6+0.5), positive values — the
    testdata values are 2-dp-like, so products of up to three factors are
    exactly 6-dp and the scaling is exact), sum as BIGINT (exact, order-
    independent, and ~2x faster than DECIMAL aggregation — profiled), then
    divide back in double. Bit-for-bit equal on both engines while the
    integer sum stays under 2^53 (~9e9 in value terms — true at every test
    sf; at genuine 100 TB scale switch the scale factor or report DECIMAL).

    The micro-unit path is defined only on FINITE doubles: Spark's
    ``floor(double)`` is a silent saturating java cast, so ``floor(Inf)``
    becomes Long.MAX and ``floor(NaN)`` becomes **0** — NaN rows would
    silently vanish from the sum (found by the ``--extreme`` parity
    battery). Three bands:

    - ``|x| <= 9e9``: the hot path above — BIGINT micro units.
    - ``9e9 < |x| <= 9e15`` finite: the wide band. A plain IEEE fallback
      here would be order-dependent under Spark's partial aggregation
      (one 1e10 among small values rounds differently per association,
      flagged by the round-5 advisor), so these groups sum exactly in
      DECIMAL(38,0) micro units instead: ``floor(x*1e6+0.5)`` while that
      stays inside BIGINT (|x| <= 9e12), unit-scale ``floor(x+0.5)*1e6``
      above it (micro precision is already below one double ulp there).
    - any NaN/±Inf or ``|x| > 9e15`` in the group: plain IEEE double sum.
      Inf/NaN propagation is order-independent, and beyond ~9e15 a huge
      value absorbs small addends in any association order, so the
      remaining order sensitivity is confined to groups of multiple
      comparable >9e15 values — documented out-of-domain (report DECIMAL
      inputs if you genuinely sum astronomic doubles).

    The device is two pieces, each with a SQL-text twin, and this module
    is the only place that knows the bands: ``bands``/``bands_sql`` split
    a row into five channels, ``band_total``/``band_total_sql`` combine
    the aggregated channels into the final double (``band_decimal`` /
    ``band_decimal_sql`` into the exact DECIMAL(38,0) total instead).
    Every form is a caller's choice of aggregate over the channels:

    - plain: ``dsum``/``dsum_expr`` — ``dsum_sql(x)``;
    - window frame: each ``agg_bands`` aggregate ``.over(w)`` —
      ``dsum_sql(x, over="w")`` (q_win_sliding_frame);
    - DISTINCT: ``agg_bands(b, F.sum_distinct)`` —
      ``dsum_sql(x, distinct=True)`` (q_agg_distinct);
    - FILTER / pivot cell: ``dsum_expr`` under ``pivot`` —
      ``dsum_sql(x, filter_sql)`` (q_agg_pivot);
    - salted two-stage: ``agg_bands`` per (key, salt), ``F.sum`` of each
      partial channel per key, then ``band_total`` — ``dsum_sql(x)``
      (q_agg_skew_salted);
    - unit-scale truncating: ``bands(c, unit=True)`` and
      ``band_total(s, scale=1.0)`` (q_tpch_q1's sum_qty);
    - DECIMAL-accumulating hot band: ``agg_bands(b, exact=True)`` and
      ``band_total(s, exact=True)`` — exact past 2^63 micro units
      (q_agg_groupby_wide);
    - DECIMAL total: ``band_decimal(agg_bands(b, exact=True))``, the
      exact total with out-of-domain rows left out (q_agg_pareto's rank
      key).
    """
    return dsum_expr(c).alias(alias)


class Bands(NamedTuple):
    """The device's five channels (see ``dsum``): per row from ``bands``
    / ``bands_sql``, or aggregated by the caller. Columns on the
    DataFrame side, SQL text on the oracle side."""

    hot: Any  # hot-band units (BIGINT); NULL outside |x| <= 9e9
    wide: Any  # wide-band micro units (DECIMAL(38,0)); NULL outside it
    plain: Any  # x itself: the IEEE channel for out-of-domain groups
    bad: Any  # 1 for NaN, ±Inf or |x| > 9e15, else NULL (counted)
    nwide: Any  # 1 for finite 9e9 < |x| <= 9e15, else NULL (counted)


def bands(c: Column, unit: bool = False) -> Bands:
    """Per-row channels of ``c``. The quantiser is the rounded micro unit
    ``floor(x*1e6+0.5)``, or with ``unit`` the truncated unit ``floor(x)``
    (whose wide band fits BIGINT per value, so it needs no mid split)."""
    in_domain = c.between(-_WIDE_SAFE, _WIDE_SAFE)
    in_wide = in_domain & ~micro_exact(c)
    if unit:
        hot = F.floor(c)
        wide = F.when(in_wide, F.floor(c).cast(_DEC))
    else:
        hot = F.floor(c * 1000000.0 + 0.5)
        in_mid = c.between(-_MID_SAFE, _MID_SAFE) & ~micro_exact(c)
        in_unit = in_domain & ~c.between(-_MID_SAFE, _MID_SAFE)
        wide = F.when(in_mid, F.floor(c * 1000000.0 + 0.5).cast(_DEC)).when(
            in_unit, F.floor(c + 0.5).cast(_DEC) * 1000000
        )
    return Bands(
        F.when(micro_exact(c), hot),
        wide,
        c,
        F.when(~in_domain, F.lit(1)),
        F.when(in_wide, F.lit(1)),
    )


def agg_bands(
    b: Bands, total: Callable[[Column], Column] = F.sum, exact: bool = False
) -> Bands:
    """Group aggregates of per-row channels: ``total`` (``F.sum``,
    ``F.sum_distinct``) over the three value channels, a plain count over
    the two flags. ``exact`` accumulates the hot band in DECIMAL(38,0)."""
    hot = b.hot.cast(_DEC) if exact else b.hot
    return Bands(
        total(hot), total(b.wide), total(b.plain), F.count(b.bad), F.count(b.nwide)
    )


def band_total(s: Bands, scale: float = 1000000.0, exact: bool = False) -> Column:
    """Aggregated channels -> the final double: the plain IEEE sum when
    the group holds an out-of-domain value, the exact hot+wide DECIMAL
    total through the 2^53 split when it holds a wide-band value, else
    the hot sum divided by ``scale`` (1e6 for micro units, 1.0 for unit
    scale). ``exact``: ``s.hot`` is a DECIMAL sum, which also converts
    through the split."""
    if exact:
        hot = dec_to_double(s.hot, scale)
    elif scale != 1.0:
        hot = s.hot / scale
    else:
        hot = s.hot.cast("double")
    total = F.coalesce(s.hot.cast(_DEC), F.lit(0).cast(_DEC)) + s.wide
    return (
        F.when(s.bad > 0, s.plain)
        .when(s.nwide > 0, dec_to_double(total, scale))
        .otherwise(hot)
    )


def band_decimal(s: Bands) -> Column:
    """Aggregated channels -> the exact DECIMAL(38,0) hot+wide total in
    micro units (NULL when both bands are). Out-of-domain rows are left
    out on both engines: a plain-sum fallback would make a ranking on
    this total engine-dependent."""
    zero = F.lit(0).cast(_DEC)
    return F.when(s.hot.isNull() & s.wide.isNull(), F.lit(None)).otherwise(
        F.coalesce(s.hot, zero) + F.coalesce(s.wide, zero)
    )


def dec_to_double(total: Column, scale: float = 1000000.0) -> Column:
    """Exact-decimal total -> double value (dividing by ``scale``).

    decimal -> double goes via a 2^53 quotient/remainder split: DuckDB's
    int128->double cast is not correctly rounded past 2^53 (measured:
    484000000001066500000 casts to ...66.56 there vs ...66.44 in the
    JVM), so a direct CAST(total AS DOUBLE) would diverge by 1 ulp.
    Both split parts are exactly representable doubles (remainder
    < 2^53; the complement has its low 53 bits zero), and the single
    IEEE add + divide round identically on both engines."""
    mod = total % _TWO53
    recon = (total - mod).cast("double") + mod.cast("double")
    return recon / scale if scale != 1.0 else recon


def dec_to_double_sql(total: str, scale: float = 1000000.0) -> str:
    """SQL twin of ``dec_to_double`` (dialect-shared)."""
    recon = (
        f"(CAST(({total}) - (({total}) % {_TWO53}) AS DOUBLE) "
        f"+ CAST(({total}) % {_TWO53} AS DOUBLE))"
    )
    return f"{recon} / {scale!r}" if scale != 1.0 else recon


def dsum_expr(c: Column) -> Column:
    """Unaliased ``dsum`` — for call sites that derive further columns
    from the exact sum (averages, ratios) before naming them."""
    return band_total(agg_bands(bands(c)))


def bands_sql(x: str, unit: bool = False) -> Bands:
    """SQL twin of ``bands`` (dialect-shared)."""
    in_wide = f"({x} {WIDE_SAFE_SQL}) AND NOT ({x} {MICRO_SAFE_SQL})"
    if unit:
        hot = f"CAST(floor({x}) AS BIGINT)"
        wide = f"CASE WHEN {in_wide} THEN CAST(floor({x}) AS DECIMAL(38,0)) END"
    else:
        hot = f"CAST(floor({x} * 1000000 + 0.5) AS BIGINT)"
        wide = (
            f"CASE WHEN ({x} {MID_SAFE_SQL}) AND NOT ({x} {MICRO_SAFE_SQL}) "
            f"THEN CAST(floor({x} * 1000000 + 0.5) AS DECIMAL(38,0)) "
            f"WHEN ({x} {WIDE_SAFE_SQL}) AND NOT ({x} {MID_SAFE_SQL}) "
            f"THEN CAST(floor({x} + 0.5) AS DECIMAL(38,0)) * 1000000 END"
        )
    return Bands(
        f"CASE WHEN ({x} {MICRO_SAFE_SQL}) THEN {hot} END",
        wide,
        x,
        f"CASE WHEN NOT ({x} {WIDE_SAFE_SQL}) THEN 1 END",
        f"CASE WHEN {in_wide} THEN 1 END",
    )


def agg_bands_sql(
    b: Bands,
    filter_sql: str = "",
    over: str = "",
    distinct: bool = False,
    exact: bool = False,
) -> Bands:
    """SQL twin of ``agg_bands``. ``filter_sql`` (e.g. ``"l_linestatus =
    'F'"``) appends ``FILTER (WHERE ...)`` to every aggregate for
    pivot-style conditional cells; ``over`` (e.g. ``"w"``) appends
    ``OVER w`` for the window-frame form; ``distinct`` makes each value
    sum a DISTINCT sum (the bands partition the value space, so per-band
    distinct sums add up to the global distinct sum)."""
    f = f" FILTER (WHERE {filter_sql})" if filter_sql else ""
    f += f" OVER {over}" if over else ""
    d = "DISTINCT " if distinct else ""
    hot = f"CAST({b.hot} AS DECIMAL(38,0))" if exact else b.hot
    return Bands(
        f"sum({d}{hot}){f}",
        f"sum({d}{b.wide}){f}",
        f"sum({d}{b.plain}){f}",
        f"count({b.bad}){f}",
        f"count({b.nwide}){f}",
    )


def band_total_sql(s: Bands, scale: float = 1000000.0, exact: bool = False) -> str:
    """SQL twin of ``band_total``. The unguarded CAST of a non-finite or
    absorption-band value would throw in DuckDB where Spark's floor
    silently saturates (same totality gap, opposite failure mode), which
    is why those groups take the plain sum."""
    if exact:
        hot = dec_to_double_sql(s.hot, scale)
    elif scale != 1.0:
        hot = f"CAST({s.hot} AS BIGINT) / {scale!r}"
    else:
        hot = f"CAST(CAST({s.hot} AS BIGINT) AS DOUBLE)"
    total = f"(COALESCE(CAST({s.hot} AS DECIMAL(38,0)), 0) + {s.wide})"
    return (
        f"CASE WHEN {s.bad} > 0 THEN {s.plain} "
        f"WHEN {s.nwide} > 0 THEN {dec_to_double_sql(total, scale)} "
        f"ELSE {hot} END"
    )


def band_decimal_sql(s: Bands) -> str:
    """SQL twin of ``band_decimal``."""
    return (
        f"CASE WHEN {s.hot} IS NULL AND {s.wide} IS NULL THEN NULL "
        f"ELSE COALESCE({s.hot}, 0) + COALESCE({s.wide}, 0) END"
    )


def dsum_sql(x: str, filter_sql: str = "", over: str = "", distinct: bool = False) -> str:
    """SQL twin of ``dsum``, in the dialect SHARED by Spark and DuckDB so
    the same text serves both SQL-path queries and DuckDB oracles; the
    keyword arguments pick the aggregate form (see ``agg_bands_sql``)."""
    return band_total_sql(agg_bands_sql(bands_sql(x), filter_sql, over, distinct))


def dround(c: Column, n: int) -> Column:
    """Deterministic n-dp rounding of an ENGINE-IDENTICAL double.

    round(x, n) is a parity landmine even when both engines hold the
    identical double: Spark rounds via exact BigDecimal HALF_UP while
    DuckDB scales in floating point, so a value within an ulp of a
    halfway boundary flips between them (found twice by the seeded fuzz:
    q_fn_math's cents, then ratio roundings). floor(x*10^n + 0.5) is the
    same IEEE op sequence on both engines — deterministic, and exact
    while the scaled value stays under 2^53; outside that band (which
    also catches NaN/±Inf via BETWEEN) the double cannot resolve 10^-n
    anyway and the raw value passes through.

    Use ONLY where the input double is bit-identical across engines
    (per-row scalars on stored values, ratios of exact integer/decimal
    aggregates). Where the inputs may already differ by an ulp (IEEE
    aggregate averages, corr, libm transcendentals), keep ``F.round`` —
    no device can pin diverging inputs; the rounding quantum absorbs
    the difference instead. Oracle twin: ``dround_sql``."""
    scale = float(10**n)
    bound = 9.0e15 / scale
    return F.when(
        c.between(-bound, bound), F.floor(c * scale + 0.5) / scale
    ).otherwise(c)


def dround_sql(x: str, n: int) -> str:
    """SQL twin of ``dround`` (dialect-shared)."""
    scale = float(10**n)
    bound = 9.0e15 / scale
    return (
        f"CASE WHEN ({x}) BETWEEN -{bound!r} AND {bound!r} "
        f"THEN CAST(floor(({x}) * {scale!r} + 0.5) AS BIGINT) / {scale!r} "
        f"ELSE ({x}) END"
    )


def r4(c: Column, alias: str) -> Column:
    """Average-scale double aggregate: round to 4 dp."""
    return F.round(c, 4).alias(alias)


def r6(c: Column, alias: str) -> Column:
    """Small-magnitude double (ratios, correlations): round to 6 dp."""
    return F.round(c, 6).alias(alias)


def ts_us(c: Column) -> Column:
    """Timestamp-NTZ -> epoch microseconds (bigint), matching DuckDB
    ``epoch_us``. Session timezone is pinned to UTC (kse.session) so the
    NTZ -> instant interpretation is identical."""
    return F.unix_micros(c.cast("timestamp"))


def grand_total_if_empty(
    src: DataFrame, out: DataFrame, literals: dict[str, Column]
) -> DataFrame:
    """SQL-standard empty-input grand total for grouping-sets shapes.

    ``GROUP BY GROUPING SETS (..., ())`` / ``ROLLUP`` / ``CUBE`` over an
    EMPTY relation must still emit the ``()`` grouping's row — the empty
    grouping set is a global aggregate, and a global aggregate over zero
    rows is one row (count 0, NULL sums). DuckDB and Postgres do; Spark's
    Expand-based implementation returns ZERO rows (zero-row parity battery
    find, round 6 — a rollup over a fully-filtered 100 TB partition would
    silently lose its grand-total row).

    The ``()`` row over empty input is fully determined a priori — NULL
    group keys, ``grouping() = 1`` flags, ``count = 0``, NULL sums — so no
    second pass over the data is needed: the guard aggregates ``count(1)``
    over a zero-column projection of ``src`` (column-pruned scan, footer
    row-counts only) and the WHERE filters the literal row away whenever
    the input is non-empty. ``literals`` supplies the non-NULL positions
    (grouping flags, zero counts, pinned scope labels); every other output
    column is a typed NULL.
    """
    guard = (
        src.groupBy()
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") == 0)
    )
    cols = [
        literals.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
        for f in out.schema.fields
    ]
    return out.unionByName(guard.select(*cols))
