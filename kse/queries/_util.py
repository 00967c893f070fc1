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

from typing import Any, NamedTuple

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
# micro-units. Finite values beyond that take the wide band (see dsum);
# only non-finite or absorption-band (> ~9e15) rows send the whole group
# down the plain IEEE path.
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
    Instead: scale each value to integer micro-units (floor(x*1e6+0.5) —
    the testdata values are 2-dp-like, so products of up to three factors
    are exactly 6-dp and the scaling is exact), sum as BIGINT (exact and
    order-independent), then divide back in double. Bit-for-bit equal on
    both engines while the integer sum stays under 2^53 (~9e9 in value
    terms — true at every test sf; past it the hot sum still converts
    correctly rounded on both engines, and ``exact=True`` below keeps the
    sum exact past 2^63).

    The micro-unit path is defined only on FINITE doubles: Spark's
    ``floor(double)`` is a silent saturating java cast, so ``floor(Inf)``
    becomes Long.MAX and ``floor(NaN)`` becomes **0** — NaN rows would
    silently vanish from the sum (found by the ``--extreme`` parity
    battery). Three bands:

    - ``|x| <= 9e9``: the hot path above — BIGINT micro units.
    - ``9e9 < |x| <= 9e15`` finite: the wide band. A plain IEEE fallback
      here would be order-dependent under Spark's partial aggregation
      (one 1e10 among small values rounds differently per association),
      so these groups sum exactly: ``floor(x*1e6+0.5)`` micro units while
      that stays inside BIGINT (|x| <= 9e12), unit-scale
      ``floor(x+0.5)*1e6`` above it (micro precision is already below one
      double ulp there).
    - any NaN/±Inf or ``|x| > 9e15`` in the group: plain IEEE double sum.
      Inf/NaN propagation is order-independent, and beyond ~9e15 a huge
      value absorbs small addends in any association order, so the
      remaining order sensitivity is confined to groups of multiple
      comparable >9e15 values — documented out-of-domain (report DECIMAL
      inputs if you genuinely sum astronomic doubles).

    Layout: four aggregates per sum, all BIGINT or double, so no
    DECIMAL(38,0) aggregation buffer exists on the hot path. A wide row's
    exact micro value ``q`` is split across two BIGINT channels:

    ======================  ==============================  ===============
    band                    ``hot``                         ``units``
    ======================  ==============================  ===============
    ``|x| <= 9e9``          ``q = floor(x*1e6+0.5)``        NULL
    ``9e9 < |x| <= 9e12``   ``q - floor(x)*1e6`` (exact)    ``floor(x)``
    ``9e12 < |x| <= 9e15``  0                               ``floor(x+0.5)``
    ======================  ==============================  ===============

    plus ``plain`` (x itself) and the ``bad`` count. ``sum(units) IS NOT
    NULL`` says the group holds a wide row; only then does the final
    projection build ``Σhot + Σunits·1e6`` as DECIMAL(38,0) — once per
    group, the same exact integer as a per-row DECIMAL wide sum — and
    convert it through the 2^53 split (``dec_to_double``).

    Overflow bound: each BIGINT channel value is at most ~9e15 in
    magnitude (the hot band's edge in micro units, the unit band's edge
    in units), so a group sums at least 1,024 rows at the band edge
    before a channel leaves BIGINT. Past that, ANSI mode (pinned by
    ``kse.session``) makes Spark raise ARITHMETIC_OVERFLOW: the sum fails
    loudly, it never wraps or turns NULL (DuckDB sums BIGINT into HUGEINT,
    so the oracle side never wraps either). ``exact=True`` accumulates
    both channels in DECIMAL(38,0) instead, for groups past that bound.

    Measured on ``q_agg_groupby`` (4 sums; 4 cores, 9 interleaved fresh
    executions per variant, Arrow collect), the query body's median:

    ==========================================================  =======
    variant                                                     body
    ==========================================================  =======
    five aggregates per sum, one a DECIMAL(38,0) wide sum       0.72 s
    six BIGINT aggregates per sum (wide band as BIGINT limbs)   0.58-0.70 s
    four aggregates per sum (this layout)                       0.44 s
    three aggregates per sum (no wide band at all)              0.40 s
    plain ``sum``                                               0.25 s
    ==========================================================  =======

    The cost follows the number of aggregate buffers as well as the
    byte-array DECIMAL buffer (DESIGN.md, "dsum: buffers, not limbs").

    The device is two pieces, each with a SQL-text twin, and this module
    is the only place that knows the bands: ``bands``/``bands_sql`` split
    a row into the four channels, ``band_total``/``band_total_sql``
    combine the aggregated channels into the final double
    (``band_decimal``/``band_decimal_sql`` into the exact DECIMAL(38,0)
    total instead). Every form is a caller's choice of aggregate over the
    channels:

    - plain: ``dsum``/``dsum_expr`` — ``dsum_sql(x)``;
    - window frame: each ``agg_bands`` aggregate ``.over(w)`` —
      ``dsum_sql(x, over="w")`` (q_win_sliding_frame);
    - FILTER / pivot cell: ``dsum_expr`` under ``pivot`` —
      ``dsum_sql(x, filter_sql)`` (q_agg_pivot);
    - salted two-stage: ``agg_bands`` per (key, salt), ``F.sum`` of each
      partial channel per key, then ``band_total`` — ``dsum_sql(x)``
      (q_agg_skew_salted);
    - unit-scale truncating: ``bands(c, unit=True)`` and
      ``band_total(s, scale=1.0)`` — ``hot`` carries ``floor(x)`` in the
      hot band, ``units`` carries ``floor(x)`` in the wide band with a
      scale of 1 (q_tpch_q1's sum_qty);
    - DECIMAL-accumulating: ``agg_bands(b, exact=True)`` and
      ``band_total(s, exact=True)`` — exact past 2^63 micro units
      (q_agg_groupby_wide);
    - DECIMAL total: ``band_decimal(agg_bands(b, exact=True))``, the
      exact total with out-of-domain rows left out (q_agg_pareto's rank
      key);
    - DISTINCT: ``dsum_expr(c, distinct=True)`` —
      ``dsum_sql(x, distinct=True)`` (q_agg_distinct). The exception to
      the layout: a wide row's remainder in ``hot`` could be deduplicated
      against a hot row's micro value (1e10+0.25 and 0.25 both carry
      250000), and ``units`` is not injective either, so the DISTINCT
      layout keeps an injective wide channel in the ``units`` slot — the
      wide row's whole micro value as DECIMAL(38,0) — and ``hot`` carries
      only hot-band micro values (0 on wide rows). The bands partition
      the value space, so the per-channel distinct sums add up to the
      global distinct sum.
    """
    return dsum_expr(c).alias(alias)


class Bands(NamedTuple):
    """The device's four channels (see ``dsum``): per row from ``bands``
    / ``bands_sql``, or aggregated by the caller. Columns on the
    DataFrame side, SQL text on the oracle side."""

    hot: Any  # hot-band units / wide remainder / 0 (BIGINT); NULL off-domain
    units: Any  # wide band's whole units (BIGINT); NULL outside it
    plain: Any  # x itself: the IEEE channel for out-of-domain groups
    bad: Any  # 1 for NaN, ±Inf or |x| > 9e15, else NULL (counted)


def bands(c: Column, unit: bool = False, distinct: bool = False) -> Bands:
    """Per-row channels of ``c`` (the table in ``dsum``). The quantiser
    is the rounded micro unit ``floor(x*1e6+0.5)``, or with ``unit`` the
    truncated unit ``floor(x)`` (whose wide band fits BIGINT per value,
    so it needs no mid split). ``distinct``: the DISTINCT layout, whose
    ``units`` slot holds the wide row's whole micro value as
    DECIMAL(38,0)."""
    hot_band = micro_exact(c)
    in_domain = c.between(-_WIDE_SAFE, _WIDE_SAFE)
    in_mid = c.between(-_MID_SAFE, _MID_SAFE)
    q = F.floor(c * 1000000.0 + 0.5)
    if unit:
        hot = F.when(hot_band, F.floor(c))
        units = F.when(in_domain & ~hot_band, F.floor(c))
    elif distinct:
        hot = F.when(hot_band, q)
        units = F.when(hot_band, F.lit(None)).when(in_mid, q.cast(_DEC))
        units = units.when(in_domain, F.floor(c + 0.5).cast(_DEC) * 1000000)
    else:
        hot = F.when(hot_band, q).when(in_mid, q - F.floor(c) * 1000000)
        units = F.when(hot_band, F.lit(None)).when(in_mid, F.floor(c))
        units = units.when(in_domain, F.floor(c + 0.5))
    # hot is 0 (never NULL) on the rest of the domain, so a NULL hot sum
    # means the group holds no in-domain value
    hot = hot.when(in_domain, F.lit(0))
    return Bands(hot, units, c, F.when(~in_domain, F.lit(1)))


def agg_bands(b: Bands, distinct: bool = False, exact: bool = False) -> Bands:
    """Group aggregates of per-row channels: a sum (``distinct``: a
    DISTINCT sum) over the three value channels, a plain count over the
    ``bad`` flag. ``exact`` accumulates both integer channels in
    DECIMAL(38,0)."""
    total = F.sum_distinct if distinct else F.sum
    hot, units = b.hot, b.units
    if exact:
        hot, units = hot.cast(_DEC), units.cast(_DEC)
    return Bands(total(hot), total(units), total(b.plain), F.count(b.bad))


def band_decimal(s: Bands, scale: float = 1000000.0, distinct: bool = False) -> Column:
    """Aggregated channels -> the exact DECIMAL(38,0) total ``Σhot +
    Σunits·scale`` (micro units by default; NULL when the group holds no
    in-domain value; ``distinct``: the DISTINCT layout, whose ``units``
    already holds micro units). Out-of-domain rows are left out on both
    engines: a plain-sum fallback would make a ranking on this total
    engine-dependent."""
    units = s.units.cast(_DEC)
    if not distinct and scale != 1.0:
        units = units * int(scale)
    return s.hot.cast(_DEC) + F.coalesce(units, F.lit(0).cast(_DEC))


def band_total(
    s: Bands, scale: float = 1000000.0, exact: bool = False, distinct: bool = False
) -> Column:
    """Aggregated channels -> the final double: the plain IEEE sum when
    the group holds an out-of-domain value, the exact ``band_decimal``
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
    total = dec_to_double(band_decimal(s, scale, distinct), scale)
    return (
        F.when(s.bad > 0, s.plain).when(s.units.isNotNull(), total).otherwise(hot)
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


def dsum_expr(c: Column, distinct: bool = False) -> Column:
    """Unaliased ``dsum`` — for call sites that derive further columns
    from the exact sum (averages, ratios) before naming them.
    ``distinct``: the DISTINCT sum (see ``dsum``)."""
    s = agg_bands(bands(c, distinct=distinct), distinct=distinct)
    return band_total(s, distinct=distinct)


def bands_sql(x: str, unit: bool = False, distinct: bool = False) -> Bands:
    """SQL twin of ``bands`` (dialect-shared)."""
    hot_band = f"({x} {MICRO_SAFE_SQL})"
    mid = f"({x} {MID_SAFE_SQL})"
    dom = f"({x} {WIDE_SAFE_SQL})"
    q = f"CAST(floor({x} * 1000000 + 0.5) AS BIGINT)"
    if unit:
        fl = f"CAST(floor({x}) AS BIGINT)"
        hot = f"CASE WHEN {hot_band} THEN {fl} "
        units = f"CASE WHEN {dom} AND NOT {hot_band} THEN {fl} END"
    elif distinct:
        hot = f"CASE WHEN {hot_band} THEN {q} "
        units = (
            f"CASE WHEN {hot_band} THEN NULL "
            f"WHEN {mid} THEN CAST({q} AS DECIMAL(38,0)) "
            f"WHEN {dom} THEN CAST(floor({x} + 0.5) AS DECIMAL(38,0)) * 1000000 END"
        )
    else:
        hot = (
            f"CASE WHEN {hot_band} THEN {q} "
            f"WHEN {mid} THEN {q} - CAST(floor({x}) AS BIGINT) * 1000000 "
        )
        units = (
            f"CASE WHEN {hot_band} THEN NULL "
            f"WHEN {mid} THEN CAST(floor({x}) AS BIGINT) "
            f"WHEN {dom} THEN CAST(floor({x} + 0.5) AS BIGINT) END"
        )
    hot += f"WHEN {dom} THEN 0 END"
    return Bands(hot, units, x, f"CASE WHEN NOT {dom} THEN 1 END")


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
    sum a DISTINCT sum (over the DISTINCT layout of ``bands_sql``)."""
    f = f" FILTER (WHERE {filter_sql})" if filter_sql else ""
    f += f" OVER {over}" if over else ""
    d = "DISTINCT " if distinct else ""
    hot, units = b.hot, b.units
    if exact:
        hot, units = (f"CAST({v} AS DECIMAL(38,0))" for v in (hot, units))
    return Bands(
        f"sum({d}{hot}){f}",
        f"sum({d}{units}){f}",
        f"sum({d}{b.plain}){f}",
        f"count({b.bad}){f}",
    )


def band_decimal_sql(s: Bands, scale: float = 1000000.0, distinct: bool = False) -> str:
    """SQL twin of ``band_decimal``."""
    units = f"CAST({s.units} AS DECIMAL(38,0))"
    if not distinct and scale != 1.0:
        units = f"{units} * {int(scale)}"
    return f"(CAST({s.hot} AS DECIMAL(38,0)) + COALESCE({units}, 0))"


def band_total_sql(
    s: Bands, scale: float = 1000000.0, exact: bool = False, distinct: bool = False
) -> str:
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
    total = band_decimal_sql(s, scale, distinct)
    return (
        f"CASE WHEN {s.bad} > 0 THEN {s.plain} "
        f"WHEN {s.units} IS NOT NULL THEN {dec_to_double_sql(total, scale)} "
        f"ELSE {hot} END"
    )


def dsum_sql(x: str, filter_sql: str = "", over: str = "", distinct: bool = False) -> str:
    """SQL twin of ``dsum``, in the dialect SHARED by Spark and DuckDB so
    the same text serves both SQL-path queries and DuckDB oracles; the
    keyword arguments pick the aggregate form (see ``agg_bands_sql``)."""
    s = agg_bands_sql(bands_sql(x, distinct=distinct), filter_sql, over, distinct)
    return band_total_sql(s, distinct=distinct)


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
