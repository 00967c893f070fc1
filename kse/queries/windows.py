"""Window functions (SURVEY.md §2.5): ranking, lead/lag, running and
sliding frames, first/last, gap-based batch sessionization.

Scale posture: a window = one shuffle on partitionBy keys + per-partition
sort. Every window here partitions on a high-cardinality key (customer,
user) so state per key is small; none uses an unpartitioned global window
(which would serialize 100 TB through one task). Timestamps are reduced to
epoch microseconds (bigint) before arithmetic so gap logic is exact integer
math in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kse.queries._util import Bands, agg_bands, band_total, bands, t, ts_us
from kse.queries._util import dsum_sql as _DSUM
from kse.registry import register


@register(
    "q_win_rank",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER w AS INT) AS rn,
       CAST(rank() OVER w AS INT) AS rk,
       CAST(dense_rank() OVER w AS INT) AS drk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC NULLS LAST, o_orderkey)
""",
    doc="row_number / rank / dense_rank per customer (keyed tie-break for "
    "determinism; DuckDB window counters are BIGINT → cast to INT).",
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


_NTILE_PERCENT_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice NULLS FIRST, o_orderkey)
"""


@register(
    "q_win_ntile_percent",
    oracle=_NTILE_PERCENT_ORACLE,
    doc="ntile / percent_rank / cume_dist (exact integer ratios — "
    "bitwise-identical across engines, no rounding).",
)
def q_win_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "q_win_ntile_percent_dist",
    oracle=_NTILE_PERCENT_ORACLE,
    doc=(
        "The scale shape of q_win_ntile_percent (identical output, "
        "byte-identical oracle): the canonical form PARTITIONs BY the "
        "3-value o_orderstatus, capping the sort at 3 tasks — the same "
        "low-cardinality-window class as q_win_range_between. Every "
        "ranking function here is arithmetic over (global rank, group "
        "size): bucket rows by (status, floor(price)), count per bucket, "
        "take the exclusive prefix over the one-row-per-bucket metadata "
        "(the only 3-task window in the plan), then row_number/rank "
        "inside each (status, bucket) — fully parallel — plus the bucket "
        "base give the global positions. ntile(4) is the SQL bucket "
        "formula in pure integers; percent_rank = (rank-1)/(n-1); "
        "cume_dist needs rows-through-last-peer, read WITHOUT a peer "
        "self-join as bucket_n - rank_reversed + 1 (rank over the fully "
        "reversed sort elects the first peer from the end). NULL prices "
        "bucket to Long.MIN, NaN to Long.MAX — colliding floor(+-Inf) "
        "saturations resolve by the within-bucket ORDER BY, which both "
        "engines agree on (NULLS FIRST pinned, NaN above +Inf). "
        "Interleaved runs: 13.4 -> 12.3 s at 100x (15M orders — the "
        "3-task sort is still cache-friendly there), 51.3 -> 29.6 s at "
        "300x; the canonical form's per-task sort grows n log n on 3 "
        "fixed threads while every stage here stays 32-way and linear, "
        "so the gap keeps compounding (and at 100 TB the canonical form "
        "is a non-starter, spilling its whole partition per task)."
    ),
)
def q_win_ntile_percent_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    val, key = F.col("o_totalprice"), F.col("o_orderkey")
    rows = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(val.isNull(), F.lit(-(2**63)))
        .when(F.isnan(val), F.lit(2**63 - 1))
        .otherwise(F.floor(val))
        .alias("bkt"),
    )
    cnts = rows.groupBy("o_orderstatus", "bkt").agg(F.count(F.lit(1)).alias("c"))
    # cnts feeds both the bucket offsets and the group totals, and
    # exchange reuse does not span the two consumers — without
    # materialization the bucket-count pass (an orders scan + aggregate)
    # runs twice. Metadata-sized (status x occupied buckets), same
    # truncate_lineage class as _pctl_rank_select's histogram.
    # 10x tier, interleaved median-of-4: 2.37 s -> 1.77 s (cold 6.1 ->
    # 3.8 s).
    from kse.session import truncate_lineage

    cnts = truncate_lineage(cnts, eager=True)
    w_base = (
        Window.partitionBy("o_orderstatus")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = cnts.select(
        "o_orderstatus",
        "bkt",
        F.col("c").alias("bucket_n"),
        F.coalesce(F.sum("c").over(w_base), F.lit(0)).alias("base"),
    )
    totals = cnts.groupBy("o_orderstatus").agg(F.sum("c").alias("n"))
    # NULL o_orderstatus is a window partition like any other — both
    # joins must be null-safe or its rows silently vanish
    joined = (
        rows.alias("r")
        .join(
            offsets.alias("o"),
            F.col("r.o_orderstatus").eqNullSafe(F.col("o.o_orderstatus"))
            & (F.col("r.bkt") == F.col("o.bkt")),
        )
        .join(
            F.broadcast(totals).alias("tt"),
            F.col("r.o_orderstatus").eqNullSafe(F.col("tt.o_orderstatus")),
        )
        .select(
            F.col("r.o_orderkey").alias("o_orderkey"),
            F.col("r.o_orderstatus").alias("o_orderstatus"),
            F.col("r.o_totalprice").alias("o_totalprice"),
            F.col("r.bkt").alias("bkt"),
            F.col("o.bucket_n").alias("bucket_n"),
            F.col("o.base").alias("base"),
            F.col("tt.n").alias("n"),
        )
    )
    asc = [F.asc_nulls_first("o_totalprice"), F.asc_nulls_first("o_orderkey")]
    desc = [F.desc_nulls_last("o_totalprice"), F.desc_nulls_last("o_orderkey")]
    w_in = Window.partitionBy("o_orderstatus", "bkt").orderBy(*asc)
    w_rev = Window.partitionBy("o_orderstatus", "bkt").orderBy(*desc)
    joined = joined.select(
        "o_orderkey",
        "o_orderstatus",
        "n",
        (F.col("base") + F.row_number().over(w_in)).alias("rn"),
        (F.col("base") + F.rank().over(w_in)).alias("rk"),
        (F.col("base") + F.col("bucket_n") - F.rank().over(w_rev) + 1).alias(
            "thru_peers"
        ),
    )
    # ntile bucket formula in pure integer arithmetic (`div`, never a
    # floated quotient): the first n%4 buckets hold n div 4 + 1 rows
    quartile = F.expr(
        "CAST(IF(rn <= (n % 4) * (n div 4 + 1), "
        "(rn - 1) div (n div 4 + 1) + 1, "
        "n % 4 + (rn - 1 - (n % 4) * (n div 4 + 1)) div (n div 4) + 1) AS INT)"
    )
    pct_rank = F.when(F.col("n") > 1, (F.col("rk") - 1) / (F.col("n") - 1)).otherwise(
        F.lit(0.0)
    )
    return joined.select(
        "o_orderkey",
        "o_orderstatus",
        quartile.alias("quartile"),
        pct_rank.alias("pct_rank"),
        (F.col("thru_peers") / F.col("n")).alias("cdist"),
    )


@register(
    "q_win_lead_lag",
    oracle="""
SELECT event_id, user_id, value,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       value - lag(value) OVER w AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
""",
    doc="lag/lead per user over event time — the sessionization precursor "
    "(per-row doubles, no rounding needed).",
)
def q_win_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "q_win_running",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_spend,
       CAST(count(*) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_n
FROM orders
""",
    doc="Running sum/count (cumulative frame). Rounded to 2 dp: engines may "
    "accumulate cumulative sums with different in-frame algorithms.",
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("run_spend"),
        F.count("*").over(w).alias("run_n"),
    )


@register(
    "q_win_sliding_frame",
    oracle=f"""
SELECT l_suppkey, l_orderkey, l_linenumber,
       ({_DSUM("l_extendedprice", over="w")})
         / (count(*) OVER w) AS mov_avg
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
    doc=(
        "Sliding 3-row moving average per supplier over ship-date order. "
        "Two determinism disciplines, both load-bearing (each was a real "
        "observed sf0.1 flake): (1) the window ORDER must be a TOTAL "
        "order — this testdata's (l_orderkey, l_linenumber) is not "
        "unique (118k duplicate pairs at sf0.1), and under ties the "
        "frame contents themselves are engine- and even run-dependent, "
        "so l_extendedprice joins the sort key to make the tuple unique "
        "(rows tying on the FULL key are interchangeable in every frame "
        "sum, so full-tie order doesn't matter); (2) the frame SUM goes "
        "through integer micro-units (the dsum discipline, _util.py) "
        "because engines evaluate bounded frames with different float "
        "accumulation strategies (add/retract, segment trees, per-frame "
        "refold) — integer sums are exact under all of them and the "
        "division back to double is deterministic, so no rounding is "
        "needed at all."
    ),
)
def q_win_sliding_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(-2, Window.currentRow)
    )
    # the dsum device over the frame (see _util.dsum): a frame holding
    # any Inf/NaN/absorption value uses the plain IEEE sum on both
    # engines (the result is ±Inf/NaN regardless of the engine's frame
    # accumulation strategy), finite 9e9..9e15 values go through the
    # exact wide band
    frame = agg_bands(bands(F.col("l_extendedprice")))
    frame_sum = band_total(Bands(*(a.over(w) for a in frame)))
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (frame_sum / F.count(F.lit(1)).over(w)).alias("mov_avg"),
    )


@register(
    "q_win_first_last",
    oracle="""
SELECT user_id, first_value AS first_value, last_value AS last_value, n_events
FROM (
  SELECT user_id,
         first_value(value) OVER w AS first_value,
         last_value(value)  OVER w AS last_value,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
) WHERE rn = 1
""",
    doc="First/last event value per user over an unbounded frame, reduced "
    "to one row per user.",
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.first("value").over(w).alias("first_value"),
            F.last("value").over(w).alias("last_value"),
            F.count("*").over(Window.partitionBy("user_id")).alias("n_events"),
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("event_id"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "first_value", "last_value", "n_events")
    )


@register(
    "q_win_sessionize",
    oracle="""
WITH ts_ord AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
), flagged AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 OR
                   lag(ts_us) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ts_ord WINDOW w AS (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id)
), sessions AS (
  SELECT user_id, ts_us, event_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us NULLS FIRST, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts_us) AS session_start_us,
       max(ts_us) - min(ts_us) AS duration_us
FROM sessions
GROUP BY user_id, session_id
""",
    doc=(
        "Gap-based batch sessionization (30-min gap): flag = gap > 30min, "
        "session_id = running sum of flags, then per-session rollup. All "
        "arithmetic is integer microseconds — exact in both engines. The "
        "streaming twin is kse.streaming.windows.session_window_agg "
        "(F.session_window), pytest-verified; this is the batch image of "
        "the reference's session analysis [B:7]."
    ),
)
def q_win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id", ts_us(F.col("ts")).alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    flagged = e.withColumn(
        "new_session",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > gap_us)
            | F.lag("ts_us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


@register(
    "q_win_funnel",
    oracle="""
WITH seqs AS (
  SELECT user_id,
         string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS seq,
         count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       (coalesce(seq, '') LIKE '%click%view%purchase%') AS converted
FROM seqs
""",
    doc=(
        "Ordered-funnel detection (click -> view -> purchase, gaps "
        "allowed): each user's event types are assembled in (ts, "
        "event_id) order and matched as an ordered subsequence — the "
        "MATCH_RECOGNIZE-style pattern query of event analytics, "
        "expressed with one grouped ordered aggregation per user. The "
        "subsequence test rides on the event-type alphabet being "
        "prefix-free (no type is a substring of another — FIXTURES.md), "
        "so a single LIKE with wildcards is exact. One shuffle on "
        "user_id; per-user state is the bounded type sequence. At 100 TB "
        "cap sequence length per user (slice after sort) before the "
        "string build."
    ),
)
def q_win_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id", ts_us(F.col("ts")).alias("ts_us"), "event_id", "event_type"
    )
    seqs = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("seq"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.col("seq").like("%click%view%purchase%").alias("converted"),
    )


@register(
    "q_win_streak",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events
),
flagged AS (
  SELECT user_id, day,
         CASE WHEN day - lag(day) OVER (PARTITION BY user_id ORDER BY day NULLS FIRST) = 1
              THEN 0 ELSE 1 END AS new_streak
  FROM days
),
streaks AS (
  SELECT user_id, day,
         sum(new_streak) OVER (PARTITION BY user_id ORDER BY day NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS streak_id
  FROM flagged
)
SELECT user_id,
       CAST(max(len) AS BIGINT) AS longest_streak_days,
       CAST(count(DISTINCT streak_id) AS BIGINT) AS n_streaks
FROM (SELECT user_id, streak_id, count(*) AS len
      FROM streaks GROUP BY user_id, streak_id)
GROUP BY user_id
""",
    doc=(
        "Gaps-and-islands at day granularity: longest consecutive-day "
        "activity streak per user (the engagement metric), via distinct "
        "activity days → lag-based island flags → running island ids → "
        "per-island lengths → per-user max. Every window partitions by "
        "user_id, so on the bucketed events layout the whole chain is "
        "Exchange-free like sessionize; day arithmetic is integer "
        "epoch-days, exact in both engines."
    ),
)
def q_win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", (ts_us(F.col("ts")) / F.lit(86400000000)).cast("bigint").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    flagged = days.withColumn(
        "new_streak",
        F.when(F.col("day") - F.lag("day").over(w) == 1, 0).otherwise(1),
    )
    streaks = flagged.withColumn(
        "streak_id",
        F.sum("new_streak").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    lens = streaks.groupBy("user_id", "streak_id").agg(F.count("*").alias("len"))
    return lens.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak_days"),
        F.countDistinct("streak_id").cast("bigint").alias("n_streaks"),
    )
