"""Relational core: scans, filters, joins, aggregation, sort/limit/top-k,
set operations (SURVEY.md §2.1-2.4, §2.6-2.7).

Reference parity: the reference (sekaiamber/KSE-Sample; mount empty at
survey time — SURVEY.md §0) is a Kafka→Spark→Elasticsearch sample whose
batch-relational surface is inherited from Spark itself; the inventory here
is the driver-mandated capability set, one oracle-checked query per operator.

Scale posture (100 TB): every builder is a declarative DataFrame plan —
Catalyst gets full pushdown/pruning freedom, AQE re-plans shuffles at
runtime. Fact⋈fact joins shuffle on join keys (sort-merge / shuffled-hash,
Catalyst's call); fact⋈dim joins broadcast the dim explicitly. Nothing here
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kse.queries._util import (
    dsum,
    grand_total_if_empty,
    micro_exact,
    r4,
    r6,
    sql_q,
    t,
)
from kse.queries._util import dsum_sql as _DSUM
from kse.registry import register

# ---------------------------------------------------------------------------
# §2.1 scans
# ---------------------------------------------------------------------------


@register(
    "q_scan_parquet",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="Full parquet scan, schema as stored.",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@register(
    "q_scan_projection_pushdown",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
    doc=(
        "Column-subset scan. At 100 TB the difference between reading 2 and "
        "11 columns is the whole game; the test suite asserts ReadSchema in "
        "the physical plan contains only the projected columns."
    ),
)
def q_scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@register(
    "src_producer",
    oracle="""
SELECT range AS event_id,
       1704067200000000 + range * 60000000 AS ts_us,
       range % 100 AS user_id,
       ['click','view','purchase','signup','error'][CAST(range % 5 AS INT) + 1] AS event_type,
       CAST(range * 37 % 1000 AS DOUBLE) / 100.0 AS value,
       '{"k": ' || CAST(range % 100 AS VARCHAR) || '}' AS props
FROM range(1000)
""",
    doc=(
        "Deterministic event generator — the batch image of the reference's "
        "Kafka producer (SURVEY.md §2.1 src_producer, [R]). spark.range is "
        "a parallel, partitioned source: generating 10^12 rows just means "
        "more partitions, no driver involvement."
    ),
)
def src_producer(spark: SparkSession, sf_dir: str) -> DataFrame:
    types = F.array(*[F.lit(s) for s in ["click", "view", "purchase", "signup", "error"]])
    return (
        spark.range(0, 1000)
        .select(
            F.col("id").alias("event_id"),
            (F.lit(1704067200000000) + F.col("id") * 60000000).alias("ts_us"),
            (F.col("id") % 100).alias("user_id"),
            F.element_at(types, (F.col("id") % 5).cast("int") + 1).alias("event_type"),
            ((F.col("id") * 37 % 1000).cast("double") / 100.0).alias("value"),
            F.concat(F.lit('{"k": '), (F.col("id") % 100).cast("string"), F.lit("}")).alias(
                "props"
            ),
        )
    )


@register(
    "src_python_ds",
    oracle="""
SELECT range AS event_id,
       1704067200000000 + range * 60000000 AS ts_us,
       range % 97 AS user_id,
       ['click','view','purchase','signup','error'][CAST(range % 5 AS INT) + 1] AS event_type,
       CAST(range * 53 % 1000 AS DOUBLE) / 10.0 AS value,
       '{"k": ' || CAST(range * 13 % 100 AS VARCHAR) || '}' AS props
FROM range(1000)
""",
    doc=(
        "Custom ingest format via the Spark 4 Python DataSource API "
        "(kse/pysource.py): a pure-Python source registered as "
        "format('kse_events') that declares its partition split set up "
        "front and emits Arrow RecordBatches per partition — the template "
        "for growing new ingest edges (REST paginators, proprietary blob "
        "layouts) without JVM code. Generation is deterministic modular "
        "arithmetic, so the oracle recomputes identical rows from "
        "range(); a pytest asserts the declared partitioning is honored."
    ),
)
def src_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kse.pysource import register_once

    register_once(spark)
    return (
        spark.read.format("kse_events")
        .option("rows", "1000")
        .option("partitions", "8")
        .load()
    )


def _format_stage_dir(sf_dir: str) -> str:
    """Session-stable staging dir for format round-trip sources, keyed by
    the absolute sf_dir so scale factors never collide."""
    import hashlib
    import os
    import tempfile

    slug = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"kse-src-formats-{slug}")
    os.makedirs(d, exist_ok=True)
    return d


@register(
    "src_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc=(
        "CSV ingest edge: the nation table is rewritten as RFC-4180 CSV "
        "(all fields quoted, quotes doubled) and read back through "
        "spark.read.csv with an EXPLICIT schema and escape='\"' — no "
        "inference pass, which at 100 TB would be a full extra scan. "
        "Text CSV is splittable, so a large file still fans out across "
        "executors; the oracle reads the original parquet, making the "
        "check a full fidelity test of the quote/escape/typing round-trip. "
        "Staged atomically "
        "(tmp + os.replace), and only integer/string columns appear — "
        "float-through-text is exercised by src_jsonl, which controls its "
        "serialization precision."
    ),
)
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import csv as _csv
    import os

    import pandas as pd

    from kse.catalog import table_path

    dest = os.path.join(_format_stage_dir(sf_dir), "nation.csv")
    pdf = pd.read_parquet(table_path(sf_dir, "nation"))
    tmp = dest + ".tmp"
    # na_rep sentinel: pandas writes BOTH None and '' as "" under
    # QUOTE_ALL, which would collapse the distinction; \N for NULL (the
    # classic mysqldump convention) + nullValue='\N' on the read keeps
    # '' and NULL distinct through the round-trip
    pdf.to_csv(tmp, index=False, quoting=_csv.QUOTE_ALL, na_rep="\\N")
    os.replace(tmp, dest)
    return (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true")
        .option("escape", '"')
        .option("nullValue", "\\N")
        # multiLine: RFC 4180 allows embedded newlines inside quoted
        # fields, and without it the reader splits such rows (verified
        # with an adversarial-strings test). The cost is real: multiLine
        # files are not line-splittable, so each FILE becomes the
        # parallelism unit — at 100 TB the ingest either writes many
        # moderate files (as this engine's layout does), or sanitizes
        # newlines at write time to regain intra-file splitting.
        .option("multiLine", "true")
        .csv(dest)
    )


@register(
    "src_jsonl",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    doc=(
        "JSON-lines ingest edge: the supplier table is serialized to JSONL "
        "with Python's shortest-repr float formatting (guaranteed "
        "double round-trip — pandas' to_json caps at 15 digits, which is "
        "NOT bit-safe for arbitrary doubles) and read back via "
        "spark.read.json with an explicit schema. JSONL is line-splittable "
        "like CSV; the explicit schema again skips the inference scan. "
        "The oracle reads the original parquet, so the hash gate verifies "
        "bit-exact double round-trip through text plus string escaping."
    ),
)
def src_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    import pandas as pd

    from kse.catalog import table_path

    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    dest = os.path.join(_format_stage_dir(sf_dir), "supplier.jsonl")
    pdf = pd.read_parquet(table_path(sf_dir, "supplier"), columns=cols)
    tmp = dest + ".tmp"
    with open(tmp, "w") as f:
        for rec in pdf.to_dict(orient="records"):
            f.write(json.dumps(rec) + "\n")
    os.replace(tmp, dest)
    return spark.read.schema(
        "s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ).json(dest)


# ---------------------------------------------------------------------------
# §2.2 projection / filter / predicates
# ---------------------------------------------------------------------------


@register(
    "q_project_select",
    oracle="""
SELECT l_orderkey, l_linenumber AS line_no,
       l_extendedprice * (1 - l_discount) AS disc_price,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem
""",
    doc="Projection with renames and computed columns (per-row math is "
    "bitwise-identical across engines; no rounding needed).",
)
def q_project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").alias("line_no"),
        disc.alias("disc_price"),
        (disc * (1 + F.col("l_tax"))).alias("charge"),
    )


@register(
    "q_filter_comparison",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem WHERE l_quantity > 45.0
""",
    doc="Comparison predicates; pushed to the parquet scan (PushedFilters).",
)
def q_filter_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "q_filter_compound",
    oracle="""
SELECT l_orderkey, l_linenumber
FROM lineitem
WHERE (l_discount > 0.05 AND l_tax < 0.04) OR NOT (l_returnflag = 'A')
""",
    doc="AND/OR/NOT compound predicates.",
)
def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    cond = ((F.col("l_discount") > 0.05) & (F.col("l_tax") < 0.04)) | ~(
        F.col("l_returnflag") == "A"
    )
    return t(spark, sf_dir, "lineitem").filter(cond).select("l_orderkey", "l_linenumber")


@register(
    "q_filter_in",
    oracle="""
SELECT o_orderkey, o_orderpriority FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus NOT IN ('P')
""",
    doc="IN-list / NOT IN.",
)
def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & ~F.col("o_orderstatus").isin("P")
    ).select("o_orderkey", "o_orderpriority")


@register(
    "q_filter_between",
    oracle="""
SELECT l_orderkey, l_linenumber
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31 23:59:59'
""",
    doc="BETWEEN on timestamps (min/max pushed to parquet row-group stats).",
)
def q_filter_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-12-31 23:59:59"))
        .select("l_orderkey", "l_linenumber")
    )


@register(
    "q_filter_like",
    oracle="""
SELECT p_partkey, p_name, p_type FROM part
WHERE p_type LIKE '%ECONOMY%' OR p_name LIKE 'red%' OR p_name LIKE '%bolt%'
""",
    doc="LIKE prefix/contains patterns.",
)
def q_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("%ECONOMY%")
        | F.col("p_name").like("red%")
        | F.col("p_name").like("%bolt%")
    ).select(
        "p_partkey", "p_name", "p_type"
    )


@register(
    "q_filter_null",
    oracle="""
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE NULLIF(o_orderstatus, 'P') IS NULL AND o_totalprice IS NOT NULL
""",
    doc="IS NULL / IS NOT NULL over a synthesized-null column (testdata has "
    "no physical nulls — FIXTURES.md).",
)
def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.filter(
        F.expr("nullif(o_orderstatus, 'P')").isNull() & F.col("o_totalprice").isNotNull()
    ).select("o_orderkey", "o_orderstatus")


@register(
    "q_case_when",
    oracle="""
SELECT CASE WHEN o_totalprice > 40000 THEN 'big'
            WHEN o_totalprice > 20000 THEN 'mid'
            ELSE 'small' END AS bucket,
       count(*) AS n
FROM orders GROUP BY 1
""",
    doc="CASE WHEN conditional projection.",
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") > 40000, "big")
        .when(F.col("o_totalprice") > 20000, "mid")
        .otherwise("small")
        .alias("bucket")
    )
    return o.groupBy(bucket).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@register(
    "q_join_inner_hash",
    oracle=f"""
SELECT o_orderpriority, count(*) AS n_lines,
       {_DSUM("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority
""",
    doc=(
        "Large⋈large equi-join (lineitem⋈orders). Both sides shuffle on the "
        "orderkey; Catalyst picks SMJ/shuffled-hash, AQE converts to "
        "broadcast if the filtered orders side turns out small at runtime. "
        "At 100 TB: bucket both tables by orderkey to make this shuffle-free."
    ),
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # shuffle_hash pin: orders is a FACT table — at 100 TB even its
    # date-filtered slice can't be a driver-built broadcast, and under the
    # co-located bucket layout (catalog._LAYOUT_BUCKETS: both sides
    # bucketed on the order key) the hint yields a ZERO-input-Exchange
    # ShuffledHashJoin with per-partition builds and no sort — measured at
    # the 10x tier: ~2x faster than letting AQE broadcast the filtered
    # orders side (the broadcast build is a serial driver subjob per run).
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1997-01-01")
        .hint("shuffle_hash")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


@register(
    "q_join_broadcast",
    oracle=f"""
SELECT p_brand, count(*) AS n_lines, {_DSUM("l_quantity")} AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 10
GROUP BY p_brand
""",
    doc=(
        "Fact⋈dim with explicit broadcast(part): no shuffle of the 100 TB "
        "fact side, the dim ships to every executor once. The test suite "
        "asserts BroadcastHashJoin appears in the plan."
    ),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_lines"), dsum(F.col("l_quantity"), "sum_qty"))
    )


@register(
    "q_join_sortmerge",
    oracle=f"""
SELECT c_mktsegment, count(*) AS n_orders, {_DSUM("o_totalprice")} AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    doc=(
        "Sort-merge join path, pinned via the merge hint — proves the "
        "spill-safe large⋈large strategy works irrespective of AQE's "
        "broadcast preference at test scale."
    ),
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").hint("merge")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice"), "sum_price"))
    )


@register(
    "q_join_multiway",
    oracle=f"""
SELECT r_name, n_name, count(*) AS n_orders, {_DSUM("o_totalprice")} AS sum_price
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
GROUP BY r_name, n_name
""",
    doc=(
        "4-table star chain. Dims (region, nation) broadcast; the "
        "customer⋈orders edge is the only real shuffle (at bench size "
        "the optimizer auto-broadcasts customer too — a size-based "
        "decision that reverts to the shuffle at scale). Hand-ordered "
        "smallest-first; AQE + CBO may reorder further. Dispatch-job "
        "fusion measured and rejected (r6, interleaved best-of-10 under "
        "bench conditions): pre-joining nation⋈region into one broadcast "
        "dim via shuffle_hash drops 4 jobs -> 3 but runs ~40 ms SLOWER "
        "(273 -> 312 ms min) — the fused dim's internal shuffle stages "
        "cost more than the one saved ~23 ms dispatch, and the three "
        "broadcast builds already overlap (BroadcastExchange futures). "
        "Fusing to 2 jobs requires broadcasting customer explicitly, "
        "which hard-codes a plan that breaks at 100 TB; rejected."
    ),
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice"), "sum_price"))
    )


@register(
    "q_join_left",
    oracle="""
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""",
    doc="Left outer join preserving order-less customers (count(col) skips "
    "the null-extended rows in both engines).",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q_join_right",
    oracle="""
SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_orders
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    doc="Right outer join (kept-side is customer).",
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        o.join(c, c.c_custkey == o.o_custkey, "right")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_rows"), F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q_join_full",
    oracle="""
SELECT count(*) AS n_rows, count(c_custkey) AS n_cust_side, count(o_orderkey) AS n_order_side
FROM customer FULL JOIN orders ON o_custkey = c_custkey
""",
    doc="Full outer join; the three counts expose both unmatched sides.",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full").agg(
        F.count("*").alias("n_rows"),
        F.count("c_custkey").alias("n_cust_side"),
        F.count("o_orderkey").alias("n_order_side"),
    )


@register(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 45000)
""",
    doc="Left-semi join (EXISTS): no duplication, no columns from the "
    "probe side — cheaper than join+distinct at scale.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 45000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@register(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
    doc="Left-anti join (NOT EXISTS): customers with no large orders.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


@register(
    "q_join_theta",
    oracle="""
SELECT s_suppkey, count(*) AS n_parts
FROM supplier JOIN part
  ON p_retailprice BETWEEN s_acctbal AND s_acctbal + 500
GROUP BY s_suppkey
""",
    doc=(
        "Non-equi (band) theta join → BroadcastNestedLoopJoin with the tiny "
        "supplier side broadcast. Kept registered to exercise the raw "
        "strategy (legitimate when one side is truly broadcast-small); the "
        "100 TB form — large×large without O(n*m) compares — is the banded "
        "equi-join rewrite in q_join_theta_banded."
    ),
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = t(spark, sf_dir, "supplier")
    p = t(spark, sf_dir, "part")
    cond = F.col("p_retailprice").between(F.col("s_acctbal"), F.col("s_acctbal") + 500)
    return (
        F.broadcast(s)
        .join(p, cond, "inner")
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_parts"))
    )


@register(
    "q_join_theta_banded",
    oracle="""
SELECT s_suppkey, count(*) AS n_parts
FROM supplier JOIN part
  ON p_retailprice BETWEEN s_acctbal AND s_acctbal + 500
GROUP BY s_suppkey
""",
    doc=(
        "The scalable rewrite of q_join_theta (identical semantics and "
        "output, oracle-verified equal): a band-interval predicate "
        "`p BETWEEN lo AND lo+W` becomes an EQUI-join on a bucket key of "
        "width W — each part maps to one bucket, each supplier interval "
        "emits its (at most three) candidate buckets by explode — then "
        "the exact BETWEEN filters the candidates. Three, not two: in "
        "exact arithmetic [lo, lo+W] spans buckets {b, b+1} with "
        "b = floor(lo/W), but floating addition can round lo+W UP onto a "
        "bucket boundary (lo = 500-3e-14 gives lo+500 == 1000.0 exactly), "
        "making floor((lo+W)/W) = b+2 and silently skipping bucket b+1 — "
        "where most of the interval lives (found by the --extreme parity "
        "battery, reachable with plausible doubles). Emitting "
        "{b, b+1, floor((lo+W)/W)} covers both the exact span and the "
        "FP-rounded upper endpoint; try_add keeps the b+1 slot NULL (joins "
        "nothing) when b saturates at Long.MAX for ±Inf bounds. "
        "Compares per bucket are bounded by the "
        "band population instead of O(n*m), the join shuffles/hashes like "
        "any equi-join, and NO side needs to be broadcast-small: this is "
        "the large×large theta-join shape for 100 TB. Same pattern as the "
        "length-banded edit-distance blocking and the LSH band join."
    ),
)
def q_join_theta_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    band_w = 500  # bucket width == interval width
    b = F.floor(F.col("s_acctbal") / band_w)
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_acctbal",
        F.explode(
            F.array_distinct(
                F.array(
                    b,
                    F.try_add(b, F.lit(1)),
                    F.floor((F.col("s_acctbal") + band_w) / band_w),
                )
            )
        ).alias("band"),
    )
    p = t(spark, sf_dir, "part").select(
        "p_retailprice", F.floor(F.col("p_retailprice") / band_w).alias("band")
    )
    return (
        s.join(p, "band")
        .filter(
            F.col("p_retailprice").between(
                F.col("s_acctbal"), F.col("s_acctbal") + band_w
            )
        )
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_parts"))
    )


@register(
    "q_join_theta_cdf",
    oracle="""
SELECT s_suppkey, count(*) AS n_parts
FROM supplier JOIN part
  ON p_retailprice BETWEEN s_acctbal AND s_acctbal + 500
GROUP BY s_suppkey
""",
    doc=(
        "The COUNT-specialized rewrite of the band theta join (same "
        "output as q_join_theta/_banded, oracle-verified equal): when the "
        "query only needs per-interval COUNTS, no candidate pair ever has "
        "to materialize — count(p BETWEEN lo AND hi) = F(hi) - F(lo-) "
        "where F is the cumulative distribution of the probe column. "
        "Implementation: pre-aggregate parts per distinct price "
        "(map-side combine), union in two zero-weight boundary rows per "
        "supplier (tie keys order a lo-boundary BEFORE equal prices and a "
        "hi-boundary AFTER, giving strict-< and <= counts respectively), "
        "and run ONE distributed prefix sum over the merged stream — the "
        "same bucket-totals/broadcast-offsets/partitioned-window shape as "
        "dist_prefix_sum in kse/queries/llm.py, no global sort. Each "
        "supplier then reads n_parts = cum(hi) - cum(lo) off its two "
        "boundary rows. Why it exists: the 100x survival sweep measured "
        "q_join_theta_banded at 712 s — with a value domain that stays "
        "fixed while rows grow, each band's population grows on BOTH "
        "sides and the banded join's candidate volume (and the join's "
        "own OUTPUT, pre-aggregation) grows quadratically; this rewrite "
        "is O(n log n) regardless of band selectivity (measured 5.8 s at "
        "the same tier, 124x). The general theta join (carrying payload "
        "columns) still needs q_join_theta_banded's shape; this is the "
        "shape for its most common aggregate form. IEEE edges: NaN "
        "bounds/prices follow both engines' total order (NaN == NaN, "
        "NaN > +Inf) because boundaries and prices meet in the SAME "
        "sort; floor() bucketing saturates ±Inf to the extreme buckets "
        "and an isnan guard pins NaN into the top bucket, where the "
        "within-bucket (val, tie) sort restores exact order."
    ),
)
def q_join_theta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    band_w = 500
    s = (
        t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_acctbal")
        .filter(F.col("s_acctbal").isNotNull() & F.col("s_suppkey").isNotNull())
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_retailprice").isNotNull())
    # one row per DISTINCT price with its multiplicity: the stream the
    # prefix sum runs over is bounded by the value domain, not the rows
    prices = (
        p.groupBy(F.col("p_retailprice").alias("val"))
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            "val",
            F.lit(1).alias("tie"),
            "w",
            F.lit(None).cast("long").alias("sk"),
            F.lit(0).cast("long").alias("sign"),
        )
    )
    lo = s.select(
        F.col("s_acctbal").alias("val"),
        F.lit(0).alias("tie"),
        F.lit(0).cast("long").alias("w"),
        F.col("s_suppkey").alias("sk"),
        F.lit(-1).cast("long").alias("sign"),
    )
    hi = s.select(
        (F.col("s_acctbal") + band_w).alias("val"),
        F.lit(2).alias("tie"),
        F.lit(0).cast("long").alias("w"),
        F.col("s_suppkey").alias("sk"),
        F.lit(1).cast("long").alias("sign"),
    )
    stream = prices.unionByName(lo).unionByName(hi)
    # distributed prefix sum in (val, tie) order: coarse value bands keep
    # every data-sized sort partitioned; only the one-row-per-band totals
    # frame sees an unpartitioned window (metadata-sized, same contract as
    # dist_prefix_sum). floor saturates ±Inf to Long.{MIN,MAX}; NaN would
    # saturate to 0 (the --extreme floor finding), so it is pinned to the
    # top bucket explicitly — the within-bucket sort then orders it after
    # +Inf per both engines' total order.
    bkt = F.when(F.isnan(F.col("val")), F.lit(2**63 - 1)).otherwise(
        F.floor(F.col("val") / F.lit(1.0))
    )
    b = stream.withColumn("bkt", bkt)
    totals = b.groupBy("bkt").agg(F.sum("w").alias("bkt_total"))
    w_base = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bkt", F.coalesce(F.sum("bkt_total").over(w_base), F.lit(0)).alias("base")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("val", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = b.join(F.broadcast(offsets), "bkt").withColumn(
        "cum", F.col("base") + F.sum("w").over(w_in)
    )
    return (
        merged.filter(F.col("sk").isNotNull())
        .groupBy(F.col("sk").alias("s_suppkey"))
        .agg(F.sum(F.col("sign") * F.col("cum")).alias("n_parts"))
        .filter(F.col("n_parts") > 0)
    )


@register(
    "q_join_range_asof",
    oracle="""
SELECT event_id, o_orderkey AS asof_orderkey
FROM events JOIN orders
  ON o_custkey = user_id AND o_orderdate <= ts
QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC) = 1
""",
    doc=(
        "As-of join: each event matched to the latest order of the same "
        "user at-or-before the event time. Spark has no native as-of; this "
        "uses conditional-join + per-event row_number. Scale note: the "
        "shuffle is on user_id (both sides), so the join is co-partitioned; "
        "the window repartitions by event_id. For 100 TB time-series, the "
        "production path is range-bucketed sort-merge within "
        "applyInPandas(merge_asof) per key-bucket — same semantics, one "
        "shuffle, documented in kse/queries/windows.py tests."
    ),
)
def q_join_range_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    o = t(spark, sf_dir, "orders")
    joined = e.join(
        o, (o.o_custkey == e.user_id) & (o.o_orderdate <= e.ts.cast("timestamp_ntz")), "inner"
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", F.col("o_orderkey").alias("asof_orderkey"))
    )


@register(
    "q_join_self",
    oracle="""
SELECT a.l_linenumber AS ln_a, b.l_linenumber AS ln_b, count(*) AS n_pairs
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
GROUP BY a.l_linenumber, b.l_linenumber
""",
    doc="Self-join: line-item pairs within an order (co-partitioned on the "
    "shared orderkey, so one shuffle serves both sides).",
)
def q_join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .groupBy(
            F.col("a.l_linenumber").alias("ln_a"), F.col("b.l_linenumber").alias("ln_b")
        )
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# §2.4 aggregation
# ---------------------------------------------------------------------------


@register(
    "q_agg_global",
    oracle=f"""
SELECT count(*) AS n_rows,
       {_DSUM("l_quantity")} AS sum_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
       min(l_shipdate) = TIMESTAMP '1995-01-02' AS min_ship_ok
FROM lineitem
""",
    doc="Ungrouped aggregates (single-row result; partial+final automatic).",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        dsum(F.col("l_quantity"), "sum_qty"),
        r4(F.avg("l_extendedprice"), "avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        (F.min("l_shipdate") == F.lit("1995-01-02").cast("timestamp_ntz")).alias("min_ship_ok"),
    )


@register(
    "q_agg_groupby",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_DSUM("l_quantity")} AS sum_qty,
       {_DSUM("l_extendedprice")} AS sum_base_price,
       {_DSUM("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {_DSUM("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
""",
    doc=(
        "FLAGSHIP (TPC-H Q1 shape): hash aggregate over 6 groups. "
        "Map-side partial aggregation collapses 100 TB to 6 rows per "
        "partition before the shuffle — the canonical scale-safe aggregate."
    ),
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-01")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        dsum(F.col("l_extendedprice"), "sum_base_price"),
        dsum(disc, "sum_disc_price"),
        dsum(disc * (1 + F.col("l_tax")), "sum_charge"),
        r4(F.avg("l_quantity"), "avg_qty"),
        r4(F.avg("l_extendedprice"), "avg_price"),
        r6(F.avg("l_discount"), "avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "q_agg_distinct",
    oracle=f"""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       {_DSUM("l_quantity", distinct=True)} AS sum_dist_qty
FROM lineitem GROUP BY l_returnflag
""",
    doc="COUNT/SUM DISTINCT (expand+two-phase aggregate under the hood; "
    "prefer approx_count_distinct at 100 TB — see q_agg_approx_distinct). "
    "The distinct sum runs the full three-band dsum device with DISTINCT "
    "per band: the bands partition the value space, so per-band distinct "
    "sums add up to the global distinct sum; the plain branch is "
    "propagation-dominant (a non-finite distinct set sums to ±Inf/NaN "
    "identically on both engines).",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kse.queries._util import (
        in_wide_band,
        micro_total_to_double,
        out_of_domain,
        wide_micro,
    )

    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    fast = F.sum_distinct(F.when(micro_exact(q), F.floor(q * 1000000.0 + 0.5)))
    wide = F.sum_distinct(wide_micro(q))
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.when(
            F.count(F.when(out_of_domain(q), F.lit(1))) > 0, F.sum_distinct(q)
        )
        .when(
            F.count(F.when(in_wide_band(q), F.lit(1))) > 0,
            micro_total_to_double(fast, wide),
        )
        .otherwise(fast / 1000000.0)
        .alias("sum_dist_qty"),
    )


@register(
    "q_agg_approx_distinct",
    oracle=None,  # approximate result can't hash-match an exact oracle
    doc=(
        "HyperLogLog++ approximate count-distinct (rsd=0.01) — the 100 TB "
        "replacement for exact COUNT(DISTINCT): fixed-size sketch, no "
        "expand, mergeable across partitions. Driver check is rows-only; "
        "the local harness holds the sketch within 4% of DuckDB's exact "
        "COUNT(DISTINCT) (check_oracle below, 4x the declared rsd), and "
        "the pytest suite asserts <5% error vs exact on sf0.001."
    ),
    check_oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_users,
       count(*) AS n_events
FROM events GROUP BY event_type
""",
    check_rel_tol=0.04,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.count("*").alias("n_events"),
    )


@register(
    "q_agg_sketch_merge",
    oracle=None,  # sketch estimates can't hash-match exact counts
    doc=(
        "Mergeable-sketch architecture, demonstrated end-to-end: per-"
        "event-type HyperLogLog sketches (Apache DataSketches via "
        "hll_sketch_agg) are built in one scan, then the GLOBAL distinct "
        "estimate is produced by hll_union_agg over those sketches — no "
        "second scan of the data. This merge step is the entire 100 TB "
        "story for distinct counting: per-partition/per-day sketches "
        "persist as bytes, roll up across any grouping, and re-aggregate "
        "in milliseconds. Local harness bounds every estimate within 5% "
        "of DuckDB's exact COUNT(DISTINCT)."
    ),
    check_oracle="""
SELECT event_type AS scope,
       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_users
FROM events GROUP BY event_type
UNION ALL
SELECT '__all__' AS scope, CAST(count(DISTINCT user_id) AS BIGINT) AS approx_users
FROM events
""",
    check_rel_tol=0.05,
)
def q_agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    typed = per.select(
        F.col("event_type").alias("scope"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"),
    )
    overall = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("approx_users")
    ).select(F.lit("__all__").alias("scope"), "approx_users")
    return typed.unionByName(overall)


@register(
    "q_agg_sketch_merge_exact",
    oracle="""
SELECT event_type AS scope,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
UNION ALL
SELECT '__all__' AS scope, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
""",
    doc=(
        "Exact, hash-matchable twin of q_agg_sketch_merge: the same "
        "per-event-type + global distinct-user rollup, computed exactly "
        "via ROLLUP(event_type) — one scan, Expand + partial aggregation, "
        "the grand-total row standing in for the sketch path's "
        "hll_union_agg merge. Registered so the sketch-merge FAMILY has a "
        "row the driver can value-hash (the sketch variant is tolerance-"
        "checked locally but necessarily 'no_oracle' to the driver); at "
        "100 TB the sketch variant is the production path — this exact "
        "rollup is the ground truth it is audited against."
    ),
)
def q_agg_sketch_merge_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    out = (
        e.rollup("event_type")
        # grouping(), not coalesce: a data-NULL event_type group must keep
        # scope NULL (matching the oracle's GROUP BY) — only the rollup
        # total row becomes '__all__'
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.grouping("event_type").alias("g"),
        )
        .select(
            F.when(F.col("g") == 1, F.lit("__all__"))
            .otherwise(F.col("event_type"))
            .alias("scope"),
            "n_users",
        )
    )
    # the oracle's UNION ALL global leg emits ('__all__', 0) even over an
    # empty relation; Spark's rollup drops it (zero-row battery find).
    return grand_total_if_empty(
        e, out, {"scope": F.lit("__all__"), "n_users": F.lit(0)}
    )


@register(
    "q_agg_percentile",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
FROM lineitem GROUP BY l_returnflag
""",
    doc="Exact interpolated percentiles (Spark `percentile` == DuckDB "
    "`quantile_cont`). At 100 TB switch to percentile_approx (t-digest "
    "sketch, mergeable) — exact percentile requires a per-group sort.",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.expr("percentile(l_extendedprice, 0.5)"), "p50"),
        r4(F.expr("percentile(l_extendedprice, 0.9)"), "p90"),
        r4(F.expr("percentile(l_quantity, 0.25)"), "q1_qty"),
    )


def _pctl_bucket(val):
    """NaN-aware value bucket: floor(val), with NaN pinned past +Inf's
    saturated bucket (both engines sort NaN above +Inf)."""
    return F.when(F.isnan(val), F.lit(2**63 - 1)).otherwise(F.floor(val))


def _pctl_histogram(long: DataFrame) -> DataFrame:
    """Pass 1 of the rank election: rows per (grp, m, bkt) plus the
    per-(grp, m) running-rank bounds. A spillable hash aggregate sized by
    OCCUPIED buckets — the map-side partial_count property the plan audit
    (tests/test_dist_twins.py) asserts on THIS frame, because the final
    query plan only shows the checkpointed scan of its result."""
    from pyspark.sql.window import Window

    cnts = long.groupBy("grp", "m", "bkt").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("grp", "m")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cnts.withColumn("cum_end", F.sum("c").over(w_cum)).withColumn(
        "cum_start", F.col("cum_end") - F.col("c")
    )


def _pctl_rank_select(long: DataFrame, tspec, disc: bool) -> DataFrame:
    """Exact percentile election with BOUNDED memory, shared by the
    continuous (q_agg_percentile_dist) and discrete
    (q_agg_percentile_disc_dist) twins.

    Input `long` is DataFrame[grp, m, val] with NULL vals already
    dropped; `tspec` is a column expression mapping metric m to
    array<struct<p double, nm string>> of requested percentiles. The
    `nm` names must be UNIQUE per metric — each (grp, nm) output row
    elects exactly one target rank pair, and the final aggregate relies
    on that one-target-per-name invariant (its frac column is collapsed
    with a deterministic max(), so a duplicated name would yield a
    deterministic-but-meaningless blend, not a nondeterministic one).

    Pass 1 counts rows per (grp, m, floor(val)) bucket — a spillable
    hash aggregate sized by OCCUPIED buckets, not distinct values — and
    a running sum over that metadata-sized frame locates the bucket
    holding each target rank. Pass 2 re-scans with a broadcast
    semi-filter to only those buckets, ranks within bucket + base
    offset, and elects the value(s). Rank definition: continuous
    interpolates at h = (n-1)*p (percentile_cont); discrete takes the
    0-indexed rank ceil(p*n)-1 — the SQL-standard percentile_disc
    "smallest value whose cumulative distribution >= p", which DuckDB's
    quantile_disc matches (probed exact-equal across n=1..16 x
    p={0.25,0.5,0.9}). NaN buckets to 2^63-1; floor(+Inf) saturates to
    the same bucket, and the within-bucket ORDER BY val resolves it
    (both engines sort NaN above +Inf). Returns DataFrame[grp, nm, res].
    """
    from pyspark.sql.window import Window

    long = long.withColumn("bkt", _pctl_bucket(F.col("val")))
    cnts = _pctl_histogram(long)
    # Materialize the metadata-sized histogram ONCE: cnts feeds three
    # downstream subtrees (targets, the needed-bucket theta join, and the
    # rank bases), and Spark's exchange reuse does NOT fire across them
    # (0 ReusedExchange in the executed plan, r8 audit), so without this
    # the full pass-1 aggregate re-runs per consumer. cnts is groups x
    # occupied buckets (300k rows at the 10x tier, ~KB-scale serialized) —
    # the same always-tiny class as the iterative ops' edge tables, so the
    # same truncate_lineage: reliable checkpoint under a checkpoint dir
    # (100 TB posture), localCheckpoint otherwise. Measured at 10x:
    # q_agg_percentile_dist 5.05 s -> 4.03 s from this alone, 3.28 s
    # together with the callers' single-scan explode (values identical).
    from kse.session import truncate_lineage

    cnts = truncate_lineage(cnts, eager=True)
    targets = (
        cnts.groupBy("grp", "m")
        .agg(F.sum("c").alias("n"))
        .select("grp", "m", "n", F.explode(tspec).alias("t"))
    )
    if disc:
        rk = F.greatest(
            F.ceil(F.col("t.p") * F.col("n")) - 1, F.lit(0).cast("long")
        )
        targets = targets.select(
            "grp",
            "m",
            F.col("t.nm").alias("nm"),
            rk.alias("lo_rank"),
            rk.alias("hi_rank"),
            F.lit(0.0).alias("frac"),
        )
    else:
        targets = targets.select(
            "grp",
            "m",
            ((F.col("n") - 1) * F.col("t.p")).alias("h"),
            F.col("t.nm").alias("nm"),
        ).select(
            "grp",
            "m",
            "nm",
            F.floor(F.col("h")).alias("lo_rank"),
            F.ceil(F.col("h")).alias("hi_rank"),
            (F.col("h") - F.floor(F.col("h"))).alias("frac"),
        )
    # buckets containing either target rank: a join of two METADATA-sized
    # frames (targets: groups x percentiles rows; cnts: groups x occupied
    # buckets)
    needed = (
        targets.alias("t")
        .join(
            cnts.alias("c"),
            F.col("t.grp").eqNullSafe(F.col("c.grp"))
            & (F.col("t.m") == F.col("c.m"))
            & (
                F.col("t.lo_rank").between(F.col("c.cum_start"), F.col("c.cum_end") - 1)
                | F.col("t.hi_rank").between(
                    F.col("c.cum_start"), F.col("c.cum_end") - 1
                )
            ),
        )
        .select(
            F.col("c.grp").alias("grp"),
            F.col("c.m").alias("m"),
            F.col("c.bkt").alias("bkt"),
            F.col("c.cum_start").alias("base"),
        )
        .distinct()
    )
    ranked = long.alias("l").join(
        F.broadcast(needed).alias("nb"),
        F.col("l.grp").eqNullSafe(F.col("nb.grp"))
        & (F.col("l.m") == F.col("nb.m"))
        & (F.col("l.bkt") == F.col("nb.bkt")),
    )
    w_rank = Window.partitionBy("l.grp", "l.m", "l.bkt").orderBy("val")
    ranked = ranked.select(
        F.col("l.grp").alias("grp"),
        F.col("l.m").alias("m"),
        "val",
        (F.row_number().over(w_rank) - 1 + F.col("base")).alias("rk"),
    )
    return (
        ranked.alias("r")
        .join(
            F.broadcast(targets).alias("t"),
            F.col("r.grp").eqNullSafe(F.col("t.grp"))
            & (F.col("r.m") == F.col("t.m"))
            & (
                (F.col("rk") == F.col("t.lo_rank"))
                | (F.col("rk") == F.col("t.hi_rank"))
            ),
        )
        .groupBy(F.col("r.grp").alias("grp"), "nm")
        .agg(
            F.max(F.when(F.col("rk") == F.col("t.lo_rank"), F.col("val"))).alias("lo"),
            F.max(F.when(F.col("rk") == F.col("t.hi_rank"), F.col("val"))).alias("hi"),
            # every row of this (grp, nm) group carries the SAME frac (one
            # tspec target per name — tspec contract below); max() instead
            # of first() so the aggregate stays deterministic even if a
            # caller ever violated that with duplicate percentile names
            F.max("frac").alias("frac"),
        )
        .withColumn(
            "res",
            # convex form lo*(1-f) + hi*f: BIT-IDENTICAL to both Spark's
            # exact `percentile` and DuckDB's quantile_cont (probed at the
            # ulp level: the delta form lo + (hi-lo)*f differs in the last
            # ulp on finite data and turns a -Inf lo into NaN — caught by
            # the in-suite hostile twin fixture, tests/test_dist_twins.py)
            F.when(F.col("frac") == 0.0, F.col("lo")).otherwise(
                F.col("lo") * (1.0 - F.col("frac")) + F.col("hi") * F.col("frac")
            ),
        )
    )


@register(
    "q_agg_percentile_dist",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
FROM lineitem GROUP BY l_returnflag
""",
    doc=(
        "EXACT interpolated percentiles with BOUNDED memory — identical "
        "output to q_agg_percentile (same oracle), different execution: "
        "Spark's `percentile` aggregate buffers a value->count map per "
        "group, so a high-cardinality column grows the buffer with the "
        "corpus (the 100x survival sweep OOMed an 8g heap on 10M distinct "
        "prices; the approx twin is one answer, this is the exact one). "
        "Histogram rank-selection instead: pass 1 counts rows per (group, "
        "metric, value-bucket) — a spillable hash aggregate whose size is "
        "the OCCUPIED-BUCKET count, not the distinct-value count — and a "
        "per-group running sum over that metadata-sized frame locates the "
        "bucket containing each target rank h = (n-1)*p. Pass 2 re-scans "
        "with a broadcast semi-filter to ONLY those buckets (~n/buckets "
        "rows each), ranks within bucket + base offset, and interpolates "
        "lo*(1-frac) + hi*frac — the convex form both Spark's percentile "
        "and DuckDB's quantile_cont compute bit-for-bit (the delta form "
        "lo + (hi-lo)*frac differs in the last ulp and NaNs on -Inf lo; "
        "frac == 0 short-circuits to the element itself so an infinite hi "
        "never turns 0*Inf into NaN). The two engines' shared total order "
        "(NaN last, beyond +Inf) carries through because ranking is an "
        "ORDER BY over the same doubles. Same two-pass "
        "tiny-statistic-then-map-side shape as q_llm_length_filter and "
        "q_join_theta_cdf; at 100x this runs in 10.5 s (cold, single run; "
        "21 s before the r8 shave) where the buffering aggregate ran out "
        "of memory. r8 constant "
        "shave, measured at 10x: 5.05 s -> 3.37 s best-of-3 — the long "
        "frame now explodes one scan into (metric, val) rows instead of "
        "a unionByName that re-read lineitem per metric per pass, and "
        "_pctl_rank_select checkpoints the metadata-sized histogram its "
        "three consumers previously each recomputed (0 ReusedExchange "
        "in the executed plan)."
    ),
)
def q_agg_percentile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    groups = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("__n"))
    # one scan, exploded to (metric, val) rows — the unionByName form reads
    # lineitem once PER METRIC per pass (pass 1 bucket counts measured
    # 1.04 s -> 0.62 s at 10x from this alone; rows produced identical)
    long = (
        li.select(
            "l_returnflag",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("price").alias("m"),
                        F.col("l_extendedprice").alias("val"),
                    ),
                    F.struct(
                        F.lit("qty").alias("m"), F.col("l_quantity").alias("val")
                    ),
                )
            ).alias("e"),
        )
        .select(
            F.col("l_returnflag").alias("grp"),
            F.col("e.m").alias("m"),
            F.col("e.val").alias("val"),
        )
        .filter(F.col("val").isNotNull())
    )
    tspec = F.when(
        F.col("m") == "price",
        F.array(
            F.struct(F.lit(0.5).alias("p"), F.lit("p50").alias("nm")),
            F.struct(F.lit(0.9).alias("p"), F.lit("p90").alias("nm")),
        ),
    ).otherwise(F.array(F.struct(F.lit(0.25).alias("p"), F.lit("q1_qty").alias("nm"))))
    picked = _pctl_rank_select(long, tspec, disc=False)
    wide = picked.groupBy("grp").agg(
        r4(F.max(F.when(F.col("nm") == "p50", F.col("res"))), "p50"),
        r4(F.max(F.when(F.col("nm") == "p90", F.col("res"))), "p90"),
        r4(F.max(F.when(F.col("nm") == "q1_qty", F.col("res"))), "q1_qty"),
    )
    return (
        groups.alias("g")
        .join(F.broadcast(wide).alias("w"), F.col("g.l_returnflag").eqNullSafe(F.col("w.grp")), "left")
        .select("l_returnflag", "p50", "p90", "q1_qty")
    )


@register(
    "q_agg_percentile_disc_dist",
    oracle="""
SELECT l_linestatus,
       CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS med_qty,
       CAST(quantile_disc(l_extendedprice, 0.9) AS DOUBLE) AS p90_price
FROM lineitem
GROUP BY l_linestatus
""",
    doc=(
        "EXACT discrete percentiles with BOUNDED memory — identical "
        "output to q_agg_percentile_disc (same oracle), different "
        "execution: Spark's percentile_disc aggregate buffers a "
        "value->count map per group just like exact percentile, so the "
        "100x survival sweep read 55 s on 10M distinct prices and a "
        "further scale-up OOMs. Shares _pctl_rank_select with the "
        "continuous twin; the only difference is the rank definition "
        "(0-indexed ceil(p*n)-1, the SQL-standard 'smallest value whose "
        "cumulative distribution >= p') and frac == 0 everywhere, so the "
        "election returns a stored element bit-for-bit and the result "
        "hash-matches with no rounding device. Same r8 constant shave as "
        "the continuous twin (single-scan explode + checkpointed "
        "histogram): 4.48 s -> 3.08 s best-of-3 at 10x. Pass-count "
        "profile (r10, `git show 33688ea:tools/pctl_profile.py`, the "
        "verdict's >8x-clean contingency): full query 1.94 s best at 10x, of which the "
        "pass-1 histogram ALONE (one spillable hash aggregate over the "
        "12M-row explode, 3 jobs) is 1.19 s and 11-job dispatch is "
        "~0.33 s — no redundant pass exists; the comparator gap is the "
        "JVM scan/hash-agg constant vs DuckDB's in-process sort-based "
        "quantile (0.24 s), which the exact builtin twin already covers "
        "at ~1x. Priced and accepted."
    ),
)
def q_agg_percentile_disc_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    groups = li.groupBy("l_linestatus").agg(F.count(F.lit(1)).alias("__n"))
    # single-scan explode, same rationale (and measurement) as
    # q_agg_percentile_dist above
    long = (
        li.select(
            "l_linestatus",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("qty").alias("m"),
                        F.col("l_quantity").cast("double").alias("val"),
                    ),
                    F.struct(
                        F.lit("price").alias("m"),
                        F.col("l_extendedprice").cast("double").alias("val"),
                    ),
                )
            ).alias("e"),
        )
        .select(
            F.col("l_linestatus").alias("grp"),
            F.col("e.m").alias("m"),
            F.col("e.val").alias("val"),
        )
        .filter(F.col("val").isNotNull())
    )
    tspec = F.when(
        F.col("m") == "qty",
        F.array(F.struct(F.lit(0.5).alias("p"), F.lit("med_qty").alias("nm"))),
    ).otherwise(
        F.array(F.struct(F.lit(0.9).alias("p"), F.lit("p90_price").alias("nm")))
    )
    picked = _pctl_rank_select(long, tspec, disc=True)
    wide = picked.groupBy("grp").agg(
        F.max(F.when(F.col("nm") == "med_qty", F.col("res"))).alias("med_qty"),
        F.max(F.when(F.col("nm") == "p90_price", F.col("res"))).alias("p90_price"),
    )
    return (
        groups.alias("g")
        .join(
            F.broadcast(wide).alias("w"),
            F.col("g.l_linestatus").eqNullSafe(F.col("w.grp")),
            "left",
        )
        .select("l_linestatus", "med_qty", "p90_price")
    )


@register(
    "q_agg_approx_percentile",
    doc=(
        "Approximate percentiles via percentile_approx (Greenwald-Khanna "
        "sketch, accuracy 10000): fixed-size, mergeable across partitions — "
        "the 100 TB replacement for exact percentile's per-group sort. "
        "Driver check is rows-only (sketch values legitimately differ from "
        "exact, so a hash-match would be wrong by construction), but the "
        "local harness holds it to an explicit contract: every value within "
        "1% of DuckDB's exact quantile_disc (check_oracle below), and the "
        "pytest suite asserts the same bound vs the exact operator. "
        "quantile_disc, not quantile_cont: both engines elect an actual "
        "element of the input at the same rank definition (verified exact-"
        "equal across n=1..16, NULLs, ties, negatives, +-1e18), so on "
        "sketch-exact small inputs the pair matches bit-for-bit and the "
        "parity batteries need no whitelist entry; at scale the GK rank "
        "error (<= n/10000) is what the 1% tolerance prices."
    ),
    check_oracle="""
SELECT l_returnflag,
       round(quantile_disc(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_disc(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_disc(l_quantity, 0.25), 4) AS q1_qty
FROM lineitem GROUP BY l_returnflag
""",
    check_rel_tol=0.01,
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.expr("percentile_approx(l_extendedprice, 0.5, 10000)"), "p50"),
        r4(F.expr("percentile_approx(l_extendedprice, 0.9, 10000)"), "p90"),
        r4(F.expr("percentile_approx(l_quantity, 0.25, 10000)"), "q1_qty"),
    )


@register(
    "q_agg_stats",
    oracle="""
SELECT l_linestatus,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(var_samp(l_quantity), 4) AS var_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
FROM lineitem GROUP BY l_linestatus
""",
    doc="Statistical aggregates (one-pass moment formulas in both engines).",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        r6(F.stddev_samp("l_quantity"), "sd_qty"),
        r4(F.var_samp("l_quantity"), "var_qty"),
        # corr from its co-moments through try_divide: Spark's corr
        # DIVIDE_BY_ZERO-throws under ANSI when a variance is 0 (constant
        # column — a real shape in filtered partitions); the explicit
        # formula returns NULL there, matching DuckDB's corr. SQL corr
        # uses PAIRWISE deletion — every moment is computed over rows
        # where BOTH columns are non-NULL — so each stddev masks by the
        # OTHER column's non-nullness (stddev already skips its own
        # NULLs); an unmasked stddev over all non-NULL qty rows diverges
        # whenever the two columns' NULL patterns differ (seeded-random
        # fuzz find: 2 complete pairs => corr exactly ±1, the unmasked
        # formula read 0.0036). The n/(n-1) sample factors cancel, so
        # cov_samp/(sd_samp·sd_samp) equals the population definition.
        r6(
            F.try_divide(
                F.covar_samp("l_quantity", "l_extendedprice"),
                F.stddev_samp(
                    F.when(F.col("l_extendedprice").isNotNull(), F.col("l_quantity"))
                )
                * F.stddev_samp(
                    F.when(F.col("l_quantity").isNotNull(), F.col("l_extendedprice"))
                ),
            ),
            "corr_qty_price",
        ),
        r6(F.covar_samp("l_quantity", "l_discount"), "cov_qty_disc"),
    )


_GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
       count(*) AS n,
       {_DSUM("o_totalprice")} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


@register(
    "q_agg_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    doc="GROUPING SETS with grouping() flags (SQL path — identical text in "
    "both dialects).",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sql_q(spark, sf_dir, _GROUPING_SETS_SQL, ["orders"])
    # SQL-standard (): one grand-total row even over an empty relation —
    # Spark's Expand drops it, DuckDB keeps it (zero-row battery find).
    return grand_total_if_empty(
        t(spark, sf_dir, "orders"),
        out,
        {
            "g_status": F.lit(1),
            "g_prio": F.lit(1),
            "n": F.lit(0),
        },
    )


@register(
    "q_agg_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       count(*) AS n, {_DSUM("l_quantity")} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="ROLLUP subtotal cascade via the DataFrame API.",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    out = li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count("*").alias("n"),
        dsum(F.col("l_quantity"), "sum_qty"),
    )
    # SQL-standard ROLLUP (): keep the grand-total row on empty input.
    return grand_total_if_empty(
        li, out, {"g_flag": F.lit(1), "g_status": F.lit(1), "n": F.lit(0)}
    )


@register(
    "q_agg_cube",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, {_DSUM("o_totalprice")} AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE over two keys (15 + subtotal rows).",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    out = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dsum(F.col("o_totalprice"), "sum_price")
    )
    # SQL-standard CUBE (): keep the grand-total row on empty input.
    return grand_total_if_empty(o, out, {"n": F.lit(0)})


@register(
    "q_agg_having",
    oracle=f"""
SELECT o_custkey, count(*) AS n_orders, {_DSUM("o_totalprice")} AS spend
FROM orders GROUP BY o_custkey
HAVING sum(o_totalprice) > 200000
""",
    doc="HAVING: post-aggregation filter (threshold far from float noise).",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("_raw_spend"),
            dsum(F.col("o_totalprice"), "spend"),
        )
        .filter(F.col("_raw_spend") > 200000)  # filter on the raw sum, like the oracle's HAVING
        .drop("_raw_spend")
    )


@register(
    "q_agg_collect",
    oracle="""
SELECT l_returnflag,
       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
       count(DISTINCT l_linestatus) AS n_statuses
FROM lineitem GROUP BY l_returnflag
""",
    doc=(
        "collect_set per group, order-normalized (array_sort) and "
        "serialized to a string so the hash is representation-independent "
        "— the ES-document-assembly shape of the reference pipeline."
    ),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # collect_set skips NULLs; a group with ONLY NULL statuses must report
    # NULL like SQL-standard string_agg, not concat_ws's '' for the empty set
    sset = F.array_sort(F.collect_set("l_linestatus"))
    return li.groupBy("l_returnflag").agg(
        F.when(F.size(sset) > 0, F.concat_ws(",", sset)).alias("statuses"),
        F.countDistinct("l_linestatus").alias("n_statuses"),
    )


@register(
    "q_agg_conditional",
    oracle="""
SELECT user_id,
       round(sum(value) FILTER (WHERE event_type = 'purchase'), 4) AS purchase_sum,
       count(*) FILTER (WHERE event_type = 'click') AS click_cnt,
       count(*) FILTER (WHERE event_type = 'error') AS error_cnt
FROM events GROUP BY user_id
""",
    doc=(
        "FILTERed aggregates — per-type counters per user, the canonical "
        "KSE demo aggregation (SURVEY.md §2.4 [R] high conf). One shuffle "
        "computes all three conditions."
    ),
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        r4(F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), "purchase_sum"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("click_cnt"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("error_cnt"),
    )


# ---------------------------------------------------------------------------
# §2.6 sort / limit / top-k / sample
# ---------------------------------------------------------------------------


@register(
    "q_sort_multi",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
ORDER BY o_orderstatus DESC, o_totalprice DESC, o_orderkey
LIMIT 100
""",
    doc="Multi-key ORDER BY + LIMIT → TakeOrderedAndProject (per-partition "
    "top-100 then driver merge; never a full global sort).",
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(
            F.col("o_orderstatus").desc_nulls_last(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey"),
        )
        .limit(100)
    )


@register(
    "q_limit",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
    doc="Deterministic LIMIT (ordered, keyed tie-break).",
)
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q_topk_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
FROM orders
QUALIFY rn <= 3
""",
    doc=(
        "Top-k per group via window row_number + filter. Catalyst 3.5+ "
        "inserts a WindowGroupLimit (per-partition top-k before the "
        "shuffle), so this scales as a partial top-k, not a full sort."
    ),
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@register(
    "q_sample",
    oracle=None,  # sampling RNG is engine-specific — rows-only check
    doc="Seeded Bernoulli sampling (per-partition, no shuffle). The pytest "
    "suite asserts the fraction lands in a tolerance band and is stable "
    "across runs for a fixed seed.",
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # NB: must use the explicit (withReplacement, fraction, seed) form —
    # sample(0.1, seed=42) silently drops the seed in PySpark 4.1.
    return e.sample(False, 0.1, 42).select("event_id", "event_type")


@register(
    "q_sample_hash",
    oracle="""
SELECT event_id, event_type
FROM events
WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS INT) % 10 = 0
""",
    doc=(
        "Deterministic content-hash sampling (~10%): keep rows whose "
        "md5(key) prefix mod 10 == 0. Unlike RNG sampling this is "
        "reproducible across engines, runs, and repartitioning — the right "
        "way to carve stable train/eval splits from a 100 TB corpus (the "
        "split a row lands in is a pure function of its key). No shuffle; "
        "the predicate evaluates map-side and pushes nothing to the driver."
    ),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bucket = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10)
    return e.filter(bucket.cast("int") % 10 == 0).select("event_id", "event_type")


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------

def _seg_a() -> F.Column:
    return F.col("c_mktsegment") == "AUTOMOBILE"


def _rich() -> F.Column:
    return F.col("c_acctbal") > 5000


@register(
    "q_set_union_all",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
UNION ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""",
    doc="Bag union (no shuffle — partitions concatenate).",
)
def q_set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.filter(_seg_a()).select("c_custkey").unionByName(c.filter(_rich()).select("c_custkey"))


@register(
    "q_set_union_distinct",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""",
    doc="Set union (union + distinct ⇒ one hash-aggregate shuffle).",
)
def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return (
        c.filter(_seg_a())
        .select("c_custkey")
        .union(c.filter(_rich()).select("c_custkey"))
        .distinct()
    )


@register(
    "q_set_intersect",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""",
    doc="INTERSECT (distinct semantics in both engines).",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.filter(_seg_a()).select("c_custkey").intersect(c.filter(_rich()).select("c_custkey"))


@register(
    "q_set_except",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""",
    doc="EXCEPT (distinct semantics: Spark subtract == SQL EXCEPT).",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.filter(_seg_a()).select("c_custkey").subtract(c.filter(_rich()).select("c_custkey"))


@register(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT rows (map-side partial distinct collapses before shuffle).",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
