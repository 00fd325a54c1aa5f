"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(plus the beyond-reference extension operators), each expressed through the
hbsir_old_spark engine; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.
Column names and rounding are aligned in BOTH dialects so the driver's
order-insensitive value-hash matches.

Conventions:
* every float aggregate is rounded to the same precision on both sides
  (cross-engine last-ulp noise vanishes under rounding; a residual
  divergence exists when a double's shortest decimal repr ends exactly at
  the half boundary — Spark rounds the repr HALF_UP, DuckDB multiplies —
  not observed at any gate scale factor);
* integer results are cast to BIGINT in the oracle (DuckDB's count/sum
  otherwise widen to HUGEINT/DECIMAL);
* timestamps are compared as epoch milliseconds (BIGINT) — no tz/precision
  ambiguity;
* window/rank queries carry explicit deterministic tiebreakers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hbsir_old_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from hbsir_old_spark.functions.multimodal import extract_features
from hbsir_old_spark.functions.similarity import cosine_topk, lsh_bucket_topk
from hbsir_old_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    quality_features,
    rolling_min_fingerprint,
    token_count,
)
from hbsir_old_spark.operators.attributes import extract_id_digits, map_codes
from hbsir_old_spark.operators.classification import (
    add_classification,
    build_classification_dim,
)
from hbsir_old_spark.operators.quantile import add_decile, weighted_ecdf
from hbsir_old_spark.operators.reshape import melt, pivot_table, union_tables
from hbsir_old_spark.operators.weighted import average_table, weighted_average
from hbsir_old_spark.streaming.events import sessionize, tumbling_stats

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The documents corpus, spread across the session's parallelism
    (r14, guide §2.5 "input skew — one huge unsplittable file"): the
    local fixture is ONE parquet file with ONE row group, so a plain scan
    is a single task and every per-row text expression serializes onto
    one core. ensure_min_partitions round-robins the scan output; at real
    scale a corpus scan has thousands of splits and the helper no-ops, so
    the production plan carries no extra Exchange. Used by the
    expression-heavy corpus queries; tiny dimension slices (benchmark
    probes, doc_id<k filters) keep the bare ``_t`` scan."""
    from hbsir_old_spark.session import ensure_min_partitions

    df = _t(spark, sf_dir, "documents")
    if cols:
        df = df.select(*cols)
    return ensure_min_partitions(df)


def _explode_variants(df: DataFrame, *variants: list[Column]) -> DataFrame:
    """Build a planted N-x corpus from ONE scan (r14, guide §2.4): explode
    each scanned row into the given variants (lists of column expressions
    aliased to ``df``'s column names) instead of an N-branch self-union.
    The rows produced are IDENTICAL to the union form — union order is
    irrelevant to every consumer (aggregates, joins, dedup) and the gates
    all sort or hash order-insensitively — but each consumer of the corpus
    pays one scan + one spread Exchange instead of N of each. At real
    scale the plant disappears (it is gate scaffolding), so this changes
    no production plan."""
    cols = df.columns
    out = df.select(F.explode(F.array(*[F.struct(*v) for v in variants])).alias("__v__"))
    return out.select(*[F.col(f"__v__.{c}").alias(c) for c in cols])


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a TimestampType ``ts`` regardless of how the parquet
    encodes it. Some generator versions write TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects — those are read as epoch-nano longs
    (legacy conf) and converted; TIMESTAMP(MICROS/MILLIS) files come back as
    timestamps already and pass through untouched."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # naive parquet timestamps are treated as UTC instants (matches DuckDB's
    # epoch_ms on the same file); also makes the NTZ→LTZ cast below an
    # epoch-identity so watermarks see the same instant the oracle hashes.
    # Deliberately session-global: the driver may run gates in a session it
    # built itself (not get_spark(), which already pins UTC), and every
    # events oracle is only correct under UTC — harness policy, not library
    # behavior.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        # integer `div`, not `/`: epoch-nanos exceed double's 2^53 mantissa,
        # so float division would round the microsecond off
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks/windows require TimestampType (an instant); under the
        # UTC session tz this cast preserves the epoch value bit-for-bit
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


# --------------------------------------------------------------------------
# A1 — group-by sum (TPC-H Q1-shaped pricing summary)
# --------------------------------------------------------------------------

def q_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


SQL_GROUPBY_SUM = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                              AS sum_qty,
       round(sum(l_extendedprice), 2)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
       round(avg(l_quantity), 6)                              AS avg_qty,
       round(avg(l_discount), 6)                              AS avg_disc,
       count(*)::BIGINT                                       AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# P7 — computed numeric column with coalesce-fill semantics
# --------------------------------------------------------------------------

def q_computed_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.coalesce(F.col("l_extendedprice"), F.lit(0.0)) * (
        1 - F.coalesce(F.col("l_discount"), F.lit(0.0))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(revenue, 4).alias("revenue"),
    )


SQL_COMPUTED_COLUMN = """
SELECT l_orderkey, l_linenumber,
       round(coalesce(l_extendedprice, 0) * (1 - coalesce(l_discount, 0)), 4) AS revenue
FROM lineitem
"""


# --------------------------------------------------------------------------
# P8 — categorical column from ordered conditions (when-chain)
# --------------------------------------------------------------------------

def q_category_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50_000, F.lit("Small"))
        .when(F.col("o_totalprice") < 200_000, F.lit("Medium"))
        .otherwise(F.lit("Large"))
    )
    urgent_f = (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT")
    return orders.select(
        "o_orderkey",
        band.alias("price_band"),
        F.when(urgent_f, F.lit("UrgentClosed")).otherwise(F.lit("Other")).alias("urgency_class"),
    )


SQL_CATEGORY_CONDITIONS = """
SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'Small'
            WHEN o_totalprice < 200000 THEN 'Medium'
            ELSE 'Large' END AS price_band,
       CASE WHEN o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
            THEN 'UrgentClosed' ELSE 'Other' END AS urgency_class
FROM orders
"""


# --------------------------------------------------------------------------
# P4 — string scrub (regex cleanup, blank -> null)
# --------------------------------------------------------------------------

def q_string_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    cleaned = F.trim(F.regexp_replace(F.translate(F.col("p_name"), ",@+*", ""), r"[ \t\n\x0b\f\r]+", " "))
    return part.select(
        "p_partkey",
        F.nullif(cleaned, F.lit("")).alias("clean_name"),
    )


SQL_STRING_SCRUB = """
SELECT p_partkey,
       nullif(trim(regexp_replace(translate(p_name, ',@+*', ''), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), '') AS clean_name
FROM part
"""


# --------------------------------------------------------------------------
# P11 — season/quarter derivation through a literal code map (P17 too)
# --------------------------------------------------------------------------

SEASONS = {1: "Spring", 2: "Summer", 3: "Autumn", 4: "Winter"}


def q_season_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    quarter = (F.floor((F.month("o_orderdate") - 1) / 3) + 1).cast("int")
    return orders.select(
        "o_orderkey",
        quarter.alias("quarter"),
        map_codes(quarter, SEASONS).alias("season"),
    )


SQL_SEASON_DERIVATION = """
SELECT o_orderkey,
       (floor((month(o_orderdate) - 1) / 3) + 1)::INTEGER AS quarter,
       CASE (floor((month(o_orderdate) - 1) / 3) + 1)::INTEGER
            WHEN 1 THEN 'Spring' WHEN 2 THEN 'Summer'
            WHEN 3 THEN 'Autumn' WHEN 4 THEN 'Winter' END AS season
FROM orders
"""


# --------------------------------------------------------------------------
# P16 — ID-digit extraction via integer arithmetic (no UDF)
# --------------------------------------------------------------------------

def q_id_digit_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        extract_id_digits("o_orderkey", id_length=6, start=2, end=4).alias("mid_digits"),
        extract_id_digits("o_orderkey", id_length=6, start=5, end=6).alias("last_digit"),
    )


SQL_ID_DIGIT_EXTRACTION = """
SELECT o_orderkey,
       ((o_orderkey % 10000) // 100)::BIGINT AS mid_digits,
       (o_orderkey % 10)::BIGINT             AS last_digit
FROM orders
"""


# --------------------------------------------------------------------------
# P17 — dict-map lookup (code -> name) with default
# --------------------------------------------------------------------------

REGION_NAMES = {0: "AFRICA", 1: "AMERICA", 2: "ASIA", 3: "EUROPE", 4: "MIDDLE EAST"}


def q_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        "n_name",
        map_codes("n_regionkey", REGION_NAMES, default="UNKNOWN").alias("region_name"),
    )


SQL_MAP_LOOKUP = """
SELECT n_nationkey, n_name,
       coalesce(CASE n_regionkey WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA'
                WHEN 2 THEN 'ASIA' WHEN 3 THEN 'EUROPE' WHEN 4 THEN 'MIDDLE EAST' END,
                'UNKNOWN') AS region_name
FROM nation
"""


# --------------------------------------------------------------------------
# P18 — melt (wide -> long) via stack
# --------------------------------------------------------------------------

def q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: a round-robin spread was tried here and REVERTED — the melt's
    # stack fanout and per-row round are cheap codegen work, while the
    # keyless repartition shuffles the full-width lineitem (16 cols) and
    # pays sort-before-repartition. Measured isolated at sf0.1/local[32]:
    # 0.36-0.44 s without vs 0.84-1.03 s with (OPTIMIZATION_r14.md).
    li = _t(spark, sf_dir, "lineitem")
    return melt(
        li,
        id_cols=("l_orderkey", "l_linenumber"),
        value_cols=("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        var_name="measure",
        value_name="value",
    ).withColumn("value", F.round("value", 4))


SQL_MELT = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, round(l_quantity, 4) AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', round(l_extendedprice, 4) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', round(l_discount, 4) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', round(l_tax, 4) FROM lineitem
"""


# --------------------------------------------------------------------------
# P19 — pivot (long -> wide) with explicit pivot values
# --------------------------------------------------------------------------

def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pivoted = pivot_table(
        li, group_cols=("l_returnflag",), pivot_col="l_linestatus",
        value_col="l_quantity", agg="sum", pivot_values=("F", "O"),
    )
    return pivoted.select(
        "l_returnflag",
        F.round(F.col("F"), 2).alias("qty_f"),
        F.round(F.col("O"), 2).alias("qty_o"),
    )


SQL_PIVOT = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# F1 — query-string filter (pandas-query dialect -> SQL predicates)
# --------------------------------------------------------------------------

def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_returnflag").isin("A", "R")
            & F.col("l_discount").isNotNull()
            & ~(F.col("l_quantity") < 5)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


SQL_FILTER_PREDICATES = """
SELECT l_returnflag, count(*)::BIGINT AS n_rows, round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
WHERE l_returnflag IN ('A', 'R') AND l_discount IS NOT NULL AND NOT (l_quantity < 5)
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# F2 + P16 — attribute select: decode digits, filter, drop helper
# --------------------------------------------------------------------------

def q_attribute_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    last_digit = extract_id_digits("c_custkey", id_length=7, start=6, end=7)
    return cust.filter(last_digit.isin(1, 2, 3)).select("c_custkey", "c_name", "c_mktsegment")


SQL_ATTRIBUTE_SELECT = """
SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE (c_custkey % 10) IN (1, 2, 3)
"""


# --------------------------------------------------------------------------
# F3/A6 — distinct pairs
# --------------------------------------------------------------------------

def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderpriority",
    ).distinct()


SQL_DISTINCT = """
SELECT DISTINCT year(o_orderdate)::INTEGER AS order_year, o_orderpriority FROM orders
"""


# --------------------------------------------------------------------------
# J1 — the flagship classification (code-range) broadcast join, 2 levels,
#      with missing-value default (P10)
# --------------------------------------------------------------------------

PART_CLASSIFICATION = {
    "items": {
        "light": {"code": {"start": 1, "end": 800}, "level": 1, "name": "light"},
        "medium": {"code": {"start": 800, "end": 1500}, "level": 1, "name": "medium"},
        "heavy": {"code": {"start": 1500, "end": 2100}, "level": 1, "name": "heavy"},
        # level 2 deliberately leaves [500, 800) + [1200, 2100) unmapped to
        # exercise the missing-value default path (P10)
        "feather": {"code": {"start": 1, "end": 500}, "level": 2, "name": "feather"},
        "mid_kg": {"code": {"start": 800, "end": 1200}, "level": 2, "name": "mid_kg"},
    }
}


def q_classification_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dim = build_classification_dim(PART_CLASSIFICATION, aspects=("name",))
    classified = add_classification(
        li,
        dim,
        code_col="l_partkey",
        year_col=None,
        levels=(1, 2),
        aspects=("name",),
        missing_value_replacements={"name_2": "unclassified"},
    )
    return classified.groupBy("name_1", "name_2").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_items"),
    )


SQL_CLASSIFICATION_JOIN = """
SELECT CASE WHEN l_partkey BETWEEN 1 AND 799 THEN 'light'
            WHEN l_partkey BETWEEN 800 AND 1499 THEN 'medium'
            WHEN l_partkey BETWEEN 1500 AND 2099 THEN 'heavy' END AS name_1,
       coalesce(CASE WHEN l_partkey BETWEEN 1 AND 499 THEN 'feather'
                     WHEN l_partkey BETWEEN 800 AND 1199 THEN 'mid_kg' END,
                'unclassified') AS name_2,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*)::BIGINT AS n_items
FROM lineitem GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# J3 + A3 — weights join then weighted average
# --------------------------------------------------------------------------

def q_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    weights = cust.select(
        F.col("c_custkey"), (F.abs("c_acctbal") + 1).alias("Weight")
    )
    fact = orders.join(F.broadcast(weights), orders.o_custkey == weights.c_custkey, "left")
    wavg = weighted_average(
        fact, weight_col="Weight", value_cols=["o_totalprice"],
        group_cols=["o_orderpriority"],
    )
    return wavg.select(
        "o_orderpriority", F.round("o_totalprice", 6).alias("wavg_totalprice")
    )


SQL_WEIGHTED_AVERAGE = """
SELECT o_orderpriority,
       round(sum(o_totalprice * (abs(c_acctbal) + 1))
             / sum(CASE WHEN o_totalprice IS NOT NULL THEN abs(c_acctbal) + 1 END), 6)
           AS wavg_totalprice
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# J2/J4 — broadcast dimension join chain (fact -> nation -> region)
# --------------------------------------------------------------------------

def q_dim_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


SQL_DIM_JOIN_CHAIN = """
SELECT r_name, count(*)::BIGINT AS n_customers,
       round(avg(c_acctbal), 6) AS avg_acctbal,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------------
# J6 — fact-fact inner join (shuffle join, AQE-managed at scale)
# --------------------------------------------------------------------------

def q_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
    return joined.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_FACT_JOIN = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the TPC-H Q5 shape — the deepest join tree in the registry (6 tables:
    # 2 facts + 4 dims, plus the c_nationkey = s_nationkey LOCAL-supplier
    # correlation that makes naive join orders explode). Declared flat and
    # left to Catalyst: region/nation (and supplier at this sf) broadcast,
    # the r_name and o_orderdate filters push to the scans, and the two
    # fact tables meet in the one unavoidable shuffle join. The point of
    # the gate is join REORDERING + broadcast-cascade plan quality, pinned
    # by test_plan_quality.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


SQL_LOCAL_SUPPLIER_REVENUE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# A2 + P12 — count/predicated-sum + equivalence-scale arithmetic
# --------------------------------------------------------------------------

def q_household_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("c_acctbal") >= 0, 1).otherwise(0)).alias("n_adults"),
    )
    per_nation = per_nation.withColumn("n_childs", F.col("n_members") - F.col("n_adults"))
    return per_nation.select(
        "c_nationkey",
        "n_members",
        "n_adults",
        "n_childs",
        F.round(0.7 * F.col("n_adults") + 0.3 + 0.5 * F.col("n_childs"), 4).alias("oecd"),
        F.round(0.5 * F.col("n_adults") + 0.5 + 0.3 * F.col("n_childs"), 4).alias("oecd_modified"),
        F.round(F.sqrt("n_members"), 6).alias("sqrt_scale"),
    )


SQL_HOUSEHOLD_MATH = """
WITH per_nation AS (
  SELECT c_nationkey, count(*)::BIGINT AS n_members,
         sum(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END)::BIGINT AS n_adults
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, n_members, n_adults,
       (n_members - n_adults)::BIGINT AS n_childs,
       round(0.7 * n_adults + 0.3 + 0.5 * (n_members - n_adults), 4) AS oecd,
       round(0.5 * n_adults + 0.5 + 0.3 * (n_members - n_adults), 4) AS oecd_modified,
       round(sqrt(n_members), 6) AS sqrt_scale
FROM per_nation
"""


# --------------------------------------------------------------------------
# A4 — average_table (grouped mean, unweighted path => weight ≡ 1)
# --------------------------------------------------------------------------

def q_weighted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5: weighted totals as denominators (population totals per group)
    orders = _t(spark, sf_dir, "orders").withColumn(
        "Weight", ((F.col("o_custkey") % 5) + 1).cast("double")
    )
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.sum("Weight"), 2).alias("sum_weight"),
        F.round(F.sum(F.col("Weight") * F.col("o_totalprice")), 2).alias("weighted_total"),
    )


SQL_WEIGHTED_SUM = """
SELECT o_orderpriority,
       round(sum(((o_custkey % 5) + 1)::DOUBLE), 2) AS sum_weight,
       round(sum(((o_custkey % 5) + 1)::DOUBLE * o_totalprice), 2) AS weighted_total
FROM orders GROUP BY o_orderpriority
"""


def q_average_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    avg = average_table(
        orders, value_cols=["o_totalprice"], groupby=["o_orderpriority"], weighted=False
    )
    return avg.select("o_orderpriority", F.round("o_totalprice", 6).alias("avg_totalprice"))


SQL_AVERAGE_TABLE = """
SELECT o_orderpriority,
       round(sum(o_totalprice * 1.0) / sum(CASE WHEN o_totalprice IS NOT NULL THEN 1.0 END), 6)
           AS avg_totalprice
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# W1 — weighted empirical CDF (the reference's quantile core)
# --------------------------------------------------------------------------

def q_weighted_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    ).withColumn("Weight", ((F.col("o_custkey") % 5) + 1).cast("double"))
    ecdf = weighted_ecdf(
        orders,
        value_col="o_totalprice",
        weight_col="Weight",
        group_cols=("order_year",),
        out_col="quantile",
        tiebreaker_cols=("o_orderkey",),
    )
    return ecdf.select("o_orderkey", "order_year", F.round("quantile", 6).alias("quantile"))


SQL_WEIGHTED_ECDF = """
SELECT o_orderkey, year(o_orderdate)::INTEGER AS order_year,
       round(
         sum(((o_custkey % 5) + 1)::DOUBLE) OVER (
             PARTITION BY year(o_orderdate) ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / sum(((o_custkey % 5) + 1)::DOUBLE) OVER (PARTITION BY year(o_orderdate)),
       6) AS quantile
FROM orders WHERE o_totalprice IS NOT NULL
"""


# --------------------------------------------------------------------------
# W2/P15 — weighted deciles
# --------------------------------------------------------------------------

def q_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    ).withColumn("Weight", ((F.col("o_custkey") % 5) + 1).cast("double"))
    binned = add_decile(
        orders,
        value_col="o_totalprice",
        weight_col="Weight",
        group_cols=("order_year",),
        out_col="decile",
        tiebreaker_cols=("o_orderkey",),
    )
    return binned.groupBy("order_year", "decile").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_totalprice"),
    )


SQL_DECILE = """
WITH q AS (
  SELECT year(o_orderdate)::INTEGER AS order_year, o_totalprice,
         sum(((o_custkey % 5) + 1)::DOUBLE) OVER (
             PARTITION BY year(o_orderdate) ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / sum(((o_custkey % 5) + 1)::DOUBLE) OVER (PARTITION BY year(o_orderdate)) AS quantile
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT order_year,
       least(greatest(floor(quantile * 10) + 1, 1), 10)::INTEGER AS decile,
       count(*)::BIGINT AS n_orders,
       round(avg(o_totalprice), 4) AS avg_totalprice
FROM q GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# O1-O3 — deterministic top-k
# --------------------------------------------------------------------------

def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


SQL_TOP_K = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


# --------------------------------------------------------------------------
# U1 — union with missing columns (pandas-concat alignment semantics)
# --------------------------------------------------------------------------

def q_union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("src"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("src"),
    )
    return union_tables([cust, supp])


SQL_UNION_MISSING_COLUMNS = """
SELECT c_custkey AS entity_id, c_name AS name, c_acctbal AS acctbal,
       c_mktsegment AS mktsegment, 'customer' AS src FROM customer
UNION ALL
SELECT s_suppkey, s_name, s_acctbal, NULL, 'supplier' FROM supplier
"""


# --------------------------------------------------------------------------
# P13/J4 — CPI-style deflation through a broadcast year dimension
# --------------------------------------------------------------------------

def _cpi_dim(spark: SparkSession) -> DataFrame:
    # deterministic CPI curve over the order-date span (base 1995 = 80, +6/yr);
    # built with spark.range so the dim is JVM-side (no py4j local-relation
    # round trip on every call)
    return spark.range(1960, 2101).select(
        F.col("id").cast("int").alias("order_year"),
        (80 + (F.col("id") - 1995) * 6).cast("double").alias("cpi"),
    )


def q_cpi_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    joined = orders.join(F.broadcast(_cpi_dim(spark)), "order_year", "left")
    deflated = joined.withColumn("real_price", F.col("o_totalprice") / F.col("cpi") * 100)
    return deflated.groupBy("order_year").agg(
        F.round(F.avg("real_price"), 4).alias("avg_real_price"),
        F.count("*").alias("n_orders"),
    )


SQL_CPI_DEFLATION = """
SELECT year(o_orderdate)::INTEGER AS order_year,
       round(avg(o_totalprice / (80 + (year(o_orderdate) - 1995) * 6)::DOUBLE * 100), 4)
           AS avg_real_price,
       count(*)::BIGINT AS n_orders
FROM orders GROUP BY 1
"""


# --------------------------------------------------------------------------
# Streaming extension (batch-equivalent plans): tumbling + session windows
# --------------------------------------------------------------------------

def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    stats = tumbling_stats(events, window="1 hour")
    return stats.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "n_events",
        "sum_value",
    )


SQL_EVENTS_TUMBLING = """
SELECT epoch_ms(date_trunc('hour', ts))::BIGINT AS window_start_ms,
       event_type, count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events(spark, sf_dir)
    sessions = sessionize(events, gap="5 minutes")
    return sessions.select(
        "user_id",
        F.unix_millis("session_start").alias("session_start_ms"),
        "n_events",
        "sum_value",
    )


SQL_EVENTS_SESSIONS = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '5 minutes' OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM marked
)
SELECT user_id, epoch_ms(min(ts))::BIGINT AS session_start_ms,
       count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
FROM numbered GROUP BY user_id, session_no
"""


# --------------------------------------------------------------------------
# Extensions: dedup / text / similarity / multimodal on documents+embeddings
# --------------------------------------------------------------------------
# S6 — stream-stream interval join (streaming/events.py interval_join):
# click -> purchase attribution, purchases within 30 minutes after a click
# by the same user. Batch and streaming run the SAME call; on streams the
# two watermarks + the closed time-range bound the join state (canonical
# Structured Streaming stream-stream join). The gate runs batch mode so
# DuckDB oracles the identical equi+range join; the lag histogram (minute
# buckets, exact integer ms arithmetic) pins the range boundaries sharply.
# --------------------------------------------------------------------------


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.streaming.events import interval_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    pairs = interval_join(clicks, purchases, within="30 minutes")
    lag_min = F.floor(
        (F.unix_millis(F.col("ts_r").cast("timestamp"))
         - F.unix_millis(F.col("ts").cast("timestamp"))) / 60000
    )
    return (
        pairs.select(lag_min.cast("long").alias("lag_minute"), "value_r")
        .groupBy("lag_minute")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.sum("value_r"), 2).alias("attributed_value"),
        )
        .orderBy("lag_minute")
    )


SQL_INTERVAL_JOIN = """
WITH c AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT (floor((epoch_ms(p.ts) - epoch_ms(c.ts)) / 60000))::BIGINT AS lag_minute,
       count(*)::BIGINT          AS n_pairs,
       round(sum(p.value), 2)    AS attributed_value
FROM c JOIN p ON c.user_id = p.user_id
              AND p.ts > c.ts
              AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY lag_minute
ORDER BY lag_minute
"""


# --------------------------------------------------------------------------

def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.streaming.events import sliding_counts

    events = _events(spark, sf_dir)
    counts = sliding_counts(events, window="1 hour", slide="30 minutes")
    return counts.select(
        F.unix_millis("window_start").alias("window_start_ms"), "n_events"
    )


# each event belongs to exactly two 1h/30m sliding windows: the ones starting
# at its 30-minute bucket and 30 minutes before it
SQL_EVENTS_SLIDING = """
WITH buckets AS (
  SELECT unnest([
           time_bucket(INTERVAL '30 minutes', ts),
           time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
         ]) AS w
  FROM events
)
SELECT epoch_ms(w)::BIGINT AS window_start_ms, count(*)::BIGINT AS n_events
FROM buckets GROUP BY 1
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Two-level formulation instead of one agg with two multi-key
    # countDistincts: the single-agg plan Expands every input row 3x before
    # the first shuffle (one replica per distinct group), tripling shuffle
    # volume at scale. Level 1 collapses to distinct (flag, part, supp)
    # combos with map-side combine; the remaining Expand runs over combos,
    # not rows. (Measured at sf0.1: marginally faster warm, 3x less
    # first-shuffle input; r3's +90% on this query was environment noise —
    # both shapes sit at ~1.1 s warm on a quiet machine.)
    lvl1 = li.groupBy("l_returnflag", "l_partkey", "l_suppkey").agg(
        F.count("*").alias("__c__")
    )
    return lvl1.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        # count(*) over combos would also count a combo whose part/supp are
        # NULL; countDistinct skips any-NULL rows, so mirror that here
        F.count(
            F.when(
                F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull(), 1
            )
        ).alias("n_part_supp"),
        F.sum("__c__").cast("long").alias("n_rows"),
    )


SQL_DISTINCT_AGG = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey)::BIGINT AS n_suppliers,
       count(DISTINCT CASE WHEN l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
                    THEN (l_partkey, l_suppkey) END)::BIGINT AS n_part_supp,
       count(*)::BIGINT AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog++ sketch — the 100 TB path for cardinality; approximate by
    # design => rows-only driver check (q_distinct_agg is the exact twin)
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )


def q_text_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus cleaning ops: HTML strip + PII redaction + repetition
    signal, exercised on synthesized noisy variants of the documents (the
    corpus itself is clean, so noise is injected deterministically)."""
    from hbsir_old_spark.functions.text import (
        redact_pii,
        repeated_token_ratio,
        strip_html,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = docs.withColumn(
        "text",
        F.concat(
            F.lit("<p>Contact "),
            F.lit("user"), (F.col("doc_id") % 50).cast("string"), F.lit("@example.com or "),
            F.lit("https://site"), (F.col("doc_id") % 9).cast("string"), F.lit(".example/x "),
            F.lit("</p><div>"), F.col("text"), F.lit("</div>"),
        ),
    )
    cleaned = noisy.withColumn("text", redact_pii(strip_html("text")))
    return cleaned.select(
        "doc_id",
        F.length("text").cast("long").alias("clean_len"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("[EMAIL]"), F.lit(""))))
        .cast("long")
        .alias("email_chars"),
        repeated_token_ratio("text").alias("rep_ratio"),
    )


SQL_TEXT_CLEANING = r"""
WITH noisy AS (
  SELECT doc_id,
         '<p>Contact user' || (doc_id % 50) || '@example.com or https://site' ||
         (doc_id % 9) || '.example/x </p><div>' || text || '</div>' AS text
  FROM documents
), stripped AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS text
  FROM noisy
), redacted AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             'https?://[^\s]+', '[URL]', 'g'),
           '\+?[0-9][0-9()\-.]{7,}[0-9]', '[PHONE]', 'g') AS text
  FROM stripped
)
SELECT doc_id,
       length(text)::BIGINT AS clean_len,
       (length(text) - length(replace(text, '[EMAIL]', '')))::BIGINT AS email_chars,
       round(CASE WHEN len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> t <> '')) > 0
                  THEN 1 - len(list_distinct(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> t <> '')))
                           / len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> t <> ''))
                  ELSE 0 END, 6) AS rep_ratio
FROM redacted
"""


def q_contamination_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag corpus documents sharing any word
    5-gram with a held-out 'benchmark' set (doc_id < 5) — a left-semi join
    on exploded shingles, the scalable exact formulation."""
    from hbsir_old_spark.functions.dedup import exploded_word_shingles

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = exploded_word_shingles(docs, "doc_id", "text", 5, gram_col="g")
    bench = shingled.filter(F.col("doc_id") < 5).select("g").distinct()
    contaminated = (
        shingled.filter(F.col("doc_id") >= 5)
        .join(bench, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return contaminated.orderBy("doc_id")


SQL_CONTAMINATION_FLAG = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(t) - 4, 1) + 1),
                                             i -> array_to_string(t[i:i+4], ' ')))) AS g
  FROM toks
)
SELECT DISTINCT a.doc_id
FROM sh a WHERE a.doc_id >= 5
  AND EXISTS (SELECT 1 FROM sh b WHERE b.doc_id < 5 AND b.g = a.g)
ORDER BY a.doc_id
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hierarchical totals in one pass — the Spark-native upgrade of the
    # reference's union-of-totals presentation (SURVEY §2.5 note)
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # arbitrary grouping-set combinations in one pass (a8's rollup is the
    # hierarchical special case): per-flag, per-status, and grand total —
    # but NOT the (flag, status) cross — one Expand + one aggregation
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem__")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_rows
        FROM __gs_lineitem__
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n_rows
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the full lattice (every subset of the dims) — completes the a8/a9
    # multi-dimensional aggregation family; one Expand + one aggregation
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
        F.count("*").alias("n_rows"),
    )


SQL_CUBE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(avg(l_discount), 6) AS avg_discount,
       count(*)::BIGINT AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trailing per-user rolling aggregates over the last 3 events (bounded-
    # frame window: one Exchange on user_id, ring-buffer frame, no extra
    # pass), summarized per event type. The value is floored to integer
    # cents first so the rolling sum aggregates EXACTLY (BIGINT) — a sum of
    # double rolling-averages is FP-accumulation-order-dependent across
    # engines and can straddle a rounding half-boundary; min/max of the
    # rolling average are order-insensitive and safe to compare.
    from hbsir_old_spark.operators.temporal import rolling_aggregate

    ev = _events(spark, sf_dir).withColumn(
        "value_c", F.floor(F.col("value") * 100).cast("long")
    )
    rolled = rolling_aggregate(
        ev,
        partition_by="user_id",
        order_by="ts",
        value_col="value_c",
        window=3,
        agg="sum",
        tiebreakers=["event_id"],
        out_col="roll_sum",
    )
    rolled = rolling_aggregate(
        rolled,
        partition_by="user_id",
        order_by="ts",
        value_col="value_c",
        window=3,
        agg="avg",
        tiebreakers=["event_id"],
        out_col="roll_avg",
    )
    return (
        rolled.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("roll_sum").cast("long").alias("total_rolling_sum"),
            F.round(F.max("roll_avg"), 6).alias("max_rolling_avg"),
            F.round(F.min("roll_avg"), 6).alias("min_rolling_avg"),
        )
        .orderBy("event_type")
    )


SQL_ROLLING_WINDOW = """
WITH c AS (
  SELECT event_type, user_id, ts, event_id,
         floor(value * 100)::BIGINT AS value_c
  FROM events
), r AS (
  SELECT event_type,
         sum(value_c) OVER w3 AS roll_sum,
         avg(value_c) OVER w3 AS roll_avg
  FROM c
  WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       count(*)::BIGINT          AS n_events,
       sum(roll_sum)::BIGINT     AS total_rolling_sum,
       round(max(roll_avg), 6)   AS max_rolling_avg,
       round(min(roll_avg), 6)   AS min_rolling_avg
FROM r GROUP BY event_type ORDER BY event_type
"""


def q_batch_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gaps-and-islands sessionization over history — the batch twin of the
    # s2 streaming session windows (same >gap boundary), then a session-
    # length histogram with duration/value stats. Both windows inside
    # sessionize_batch share one Exchange + sort on (user_id, ts, event_id).
    from hbsir_old_spark.operators.temporal import sessionize_batch

    ev = _events(spark, sf_dir)
    sess = sessionize_batch(
        ev, "user_id", "ts", gap="12 hours", tiebreakers=["event_id"]
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias("dur_ms"),
        F.sum("value").alias("sess_value"),
    )
    return (
        per_session.groupBy(F.col("n_events").cast("long").alias("session_length"))
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.round(F.avg("dur_ms") / 1000, 3).alias("avg_duration_s"),
            F.round(F.sum("sess_value"), 2).alias("total_value"),
        )
        .orderBy("session_length")
    )


SQL_BATCH_SESSIONS = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 12 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
), per AS (
  SELECT user_id, session_id,
         count(*)                          AS n_events,
         epoch_ms(max(ts)) - epoch_ms(min(ts)) AS dur_ms,
         sum(value)                        AS sess_value
  FROM sess GROUP BY user_id, session_id
)
SELECT n_events::BIGINT            AS session_length,
       count(*)::BIGINT            AS n_sessions,
       round(avg(dur_ms) / 1000, 3) AS avg_duration_s,
       round(sum(sess_value), 2)   AS total_value
FROM per GROUP BY n_events ORDER BY session_length
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # strict-order conversion funnel over the event stream (beyond-reference
    # events-analytics): view -> click -> purchase, each step strictly after
    # the previous and within 7 days of the FIRST step. k-pass iterative
    # min-agg shape (operators/temporal.py:funnel_steps): per-step filtered
    # scan + user-keyed partial agg, O(1) per-user state — never a per-user
    # collect_list, so a bot user can't blow executor memory at 100 TB.
    from hbsir_old_spark.operators.temporal import funnel_counts

    ev = _events(spark, sf_dir)
    return funnel_counts(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within="7 days",
    ).orderBy("step_index")


SQL_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > s2.t2 AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
), c AS (
  SELECT (SELECT count(*) FROM s1) AS c1,
         (SELECT count(*) FROM s2) AS c2,
         (SELECT count(*) FROM s3) AS c3
)
SELECT * FROM (
  SELECT 1::INT AS step_index, 'view' AS step_name,
         c1::BIGINT AS users, round(c1 / c1::DOUBLE, 4) AS conversion FROM c
  UNION ALL
  SELECT 2::INT, 'click', c2::BIGINT, round(c2 / c1::DOUBLE, 4) FROM c
  UNION ALL
  SELECT 3::INT, 'purchase', c3::BIGINT, round(c3 / c1::DOUBLE, 4) FROM c
) ORDER BY step_index
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weekly retention cohorts (beyond-reference events-analytics): cohort =
    # Monday-truncated week of each user's first event; active_users per
    # (cohort, whole-week offset). Two partial aggs + one user-keyed join,
    # no windows (operators/temporal.py:retention_cohorts) — the final
    # rollup counts an already-distinct frame instead of countDistinct.
    from hbsir_old_spark.operators.temporal import retention_cohorts

    ev = _events(spark, sf_dir)
    out = retention_cohorts(ev, "user_id", "ts")
    # DATE -> ISO string for the driver's cross-engine hash (Spark DATE
    # round-trips to pandas as object, DuckDB's as datetime64)
    return out.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "offset",
        "active_users",
    ).orderBy("cohort_week", "offset")


SQL_RETENTION = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts))::DATE AS cohort
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS period FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       (date_diff('day', cohort, period) // 7)::INT AS "offset",
       count(*)::BIGINT AS active_users
FROM activity JOIN firsts USING (user_id)
GROUP BY cohort_week, "offset"
ORDER BY cohort_week, "offset"
"""


def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # path analysis (beyond-reference events-analytics): frequency of every
    # consecutive 3-step event-type sequence WITHIN a session (12-hour gap,
    # s5's boundary semantics), top 20. Per-group state in the sequence agg
    # is bounded by the session gap, not user history; the n-gram explode is
    # map-only JVM (sequence + slice + concat_ws, short sessions guarded).
    from hbsir_old_spark.operators.temporal import session_path_ngrams

    ev = _events(spark, sf_dir)
    out = session_path_ngrams(
        ev, "user_id", "ts", "event_type",
        gap="12 hours", n=3, tiebreakers=["event_id"],
    )
    return out.orderBy(F.desc("n_occurrences"), "path").limit(20)


SQL_PATH_TRIGRAMS = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 12 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
), seqs AS (
  SELECT user_id, session_id,
         list(event_type ORDER BY ts, event_id) AS seq
  FROM sess GROUP BY user_id, session_id
), grams AS (
  -- generate_series(1, len-2) is empty for len < 3, so short sessions
  -- contribute nothing (range() can't take lateral column params here)
  SELECT array_to_string(seq[i:i+2], '>') AS path
  FROM seqs, unnest(generate_series(1, len(seq) - 2)) AS u(i)
)
SELECT path, count(*)::BIGINT AS n_occurrences
FROM grams GROUP BY path
ORDER BY n_occurrences DESC, path LIMIT 20
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # existence joins: customers with / without orders — no payload from the
    # right side ever moves (semi/anti short-circuit at the join)
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_orders = cust.join(orders, "c_custkey", "left_semi").select(
        "c_mktsegment", F.lit("active").alias("status")
    )
    without = cust.join(orders, "c_custkey", "left_anti").select(
        "c_mktsegment", F.lit("inactive").alias("status")
    )
    return with_orders.unionByName(without).groupBy("c_mktsegment", "status").agg(
        F.count("*").alias("n_customers")
    )


SQL_SEMI_ANTI_JOIN = """
SELECT c_mktsegment, status, count(*)::BIGINT AS n_customers FROM (
  SELECT c_mktsegment, 'active' AS status FROM customer
  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  UNION ALL
  SELECT c_mktsegment, 'inactive' FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
) GROUP BY c_mktsegment, status
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # semi-structured column handling: parse the JSON props payload and
    # aggregate on an extracted field — stays JVM-side via get_json_object
    events = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.col("k")).alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_JSON_EXTRACT = """
SELECT event_type,
       count(json_extract(props, '$.k'))::BIGINT AS n_with_k,
       round(avg(json_extract(props, '$.k')::BIGINT), 6) AS avg_k,
       max(json_extract(props, '$.k')::BIGINT)::BIGINT AS max_k
FROM events GROUP BY event_type
"""


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation pipeline: score quality -> filter ->
    exact-dedup (over a corpus with planted duplicates) -> per-language
    stats. Every stage exact, so the whole composition has an oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    doubled = _explode_variants(
        docs,
        [F.col("doc_id"), F.col("lang"), F.col("text")],
        [(F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("lang"), F.col("text")],
    )
    feats = quality_features("text")
    scored = doubled.withColumn("quality_score", feats["quality_score"]).withColumn(
        "n_tokens", token_count("text").cast("long")
    )
    kept = scored.filter(F.col("quality_score") >= 0.5)
    deduped = exact_dedup(kept, text_col="text", id_col="doc_id")
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


SQL_TRAINING_PIPELINE = """
WITH doubled AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text FROM documents
), scored AS (
  SELECT doc_id, lang, text,
         coalesce(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                  t -> t <> '')), 0) AS n_tokens,
         ((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5
          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) / 3
          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5
          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4
          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) / 4) AS stop_hits,
         (length(text) - length(translate(text, '.,!?;:', ''))) AS punct,
         length(text) AS n_chars
  FROM doubled
), q AS (
  SELECT doc_id, lang, text, n_tokens,
         round(least(n_tokens / 50.0, 1.0) * 0.4
               + least(CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens ELSE 0 END * 5, 1.0) * 0.4
               + (1 - least(CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0 END * 10, 1.0)) * 0.2,
               6) AS quality_score
  FROM scored
), kept AS (
  SELECT * FROM q WHERE quality_score >= 0.5
), deduped AS (
  SELECT * FROM kept
  QUALIFY doc_id = min(doc_id) OVER (
      PARTITION BY md5(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))))
)
SELECT lang, count(*)::BIGINT AS n_docs,
       round(avg(n_tokens), 6) AS avg_tokens,
       round(avg(quality_score), 6) AS avg_quality
FROM deduped GROUP BY lang
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no _docs guard here: exact_dedup spreads its input itself
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = _explode_variants(
        docs,
        [F.col("doc_id"), F.col("text")],
        [(F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")],
    )
    return exact_dedup(doubled, text_col="text", id_col="doc_id").select(
        "doc_id", doc_fingerprint("text").alias("fingerprint")
    )


SQL_DEDUP_EXACT = """
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
)
SELECT doc_id, md5(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS fingerprint
FROM doubled
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))))
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=2, threshold=0.05)


SQL_NGRAM_JACCARD = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                      i -> array_to_string(t[i:i+1], ' '))) AS s
  FROM toks
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS c
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(c / (len(sa.s) + len(sb.s) - c), 6) AS jaccard
FROM common
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE round(c / (len(sa.s) + len(sb.s) - c), 6) >= 0.05
"""


def q_corpus_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the incremental corpus-refresh composition — the fuzzy quadrant the
    # incremental family lacked (x22 exact / bloom / streaming ingest all
    # exist): a new batch is screened against the existing store for BOTH
    # exact copies (fingerprint anti-probe, x22's machinery) and NEAR
    # duplicates (near_dedup_against in mode='exact' — deterministic
    # cross-table n-gram Jaccard, so the whole composition carries a full
    # oracle; the LSH scale path of the same operator is pinned by a
    # planted-twin recall floor in tests/test_dedup_clusters.py). Store =
    # odd doc_ids, batch = even doc_ids + 5 planted exact copies of store
    # docs, so all three verdicts occur (0 natural exact dups cross-split).
    from hbsir_old_spark.functions.dedup import near_dedup_against
    from hbsir_old_spark.functions.text import doc_fingerprint

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = docs.filter(F.col("doc_id") % 2 == 1)
    # house +1_000_000 surrogate offset (ADVICE r10): +10000 could collide
    # with real doc_ids at a larger sf, silently merging distinct docs
    planted = store.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") % 2 == 0).unionByName(planted)
    near = near_dedup_against(batch, store, mode="exact", threshold=0.5, n=3)
    store_fp = store.select(doc_fingerprint("text").alias("__sfp__")).distinct()
    out = near.withColumn("__fp__", doc_fingerprint("text")).join(
        store_fp, F.col("__fp__") == F.col("__sfp__"), "left"
    )
    verdict = (
        F.when(F.col("__sfp__").isNotNull(), "exact_duplicate")
        .when(F.col("near_dup_of").isNotNull(), "near_duplicate")
        .otherwise("novel")
    )
    return out.select(
        "doc_id",
        verdict.alias("verdict"),
        "near_dup_of",
        F.col("near_dup_jaccard").alias("jaccard"),
    ).orderBy("doc_id")


def _sql_corpus_refresh() -> str:
    norm = _SQL_NORM_EXPR
    grams = _sql_grams_expr(3)
    return f"""
WITH store AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
), batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM store WHERE doc_id < 10
), bt AS (
  SELECT doc_id, string_split({norm}, ' ') AS t FROM batch
), st AS (
  SELECT doc_id, string_split({norm}, ' ') AS t FROM store
), bs AS (
  SELECT doc_id, {grams} AS s FROM bt
), ss AS (
  SELECT doc_id, {grams} AS s FROM st
), be AS (
  SELECT doc_id, unnest(s) AS g FROM bs
), se AS (
  SELECT doc_id, unnest(s) AS g FROM ss
), common AS (
  SELECT b.doc_id AS bid, s.doc_id AS sid, count(*)::BIGINT AS c
  FROM be b JOIN se s ON b.g = s.g GROUP BY 1, 2
), jac AS (
  SELECT bid, sid, round(c / (len(x.s) + len(y.s) - c), 6) AS j
  FROM common JOIN bs x ON x.doc_id = bid JOIN ss y ON y.doc_id = sid
), best AS (
  SELECT bid, sid, j FROM (
    SELECT bid, sid, j,
           row_number() OVER (PARTITION BY bid ORDER BY sid) AS rn
    FROM jac WHERE j >= 0.5
  ) WHERE rn = 1
), sfp AS (
  SELECT DISTINCT md5({norm}) AS f FROM store
), bfp AS (
  SELECT doc_id, md5({norm}) AS f FROM batch
)
SELECT b.doc_id,
       CASE WHEN bfp.f IN (SELECT f FROM sfp) THEN 'exact_duplicate'
            WHEN best.sid IS NOT NULL THEN 'near_duplicate'
            ELSE 'novel' END AS verdict,
       best.sid AS near_dup_of,
       best.j AS jaccard
FROM batch b
JOIN bfp ON bfp.doc_id = b.doc_id
LEFT JOIN best ON best.bid = b.doc_id
ORDER BY b.doc_id
"""


_X46B_BANDS_ROOTS: dict[str, str] = {}


def _x46b_bands_root(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process per sf_dir) the store's PERSISTED band-hash
    table (minhash_band_hashes over the x46 store split) to parquet — the
    ingest-time artifact the x46b refresh probe consumes. Building it is
    one-time SETUP (at ingest the table is appended as batches commit),
    exactly like _l15b_root's partitioned layout; bench.py materializes it
    before the timed loop so both cold and median measure the refresh
    read path, not the artifact write."""
    import atexit
    import shutil
    import tempfile

    root = _X46B_BANDS_ROOTS.get(sf_dir)
    if root is not None:
        return root
    from hbsir_old_spark.functions.dedup import (
        cap_band_buckets,
        minhash_band_hashes,
    )

    root = tempfile.mkdtemp(prefix="x46b_bands_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = docs.filter(F.col("doc_id") % 2 == 1)
    # write-capped, the recommended ingest shape: hot buckets star-capped
    # ONCE here (a no-op on this corpus), so the probe runs with its own
    # cap off and zero store-side re-shuffle
    cap_band_buckets(
        minhash_band_hashes(store, n=3, num_perm=16, bands=4)
    ).write.mode("overwrite").parquet(root)
    _X46B_BANDS_ROOTS[sf_dir] = root
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def q_corpus_refresh_lsh_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BENCH-ONLY probe (bench_only_queries below): the x46 refresh on its
    # 100-TB path — the near stage consumes the store's PERSISTED
    # band-hash parquet, so only the BATCH is signed and the store side
    # contributes zero Exchange (store text is touched only for the
    # candidate sliver's verify). LSH recall < 1 by design and the path
    # is pinned equal to the recompute path in tests/test_dedup_clusters
    # .py, so it adds no driver gate — x46 (exact mode) carries the full
    # oracle for the composition's semantics.
    from hbsir_old_spark.functions.dedup import near_dedup_against

    root = _x46b_bands_root(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = docs.filter(F.col("doc_id") % 2 == 1)
    planted = store.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") % 2 == 0).unionByName(planted)
    near = near_dedup_against(
        batch,
        store,
        mode="lsh",
        threshold=0.5,
        n=3,
        num_perm=16,
        bands=4,
        store_bands=spark.read.parquet(root),
        hot_bucket_cap=None,  # the persisted table is write-capped above
    )
    return near.select(
        "doc_id", "near_dup_of", F.col("near_dup_jaccard").alias("jaccard")
    )


def bench_only_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Throughput probes that are NOT driver gates: approximate paths whose
    exactness twin already carries the oracle and whose quality floors are
    test-pinned, but whose plan shape is the one a production user runs.
    bench.py merges these into its callable map; the driver never sees
    them (queries() alone is the gate registry)."""
    return {
        "x46b_refresh_lsh_store": q_corpus_refresh_lsh_store,
        # throughput envelope for the resize path (VERDICT r12 #7): the
        # x48/x48b/x49/x50 gates prove EXACTNESS on doc_id<100 thumbnails;
        # this probe runs the same decode->resize->aggregate plan over
        # EVERY document at the bench SF with ~30x30 RGB PNGs, so the
        # per-round record carries the Arrow-batch codec throughput number
        "x48x_resize_scale": q_resize_scale_probe,
        # throughput envelope for the perceptual near-dedup path (the r14
        # analogue of x48x): the x51 gate proves EXACTNESS on 120 planted
        # images; this probe runs decode -> dHash -> banded Hamming pairs
        # over EVERY document at the bench SF with planted 4-variant
        # classes, so the record carries the hash+banded-join throughput
        "x51x_image_near_dedup_scale": q_image_near_dedup_scale_probe,
    }


def q_resize_scale_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only resize throughput probe: one real ~30x30 RGB PNG per
    document at the bench SF (sf0.1 -> ~5k images), decoded and
    bilinear-resized to 16x16 through the production path
    (functions/multimodal.py resize_images), reduced to a single count+sum
    row so the timed write measures the codec boundary, not row
    shipping. The doc ids are spread across the session's parallelism
    BEFORE the codec mapInPandas: the sf-dir documents table is one
    parquet file -> one scan partition, which would serialize the whole
    codec stage onto one core (the same single-partition trap the LSH
    verify path guards with ensure_min_partitions)."""
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, build_png, resize_images
    from hbsir_old_spark.session import ensure_min_partitions

    docs = ensure_min_partitions(
        _t(spark, sf_dir, "documents").select("doc_id")
    )

    def make(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                h, w = 24 + did % 17, 24 + did % 13
                y, x, ch = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                pix = ((did * 31 + y * 17 + x * 7 + ch * 3) % 256).astype(
                    np.uint8
                )
                rows.append(
                    {
                        "asset_id": did,
                        "kind": "image",
                        "content": build_png(pix),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "kind", "content", "meta"]
            )

    resized = resize_images(
        docs.mapInPandas(make, schema=ASSET_SCHEMA),
        width=16,
        height=16,
        method="bilinear",
    )
    return resized.groupBy().agg(
        F.count("*").alias("n_images"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
    )


def q_image_near_dedup_scale_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only image near-dedup throughput probe: one real RGB PNG per
    document at the bench SF (sf0.1 -> ~5k images, class-keyed shapes
    ~16-24 x 18-24), decoded and dHashed through the production path
    (functions/multimodal.py image_dhash), then banded-Hamming paired
    (image_near_dup_pairs at the default hot-bucket cap) and reduced to
    one (n_pairs, hamming_sum) row. Duplicate classes are planted as
    doc_id // 4 with 4 variants (base / brightness / spot edit /
    axis-reversal), so the banded join works real ~4-member buckets, the
    verify path sees nonzero Hamming distances, and ~3/4 of the corpus
    pairs up. Same single-partition-scan guard as x48x: the doc ids are
    spread across the session's parallelism BEFORE the codec
    mapInPandas."""
    from hbsir_old_spark.functions.multimodal import (
        image_dhash,
        image_near_dup_pairs,
    )

    hashes = image_dhash(_x51x_assets(spark, sf_dir))
    pairs = image_near_dup_pairs(hashes, max_hamming=6)
    return pairs.groupBy().agg(
        F.count("*").alias("n_pairs"),
        F.sum("hamming").alias("hamming_sum"),
    )


def _x51x_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The x51x probe's asset builder, module-level so the plan-quality
    pin can assert the codec stage's shape (ensure_min_partitions below
    the builder mapInPandas) BEFORE image_near_dup_pairs' eager
    localCheckpoint erases it from the executed plan."""
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, build_png
    from hbsir_old_spark.session import ensure_min_partitions

    docs = ensure_min_partitions(
        _t(spark, sf_dir, "documents").select("doc_id")
    )

    def make(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k, v = did // 4, did % 4
                h, w = 16 + k % 9, 18 + k % 7
                y, x, ch = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                ym, xm, q = 5 + k % 11, 3 + k % 9, 1 + k % 4
                if v == 3:
                    pix = (
                        k * 37 + y * ym + (w - 1 - x) * xm
                        + (w - 1 - x) * (w - 1 - x) * q + ch * 3
                    ) % 160 + 24
                else:
                    pix = (
                        k * 37 + y * ym + x * xm + x * x * q + ch * 3
                    ) % 160 + v * 8
                    if v == 2:
                        pix = pix + np.where((y == 3) & (x <= 1), 60, 0)
                rows.append(
                    {
                        "asset_id": did,
                        "kind": "image",
                        "content": build_png(pix.astype(np.uint8)),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "kind", "content", "meta"]
            )

    return docs.mapInPandas(make, schema=ASSET_SCHEMA)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate near-dup detection at its honest operating point: bands=4,
    # rows=4 => collision threshold ~(1/4)^(1/4) ~ 0.7, so only true
    # near-duplicates collide. The corpus is doubled with lightly-perturbed
    # copies so real near-dup pairs exist; recall < 1 by design => rows-only
    # driver check (q_ngram_jaccard is the exact-Jaccard twin with an oracle).
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = _explode_variants(
        docs,
        [F.col("doc_id"), F.col("text")],
        [
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" perturbed suffix token")).alias("text"),
        ],
    )
    return minhash_lsh_pairs(corpus, n=2, num_perm=16, bands=4, threshold=0.5)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, bits=32, chunk_bits=8, max_hamming=10)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    feats = quality_features("text")
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


SQL_TEXT_STATS = """
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         coalesce(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                  t -> t <> '')), 0) AS n_tokens,
         ((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5
          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) / 3
          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5
          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4
          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) / 4) AS stop_hits,
         (length(text) - length(translate(text, '.,!?;:', ''))) AS punct
  FROM documents
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       round(CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens ELSE 0 END, 6) AS stopword_ratio,
       round(CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0 END, 6) AS punct_ratio,
       round(least(n_tokens / 50.0, 1.0) * 0.4
             + least(CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens ELSE 0 END * 5, 1.0) * 0.4
             + (1 - least(CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0 END * 10, 1.0)) * 0.2,
             6) AS quality_score
FROM base
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_guess"))


def _sql_lang_score(lang: str, words: tuple[str, ...]) -> str:
    terms = " + ".join(
        f"((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2})"
        for w in words
    )
    return f"printf('%012d', ({terms})::BIGINT) || '{lang}'"


def _sql_lang_scores() -> str:
    """The greatest()-ready per-language score list — shared by the x6
    lang-id oracle and x34's curation-funnel language stage so the two
    can never drift."""
    from hbsir_old_spark.functions.text import LANG_MARKERS

    return ", ".join(_sql_lang_score(lang, LANG_MARKERS[lang]) for lang in sorted(LANG_MARKERS))


def _sql_lang_id() -> str:
    return f"""
SELECT doc_id, substr(greatest({_sql_lang_scores()}), 13, 2) AS lang_guess FROM documents
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_min_fingerprint("text", width=8).alias("fingerprint"))


SQL_ROLLING_FINGERPRINT = """
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS t FROM documents
)
SELECT doc_id,
       list_min(list_transform(range(1, greatest(length(t) - 7, 1) + 1),
                               i -> md5(substr(t, i::INTEGER, 8)))) AS fingerprint
FROM norm
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    emb_d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb_d.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb_d, queries, k=5, round_to=4)


SQL_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
sims AS (
  SELECT q.query_id, c.vec_id, list_cosine_similarity(c.cv, q.qv) AS sim
  FROM c, q WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id,
       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id)::INTEGER AS rank,
       round(sim, 4) AS cosine
FROM sims
QUALIFY rank <= 5
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate ANN (sign-random-projection buckets) => rows-only check;
    # q_cosine_topk is the exact baseline with a full oracle
    emb = _t(spark, sf_dir, "embeddings")
    emb_d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb_d.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucket_topk(emb_d, queries, k=5, planes=16, bands=8, dim=64)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse-quantizer ANN — approximate => rows-only check
    # (q_cosine_topk is the exact baseline)
    from hbsir_old_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    emb_d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb_d.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb_d, queries, k=5, n_centroids=16, n_probe=4)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.lit(None)
        .cast("struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>")
        .alias("meta"),
    )
    feats = extract_features(assets, use_fake_decoder=True)
    return feats.select("asset_id", "n_bytes", "content_sha")


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id AS asset_id, coalesce(strlen(text), 0)::BIGINT AS n_bytes,
       sha256(coalesce(text, '')) AS content_sha
FROM documents
"""


# --------------------------------------------------------------------------
# x47 — REAL audio decode (round 12: the last multimodal stub closed). WAV
# bytes are built per-document from a shared arithmetic generator (frames/
# channels/rate/samples all pure functions of doc_id), decoded through the
# real RIFF/PCM path (functions/multimodal.py _real_decode_audio: soundfile
# when installed, stdlib `wave` fallback here), and reduced to integer-exact
# stats — which the DuckDB oracle recomputes from the generator WITHOUT any
# audio codec. A decode bug (wrong endianness, dropped frames, channel
# deinterleave errors) breaks sample_sum/abs_max immediately.
# --------------------------------------------------------------------------


def _wav_assets_from_docs(docs: DataFrame) -> DataFrame:
    """doc_id -> one real 16-bit PCM WAV asset per doc from the x47
    arithmetic generator (frames/channels/rate/samples all pure functions
    of doc_id), shared by the x47 gate and the x50 capstone so both
    oracles derive from ONE formula: n = 8 + did%32, ch = 1 + did%2,
    sr = 8000 + (did%3)*4000, sample_i = ((did*7919 + i*104729) % 65536)
    - 32768."""
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, build_wav

    def make(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 8 + did % 32
                ch = 1 + did % 2
                sr = 8000 + (did % 3) * 4000
                i = np.arange(n * ch, dtype=np.int64)
                vals = ((did * 7919 + i * 104729) % 65536) - 32768
                rows.append(
                    {
                        "asset_id": did,
                        "kind": "audio",
                        "content": build_wav(
                            vals.astype(np.int16), sr, channels=ch
                        ),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "kind", "content", "meta"]
            )

    return docs.mapInPandas(make, schema=ASSET_SCHEMA)


def q_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.multimodal import audio_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    return audio_stats(_wav_assets_from_docs(docs))


SQL_AUDIO_DECODE_STATS = """
SELECT doc_id::BIGINT AS asset_id,
       (8000 + (doc_id % 3) * 4000)::INTEGER AS sample_rate,
       (8 + doc_id % 32)::INTEGER AS n_frames,
       (1 + doc_id % 2)::INTEGER AS channels,
       (SELECT SUM(((doc_id*7919 + i*104729) % 65536) - 32768)
          FROM unnest(generate_series(0, (8 + doc_id % 32)*(1 + doc_id % 2) - 1)) AS t(i)
       )::BIGINT AS sample_sum,
       (SELECT MAX(ABS(((doc_id*7919 + i*104729) % 65536) - 32768))
          FROM unnest(generate_series(0, (8 + doc_id % 32)*(1 + doc_id % 2) - 1)) AS t(i)
       )::INTEGER AS sample_abs_max
FROM documents WHERE doc_id < 200
"""


# --------------------------------------------------------------------------
# x48/x48b — image resize through the real decode path (tests/
# test_multimodal.py also checks both against DuckDB). Same
# arithmetic-generator pattern as x47: PNG bytes built
# per-document from a pure pixel function of doc_id (real container via
# functions/multimodal.py build_png), decoded and resized by the real
# path, reduced to integer-exact sums the oracle recomputes. x48 =
# nearest (center-sampling index formula, floor'd integer division);
# x48b = bilinear (exact-rational weights with denominators 2*out_h /
# 2*out_w and round-half-to-even — see _resize_array's docstring for why
# the operator is integer-exact rather than float).
# --------------------------------------------------------------------------


def gate_image_pixels(did: int):
    """The x48/x48b/x49 gate-corpus generator, as ONE pure function so
    the SQL oracles, the Spark asset builder, and the tie-coverage test
    (tests/test_multimodal.py) all derive from the same formula:
    h=5+k%6, w=4+k%5, c=1+(k%2)*2,
    pixel(y,x,ch) = (k*31 + y*17 + x*7 + ch*3) % 256."""
    import numpy as np

    h, w, c = 5 + did % 6, 4 + did % 5, 1 + (did % 2) * 2
    y, x, ch = np.meshgrid(
        np.arange(h), np.arange(w), np.arange(c), indexing="ij"
    )
    return ((did * 31 + y * 17 + x * 7 + ch * 3) % 256).astype(np.uint8)


def _png_assets_from_docs(docs: DataFrame, class_mod: int = 0) -> DataFrame:
    """doc_id -> one real PNG asset per doc from :func:`gate_image_pixels`
    keyed on k = doc_id (injective images) or doc_id % class_mod when
    class_mod is set (planted byte-identical duplicate classes for x49)."""
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, build_png

    def make(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for asset_id in pdf["doc_id"]:
                asset_id = int(asset_id)
                did = asset_id % class_mod if class_mod else asset_id
                pix = gate_image_pixels(did)
                rows.append(
                    {
                        "asset_id": asset_id,
                        "kind": "image",
                        "content": build_png(pix),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "kind", "content", "meta"]
            )

    return docs.mapInPandas(make, schema=ASSET_SCHEMA)


def _q_resize(spark: SparkSession, sf_dir: str, method: str) -> DataFrame:
    from hbsir_old_spark.functions.multimodal import resize_images

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    resized = resize_images(
        _png_assets_from_docs(docs), width=9, height=7, method=method
    )
    return resized.select(
        "asset_id", "width", "height", "channels", "pixel_sum"
    )


def q_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_resize(spark, sf_dir, "nearest")


def q_resize_bilinear_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_resize(spark, sf_dir, "bilinear")


def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x49 (staged for r13 with x48/x48b) — image dedup via canonical
    thumbnail fingerprint, the production pattern the integer-exact
    resize exists for: real PNG decode -> bilinear resize to a canonical
    size -> sha2 over the resized pixel buffer -> exact dedup on the
    fingerprint. Composed entirely from existing operators (the x44
    precedent — the composition IS the deliverable): resize_images +
    native sha2/groupBy. Duplicates are PLANTED by keying the generator
    on doc_id % 40, so byte-identical images recur across doc_ids and
    the class structure is pure arithmetic the oracle recomputes without
    touching pixels (identical source image => identical resized bytes
    => identical sha; distinct classes verified distinct by this gate's
    deterministic pre-registration parity test)."""
    from hbsir_old_spark.functions.multimodal import resize_images

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    resized = resize_images(
        _png_assets_from_docs(docs, class_mod=40),
        width=6,
        height=5,
        method="bilinear",
    )
    return (
        resized.groupBy(F.sha2(F.col("pixels"), 256).alias("fingerprint"))
        .agg(
            F.min("asset_id").alias("rep_id"),
            F.count("*").alias("dup_count"),
        )
        .select("rep_id", "dup_count")
    )


SQL_RESIZE_STATS = """
WITH d AS (
  SELECT doc_id,
         5 + doc_id % 6 AS h, 4 + doc_id % 5 AS w, 1 + (doc_id % 2) * 2 AS c
  FROM documents WHERE doc_id < 100
)
SELECT doc_id::BIGINT AS asset_id,
       9::INTEGER AS width, 7::INTEGER AS height, c::INTEGER AS channels,
       (SELECT SUM((doc_id*31
                    + LEAST(((2*(k // (9*c)) + 1) * h) // 14, h - 1) * 17
                    + LEAST(((2*((k % (9*c)) // c) + 1) * w) // 18, w - 1) * 7
                    + (k % c) * 3) % 256)
          FROM unnest(generate_series(0, 7*9*c - 1)) AS t(k)
       )::BIGINT AS pixel_sum
FROM d
"""


# Bilinear: output pixel (i,j,ch) has source coordinate numerators
# ny = (2i+1)*h - 7 over denominator 14 and nx = (2j+1)*w - 9 over 18;
# y0 = clamp(floor(ny/14)) (ny >= -6 here, so the negative case clamps
# straight to 0), weight numerator ry = clamp(ny - y0*14, 0, 14); the
# blended value is num/252 with num an exact integer, rounded half to
# even — the same arithmetic _resize_array runs vectorized in int64.
SQL_RESIZE_BILINEAR_STATS = """
WITH d AS (
  SELECT doc_id,
         5 + doc_id % 6 AS h, 4 + doc_id % 5 AS w, 1 + (doc_id % 2) * 2 AS c
  FROM documents WHERE doc_id < 100
),
geo AS (
  SELECT d.doc_id, d.h, d.w, d.c,
         t.k // (9 * d.c) AS i,
         (t.k % (9 * d.c)) // d.c AS j,
         t.k % d.c AS ch
  FROM d, unnest(generate_series(0, 7*9*d.c - 1)) AS t(k)
),
ax AS (
  SELECT *, (2*i + 1) * h - 7 AS ny, (2*j + 1) * w - 9 AS nx FROM geo
),
cl AS (
  SELECT *,
         LEAST(CASE WHEN ny < 0 THEN 0 ELSE ny // 14 END, h - 1) AS y0,
         LEAST(CASE WHEN nx < 0 THEN 0 ELSE nx // 18 END, w - 1) AS x0
  FROM ax
),
wt AS (
  SELECT *,
         LEAST(y0 + 1, h - 1) AS y1, LEAST(x0 + 1, w - 1) AS x1,
         LEAST(GREATEST(ny - y0 * 14, 0), 14) AS ry,
         LEAST(GREATEST(nx - x0 * 18, 0), 18) AS rx
  FROM cl
),
nm AS (
  SELECT doc_id, c,
         ((doc_id*31 + y0*17 + x0*7 + ch*3) % 256) * (14 - ry) * (18 - rx)
       + ((doc_id*31 + y0*17 + x1*7 + ch*3) % 256) * (14 - ry) * rx
       + ((doc_id*31 + y1*17 + x0*7 + ch*3) % 256) * ry * (18 - rx)
       + ((doc_id*31 + y1*17 + x1*7 + ch*3) % 256) * ry * rx AS num
  FROM wt
),
rq AS (
  SELECT doc_id, c, num // 252 AS q, num % 252 AS r FROM nm
)
SELECT doc_id::BIGINT AS asset_id,
       9::INTEGER AS width, 7::INTEGER AS height, c::INTEGER AS channels,
       SUM(q + CASE WHEN 2*r > 252 OR (2*r = 252 AND q % 2 = 1)
               THEN 1 ELSE 0 END)::BIGINT AS pixel_sum
FROM rq
GROUP BY doc_id, c
"""


# x49: the duplicate classes are planted as doc_id % 40, so the dedup
# result is pure arithmetic — identical source image => identical
# resized bytes => identical sha256 (and the gate's deterministic parity
# test proves distinct classes land distinct fingerprints).
SQL_IMAGE_DEDUP = """
SELECT MIN(doc_id)::BIGINT AS rep_id, COUNT(*)::BIGINT AS dup_count
FROM documents WHERE doc_id < 100
GROUP BY doc_id % 40
"""


# --------------------------------------------------------------------------
# x50 — multimodal CAPSTONE (the x44 precedent applied to the multimodal
# surface, VERDICT r12 "Next round" #6): ONE lazy plan over a mixed
# image+audio corpus. Even doc_ids become real PNGs (planted duplicate
# classes keyed doc_id % 40, the x49 generator) and flow decode -> nearest
# resize to a canonical 6x5 thumbnail -> sha256 fingerprint -> exact dedup,
# emitting per-class counts and integer-exact pixel sums; odd doc_ids
# become real WAVs (the x47 generator) and flow decode -> audio_stats ->
# per-sample-rate aggregation. Both legs reduce to one
# (kind, group_key, n, metric_sum, metric_max) schema and union. The
# oracle recomputes every number from the two generators arithmetically —
# DuckDB touches neither codec — so a decode, resize, fingerprint, or
# aggregation bug on either leg breaks the hash. Scale shape: the only
# Python is the two codec mapInPandas boundaries; fingerprint dedup and
# both aggregations are native JVM groupBys.
# --------------------------------------------------------------------------


def q_multimodal_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.multimodal import audio_stats, resize_images

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    thumbs = resize_images(
        _png_assets_from_docs(
            docs.filter(F.col("doc_id") % 2 == 0), class_mod=40
        ),
        width=6,
        height=5,
        method="nearest",
    )
    image_leg = (
        thumbs.groupBy(F.sha2(F.col("pixels"), 256).alias("fingerprint"))
        .agg(
            F.min("asset_id").alias("group_key"),
            F.count("*").alias("n"),
            F.sum("pixel_sum").alias("metric_sum"),
            F.max("pixel_sum").alias("metric_max"),
        )
        .select(
            F.lit("image").alias("kind"),
            "group_key",
            "n",
            "metric_sum",
            "metric_max",
        )
    )
    audio_leg = (
        audio_stats(_wav_assets_from_docs(docs.filter(F.col("doc_id") % 2 == 1)))
        .groupBy(F.col("sample_rate").cast("long").alias("group_key"))
        .agg(
            F.count("*").alias("n"),
            F.sum("sample_sum").alias("metric_sum"),
            F.max("sample_abs_max").cast("long").alias("metric_max"),
        )
        .select(
            F.lit("audio").alias("kind"),
            "group_key",
            "n",
            "metric_sum",
            "metric_max",
        )
    )
    return image_leg.unionByName(audio_leg)


# Image leg: even doc_ids < 200 planted into 20 classes (doc_id % 40, even
# residues), each of 5 byte-identical members; identical source image =>
# identical resized bytes => identical sha256, so per-class metric_sum =
# n * ps and metric_max = ps with ps the nearest-resample 6x5 pixel sum
# the oracle recomputes from the generator (c = 1 for even residues).
# Audio leg: odd doc_ids < 200 grouped by the generator's sample_rate.
SQL_MULTIMODAL_CAPSTONE = """
WITH cls AS (
  SELECT doc_id % 40 AS did, MIN(doc_id) AS rep_id, COUNT(*) AS n
  FROM documents WHERE doc_id < 200 AND doc_id % 2 = 0
  GROUP BY doc_id % 40
),
px AS (
  SELECT rep_id, n,
    (SELECT SUM((did*31
        + LEAST(((2*(k // 6) + 1) * (5 + did % 6)) // 10, (5 + did % 6) - 1) * 17
        + LEAST(((2*(k % 6) + 1) * (4 + did % 5)) // 12, (4 + did % 5) - 1) * 7
        ) % 256)
     FROM unnest(generate_series(0, 29)) AS t(k)) AS ps
  FROM cls
),
aud AS (
  SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sr,
    (SELECT SUM(((doc_id*7919 + i*104729) % 65536) - 32768)
       FROM unnest(generate_series(0, (8 + doc_id % 32)*(1 + doc_id % 2) - 1)) AS t(i)
    ) AS ss,
    (SELECT MAX(ABS(((doc_id*7919 + i*104729) % 65536) - 32768))
       FROM unnest(generate_series(0, (8 + doc_id % 32)*(1 + doc_id % 2) - 1)) AS t(i)
    ) AS sm
  FROM documents WHERE doc_id < 200 AND doc_id % 2 = 1
)
SELECT 'image' AS kind, rep_id::BIGINT AS group_key, n::BIGINT AS n,
       (n * ps)::BIGINT AS metric_sum, ps::BIGINT AS metric_max
FROM px
UNION ALL
SELECT 'audio' AS kind, sr::BIGINT AS group_key, COUNT(*)::BIGINT AS n,
       SUM(ss)::BIGINT AS metric_sum, MAX(sm)::BIGINT AS metric_max
FROM aud GROUP BY sr
"""


# --------------------------------------------------------------------------
# x51 — perceptual NEAR-duplicate image dedup (VERDICT r13 "Next round"
# #4): the capability x49's byte-exact thumbnail fingerprint cannot
# provide — a brightness-shifted or lightly-edited copy changes every
# thumbnail byte but not its gradient structure. dHash over the
# integer-exact nearest resize (bit-stable by x48's exactness), packed
# into 4x16-bit bands, banded Hamming candidate join + exact popcount
# verify (<= 6 bits), connected components, singletons included
# (functions/multimodal.py image_dhash / image_near_dup_pairs /
# image_near_dedup_clusters — the x3/x46 LSH machinery applied to image
# space). FULL DuckDB oracle: the generator plants 24 classes of 5
# variants each (v0-v2 global brightness shifts — dHash-identical by
# construction; v3 three localized spot edits — a few bits; v4 a
# reversed-gradient image — far), and the oracle recomputes the ENTIRE
# pipeline arithmetically: gray values at the nearest-resize sample
# coords, the 64 comparison bits, the band packing, the banded candidate
# rule (pairs must share >= 1 exact band — mirroring the LSH miss
# surface, not just hamming <= r), popcount verification, and a
# recursive-CTE transitive closure (the x38 precedent) — DuckDB never
# touches a pixel buffer. The gate runs uncapped (hot_bucket_cap=None,
# the exact operating point; the hot-bucket star cap has its own planted
# test) so candidates are exactly the oracle's EXISTS-band-match.
# --------------------------------------------------------------------------


def near_image_pixels(did: int):
    """The x51 gate-corpus generator, ONE pure function shared by the
    Spark asset builder, the SQL oracle (which re-evaluates it at the
    resize sample coordinates only), and the planted-geometry test:
    class k = did % 24, variant v = did // 24, h=16, w=18,
    c = 1 + (k % 2) * 2, base(y,x,ch) = (k*37 + y*ym + x*xm + x*x*q
    + ch*3) % 160 with class-keyed frequencies ym = 5 + (k%7)*2,
    xm = 3 + (k%5)*2, q = 1 + k%3 (bounded < 160 so no perturbation can
    wrap uint8; the QUADRATIC x term wraps several times per row, so the
    horizontal gradient changes sign at class-specific columns — without
    it every class is a monotone ramp, their dHashes collapse to
    near-all-ones, and half the corpus merges into one cluster). v in
    0..2 adds a global brightness shift v*8; v=3 adds three localized
    spot edits (two of the six perturbed columns land on nearest-resize
    sample coords, the even ones are decoys the resize must ignore);
    v=4 reverses the horizontal axis. Planted geometry (pinned by
    tests/test_multimodal.py): all 24 v3s join their class via
    NONZERO-Hamming pairs, all 24 v4s separate."""
    import numpy as np

    k, v = did % 24, did // 24
    c = 1 + (k % 2) * 2
    y, x, ch = np.meshgrid(
        np.arange(16), np.arange(18), np.arange(c), indexing="ij"
    )
    ym, xm, q = 5 + (k % 7) * 2, 3 + (k % 5) * 2, 1 + k % 3
    if v == 4:
        pix = (
            k * 37 + y * ym + (17 - x) * xm + (17 - x) * (17 - x) * q + ch * 3
        ) % 160 + 32
    else:
        pix = (k * 37 + y * ym + x * xm + x * x * q + ch * 3) % 160 + v * 8
        if v == 3:
            pix = (
                pix
                + np.where((y == 3) & (x <= 1), 60, 0)
                + np.where((y == 7) & (x >= 4) & (x <= 5), 50, 0)
                + np.where((y == 11) & (x >= 8) & (x <= 9), 55, 0)
            )
    return pix.astype(np.uint8)


def _near_png_assets_from_docs(docs: DataFrame) -> DataFrame:
    """doc_id -> one real PNG asset from :func:`near_image_pixels`."""
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, build_png

    def make(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for asset_id in pdf["doc_id"]:
                asset_id = int(asset_id)
                rows.append(
                    {
                        "asset_id": asset_id,
                        "kind": "image",
                        "content": build_png(near_image_pixels(asset_id)),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "kind", "content", "meta"]
            )

    return docs.mapInPandas(make, schema=ASSET_SCHEMA)


def q_image_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.multimodal import image_near_dedup_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 120
    )
    return image_near_dedup_clusters(
        _near_png_assets_from_docs(docs),
        hash_h=8,
        hash_w=8,
        n_bands=4,
        max_hamming=6,
        method="nearest",
        hot_bucket_cap=None,
    )


# Nearest resize of the 16x18 source to the 8x9 dHash grid samples
# exactly src[2*gy+1][2*gx+1] (yi = ((2i+1)*16)//16 = 2i+1, xi =
# ((2j+1)*18)//18 = 2j+1), so the oracle evaluates the generator at odd
# coordinates only; gray is the channel SUM (no division — the
# order-isomorphic reduction image_dhash documents); bit b = gy*8+gx is
# set iff gray(gy, gx+1) > gray(gy, gx), band = b // 16, offset b % 16.
SQL_IMAGE_NEAR_DEDUP = """
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id % 24 AS k, doc_id // 24 AS v,
         1 + (doc_id % 24 % 2) * 2 AS c
  FROM documents WHERE doc_id < 120
),
g AS (
  SELECT d.doc_id, yy.gy AS gy, xx.gx AS gx,
         SUM(
           CASE WHEN d.v = 4
                THEN (d.k*37 + (2*yy.gy+1)*(5 + (d.k%7)*2)
                      + (16-2*xx.gx)*(3 + (d.k%5)*2)
                      + (16-2*xx.gx)*(16-2*xx.gx)*(1 + d.k%3)
                      + ch.ch*3) % 160 + 32
                ELSE (d.k*37 + (2*yy.gy+1)*(5 + (d.k%7)*2)
                      + (2*xx.gx+1)*(3 + (d.k%5)*2)
                      + (2*xx.gx+1)*(2*xx.gx+1)*(1 + d.k%3)
                      + ch.ch*3) % 160
                     + d.v * 8
                     + CASE WHEN d.v = 3 AND 2*yy.gy+1 = 3  AND 2*xx.gx+1 <= 1 THEN 60
                            WHEN d.v = 3 AND 2*yy.gy+1 = 7  AND 2*xx.gx+1 BETWEEN 4 AND 5 THEN 50
                            WHEN d.v = 3 AND 2*yy.gy+1 = 11 AND 2*xx.gx+1 BETWEEN 8 AND 9 THEN 55
                            ELSE 0 END
           END
         )::BIGINT AS gray
  FROM d,
       unnest(generate_series(0, 7)) AS yy(gy),
       unnest(generate_series(0, 8)) AS xx(gx),
       unnest(generate_series(0, 2)) AS ch(ch)
  WHERE ch.ch < d.c
  GROUP BY 1, 2, 3
),
hb AS (
  SELECT a.doc_id, (a.gy*8 + a.gx) // 16 AS band,
         SUM(CASE WHEN b.gray > a.gray
                  THEN 1::BIGINT << ((a.gy*8 + a.gx) % 16) ELSE 0 END)::BIGINT AS bh
  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
  WHERE a.gx < 8
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM hb a JOIN hb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN hb ha ON ha.doc_id = c.id_a
  JOIN hb hbb ON hbb.doc_id = c.id_b AND hbb.band = ha.band
  GROUP BY c.id_a, c.id_b
  HAVING SUM(bit_count(xor(ha.bh, hbb.bh))) <= 6
),
edges AS (
  SELECT id_a AS u, id_b AS w FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.w = r.u
),
comp AS (SELECT u, MIN(comp) AS component FROM reach GROUP BY u)
SELECT COALESCE(cp.component, d.doc_id)::BIGINT AS rep_id,
       COUNT(*)::BIGINT AS cluster_size
FROM d LEFT JOIN comp cp ON cp.u = d.doc_id
GROUP BY 1
"""


# --------------------------------------------------------------------------
# x52 — perceptual NEAR-duplicate AUDIO dedup: the audio analogue of x51
# (and the symmetric completion of the multimodal near-dup story). The
# energy-profile difference hash (functions/multimodal.py audio_dhash)
# is exactly invariant under channel duplication (mono channel-sum
# scales positively), polarity inversion (|mono| unchanged), and uniform
# gain; localized edits move a few bits; reversal moves the profile. 24
# planted classes x 5 variants (base / stereo-duplicated / polarity-
# inverted / zeroed-run spot edit / reversed), real WAV containers
# through the real decode path, banded Hamming join + CC — reusing the
# x51 machinery verbatim (image_near_dup_pairs is modality-agnostic).
# FULL oracle with the x51 SQL skeleton: DuckDB recomputes window
# energies from the sample generator (no codec), the 32 comparison
# bits, band packing, the banded candidate rule, popcount, and the
# recursive-CTE closure. Uncapped at the gate operating point (the hot-
# bucket cap has its own planted test).
# --------------------------------------------------------------------------


def near_audio_samples(did: int):
    """The x52 gate-corpus generator, ONE pure function shared by the
    Spark asset builder, the SQL oracle, and the planted-geometry test:
    class k = did % 24, variant v = did // 24, n = 200 + 4k frames,
    base(f) = ((k*7919 + f*104729 + f*f*(1 + k%5)) % 65535) - 32767
    (65535 keeps the range in [-32767, 32767] so polarity inversion
    cannot overflow int16; the quadratic term decorrelates class energy
    profiles). v0 mono base; v1 the same signal duplicated to stereo
    (hash-identical by positive scaling); v2 polarity-inverted
    (hash-identical by |.|); v3 zeroes frames 60..79 (a ~2-window
    localized edit, a few bits); v4 reversed (far). Returns
    (interleaved int16 array, channels). Planted geometry (pinned by
    tests/test_multimodal.py): all 24 v3s join their class via
    NONZERO-Hamming pairs; 22 of 24 v4s separate (two v4 profiles land
    within threshold of something — mirrored exactly by the oracle)."""
    import numpy as np

    k, v = did % 24, did // 24
    n = 200 + 4 * k
    f = np.arange(n, dtype=np.int64)
    b = ((k * 7919 + f * 104729 + f * f * (1 + k % 5)) % 65535) - 32767
    if v == 1:
        return np.repeat(b, 2).astype(np.int16), 2
    if v == 2:
        return (-b).astype(np.int16), 1
    if v == 3:
        mono = b.copy()
        mono[60:80] = 0
        return mono.astype(np.int16), 1
    if v == 4:
        return b[::-1].astype(np.int16), 1
    return b.astype(np.int16), 1


def _near_wav_assets_from_docs(docs: DataFrame) -> DataFrame:
    """doc_id -> one real WAV asset from :func:`near_audio_samples`."""
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, build_wav

    def make(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for asset_id in pdf["doc_id"]:
                asset_id = int(asset_id)
                vals, ch = near_audio_samples(asset_id)
                rows.append(
                    {
                        "asset_id": asset_id,
                        "kind": "audio",
                        "content": build_wav(vals, 8000, channels=ch),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "kind", "content", "meta"]
            )

    return docs.mapInPandas(make, schema=ASSET_SCHEMA)


def q_audio_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.multimodal import audio_near_dedup_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 120
    )
    return audio_near_dedup_clusters(
        _near_wav_assets_from_docs(docs),
        n_windows=33,
        n_bands=4,
        max_hamming=6,
        hot_bucket_cap=None,
    )


# Sample f lands in window w = (f*33) // n; every window is nonempty
# (n >= 200 > 33). mono = base with the variant's sign/scale CASE; the
# zeroed run (v3) applies at the ORIGINAL frame index, the reversal (v4)
# re-indexes the base formula at n-1-f. Window energy = SUM(ABS(mono)),
# 32 comparison bits, 4x8-bit bands, then the x51 skeleton verbatim.
SQL_AUDIO_NEAR_DEDUP = """
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id % 24 AS k, doc_id // 24 AS v,
         200 + 4 * (doc_id % 24) AS n
  FROM documents WHERE doc_id < 120
),
geo AS (
  SELECT d.doc_id, d.k, d.v, d.n, ff.f,
         CASE WHEN d.v = 4 THEN d.n - 1 - ff.f ELSE ff.f END AS f2
  FROM d, unnest(generate_series(0, d.n - 1)) AS ff(f)
),
mono AS (
  SELECT doc_id, (f * 33) // n AS w,
         CASE WHEN v = 3 AND f BETWEEN 60 AND 79 THEN 0
              ELSE (CASE WHEN v = 1 THEN 2 WHEN v = 2 THEN -1 ELSE 1 END)
                   * (((k*7919 + f2*104729 + f2*f2*(1 + k%5)) % 65535) - 32767)
         END AS m
  FROM geo
),
en AS (
  SELECT doc_id, w, SUM(ABS(m))::BIGINT AS energy FROM mono GROUP BY 1, 2
),
hb AS (
  SELECT a.doc_id, a.w // 8 AS band,
         SUM(CASE WHEN b.energy > a.energy
                  THEN 1::BIGINT << (a.w % 8) ELSE 0 END)::BIGINT AS bh
  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.w = a.w + 1
  WHERE a.w < 32
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM hb a JOIN hb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN hb ha ON ha.doc_id = c.id_a
  JOIN hb hbb ON hbb.doc_id = c.id_b AND hbb.band = ha.band
  GROUP BY c.id_a, c.id_b
  HAVING SUM(bit_count(xor(ha.bh, hbb.bh))) <= 6
),
edges AS (
  SELECT id_a AS u, id_b AS w2 FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.w2 = r.u
),
comp AS (SELECT u, MIN(comp) AS component FROM reach GROUP BY u)
SELECT COALESCE(cp.component, d.doc_id)::BIGINT AS rep_id,
       COUNT(*)::BIGINT AS cluster_size
FROM d LEFT JOIN comp cp ON cp.u = d.doc_id
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (exact pairwise baseline; the
# LSH-bucketed scale path is q_ann_lsh)
# --------------------------------------------------------------------------

def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.similarity import cosine_similarity
    from hbsir_old_spark.session import ensure_min_partitions

    # cap the exact-pairwise corpus (deterministic prefix) so the O(n^2)
    # baseline stays bounded at any SF; the LSH/IVF paths are the scale story
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dup = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = ensure_min_partitions(emb.unionByName(dup))
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    sims = pairs.withColumn("__sim__", cosine_similarity(F.col("va"), F.col("vb")))
    return sims.filter(F.col("__sim__") >= 0.9999).select(
        "id_a", "id_b", F.round("__sim__", 4).alias("cosine")
    )


SQL_EMBEDDING_DEDUP = """
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000
  UNION ALL
  SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 1000
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.9999
"""


# --------------------------------------------------------------------------
# DSL pipeline: the engine's declarative schema (table_list + instructions)
# driving filter translation, computed/categorical columns, aggregate, and
# final projection — one Catalyst plan end to end (SURVEY §3.1 shape)
# --------------------------------------------------------------------------

DSL_SCHEMA = {
    "lineitem_revenue": {
        "table_list": ["lineitem_base"],
        "instructions": [
            {"apply_filter": "l_quantity >= 5 & l_returnflag in ['A', 'R']"},
            {
                "create_column": {
                    "name": "revenue",
                    "type": "numerical",
                    "expression": "l_extendedprice * (1 - l_discount)",
                }
            },
            {
                "create_column": {
                    "name": "status_class",
                    "type": "categorical",
                    "categories": {
                        "finished": {"l_linestatus": "F"},
                        "open": {"l_linestatus": "O"},
                    },
                }
            },
            {
                "aggregate": {
                    "groupby": ["l_returnflag", "status_class"],
                    "columns": ["revenue", "l_quantity"],
                    "agg": "sum",
                }
            },
            {
                "apply_order": [
                    "l_returnflag",
                    "status_class",
                    {"revenue": "float"},
                    {"l_quantity": "float"},
                ]
            },
        ],
    }
}


def q_dsl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.plans.registry import TableRegistry

    def base_loader(name: str, year: int):
        if name == "lineitem_base":
            return _t(spark, sf_dir, "lineitem")
        return None

    registry = TableRegistry(spark, schema=DSL_SCHEMA, base_loader=base_loader)
    df = registry.load_table("lineitem_revenue", [1400])
    return df.select(
        "l_returnflag",
        "status_class",
        F.round("revenue", 2).alias("revenue"),
        F.round("l_quantity", 2).alias("sum_qty"),
    )


SQL_DSL_PIPELINE = """
SELECT l_returnflag,
       CASE WHEN l_linestatus = 'F' THEN 'finished'
            WHEN l_linestatus = 'O' THEN 'open' END AS status_class,
       round(sum(coalesce(l_extendedprice, 0) * (1 - coalesce(l_discount, 0))), 2) AS revenue,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_quantity >= 5 AND l_returnflag IN ('A', 'R')
GROUP BY 1, 2
"""


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import bpe_token_count

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


SQL_BPE_TOKEN_COUNT = r"""
SELECT doc_id,
       coalesce(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                                 t -> t <> '')), 0)::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+'))::BIGINT
           AS bpe_tokens
FROM documents
"""


def q_bpe_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LEARNED byte-pair encoding (Sennrich et al. 2016), the real merge
    # table beside x11's GPT-2-style regex heuristic: 20 merge rounds on
    # the word-frequency table (ONE corpus-sized shuffle; every round is
    # vocab-sized with a single-row argmax collect — the kmeans/pq_train
    # model-state pattern), then the production vocab-join encode.
    # Rows-only for the driver: iterative training is not SQL-expressible;
    # the EXACT pure-Python parity (merge list, vocab symbols, per-doc
    # encodings) is pinned by tests/test_bpe.py, and the encode join's
    # full SQL oracle lives in the fixed-vocab twin x45b.
    from hbsir_old_spark.functions.bpe import bpe_encode_by_vocab, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges, vocab = bpe_train(docs, "text", n_merges=20, min_freq=2)
    enc = bpe_encode_by_vocab(docs, vocab, broadcast_vocab=True)
    return enc.select(
        "doc_id", F.size("bpe_tokens").cast("long").alias("n_bpe_tokens")
    ).orderBy("doc_id")


#: x45b's frozen vocabulary: a handful of real corpus words with
#: hand-assigned subword splits; every other word exercises the OOV
#: char-fallback path in BOTH engines.
_X45B_VOCAB = [
    ("join", ["jo", "in</w>"]),
    ("hash", ["h", "ash</w>"]),
    ("scan", ["scan</w>"]),
    ("row", ["r", "o", "w</w>"]),
]


def q_bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the deterministic FULL-ORACLE twin of rows-only x45 (the house
    # x38/x38b, x42/x42b pattern): encoding against a FIXED literal
    # vocabulary pins bpe_encode_by_vocab's word explode, vocab join,
    # OOV character fallback, order-preserving reassembly, and
    # empty-document semantics — while the learned-merge path keeps its
    # exact python parity under x45. Tokens never contain \x1f, so the
    # joined-string output compares bytewise across engines.
    from hbsir_old_spark.functions.bpe import bpe_encode_by_vocab

    docs = _docs(spark, sf_dir)
    vocab = spark.createDataFrame(
        _X45B_VOCAB, "__word__ string, __syms__ array<string>"
    )
    enc = bpe_encode_by_vocab(docs, vocab, broadcast_vocab=True)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_tokens"),
        F.concat_ws("\u001f", "bpe_tokens").alias("encoded"),
    ).orderBy("doc_id")


SQL_BPE_ENCODE_FIXED = r"""
WITH vocab(word, syms) AS (
  VALUES ('join', ['jo', 'in</w>']),
         ('hash', ['h', 'ash</w>']),
         ('scan', ['scan</w>']),
         ('row',  ['r', 'o', 'w</w>'])
), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                     t -> t <> '') AS ws
  FROM documents
), words AS (
  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
  FROM toks
), enc AS (
  SELECT w.doc_id, w.pos,
         coalesce(v.syms,
                  list_append(list_filter(string_split_regex(w.word, ''),
                                          c -> c <> ''), '</w>')) AS syms
  FROM words w LEFT JOIN vocab v ON w.word = v.word
), agg AS (
  SELECT doc_id, flatten(list(syms ORDER BY pos)) AS toks
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(len(a.toks), 0)::BIGINT AS n_tokens,
       coalesce(array_to_string(a.toks, chr(31)), '') AS encoded
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# G3 — the reference's README-walkthrough report golden (reference
# tests/test_package/package/test_by_examples.py:43-69): classify -> weight
# -> per-capita weighted expenditure -> pivot to (Urban_Rural x Net/Gross)
# columns -> union-of-totals "Total" row (table.loc["Total"] = table.sum()).
# Shape-for-shape on the synthetic tables: lineitem/orders stand in for
# expenditures/households, the mod-expressions for the Food_NonFood
# classification and the Urban_Rural ID-digit decode.
# --------------------------------------------------------------------------

_G3_COLS = ["Urban_Net", "Urban_Gross", "Rural_Net", "Rural_Gross"]


def _report_pivot_tail(cell: DataFrame) -> DataFrame:
    """Shared g3/g5 report tail: melt the (Category, UR, Net, Gross) cells,
    pivot to UR x metric columns, append the union-of-totals "Total" row,
    round 4dp — the reference's `table.loc["Total"] = table.sum()` shape."""
    from hbsir_old_spark.operators.reshape import melt as melt_op

    long = melt_op(cell, ["Category", "UR"], ["Net", "Gross"], var_name="Metric")
    long = long.withColumn("colname", F.concat_ws("_", "UR", "Metric"))
    pivoted = pivot_table(
        long, ["Category"], "colname", "value", agg="sum", pivot_values=_G3_COLS
    )
    total = pivoted.agg(*[F.sum(c).alias(c) for c in _G3_COLS]).select(
        F.lit("Total").alias("Category"), *_G3_COLS
    )
    return union_tables([pivoted, total]).select(
        "Category", *[F.round(c, 4).alias(c) for c in _G3_COLS]
    )


def q_report_pivot_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.when(F.col("l_partkey") % 3 == 0, "Food").otherwise("NonFood").alias("Category"),
        F.when(F.col("o_orderkey") % 2 == 0, "Urban").otherwise("Rural").alias("UR"),
        F.col("l_extendedprice").alias("gross"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
        ((F.col("o_custkey") % 5) + 1).cast("double").alias("Weight"),
    )
    # weights_sum comes from the household roster (all of orders), not the
    # fact — mirroring the reference's separate weight-table denominator
    wsum = (
        orders.select(
            F.when(F.col("o_orderkey") % 2 == 0, "Urban").otherwise("Rural").alias("UR"),
            ((F.col("o_custkey") % 5) + 1).cast("double").alias("Weight"),
        )
        .groupBy("UR")
        .agg(F.sum("Weight").alias("ws"))
    )
    cell = (
        fact.groupBy("Category", "UR")
        .agg(
            F.sum(F.col("net") * F.col("Weight")).alias("wnet"),
            F.sum(F.col("gross") * F.col("Weight")).alias("wgross"),
        )
        .join(F.broadcast(wsum), "UR")
        .select(
            "Category",
            "UR",
            (F.col("wnet") / F.col("ws") / 1000).alias("Net"),
            (F.col("wgross") / F.col("ws") / 1000).alias("Gross"),
        )
    )
    return _report_pivot_tail(cell)


SQL_REPORT_PIVOT_TOTALS = """
WITH fact AS (
  SELECT CASE WHEN l_partkey % 3 = 0 THEN 'Food' ELSE 'NonFood' END AS Category,
         CASE WHEN o_orderkey % 2 = 0 THEN 'Urban' ELSE 'Rural' END AS UR,
         l_extendedprice AS gross,
         l_extendedprice * (1 - l_discount) AS net,
         (o_custkey % 5 + 1)::DOUBLE AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), wsum AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'Urban' ELSE 'Rural' END AS UR,
         sum((o_custkey % 5 + 1)::DOUBLE) AS ws
  FROM orders GROUP BY 1
), cell AS (
  SELECT Category, f.UR,
         sum(net * w)   / any_value(ws) / 1000 AS net_pc,
         sum(gross * w) / any_value(ws) / 1000 AS gross_pc
  FROM fact f JOIN wsum ON f.UR = wsum.UR
  GROUP BY 1, 2
), pivoted AS (
  SELECT Category,
         sum(CASE WHEN UR = 'Urban' THEN net_pc   END) AS Urban_Net,
         sum(CASE WHEN UR = 'Urban' THEN gross_pc END) AS Urban_Gross,
         sum(CASE WHEN UR = 'Rural' THEN net_pc   END) AS Rural_Net,
         sum(CASE WHEN UR = 'Rural' THEN gross_pc END) AS Rural_Gross
  FROM cell GROUP BY Category
)
SELECT Category, round(Urban_Net, 4) AS Urban_Net, round(Urban_Gross, 4) AS Urban_Gross,
       round(Rural_Net, 4) AS Rural_Net, round(Rural_Gross, 4) AS Rural_Gross
FROM pivoted
UNION ALL
SELECT 'Total', round(sum(Urban_Net), 4), round(sum(Urban_Gross), 4),
       round(sum(Rural_Net), 4), round(sum(Rural_Gross), 4)
FROM pivoted
"""


# --------------------------------------------------------------------------
# L1 — load_table(form=) three-layer switch: raw (untyped survey strings) ->
# cleaned (rename/type/replace via column metadata) -> processed (cleaned +
# pipeline instructions), reference api.py:65-97,167-191. One gate exercises
# all three forms: raw supplies the untouched string column, cleaned the
# typed/renamed/replaced ones, processed the derived column.
# --------------------------------------------------------------------------

CUSTOMER_CLEANING = {
    "columns": {
        "c_custkey": {"new_name": "ID", "type": "unsigned"},
        "c_name": "drop",
        "c_nationkey": {"new_name": "Nation_Code", "type": "integer"},
        "c_acctbal": {"new_name": "Balance", "type": "float"},
        "c_mktsegment": {
            "new_name": "Segment",
            "type": "string",
            "replace": {"BUILDING": "Construction"},
        },
    },
    "missings": "error",
}

CUSTOMER_FORM_SCHEMA = {
    "customer": {
        "instructions": [
            {
                "create_column": {
                    "name": "Balance_K",
                    "type": "numerical",
                    "expression": "Balance / 1000",
                }
            },
        ],
    }
}


def q_form_raw_vs_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.api import HBSIREngine

    def raw_loader(name: str, year: int):
        # the raw layer: the survey file as acquired — every column an
        # untyped string (stands in for the urban/rural CSV scan)
        if name != "customer" or year != 1400:
            return None
        df = _t(spark, sf_dir, "customer")
        return df.select([F.col(c).cast("string").alias(c) for c in df.columns])

    engine = HBSIREngine(
        spark,
        base_loader=None,
        schema=CUSTOMER_FORM_SCHEMA,
        raw_loader=raw_loader,
        cleaning_metadata={"customer": CUSTOMER_CLEANING},
    )
    raw = engine.load_table("customer", [1400], form="raw")
    processed = engine.load_table("customer", [1400], form="processed")
    return processed.join(
        raw.select(
            F.col("c_custkey").cast("long").alias("ID"),
            F.col("c_nationkey").alias("raw_nation"),
        ),
        "ID",
    ).select(
        "ID",
        "raw_nation",
        "Nation_Code",
        F.round("Balance", 2).alias("Balance"),
        "Segment",
        # round 6, not 4: a 2-decimal balance / 1000 has a 5-decimal repr, so
        # 4dp rounding lands exactly on the half boundary where Spark
        # (HALF_UP on repr) and DuckDB (multiply) disagree
        F.round("Balance_K", 6).alias("Balance_K"),
    )


SQL_FORM_RAW_VS_CLEANED = """
SELECT c_custkey::BIGINT                    AS ID,
       c_nationkey::VARCHAR                 AS raw_nation,
       c_nationkey::BIGINT                  AS Nation_Code,
       round(c_acctbal, 2)                  AS Balance,
       CASE WHEN c_mktsegment = 'BUILDING' THEN 'Construction'
            ELSE c_mktsegment END           AS Segment,
       round(coalesce(c_acctbal, 0) / 1000, 6) AS Balance_K
FROM customer
"""


# --------------------------------------------------------------------------
# L2 — setup() -> load_table end-to-end: two synthetic yearly archives
# (urban/rural CSVs zipped, file:// URLs) are bootstrapped by setup() into
# Year-partitioned cleaned parquet, then read back through
# partitioned_base_loader and aggregated across both years — proving the
# acquisition verbs, the cleaner, the partitioned writer, and partition
# discovery compose (reference api.py:612-657 setup + api.py:65-97
# load_table). The archives are derived deterministically FROM the sf
# `customer` table so DuckDB can oracle the same answer from `customer`.
# --------------------------------------------------------------------------

SETUP_CUST_CLEANING = {
    "cust": {
        "columns": {
            "ADRS": {"new_name": "ID", "type": "unsigned"},
            "NKEY": {"new_name": "Nation_Code", "type": "integer"},
            "BAL": {"new_name": "Balance", "type": "float"},
            "SEG": {"new_name": "Segment", "type": "string"},
            "Urban_Rural": {},
        },
        "missings": "error",
    }
}


def q_setup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile
    import zipfile

    from hbsir_old_spark.api import HBSIREngine, partitioned_base_loader
    from hbsir_old_spark.sources.acquire import setup

    # ONE deterministic workspace per sf_dir, reused across invocations (the
    # driver/parity harness calls each query several times) — a fresh
    # mkdtemp per call would accumulate unbounded /tmp trees; the marker
    # file skips the whole rebuild once the cleaned parquet exists
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    ws = os.path.join(tempfile.gettempdir(), f"hbsir_l2_setup_{tag}")
    marker = os.path.join(ws, "_SETUP_COMPLETE")
    if os.path.exists(marker):
        root = os.path.join(ws, "cleaned")
    else:
        os.makedirs(ws, exist_ok=True)
        rows = (
            _t(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
            .collect()
        )
        archives: dict[int, str] = {}
        for year in (1399, 1400):
            # year split on custkey parity; urban/rural on nationkey range
            keep = [r for r in rows if (r["c_custkey"] % 2 == 0) == (year == 1400)]

            def _csv(rs) -> str:
                lines = ["ADRS,NKEY,BAL,SEG"]
                lines += [
                    f"{r['c_custkey']},{r['c_nationkey']},{r['c_acctbal']!r},{r['c_mktsegment']}"
                    for r in rs
                ]
                return "\n".join(lines) + "\n"

            path = os.path.join(ws, f"hbs{year}.zip")
            with zipfile.ZipFile(path, "w") as zf:
                zf.writestr(
                    "Ucust.csv", _csv([r for r in keep if r["c_nationkey"] < 12])
                )
                zf.writestr(
                    "Rcust.csv", _csv([r for r in keep if r["c_nationkey"] >= 12])
                )
            archives[year] = "file://" + path
        root = setup(
            spark, archives, cleaning_metadata=SETUP_CUST_CLEANING, workspace=ws
        )
        with open(marker, "w") as fh:
            fh.write(sf_dir)
    engine = HBSIREngine(spark, base_loader=partitioned_base_loader(spark, root))
    df = engine.load_table("cust", [1399, 1400])
    return (
        df.groupBy(F.col("Year").cast("int").alias("Year"), F.col("Urban_Rural"))
        .agg(
            F.count("*").cast("long").alias("n_households"),
            F.round(F.sum("Balance"), 2).alias("total_balance"),
            F.max("Nation_Code").cast("long").alias("max_nation"),
        )
        .orderBy("Year", "Urban_Rural")
    )


SQL_SETUP_ROUNDTRIP = """
WITH tagged AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN 1400 ELSE 1399 END AS Year,
         CASE WHEN c_nationkey < 12 THEN 'Urban' ELSE 'Rural' END AS Urban_Rural,
         c_acctbal,
         c_nationkey
  FROM customer
)
SELECT Year::INTEGER            AS Year,
       Urban_Rural,
       count(*)::BIGINT         AS n_households,
       round(sum(c_acctbal), 2) AS total_balance,
       max(c_nationkey)::BIGINT  AS max_nation
FROM tagged
GROUP BY Year, Urban_Rural
ORDER BY Year, Urban_Rural
"""


# --------------------------------------------------------------------------
# L3 — the REAL metadata corpus end-to-end: `load_table("food", 1400)`
# against the ported 39-year reference metadata (metadata/yaml/*), i.e. the
# genuine tables.yaml cleaning spec (DYCOL raw layout, year-versioned
# Provision_Method categories resolved at 1400) and the genuine schema.yaml
# instruction pipeline (add_year/add_table_name, Amount = Kilos +
# 0.001*Grams per the 1383+ version, Duration = 30, the 1364 code filter
# disabled at 1400 — reference schema.yaml food + tables.yaml P3S01). The
# raw survey file is derived deterministically FROM the sf `lineitem`
# table, every column stringly-typed like an acquired CSV, so DuckDB can
# oracle the identical clean+derive+aggregate pipeline from `lineitem`.
# --------------------------------------------------------------------------


def _l3_food_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The processed `food` table at 1400 through the REAL corpus, raw rows
    derived deterministically from lineitem (shared by l3 and g4)."""
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    def raw_loader(name: str, year: int):
        if name != "food" or year != 1400:
            return None
        li = _t(spark, sf_dir, "lineitem")
        raw = li.select(
            F.col("l_orderkey").alias("ADDRESS"),
            (F.lit(11000) + F.col("l_partkey") % 97).alias("DYCOL01"),
            (F.lit(1) + F.col("l_suppkey") % 8).alias("DYCOL02"),
            (F.col("l_discount") * 1000).alias("DYCOL03"),
            F.col("l_quantity").alias("DYCOL04"),
            F.col("l_extendedprice").alias("DYCOL05"),
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
                "DYCOL06"
            ),
            F.col("l_returnflag").alias("DYCOL07"),
        )
        # the acquired survey file is untyped text; double->string->double
        # round-trips exactly in Spark (shortest-repr cast)
        return raw.select([F.col(c).cast("string").alias(c) for c in raw.columns])

    registry = build_reference_registry(spark, raw_loader=raw_loader)
    return registry.load_table("food", [1400], form="processed")


def q_real_corpus_food(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _l3_food_table(spark, sf_dir)
    return (
        df.groupBy("Provision_Method")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("Expenditure"), 2).alias("total_expenditure"),
            F.round(F.avg("Amount"), 6).alias("avg_amount"),
            F.max("Duration").cast("long").alias("duration"),
            F.min("Code").cast("long").alias("min_code"),
        )
        .orderBy("Provision_Method")
    )


SQL_REAL_CORPUS_FOOD = """
WITH raw AS (
  SELECT 11000 + l_partkey % 97                    AS code,
         1 + l_suppkey % 8                         AS pm,
         l_discount * 1000                         AS grams,
         l_quantity                                AS kilos,
         l_extendedprice * (1 - l_discount)        AS expenditure
  FROM lineitem
), cleaned AS (
  SELECT CASE pm WHEN 1 THEN 'Purchase'
                 WHEN 2 THEN 'Home_Production'
                 WHEN 3 THEN 'Instead_of_Public_Service'
                 WHEN 4 THEN 'Instead_of_Cooperative_Service'
                 WHEN 5 THEN 'Instead_of_Private_Service'
                 WHEN 6 THEN 'Agricultural_Work'
                 WHEN 7 THEN 'Non_Agricultural_Work'
                 WHEN 8 THEN 'Donation' END        AS Provision_Method,
         code,
         kilos + 0.001::DOUBLE * grams             AS amount,
         expenditure
  FROM raw
)
SELECT Provision_Method,
       count(*)::BIGINT               AS n_rows,
       round(sum(expenditure), 2)     AS total_expenditure,
       round(avg(amount), 6)          AS avg_amount,
       30::BIGINT                     AS duration,
       min(code)::BIGINT              AS min_code
FROM cleaned
GROUP BY Provision_Method
ORDER BY Provision_Method
"""


# --------------------------------------------------------------------------
# G4 — real-corpus analytics composition: the l3 pipeline (load_table
# "food" 1400 through the genuine 39-year metadata) feeds the A3/A4
# survey-weighted average calculator — the reference's flagship usage
# shape (load_table -> add_weight -> average_table) with a deterministic
# weight derived from the household ID so DuckDB can oracle
# sum(x*w)/sum(w) per Provision_Method exactly.
# --------------------------------------------------------------------------


def q_real_weighted_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.operators.weighted import weighted_average

    df = _l3_food_table(spark, sf_dir)
    df = df.withColumn("Weight", (F.col("ID") % 7 + 1).cast("double"))
    out = weighted_average(
        df,
        weight_col="Weight",
        value_cols=["Expenditure", "Amount"],
        group_cols=["Provision_Method"],
    )
    return out.select(
        "Provision_Method",
        F.round("Expenditure", 4).alias("wavg_expenditure"),
        F.round("Amount", 6).alias("wavg_amount"),
    ).orderBy("Provision_Method")


SQL_REAL_WEIGHTED_REPORT = """
WITH raw AS (
  SELECT l_orderkey                               AS id,
         1 + l_suppkey % 8                         AS pm,
         l_discount * 1000                         AS grams,
         l_quantity                                AS kilos,
         l_extendedprice * (1 - l_discount)        AS expenditure
  FROM lineitem
), cleaned AS (
  SELECT CASE pm WHEN 1 THEN 'Purchase'
                 WHEN 2 THEN 'Home_Production'
                 WHEN 3 THEN 'Instead_of_Public_Service'
                 WHEN 4 THEN 'Instead_of_Cooperative_Service'
                 WHEN 5 THEN 'Instead_of_Private_Service'
                 WHEN 6 THEN 'Agricultural_Work'
                 WHEN 7 THEN 'Non_Agricultural_Work'
                 WHEN 8 THEN 'Donation' END        AS Provision_Method,
         (id % 7 + 1)::DOUBLE                      AS w,
         kilos + 0.001::DOUBLE * grams             AS amount,
         expenditure
  FROM raw
)
SELECT Provision_Method,
       -- pandas null semantics (weighted_average): a null value row
       -- contributes neither numerator nor denominator for that column
       round(sum(expenditure * w)
             / sum(CASE WHEN expenditure IS NOT NULL THEN w END), 4)
         AS wavg_expenditure,
       round(sum(amount * w)
             / sum(CASE WHEN amount IS NOT NULL THEN w END), 6)
         AS wavg_amount
FROM cleaned
GROUP BY Provision_Method
ORDER BY Provision_Method
"""


# --------------------------------------------------------------------------
# G5 — the reference's golden-example 12-cell ISC summary
# (tests/test_package/package/test_by_examples.py:7-69) run through the
# REAL metadata end to end: real Food_NonFood classification from
# commodities.yaml:1805-1831 (whose Food ranges arrive via
# {{original_1383.*}} placeholder splices of year-versioned item dicts),
# real Urban_Rural ID-digit decode from household.yaml, per-household
# sums, survey weights, the SEPARATE weight-table denominator (customer is
# the roster; customers without orders still count in the denominator,
# exactly the reference's weights_sum fixture), pivot to
# (Urban_Rural x Net/Gross) columns and the "Total" row — 12 cells.
# Facts are derived from lineitem x orders; commodity codes cycle through
# six literal codes, three inside the 1400 Food ranges ([10_000, 30_000) u
# [111_000, 112_000)) and three outside (-> NonFood via the
# classification's missing_value_replacements), so the oracle can CASE-map
# them exactly.
# --------------------------------------------------------------------------

#: 3 Food / 3 NonFood commodity codes under the 1383 item version
_G5_CODES = [11230, 21300, 111400, 44120, 95210, 121300]


def _scratch_tag(sf_dir: str) -> str:
    """Deterministic per-(input, process) tag for gate workspaces: repeat
    calls in one process reuse (and rebuild) one tree — no /tmp or catalog
    accumulation — while concurrent runners (pytest parity vs the driver
    on the same sf_dir) stay disjoint."""
    import hashlib
    import os

    return f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}"


def _scratch_dir(prefix: str, sf_dir: str) -> str:
    """Fresh gate workspace under /tmp, emptied on entry (stale state from
    older test data must not survive). Callers wrap USE in try/finally so
    the tree is also removed on failure."""
    import shutil
    import tempfile

    path = f"{tempfile.gettempdir()}/{prefix}_{_scratch_tag(sf_dir)}"
    shutil.rmtree(path, ignore_errors=True)
    return path


def _hh_id_1400(key: Column) -> Column:
    """Compose a valid 11-digit year-1400 household ID from a surrogate
    key: leading digit 1|2 (the post-1387 Urban|Rural code per
    household.yaml's 1392+ layout), remaining 10 digits from the key.
    Shared by the g5/g5b and l6 gates so the digit layout lives in ONE
    place — it encodes the metadata contract the decode gates verify
    (the layout is unchanged 1392+, so 1400 and 1401 share it)."""
    return (F.lit(1) + key % 2) * F.lit(10**10) + key % F.lit(10**10)


def q_real_isc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    registry = build_reference_registry(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    codes = F.array(*[F.lit(c) for c in _G5_CODES])
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.lit(1400).alias("Year"),
        _hh_id_1400(F.col("o_custkey")).alias("ID"),
        F.element_at(codes, (F.col("l_partkey") % 6 + 1).cast("int")).alias("Code"),
        F.col("l_extendedprice").alias("Gross_Expenditure"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "Net_Expenditure"
        ),
    )
    fact = registry.add_classification(fact, "Food_NonFood", years=[1400])
    hh = (
        fact.groupBy("Year", "ID", "Food_NonFood")
        .agg(
            F.sum("Gross_Expenditure").alias("Gross"),
            F.sum("Net_Expenditure").alias("Net"),
        )
        .withColumn("Weight", (F.col("ID") % 7 + 1).cast("double"))
    )
    hh = registry.add_attribute(hh, "Urban_Rural")
    # the denominator comes from the household ROSTER (every customer),
    # not the spending households — the reference's weights_sum fixture
    roster = cust.select(
        F.lit(1400).alias("Year"), _hh_id_1400(F.col("c_custkey")).alias("ID")
    ).withColumn("Weight", (F.col("ID") % 7 + 1).cast("double"))
    roster = registry.add_attribute(roster, "Urban_Rural")
    return _report_pivot_tail(_isc_cells(hh, roster))


def _isc_cells(hh: DataFrame, roster: DataFrame) -> DataFrame:
    """The reference golden-summary cell math (test_by_examples.py:37-50):
    per (category, urban/rural) cell, weighted expenditure sums over the
    SPENDING households divided by the ROSTER weight sum, in thousands.
    Shared by the g5 gate and the truncation-contract golden test."""
    wsum = roster.groupBy("Urban_Rural").agg(F.sum("Weight").alias("ws"))
    return (
        hh.groupBy("Food_NonFood", "Urban_Rural")
        .agg(
            F.sum(F.col("Net") * F.col("Weight")).alias("wnet"),
            F.sum(F.col("Gross") * F.col("Weight")).alias("wgross"),
        )
        .join(F.broadcast(wsum), "Urban_Rural")
        .select(
            F.col("Food_NonFood").alias("Category"),
            F.col("Urban_Rural").alias("UR"),
            (F.col("wnet") / F.col("ws") / 1000).alias("Net"),
            (F.col("wgross") / F.col("ws") / 1000).alias("Gross"),
        )
    )


SQL_REAL_ISC_SUMMARY = """
WITH fact AS (
  SELECT (1 + o_custkey % 2)::BIGINT * 10000000000 + o_custkey % 10000000000
           AS id,
         CASE WHEN [11230, 21300, 111400, 44120, 95210, 121300]
                     [(l_partkey % 6 + 1)::INTEGER] IN (11230, 21300, 111400)
              THEN 'Food' ELSE 'NonFood' END AS Category,
         CASE WHEN o_custkey % 2 = 0 THEN 'Urban' ELSE 'Rural' END AS UR,
         l_extendedprice AS gross,
         l_extendedprice * (1 - l_discount) AS net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), hh AS (
  SELECT id, Category, UR,
         ((id % 7 + 1))::DOUBLE AS w,
         sum(gross) AS gross, sum(net) AS net
  FROM fact GROUP BY id, Category, UR
), wsum AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN 'Urban' ELSE 'Rural' END AS UR,
         sum((((1 + c_custkey % 2)::BIGINT * 10000000000
               + c_custkey % 10000000000) % 7 + 1)::DOUBLE) AS ws
  FROM customer GROUP BY 1
), cell AS (
  SELECT Category, hh.UR,
         sum(net * w)   / any_value(ws) / 1000 AS net_pc,
         sum(gross * w) / any_value(ws) / 1000 AS gross_pc
  FROM hh JOIN wsum ON hh.UR = wsum.UR
  GROUP BY 1, 2
), pivoted AS (
  SELECT Category,
         sum(CASE WHEN UR = 'Urban' THEN net_pc   END) AS Urban_Net,
         sum(CASE WHEN UR = 'Urban' THEN gross_pc END) AS Urban_Gross,
         sum(CASE WHEN UR = 'Rural' THEN net_pc   END) AS Rural_Net,
         sum(CASE WHEN UR = 'Rural' THEN gross_pc END) AS Rural_Gross
  FROM cell GROUP BY Category
)
SELECT Category, round(Urban_Net, 4) AS Urban_Net,
       round(Urban_Gross, 4) AS Urban_Gross,
       round(Rural_Net, 4) AS Rural_Net, round(Rural_Gross, 4) AS Rural_Gross
FROM pivoted
UNION ALL
SELECT 'Total', round(sum(Urban_Net), 4), round(sum(Urban_Gross), 4),
       round(sum(Rural_Net), 4), round(sum(Rural_Gross), 4)
FROM pivoted
"""


def q_real_isc_summary_1401(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5b — the 1401 ISC summary notebook's Table 1
    (/root/reference/examples/ISC/summary_results/1401/summary-results.ipynb,
    'Household Income and Expenditure at a Glance'): the TWO-year
    (YEAR-1, YEAR) variant of g5's workload, driving year drift through the
    whole summary pipeline — Expenditures for 1400 AND 1401 ->
    Food_NonFood classification with per-year version resolution ->
    per-(Year, ID, category) sums -> year-varying weights ->
    per-(Year, Urban_Rural) weighted means -> year unstack with the
    notebook's Percentage_Change columns. The weighted-mean denominator is
    the weight sum over the DISTINCT households of each (Year, UR): the
    notebook's unstacked wide frame carries one row per household, so a
    household missing one category still sits in the denominator of both
    (pandas sum skips the NaN numerator cell only)."""
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    registry = build_reference_registry(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    codes = F.array(*[F.lit(c) for c in _G5_CODES])
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.lit(1400) + F.col("l_orderkey") % 2).alias("Year"),
        _hh_id_1400(F.col("o_custkey")).alias("ID"),
        F.element_at(codes, (F.col("l_partkey") % 6 + 1).cast("int")).alias("Code"),
        F.col("l_extendedprice").alias("Gross_Expenditure"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "Net_Expenditure"
        ),
    )
    fact = registry.add_classification(fact, "Food_NonFood", years=[1400, 1401])
    hh = (
        fact.groupBy("Year", "ID", "Food_NonFood")
        .agg(
            F.sum("Gross_Expenditure").alias("Gross"),
            F.sum("Net_Expenditure").alias("Net"),
        )
        # synthetic stand-in for the per-year weights fixture: the weight
        # DIFFERS by year, so the two years cannot share one joined frame
        .withColumn("Weight", ((F.col("ID") + F.col("Year")) % 7 + 1).cast("double"))
    )
    hh = registry.add_attribute(hh, "Urban_Rural")
    roster = hh.select("Year", "Urban_Rural", "ID", "Weight").distinct()
    ws = roster.groupBy("Year", "Urban_Rural").agg(F.sum("Weight").alias("ws"))
    cells = (
        hh.groupBy("Year", "Food_NonFood", "Urban_Rural")
        .agg(
            F.sum(F.col("Net") * F.col("Weight")).alias("wnet"),
            F.sum(F.col("Gross") * F.col("Weight")).alias("wgross"),
        )
        .join(F.broadcast(ws), ["Year", "Urban_Rural"])
        .select(
            "Year",
            F.col("Food_NonFood").alias("Category"),
            F.col("Urban_Rural").alias("UR"),
            (F.col("wnet") / F.col("ws") / 1000).alias("net_pc"),
            (F.col("wgross") / F.col("ws") / 1000).alias("gross_pc"),
        )
    )
    wide = cells.groupBy("Category", "UR").agg(
        F.sum(F.when(F.col("Year") == 1400, F.col("net_pc"))).alias("n1400"),
        F.sum(F.when(F.col("Year") == 1400, F.col("gross_pc"))).alias("g1400"),
        F.sum(F.when(F.col("Year") == 1401, F.col("net_pc"))).alias("n1401"),
        F.sum(F.when(F.col("Year") == 1401, F.col("gross_pc"))).alias("g1401"),
    )
    return wide.select(
        "Category",
        "UR",
        F.round("n1400", 4).alias("Net_1400"),
        F.round("g1400", 4).alias("Gross_1400"),
        F.round("n1401", 4).alias("Net_1401"),
        F.round("g1401", 4).alias("Gross_1401"),
        F.round(F.col("n1401") / F.col("n1400") * 100 - 100, 1).alias(
            "Net_Change_Pct"
        ),
        F.round(F.col("g1401") / F.col("g1400") * 100 - 100, 1).alias(
            "Gross_Change_Pct"
        ),
    ).orderBy("Category", "UR")


SQL_REAL_ISC_SUMMARY_1401 = """
WITH fact AS (
  SELECT 1400 + (l_orderkey % 2) AS year,
         (1 + o_custkey % 2)::BIGINT * 10000000000 + o_custkey % 10000000000
           AS id,
         CASE WHEN [11230, 21300, 111400, 44120, 95210, 121300]
                     [(l_partkey % 6 + 1)::INTEGER] IN (11230, 21300, 111400)
              THEN 'Food' ELSE 'NonFood' END AS Category,
         CASE WHEN o_custkey % 2 = 0 THEN 'Urban' ELSE 'Rural' END AS UR,
         l_extendedprice AS gross,
         l_extendedprice * (1 - l_discount) AS net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), hh AS (
  SELECT year, id, Category, UR,
         (((id + year) % 7 + 1))::DOUBLE AS w,
         sum(gross) AS gross, sum(net) AS net
  FROM fact GROUP BY year, id, Category, UR
), ws AS (
  SELECT year, UR, sum(w) AS ws
  FROM (SELECT DISTINCT year, UR, id, w FROM hh) GROUP BY year, UR
), cell AS (
  SELECT hh.year, Category, hh.UR,
         sum(net * w)   / any_value(ws.ws) / 1000 AS net_pc,
         sum(gross * w) / any_value(ws.ws) / 1000 AS gross_pc
  FROM hh JOIN ws ON hh.year = ws.year AND hh.UR = ws.UR
  GROUP BY 1, 2, 3
), wide AS (
  SELECT Category, UR,
         sum(CASE WHEN year = 1400 THEN net_pc   END) AS n1400,
         sum(CASE WHEN year = 1400 THEN gross_pc END) AS g1400,
         sum(CASE WHEN year = 1401 THEN net_pc   END) AS n1401,
         sum(CASE WHEN year = 1401 THEN gross_pc END) AS g1401
  FROM cell GROUP BY 1, 2
)
SELECT Category, UR,
       round(n1400, 4) AS Net_1400, round(g1400, 4) AS Gross_1400,
       round(n1401, 4) AS Net_1401, round(g1401, 4) AS Gross_1401,
       round(n1401 / n1400 * 100 - 100, 1) AS Net_Change_Pct,
       round(g1401 / g1400 * 100 - 100, 1) AS Gross_Change_Pct
FROM wide ORDER BY Category, UR
"""


def q_isc_decile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — the 1401 summary notebook's Tables 10/11
    (/root/reference/examples/ISC/summary_results/1401/summary-results.ipynb,
    'Table 10'/'Table 11'): the per-DECILE Food/NonFood expenditure table —
    two-year Expenditures -> Urban_Rural decode + Urban filter (J2/F2) ->
    Food_NonFood classification (J1) -> per-(Year, ID) category sums ->
    year-varying weights (J3) -> WEIGHTED deciles of total net
    expenditure within each Year (W1/W2/P15 — the notebook's
    ``calculate_quantile(on='Net_Expenditure', weighted=True)``) ->
    per-(Year, Decile) weighted category means in thousands (A3/A4),
    plus the notebook's 'All' row per year (Decile 0 here — its
    ``all_country`` concat). The weighted-mean denominator is the group's
    FULL weight sum (the notebook's wighted_average helper multiplies by
    Weight and divides by summed Weight; a household missing one category
    contributes NULL to that numerator only — pandas sum-skips it)."""
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    registry = build_reference_registry(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    codes = F.array(*[F.lit(c) for c in _G5_CODES])
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.lit(1400) + F.col("l_orderkey") % 2).alias("Year"),
        _hh_id_1400(F.col("o_custkey")).alias("ID"),
        F.element_at(codes, (F.col("l_partkey") % 6 + 1).cast("int")).alias("Code"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "Net_Expenditure"
        ),
    )
    fact = registry.add_classification(fact, "Food_NonFood", years=[1400, 1401])
    fact = registry.add_attribute(fact, "Urban_Rural")
    fact = fact.filter(F.col("Urban_Rural") == "Urban")
    hh = (
        fact.groupBy("Year", "ID")
        .agg(
            F.sum("Net_Expenditure").alias("total_net"),
            F.sum(
                F.when(F.col("Food_NonFood") == "Food", F.col("Net_Expenditure"))
            ).alias("Food_net"),
            F.sum(
                F.when(F.col("Food_NonFood") == "NonFood", F.col("Net_Expenditure"))
            ).alias("NonFood_net"),
        )
        .withColumn("Weight", ((F.col("ID") + F.col("Year")) % 7 + 1).cast("double"))
    )
    binned = add_decile(
        hh,
        value_col="total_net",
        weight_col="Weight",
        group_cols=("Year",),
        out_col="Decile",
        tiebreaker_cols=("ID",),
    )

    def _means(grouped):
        return grouped.agg(
            F.round(
                F.sum(F.col("Food_net") * F.col("Weight")) / F.sum("Weight") / 1000, 4
            ).alias("Food"),
            F.round(
                F.sum(F.col("NonFood_net") * F.col("Weight")) / F.sum("Weight") / 1000,
                4,
            ).alias("NonFood"),
        )

    cells = _means(binned.groupBy("Year", "Decile"))
    all_rows = _means(binned.groupBy("Year")).select(
        "Year", F.lit(0).cast("int").alias("Decile"), "Food", "NonFood"
    )
    return cells.unionByName(all_rows).orderBy("Year", "Decile")


SQL_ISC_DECILE_TABLE = """
WITH fact AS (
  SELECT 1400 + (l_orderkey % 2) AS year,
         (1 + o_custkey % 2)::BIGINT * 10000000000 + o_custkey % 10000000000
           AS id,
         CASE WHEN [11230, 21300, 111400, 44120, 95210, 121300]
                     [(l_partkey % 6 + 1)::INTEGER] IN (11230, 21300, 111400)
              THEN 'Food' ELSE 'NonFood' END AS Category,
         l_extendedprice * (1 - l_discount) AS net
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_custkey % 2 = 0
), hh AS (
  SELECT year, id,
         sum(net) AS total_net,
         sum(CASE WHEN Category = 'Food' THEN net END) AS food,
         sum(CASE WHEN Category = 'NonFood' THEN net END) AS nonfood,
         (((id + year) % 7 + 1))::DOUBLE AS wt
  FROM fact GROUP BY year, id
), q AS (
  SELECT *,
         sum(wt) OVER (PARTITION BY year ORDER BY total_net, id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / sum(wt) OVER (PARTITION BY year) AS quantile
  FROM hh
), d AS (
  SELECT *, least(greatest(floor(quantile * 10) + 1, 1), 10)::INTEGER AS decile
  FROM q
)
SELECT year AS Year, decile AS Decile,
       round(sum(food * wt) / sum(wt) / 1000, 4) AS Food,
       round(sum(nonfood * wt) / sum(wt) / 1000, 4) AS NonFood
FROM d GROUP BY 1, 2
UNION ALL
SELECT year, 0::INTEGER,
       round(sum(food * wt) / sum(wt) / 1000, 4),
       round(sum(nonfood * wt) / sum(wt) / 1000, 4)
FROM d GROUP BY year
ORDER BY Year, Decile
"""


# --------------------------------------------------------------------------
# G6 — the reference's published end-to-end poverty-rate workload
# (/root/reference/examples/graphs/poverty_rate/script.py:31-52), the most
# demanding real composition in the repo: two-year Expenditures load ->
# Urban_Rural ID decode + Urban filter (J2/F2) -> Food_NonFood
# classification through the real commodities.yaml (J1; both years resolve
# the 1383 item version, so the G5 code set CASE-maps identically) ->
# per-household pivot-sum (A1/P19) -> Engel ratio with pandas dropna
# semantics (a household missing EITHER category has a NULL ratio and is
# dropped) -> survey weights through the registry's year-dependent J3 path
# (both years > weight_year_threshold, so household_information serves
# them via base_loader) -> Poor = (Ratio >= 40) * Weight -> Province ID
# decode (all 31 real provinces) -> weighted poverty share by
# (Year, Province), unstacked to the Province x Year matrix with the
# first-minus-last diff, provinces missing either year dropped (the
# example's final dropna). Full DuckDB oracle.
# --------------------------------------------------------------------------

_G6_YEARS = (1396, 1401)


def _g6_id(key: Column) -> Column:
    """11-digit post-1392 household ID: digit 0 = Urban|Rural (1|2),
    digits 1-2 = province code 0-30 (household.yaml positions 1-3,
    unversioned), rest serial. key %% 31 covers every real province."""
    return (
        (F.lit(1) + key % 2) * F.lit(10**10)
        + (key % 31) * F.lit(10**8)
        + key % F.lit(10**8)
    )


def q_poverty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.metadata.corpus import build_reference_registry
    from hbsir_old_spark.operators.reshape import pivot_table

    cust = _t(spark, sf_dir, "customer")

    def base_loader(name: str, year: int):
        if name != "household_information" or year not in _G6_YEARS:
            return None
        # every customer appears in both survey years' rosters; the fact
        # side assigns each household to exactly one year, so the unused
        # roster rows simply never match the (Year, ID) weights join.
        # Full CLEANED schema (tables.yaml household_information resolved
        # at 1396/1401) so the processed pipeline's apply_order resolves.
        seasons = F.array(
            F.lit("Spring"), F.lit("Summer"), F.lit("Autumn"), F.lit("Winter")
        )
        return cust.select(
            F.lit(year).alias("Year"),
            _g6_id(F.col("c_custkey")).alias("ID"),
            F.element_at(
                seasons, (F.col("c_custkey") % 4 + 1).cast("int")
            ).alias("Season"),
            (F.col("c_custkey") % 12 + 1).alias("Month"),
            ((F.col("c_custkey") % 7 + 1) / F.lit(2.0)).alias("Weight"),
            F.lit("Normal").alias("Household_Type"),
            F.lit(True).alias("Main_Household"),
            F.lit(False).alias("Alternative_Household"),
        )

    registry = build_reference_registry(spark, base_loader=base_loader)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    codes = F.array(*[F.lit(c) for c in _G5_CODES])
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.when(F.col("o_custkey") % 3 == 0, _G6_YEARS[0])
        .otherwise(_G6_YEARS[1])
        .alias("Year"),
        _g6_id(F.col("o_custkey")).alias("ID"),
        F.element_at(codes, (F.col("l_partkey") % 6 + 1).cast("int")).alias("Code"),
        F.col("l_extendedprice").alias("Gross_Expenditure"),
    )
    fact = registry.add_classification(fact, "Food_NonFood", years=list(_G6_YEARS))
    fact = registry.add_attribute(fact, "Urban_Rural")
    urban = fact.filter(F.col("Urban_Rural") == "Urban")
    hh = pivot_table(
        urban,
        ["Year", "ID"],
        "Food_NonFood",
        "Gross_Expenditure",
        agg="sum",
        pivot_values=["Food", "NonFood"],
    )
    # pandas: Food/(Food+NonFood) is NaN when either side is missing and
    # dropna(subset="Ratio") removes the household — NULL propagation +
    # isNotNull is the exact Spark twin
    hh = hh.withColumn(
        "Ratio", F.col("Food") / (F.col("Food") + F.col("NonFood")) * 100
    ).filter(F.col("Ratio").isNotNull())
    hh = registry.add_weights(hh, list(_G6_YEARS))
    hh = hh.withColumn(
        "Poor", (F.col("Ratio") >= 40).cast("int") * F.col("Weight")
    )
    hh = registry.add_attribute(hh, "Province")
    rate = (
        hh.groupBy("Year", "Province")
        .agg(F.sum("Poor").alias("poor"), F.sum("Weight").alias("w"))
        .select("Year", "Province", (F.col("poor") / F.col("w") * 100).alias("r"))
    )
    first, last = _G6_YEARS
    matrix = (
        rate.groupBy("Province")
        .agg(
            F.sum(F.when(F.col("Year") == first, F.col("r"))).alias("r_first"),
            F.sum(F.when(F.col("Year") == last, F.col("r"))).alias("r_last"),
        )
        # the example's trailing dropna(): provinces missing either year go
        .filter(F.col("r_first").isNotNull() & F.col("r_last").isNotNull())
    )
    return matrix.select(
        "Province",
        F.round("r_first", 4).alias(f"rate_{first}"),
        F.round("r_last", 4).alias(f"rate_{last}"),
        F.round(F.col("r_first") - F.col("r_last"), 4).alias("diff"),
    ).orderBy("Province")


SQL_POVERTY_RATE = """
WITH fact AS (
  SELECT CASE WHEN o_custkey % 3 = 0 THEN 1396 ELSE 1401 END AS year,
         o_custkey AS k,
         CASE WHEN [11230, 21300, 111400, 44120, 95210, 121300]
                     [(l_partkey % 6 + 1)::INTEGER] IN (11230, 21300, 111400)
              THEN 'Food' ELSE 'NonFood' END AS category,
         l_extendedprice AS gross
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_custkey % 2 = 0           -- Urban filter: leading ID digit 1
), hh AS (
  SELECT year, k, category, sum(gross) AS g
  FROM fact GROUP BY year, k, category
), wide AS (
  SELECT year, k,
         sum(CASE WHEN category = 'Food'    THEN g END) AS food,
         sum(CASE WHEN category = 'NonFood' THEN g END) AS nonfood
  FROM hh GROUP BY year, k
), ratio AS (
  SELECT year, k, food / (food + nonfood) * 100 AS ratio,
         ((k % 7 + 1) / 2.0)::DOUBLE AS w
  FROM wide
  WHERE food IS NOT NULL AND nonfood IS NOT NULL
), rate AS (
  SELECT year,
         k % 31 AS prov,
         sum((ratio >= 40)::INTEGER * w) / sum(w) * 100 AS r
  FROM ratio GROUP BY year, k % 31
), matrix AS (
  SELECT prov,
         sum(CASE WHEN year = 1396 THEN r END) AS r_first,
         sum(CASE WHEN year = 1401 THEN r END) AS r_last
  FROM rate GROUP BY prov
)
SELECT CASE prov WHEN 0 THEN 'Markazi' WHEN 1 THEN 'Gilan'
                 WHEN 2 THEN 'Mazandaran' WHEN 3 THEN 'East_Azerbaijan'
                 WHEN 4 THEN 'West_Azerbaijan' WHEN 5 THEN 'Kermanshah'
                 WHEN 6 THEN 'Khuzestan' WHEN 7 THEN 'Fars'
                 WHEN 8 THEN 'Kerman' WHEN 9 THEN 'Razavi_Khorasan'
                 WHEN 10 THEN 'Isfahan' WHEN 11 THEN 'Sistan_and_Baluchestan'
                 WHEN 12 THEN 'Kurdistan' WHEN 13 THEN 'Hamadan'
                 WHEN 14 THEN 'Chaharmahal_and_Bakhtiari'
                 WHEN 15 THEN 'Lorestan' WHEN 16 THEN 'Ilam'
                 WHEN 17 THEN 'Kohgiluyeh_and_Boyer-Ahmad'
                 WHEN 18 THEN 'Bushehr' WHEN 19 THEN 'Zanjan'
                 WHEN 20 THEN 'Semnan' WHEN 21 THEN 'Yazd'
                 WHEN 22 THEN 'Hormozgan' WHEN 23 THEN 'Tehran'
                 WHEN 24 THEN 'Ardabil' WHEN 25 THEN 'Qom'
                 WHEN 26 THEN 'Qazvin' WHEN 27 THEN 'Golestan'
                 WHEN 28 THEN 'North_Khorasan' WHEN 29 THEN 'South_Khorasan'
                 WHEN 30 THEN 'Alborz' END AS Province,
       round(r_first, 4)          AS rate_1396,
       round(r_last, 4)           AS rate_1401,
       round(r_first - r_last, 4) AS diff
FROM matrix
WHERE r_first IS NOT NULL AND r_last IS NOT NULL
ORDER BY Province
"""


# --------------------------------------------------------------------------
# P24 — labeled interval binning (functions/standard.py:bin_by_breaks), the
# Spark twin of the pd.cut call in the reference's income-bracket results
# example (/root/reference/examples/ISC/results/urban/1400/results.ipynb
# cell 3). The gate bins o_totalprice through ±inf-bounded breaks — with a
# planted NULL stripe to pin the NULL -> NULL-bracket rule — and aggregates
# per bracket, so every edge the helper owns (break values to the lower
# bracket, unbounded outer brackets, NULL passthrough) is hash-checked.
# Map-only expression; the only shuffle is the final tiny groupBy.
# --------------------------------------------------------------------------

_P24_BREAKS = [float("-inf"), 50_000.0, 150_000.0, 300_000.0, float("inf")]
_P24_LABELS = ["< 50k", "50k - 150k", "150k - 300k", "300k <"]


def q_interval_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.standard import bin_by_breaks

    orders = _t(spark, sf_dir, "orders")
    # every 97th order gets a NULL price: NULL must bin to the NULL bracket
    # (pandas NaN), never to an outer interval
    priced = orders.select(
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("price")
    )
    binned = priced.select(
        bin_by_breaks("price", _P24_BREAKS, _P24_LABELS).alias("bracket"), "price"
    )
    return (
        binned.groupBy("bracket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("price"), 2).alias("total_price"),
        )
        .orderBy(F.col("bracket").asc_nulls_first())
    )


SQL_INTERVAL_BINNING = """
WITH priced AS (
  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_totalprice END AS price
  FROM orders
), binned AS (
  SELECT price,
         CASE WHEN price <= 50000 THEN '< 50k'
              WHEN price <= 150000 THEN '50k - 150k'
              WHEN price <= 300000 THEN '150k - 300k'
              WHEN price IS NOT NULL THEN '300k <'
         END AS bracket
  FROM priced
)
SELECT bracket, count(*) AS n, round(sum(price), 2) AS total_price
FROM binned
GROUP BY bracket
ORDER BY bracket NULLS FIRST
"""


# --------------------------------------------------------------------------
# G7 — the reference's published income-bracket results workload
# (/root/reference/examples/ISC/results/urban/1400/results.ipynb), the last
# reference usage example without a gate: Total_Income (derived
# Income_Breakdown -> per-household sum, schema.yaml:1128-1141) joined with
# Number_of_Members, Urban_Rural ID decode + Urban filter (J2/F2), survey
# weights through the registry's year-dependent J3 path, pd.cut bracket
# binning with the notebook's REAL ±inf-bounded breaks and labels (P24),
# then the example's three result tables in one frame per bracket:
#   * share_pct     — unweighted household share (the notebook's
#                     groupby().count() / total * 100; cell 5),
#   * mean_members  — weighted mean household size, sum(M*w)/sum(w) (cell 6),
#   * inc_<type>    — per-bracket weighted per-capita income by Income_Type,
#                     sum(Income*w) / sum(distinct-household w) / 1e3,
#                     unstacked to columns (cells 8-9, P19).
# The notebook's concat-axis-columns + how="right" joins reduce to inner
# joins here: every bracket household descends from Income_Breakdown, and
# members-only households get a NaN bracket that its observed=True groupbys
# drop. Incomes are rounded to whole rials BEFORE binning in both dialects
# so a last-ulp sum divergence can never flip a bracket at a break. Full
# DuckDB oracle.
# --------------------------------------------------------------------------

_G7_YEAR = 1400
_G7_BREAKS = [
    float("-inf"), 12e7, 19.5e7, 27e7, 36e7, 48e7, 60e7, 72e7, 90e7, 120e7,
    float("inf"),
]
_G7_LABELS = [
    "< 12", "12 - 19.5", "19.5 - 27", "27 - 36", "36 - 48", "48 - 60",
    "60 -72", "72 - 90", "90 - 120", " 120 <",
]
_G7_TYPES = ["Wage", "Self_Employment", "Rent", "Transfer"]


def q_income_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.standard import bin_by_breaks
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    cust = _t(spark, sf_dir, "customer")

    def base_loader(name: str, year: int):
        if name != "household_information" or year != _G7_YEAR:
            return None
        seasons = F.array(
            F.lit("Spring"), F.lit("Summer"), F.lit("Autumn"), F.lit("Winter")
        )
        return cust.select(
            F.lit(year).alias("Year"),
            _g6_id(F.col("c_custkey")).alias("ID"),
            F.element_at(
                seasons, (F.col("c_custkey") % 4 + 1).cast("int")
            ).alias("Season"),
            (F.col("c_custkey") % 12 + 1).alias("Month"),
            ((F.col("c_custkey") % 7 + 1) / F.lit(2.0)).alias("Weight"),
            F.lit("Normal").alias("Household_Type"),
            F.lit(True).alias("Main_Household"),
            F.lit(False).alias("Alternative_Household"),
        )

    registry = build_reference_registry(spark, base_loader=base_loader)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    types = F.array(*[F.lit(t) for t in _G7_TYPES])
    # the Income_Breakdown grain: (Year, ID, Income_Type) with summed Income
    # (schema.yaml:1109-1125); ×200 spreads the synthetic households across
    # all ten of the notebook's real rial brackets at every SF (lineitems
    # per customer is SF-invariant in TPC-H)
    breakdown = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.lit(_G7_YEAR).alias("Year"),
            _g6_id(F.col("o_custkey")).alias("ID"),
            F.element_at(types, (F.col("l_partkey") % 4 + 1).cast("int")).alias(
                "Income_Type"
            ),
            (F.col("l_extendedprice") * 200).alias("Income"),
        )
        .groupBy("Year", "ID", "Income_Type")
        .agg(F.sum("Income").alias("Income"))
    )
    # Materialize the breakdown ONCE (r14, guide §2.4/§5): it anchors BOTH
    # the household-total path (total -> hh -> per_bracket/shares) and the
    # per-type path below, and Spark reuses no subtrees across consumers —
    # without this the lineitem-orders fact join executes once per
    # consumer (the pre-r14 executed plan carried 28 scans). The breakdown
    # is the (household x 4 income types) grain — bounded by households,
    # a sliver of the fact at any scale, exactly the guide's "decide with
    # small rows" shape. Same localCheckpoint recovery caveat as the
    # dedup internals.
    breakdown = breakdown.localCheckpoint(eager=True)
    # Total_Income: per-household sum over the breakdown (schema.yaml:1128)
    total = breakdown.groupBy("Year", "ID").agg(
        F.round(F.sum("Income"), 0).alias("Income")
    )
    members = cust.select(
        F.lit(_G7_YEAR).alias("Year"),
        _g6_id(F.col("c_custkey")).alias("ID"),
        (F.col("c_custkey") % 6 + 1).cast("double").alias("Members"),
    )
    hh = total.join(members, ["Year", "ID"])
    hh = registry.add_attribute(hh, "Urban_Rural").filter(
        F.col("Urban_Rural") == "Urban"
    )
    hh = registry.add_weights(hh, [_G7_YEAR]).withColumn(
        "bracket", bin_by_breaks("Income", _G7_BREAKS, _G7_LABELS)
    )
    # hh is consumed by per_bracket AND the per-type join: one household-
    # grain materialization instead of two executions of the total ->
    # attribute -> weights chain (r14, same rationale as breakdown above)
    hh = hh.localCheckpoint(eager=True)
    # cells 5+6 fused into ONE per-bracket aggregate (the oracle's
    # per_bracket shape): household count, distinct-household weight sum,
    # and the A4 weighted mean (sum(M*w) over the null-restricted
    # weight sum — weighted_average's exact formula, inlined so the hh
    # subtree is scanned once here instead of twice; at 100 TB each extra
    # consumer of hh is a full fact pass, Spark reuses no subtrees). The
    # grand total reaches the per-bracket rows via a broadcast cross join
    # (the x35 threshold pattern) rather than an unpartitioned window.
    per_bracket = hh.groupBy("bracket").agg(
        F.count("*").alias("__n__"),
        F.sum("Weight").alias("__wsum__"),
        (
            F.sum(F.col("Members") * F.col("Weight"))
            / F.sum(F.when(F.col("Members").isNotNull(), F.col("Weight")))
        ).alias("mean_members"),
    )
    grand = per_bracket.agg(F.sum("__n__").alias("__tot__"))
    shares = per_bracket.crossJoin(F.broadcast(grand)).select(
        "bracket",
        (F.col("__n__") / F.col("__tot__") * 100).alias("share_pct"),
        "__wsum__",
        "mean_members",
    )
    # cells 8-9: per-bracket weighted per-capita income by type, unstacked
    per_type = (
        breakdown.join(hh.select("Year", "ID", "bracket", "Weight"), ["Year", "ID"])
        .groupBy("bracket", "Income_Type")
        .agg(F.sum(F.col("Income") * F.col("Weight")).alias("__wi__"))
    )
    inc_wide = pivot_table(
        per_type, ["bracket"], "Income_Type", "__wi__", agg="sum",
        pivot_values=_G7_TYPES,
    )
    out = shares.join(inc_wide, "bracket")
    return out.select(
        "bracket",
        F.round("share_pct", 4).alias("share_pct"),
        F.round("mean_members", 4).alias("mean_members"),
        *[
            F.round(F.col(t) / F.col("__wsum__") / 1e3, 4).alias(f"inc_{t.lower()}")
            for t in _G7_TYPES
        ],
    ).orderBy("bracket")


SQL_INCOME_BRACKETS = """
WITH breakdown AS (
  SELECT o_custkey AS k,
         ['Wage', 'Self_Employment', 'Rent', 'Transfer']
             [(l_partkey % 4 + 1)::INTEGER] AS itype,
         sum(l_extendedprice * 200) AS inc
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_custkey % 2 = 0            -- Urban: leading ID digit 1
  GROUP BY 1, 2
), total AS (
  SELECT k, round(sum(inc), 0) AS income FROM breakdown GROUP BY k
), hh AS (
  SELECT t.k, income,
         (c.c_custkey % 6 + 1)::DOUBLE AS members,
         ((t.k % 7 + 1) / 2.0) AS w,
         CASE WHEN income <= 12e7  THEN '< 12'
              WHEN income <= 19.5e7 THEN '12 - 19.5'
              WHEN income <= 27e7  THEN '19.5 - 27'
              WHEN income <= 36e7  THEN '27 - 36'
              WHEN income <= 48e7  THEN '36 - 48'
              WHEN income <= 60e7  THEN '48 - 60'
              WHEN income <= 72e7  THEN '60 -72'
              WHEN income <= 90e7  THEN '72 - 90'
              WHEN income <= 120e7 THEN '90 - 120'
              ELSE ' 120 <'
         END AS bracket
  FROM total t JOIN customer c ON c.c_custkey = t.k
), per_bracket AS (
  SELECT bracket,
         count(*) AS n,
         sum(w) AS wsum,
         sum(members * w) / sum(w) AS mean_members
  FROM hh GROUP BY bracket
), per_type AS (
  SELECT h.bracket, b.itype, sum(b.inc * h.w) AS wi
  FROM breakdown b JOIN hh h ON b.k = h.k
  GROUP BY 1, 2
), wide AS (
  SELECT bracket,
         sum(CASE WHEN itype = 'Wage' THEN wi END) AS wage,
         sum(CASE WHEN itype = 'Self_Employment' THEN wi END) AS selfemp,
         sum(CASE WHEN itype = 'Rent' THEN wi END) AS rent,
         sum(CASE WHEN itype = 'Transfer' THEN wi END) AS transfer
  FROM per_type GROUP BY bracket
)
SELECT p.bracket,
       round(p.n / (SELECT sum(n) FROM per_bracket) * 100, 4) AS share_pct,
       round(p.mean_members, 4) AS mean_members,
       round(w.wage     / p.wsum / 1e3, 4) AS inc_wage,
       round(w.selfemp  / p.wsum / 1e3, 4) AS inc_self_employment,
       round(w.rent     / p.wsum / 1e3, 4) AS inc_rent,
       round(w.transfer / p.wsum / 1e3, 4) AS inc_transfer
FROM per_bracket p JOIN wide w ON p.bracket = w.bracket
ORDER BY p.bracket
"""


# --------------------------------------------------------------------------
# X36 — CCNet-style cross-corpus line-level boilerplate removal (Wenzek et
# al. 2020 §3.1: deduplicate lines across shards). The synthetic documents
# are single-line, so the gate plants a shared header and footer around two
# content substrings; min_docs=3 strips the planted chrome from every
# document (and any content line whose normalized form recurs across >= 3
# docs — the corpus carries planted near-twins, deterministically in both
# engines). Output: per-doc cleaned text + line accounting. Full oracle:
# DuckDB mirrors the explode / distinct-doc frequency / anti-join /
# ORDER BY-pos reassembly exactly.
# --------------------------------------------------------------------------


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import remove_boilerplate_lines

    # bare scan, NOT _docs (r14, measured): the line-grain groupBy's own
    # Exchange already spreads the heavy work, so the spread only
    # parallelizes a cheap explode and adds a shuffle. Isolated A/B at
    # sf0.1: 1.0-1.25 s bare vs 1.3-1.6 s spread.
    docs = _t(spark, sf_dir, "documents")
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("NAVIGATION MENU HOME ABOUT"),
            F.substring("text", 1, 70),
            F.lit("all rights reserved contact us"),
            F.substring("text", 71, 70),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(multi, min_docs=3)
    return out.select(
        "doc_id",
        "text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").cast("long").alias("n_removed"),
    ).orderBy("doc_id")


SQL_BOILERPLATE_REMOVAL = r"""
WITH multi AS (
  SELECT doc_id,
         concat_ws(chr(10), 'NAVIGATION MENU HOME ABOUT',
                   substr(text, 1, 70),
                   'all rights reserved contact us',
                   substr(text, 71, 70)) AS t
  FROM documents
), lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(t, chr(10)), 1) AS pos,
         unnest(string_split(t, chr(10))) AS line
  FROM multi
), normed AS (
  SELECT doc_id, pos, line,
         trim(regexp_replace(translate(lower(line), 'ς', 'σ'),
                             '[ \t\n\x0b\f\r]+', ' ', 'g')) AS nl
  FROM lines
), freq AS (
  SELECT nl FROM (
    SELECT nl, count(*) AS nd
    FROM (SELECT DISTINCT nl, doc_id FROM normed WHERE nl <> '')
    GROUP BY nl
  ) WHERE nd >= 3
), kept AS (
  SELECT n.doc_id, n.pos, n.line
  FROM normed n LEFT JOIN freq f ON n.nl = f.nl
  WHERE f.nl IS NULL
), rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned,
         count(*) AS kept_n
  FROM kept GROUP BY doc_id
)
SELECT m.doc_id,
       coalesce(r.cleaned, '') AS text,
       len(string_split(m.t, chr(10)))::BIGINT AS n_lines,
       len(string_split(m.t, chr(10))) - coalesce(r.kept_n, 0) AS n_removed
FROM multi m LEFT JOIN rebuilt r ON m.doc_id = r.doc_id
ORDER BY m.doc_id
"""


# --------------------------------------------------------------------------
# X37 — context-window document chunking (functions/sampling.py:
# chunk_documents): long documents split into 32-token windows advancing by
# 24 (overlapping — the standard stride so no boundary context is lost),
# the complement of x28's sequence packing. Map-only: split / integer-div
# chunk count / sequence / slice / array_join + one posexplode, ZERO
# shuffles. Full oracle: DuckDB mirrors with string_split_regex, integer
# // arithmetic, range unnest, and list_slice.
# --------------------------------------------------------------------------


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.sampling import chunk_documents

    docs = _docs(spark, sf_dir)
    out = chunk_documents(docs, chunk_tokens=32, stride=24)
    return out.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "chunk_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).orderBy("doc_id", "chunk_index")


SQL_CHUNK_DOCUMENTS = r"""
WITH squeezed AS (
  -- the whitespace_tokens twin: collapse runs FIRST so edge tabs/newlines
  -- can never leave phantom '' tokens, then trim, then split on ' '
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS sq
  FROM documents
), base AS (
  SELECT doc_id,
         CASE WHEN length(sq) = 0 THEN [] ELSE string_split(sq, ' ') END AS toks
  FROM squeezed
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM base
), counted AS (
  SELECT doc_id, toks, n,
         CASE WHEN n <= 0 THEN 0
              WHEN n <= 32 THEN 1
              ELSE 1 + (24 - 1 + n - 32) // 24 END AS nc
  FROM sized
), exploded AS (
  SELECT doc_id, toks, n, unnest(range(nc)) AS i FROM counted
)
SELECT doc_id,
       i::BIGINT AS chunk_index,
       array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' ') AS chunk_text,
       least(n - i*24, 32)::BIGINT AS n_tokens
FROM exploded
ORDER BY doc_id, chunk_index
"""


# --------------------------------------------------------------------------
# X25 — Gopher repetition rules (Rae et al. 2021 §A1.1): duplicate-line /
# duplicate-n-gram fractions and the composite keep flag, all per-row
# native array expressions (map-only — the ideal 100-TB prefilter shape).
# The synthetic documents are single-line, so a 3-line column with one
# planted duplicate line (text[0:80] repeated) exercises the line rule;
# the n-gram rules run on the original text. DuckDB mirrors every step
# with its list algebra, so the gate is a full oracle.
# --------------------------------------------------------------------------


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 optimization (guide §2.5/§4): the single-file documents scan
    # serialized every feature onto one core (one row group -> one task),
    # and the inline repetition_filter Columns re-derived the whitespace
    # tokenization ~20x per row (Catalyst collapses adjacent projections
    # unless a non-cheap alias is referenced more than once, so the fix is
    # to FACTOR the token/line arrays through a lower projection, the
    # gopher_quality_rules pattern). ensure_min_partitions round-robins
    # the scan across the session's parallelism — a no-op at real scale
    # where the scan has thousands of splits. Measured 2.01 s -> see
    # OPTIMIZATION_r14.md. Values are bit-identical: the same expressions
    # over the same arrays, computed once instead of per-feature.
    from hbsir_old_spark.functions.text import (
        REPETITION_THRESHOLDS,
        duplicate_line_fraction_from_lines,
        duplicate_ngram_fraction_from_tokens,
        nonblank_lines,
        repeated_token_ratio_from_tokens,
        whitespace_tokens,
    )
    from hbsir_old_spark.session import ensure_min_partitions

    docs = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    multi = F.concat_ws(
        "\n",
        F.substring("text", 1, 80),
        F.substring("text", 81, 80),
        F.substring("text", 1, 80),
    )
    prepared = docs.select(
        "doc_id",
        whitespace_tokens("text").alias("__toks__"),
        nonblank_lines(multi).alias("__mlines__"),
        nonblank_lines("text").alias("__tlines__"),
    )
    toks = F.col("__toks__")
    feats = prepared.select(
        "doc_id",
        duplicate_line_fraction_from_lines(F.col("__mlines__")).alias(
            "dup_line_frac_planted"
        ),
        duplicate_ngram_fraction_from_tokens(toks, 2).alias("dup_bigram_frac"),
        duplicate_ngram_fraction_from_tokens(toks, 3).alias("dup_trigram_frac"),
        repeated_token_ratio_from_tokens(toks).alias("repeated_token_ratio"),
        # the keep flag's line rule applies to the ORIGINAL text's lines
        # (single-line originals -> 0, so keep reduces to the n-gram +
        # token-ratio rules, mirrored literally in the oracle)
        duplicate_line_fraction_from_lines(F.col("__tlines__")).alias(
            "__dlf_text__"
        ),
    )
    t = REPETITION_THRESHOLDS
    return feats.select(
        "doc_id",
        "dup_line_frac_planted",
        "dup_bigram_frac",
        "dup_trigram_frac",
        "repeated_token_ratio",
        (
            (F.col("__dlf_text__") <= F.lit(t["dup_line_frac"]))
            & (F.col("dup_bigram_frac") <= F.lit(t["dup_bigram_frac"]))
            & (F.col("dup_trigram_frac") <= F.lit(t["dup_trigram_frac"]))
            & (F.col("repeated_token_ratio") <= F.lit(t["repeated_token_ratio"]))
        ).alias("keep"),
    )


SQL_REPETITION_FILTER = r"""
WITH base AS (
  SELECT doc_id, trim(text) AS t,
         concat_ws(chr(10), substr(text, 1, 80), substr(text, 81, 80),
                   substr(text, 1, 80)) AS multi
  FROM documents
), tok AS (
  SELECT doc_id, multi,
         CASE WHEN length(t) = 0 THEN [] ELSE string_split_regex(t, '[ \t\n\x0b\f\r]+') END
           AS tokens
  FROM base
), sized AS (
  SELECT doc_id, tokens,
         list_filter(list_transform(string_split(multi, chr(10)),
                                    x -> trim(x)),
                     x -> length(x) > 0) AS lines,
         len(tokens)     AS ntok,
         len(tokens) - 1 AS m2,
         len(tokens) - 2 AS m3
  FROM tok
), fr AS (
  SELECT doc_id,
    round(CASE WHEN len(lines) > 0
               THEN 1 - len(list_distinct(lines))::DOUBLE / len(lines)
               ELSE 0 END, 6) AS dup_line_frac_planted,
    round(CASE WHEN m2 > 0
               THEN 1 - len(list_distinct(list_transform(range(1, m2 + 1),
                        i -> array_to_string(tokens[i:i+1], ' '))))::DOUBLE / m2
               ELSE 0 END, 6) AS dup_bigram_frac,
    round(CASE WHEN m3 > 0
               THEN 1 - len(list_distinct(list_transform(range(1, m3 + 1),
                        i -> array_to_string(tokens[i:i+2], ' '))))::DOUBLE / m3
               ELSE 0 END, 6) AS dup_trigram_frac,
    round(CASE WHEN ntok > 0
               THEN 1 - len(list_distinct(tokens))::DOUBLE / ntok
               ELSE 0 END, 6) AS repeated_token_ratio
  FROM sized
)
SELECT doc_id, dup_line_frac_planted, dup_bigram_frac, dup_trigram_frac,
       repeated_token_ratio,
       (dup_bigram_frac <= 0.18 AND dup_trigram_frac <= 0.16
        AND repeated_token_ratio <= 0.60) AS keep
FROM fr
"""


# --------------------------------------------------------------------------
# L7 — JSONL ingestion round-trip with corrupt-record capture: the
# documents table is serialized to newline-delimited JSON (plus two
# planted malformed lines), read back with an ENFORCED schema in
# PERMISSIVE mode, and the clean side must aggregate exactly like the
# original table while the corrupt side counts exactly the planted lines.
# Pins the production JSONL semantics: no schema inference, one bad shard
# cannot kill the job, bad lines stay auditable.
# --------------------------------------------------------------------------


def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import types as T

    from hbsir_old_spark.sources.jsonl import read_jsonl, split_corrupt

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lines = docs.select(
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("value")
    )
    corrupt = spark.createDataFrame(
        [("{oops",), ("not json at all",)], "value string"
    )
    path = _scratch_dir("l7_jsonl", sf_dir)
    try:
        lines.unionByName(corrupt).write.mode("overwrite").text(path)
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("lang", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        )
        # cache before splitting: Spark disallows queries that reference
        # ONLY the corrupt-record column of a raw JSON scan (the corrupt
        # count below would otherwise prune to exactly that)
        raw = read_jsonl(spark, path, schema).cache()
        try:
            good, bad = split_corrupt(raw)
            per_lang = good.groupBy("lang").agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
            corrupt_row = bad.agg(
                F.lit("_corrupt").alias("lang"),
                F.count("*").cast("long").alias("n_docs"),
                F.lit(None).cast("long").alias("total_chars"),
            )
            out = per_lang.unionByName(corrupt_row).orderBy(
                "lang"
            ).localCheckpoint(eager=True)
        finally:
            raw.unpersist()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


SQL_JSONL_INGEST = """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY lang
UNION ALL
SELECT '_corrupt', 2::BIGINT, NULL::BIGINT
ORDER BY lang
"""


# --------------------------------------------------------------------------
# L8 — columnar-format breadth: the documents table round-trips through
# ORC (Spark's second native columnar format; Zlib default codec) with a
# lang-partitioned layout, and the read-back — through a partition-pruned
# scan of TWO langs — must aggregate exactly like the parquet original.
# Pins that the engine's source layer is format-agnostic and that
# partition pruning fires on the ORC path too.
# --------------------------------------------------------------------------


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = _scratch_dir("l8_orc", sf_dir)
    try:
        docs.write.mode("overwrite").partitionBy("lang").orc(path)
        back = spark.read.orc(path).filter(F.col("lang").isin("en", "de"))
        out = (
            back.groupBy("lang", "source")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
                F.min("doc_id").cast("long").alias("min_doc_id"),
            )
            .orderBy("lang", "source")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


SQL_ORC_ROUNDTRIP = """
SELECT lang, source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars, min(doc_id)::BIGINT AS min_doc_id
FROM documents WHERE lang IN ('en', 'de')
GROUP BY lang, source ORDER BY lang, source
"""


# --------------------------------------------------------------------------
# L9 — the bucketing scale lever end-to-end: both fact tables are written
# bucketed+sorted on the join key (8 buckets, catalog tables), broadcast
# is disabled to expose the 100-TB fact-fact shape, and the co-located
# SortMergeJoin (zero Exchange — plan-pinned separately in
# tests/test_scale_operators.py) must aggregate exactly like DuckDB
# joining the parquet originals.
# --------------------------------------------------------------------------


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.operators.scale import bucketed_join, write_bucketed

    tag = _scratch_tag(sf_dir)
    lt, rt = f"l9_li_{tag}", f"l9_orders_{tag}"
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the writes sit INSIDE the try: a failure between them must still
    # drop the first table (pid-tagged names would otherwise orphan it)
    try:
        write_bucketed(
            li, lt, ["l_orderkey"], num_buckets=8, sort_by=["l_orderkey"]
        )
        write_bucketed(
            orders, rt, ["l_orderkey"], num_buckets=8, sort_by=["l_orderkey"]
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, lt, rt, ["l_orderkey"])
        out = (
            joined.groupBy("o_orderpriority")
            .agg(
                F.count("*").cast("long").alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("revenue"),
                F.sum("l_quantity").cast("long").alias("total_qty"),
            )
            .orderBy("o_orderpriority")
            .localCheckpoint(eager=True)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")
    return out


SQL_BUCKETED_JOIN = """
SELECT o_orderpriority,
       count(*)::BIGINT AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       sum(l_quantity)::BIGINT AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# L10 — the skew-salting scale lever end-to-end: a deliberately SKEWED
# fact (80% of rows forced onto one hot key) salted-joins a dimension
# (left salt from row identity, right replicated once per salt), and the
# result must aggregate exactly like DuckDB's plain join — salting
# changes the shuffle distribution, never the answer.
# --------------------------------------------------------------------------


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.operators.scale import salted_join

    li = _t(spark, sf_dir, "lineitem")
    # 80% of rows pile onto supplier key 1 — the hot-key shape
    skewed = li.select(
        F.when(F.col("l_orderkey") % 5 < 4, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("s_suppkey"),
        "l_extendedprice",
        "l_quantity",
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    joined = salted_join(skewed, supp, on="s_suppkey", factor=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.sum("l_quantity").cast("long").alias("total_qty"),
        )
        .orderBy("s_nationkey")
    )


SQL_SALTED_SKEW_JOIN = """
WITH skewed AS (
  SELECT CASE WHEN l_orderkey % 5 < 4 THEN 1 ELSE l_suppkey END AS s_suppkey,
         l_extendedprice, l_quantity
  FROM lineitem
)
SELECT s_nationkey,
       count(*)::BIGINT AS n_items,
       round(sum(l_extendedprice), 2) AS total_price,
       sum(l_quantity)::BIGINT AS total_qty
FROM skewed JOIN supplier USING (s_suppkey)
GROUP BY s_nationkey ORDER BY s_nationkey
"""


# --------------------------------------------------------------------------
# L11 — Year-partitioned parquet write (S4) end-to-end: household-shaped
# rows derived from orders are written partitioned by Year, read back
# with a two-Year filter (pruning directories, not rows — plan-pinned in
# tests/test_partitioned_io.py), and must aggregate exactly like DuckDB
# computing the same two Years from the original table.
# --------------------------------------------------------------------------


def q_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from hbsir_old_spark.sources.writer import read_partitioned, write_partitioned

    orders = _t(spark, sf_dir, "orders")
    rows = orders.select(
        (F.lit(1396) + F.col("o_orderkey") % 6).cast("int").alias("Year"),
        F.col("o_custkey").alias("ID"),
        "o_totalprice",
    )
    path = _scratch_dir("l11_part", sf_dir)
    try:
        write_partitioned(rows, path, partition_cols=("Year",))
        back = read_partitioned(spark, path).filter(
            F.col("Year").isin(1398, 1400)
        )
        out = (
            back.groupBy("Year")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
                F.countDistinct("ID").cast("long").alias("n_households"),
            )
            .orderBy("Year")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


SQL_PARTITIONED_WRITE = """
SELECT (1396 + o_orderkey % 6)::INT AS Year,
       count(*)::BIGINT AS n_rows,
       round(sum(o_totalprice), 2) AS total_price,
       count(DISTINCT o_custkey)::BIGINT AS n_households
FROM orders
WHERE 1396 + o_orderkey % 6 IN (1398, 1400)
GROUP BY Year ORDER BY Year
"""


# --------------------------------------------------------------------------
# L12 — the ASPECT face of the real classification machinery: the Duration
# classification (commodities.yaml, defaults levels=[4] aspects=[duration]
# column_names=[Duration], items spliced whole from {{original_1363}})
# must yield the numeric duration VALUE per commodity code — 2 for
# perishables, 30 for monthly-recall staples, NULL for unmapped codes (no
# missing_value_replacements on this classification). Codes verified
# against the YAML: 11150 flour=2, 11250 cereals=30, 12150 red_meat=2,
# 14150=30, 16350=30, 99999 unmapped.
# --------------------------------------------------------------------------

_L12_CODES = [11150, 11250, 12150, 14150, 16350, 99999]


def q_real_duration_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    registry = build_reference_registry(spark)
    li = _t(spark, sf_dir, "lineitem")
    codes = F.array(*[F.lit(c) for c in _L12_CODES])
    df = li.select(
        F.lit(1400).alias("Year"),
        F.element_at(codes, (F.col("l_partkey") % 6 + 1).cast("int")).alias(
            "Code"
        ),
        "l_extendedprice",
    )
    out = registry.add_classification(df, "Duration", years=[1400])
    return (
        out.groupBy(F.col("Code").cast("long").alias("Code"), "Duration")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("Code")
    )


SQL_REAL_DURATION_ASPECT = """
WITH coded AS (
  SELECT [11150, 11250, 12150, 14150, 16350, 99999]
           [(l_partkey % 6 + 1)::INTEGER] AS Code,
         l_extendedprice
  FROM lineitem
)
SELECT Code::BIGINT AS Code,
       CASE WHEN Code IN (11150, 12150) THEN 2
            WHEN Code IN (11250, 14150, 16350) THEN 30 END AS Duration,
       count(*)::BIGINT AS n_rows,
       round(sum(l_extendedprice), 2) AS total_price
FROM coded
GROUP BY Code ORDER BY Code
"""


# --------------------------------------------------------------------------
# L13 — the reference's external-data chain end-to-end through the REAL
# ported external_data.yaml: raw SCI spreadsheet grids (CSV fixtures with
# the genuine positional layout, incl. the transposed 1400-base rural
# sheet with dash missing cells) -> sci_* cleaning scripts -> the
# goto/alias/from indirection resolving "sci.cpi_1400.annual.urban_rural"
# -> engine.adjust_by_cpi deflating a lineitem-derived fact on
# (Urban_Rural, Year). Grid values follow a closed-form formula so DuckDB
# regenerates the whole CPI series (incl. the monthly->annual mean and the
# missing-month skip) with generate_series: full oracle.
# Reference parity: external_data/cleaning_scripts.py:10-116,
# external_data_cleaner.py:34-175, api.py:467-560.
# --------------------------------------------------------------------------


def _l13_grid_csv(rows: list[list]) -> str:
    width = max(len(r) for r in rows)
    lines = []
    for r in rows:
        cells = ["" if v is None else str(v) for v in r] + [""] * (width - len(r))
        lines.append(",".join(cells))
    return "\n".join(lines) + "\n"


def _l13_fixture_csvs() -> dict[str, str]:
    """Fixture raw sheets keyed by dataset name. Urban monthly CPI(y, m) =
    (y-1360)*12 + m over 1361-1402; rural main-groups CPI(y, m, g) =
    (y-1373)*10 + m + g/4 over 1390-1402 with (1390, month 1) missing
    (dash cells). All values integer-or-quarter doubles, so every mean in
    the chain is IEEE-exact and DuckDB replays it bit-for-bit."""
    urban: list[list] = [["title junk"], [None, "header", "CPI"]]
    for y in range(1361, 1403):
        for m in range(1, 13):
            urban.append([y, m, float((y - 1360) * 12 + m)])

    year_row: list = ["junk"]
    month_row: list = ["junk"]
    groups = ["Total", "Food", "Housing"]
    data_rows: list[list] = [[g] for g in groups]
    for y in range(1390, 1403):
        for m in range(1, 13):
            year_row.append(y if m == 1 else None)
            month_row.append(f"M{m}")
            for gi, row in enumerate(data_rows):
                row.append(
                    "-" if (y == 1390 and m == 1)
                    else float((y - 1373) * 10 + m + gi * 0.25)
                )
    rural = [["title junk"], year_row, month_row] + data_rows
    return {
        "sci.cpi_1400_urban_singleindex.monthly": _l13_grid_csv(urban),
        "sci.cpi_1400_rural_maingroups.monthly": _l13_grid_csv(rural),
    }


def q_real_cpi_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from hbsir_old_spark.api import HBSIREngine
    from hbsir_old_spark.metadata.corpus import load_corpus
    from hbsir_old_spark.sources.external import ExternalDataRegistry

    meta = load_corpus().external_data
    probe = ExternalDataRegistry(spark, meta)
    url_to_csv = {
        probe._navigate(name)[1]["url"]: csv
        for name, csv in _l13_fixture_csvs().items()
    }

    def fetcher(url: str, dest: str) -> None:
        with open(dest, "w", encoding="utf-8") as fh:
            fh.write(url_to_csv[url])

    workdir = _scratch_dir("l13_ext", sf_dir)
    try:
        eng = HBSIREngine.with_reference_corpus(spark)
        eng.attach_external(fetcher=fetcher, cache_dir=workdir)
        fact = _t(spark, sf_dir, "lineitem").select(
            (F.lit(1390) + F.col("l_partkey") % 13).cast("long").alias("Year"),
            F.when(F.col("l_orderkey") % 2 == 0, "Urban")
            .otherwise("Rural")
            .alias("Urban_Rural"),
            F.col("l_extendedprice").alias("Expenditure"),
        )
        deflated = eng.adjust_by_cpi(fact, None, ["Expenditure"])
        out = (
            deflated.groupBy("Urban_Rural", "Year")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.round(F.sum("Expenditure"), 2).alias("real_expenditure"),
            )
            .orderBy("Urban_Rural", "Year")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return out


SQL_REAL_CPI_CHAIN = """
WITH months AS (SELECT unnest(generate_series(1, 12)) AS m),
u_monthly AS (
  SELECT y, m, ((y - 1360) * 12 + m)::DOUBLE AS cpi
  FROM (SELECT unnest(generate_series(1361, 1402)) AS y), months
),
u_annual AS (SELECT y, avg(cpi) AS cpi FROM u_monthly GROUP BY y),
r_monthly AS (
  -- first main group only (g = 0): the annual_urban_rural combiner takes
  -- the leftmost (all-items) rural group; (1390, 1) is the dash cell
  SELECT y, m,
         CASE WHEN y = 1390 AND m = 1 THEN NULL
              ELSE ((y - 1373) * 10 + m)::DOUBLE END AS cpi
  FROM (SELECT unnest(generate_series(1390, 1402)) AS y), months
),
r_annual AS (SELECT y, avg(cpi) AS cpi FROM r_monthly GROUP BY y),
cpi AS (
  SELECT 'Urban' AS ur, y, cpi FROM u_annual
  UNION ALL
  SELECT 'Rural' AS ur, y, cpi FROM r_annual
),
fact AS (
  SELECT 1390 + l_partkey % 13 AS y,
         CASE WHEN l_orderkey % 2 = 0 THEN 'Urban' ELSE 'Rural' END AS ur,
         l_extendedprice AS expenditure
  FROM lineitem
)
SELECT f.ur AS Urban_Rural, f.y::BIGINT AS Year,
       count(*)::BIGINT AS n_rows,
       round(sum(f.expenditure / c.cpi * 100), 2) AS real_expenditure
FROM fact f JOIN cpi c ON f.ur = c.ur AND f.y = c.y
GROUP BY f.ur, f.y
ORDER BY Urban_Rural, Year
"""


# --------------------------------------------------------------------------
# L17 — the reference's OTHER defining standard-table chain: the REAL
# schema.yaml income pipeline (schema.yaml Cash_Incomes/_long_other_income/
# Income_Breakdown; reference data_engine.py:282-449 executes it eagerly
# per year). Exercises, through the genuine year-versioned metadata: the
# four-table U1 union with add_table_name provenance, the embedded pandas
# STACK/MELT chain (_long_other_income: drop/set_index/stack/set_axis ->
# declarative melt, P20/X4), the stack's NaN-drop + the "> 0" filter, the
# 12-category Income_Type categorical over cross-table conditions
# (Table_Name/Sector/Is_Agricultural/Other_Income_Type, P8), the
# era-versioned Income expression (Subsidy joins the formula at 1390 —
# same boundary where the subsidy table becomes AVAILABLE, so era
# batching and availability pruning interact), and the groupby-sum P20
# chain of Income_Breakdown. The NonCash side of the real schema prunes
# away gracefully (no food/home base data served) — F4 at depth.
# Aggregates are per-row-rounded integer sums (l15 rationale). Full
# DuckDB oracle.
# --------------------------------------------------------------------------

#: l17 spans the 1390 era boundary: 1388-89 (no subsidy) + 1390-92
_L17_YEARS = list(range(1388, 1393))


def _l17_base_loader(spark: SparkSession, sf_dir: str):
    """Cleaned-form income tables fabricated from disjoint lineitem
    slices: l_linenumber%4 picks the table, l_orderkey keys the year."""

    def loader(name: str, year: int):
        if year not in _L17_YEARS:
            return None
        tables = {
            "employment_income": 0,
            "self_employed_income": 1,
            "other_income": 2,
            "subsidy": 3,
        }
        if name not in tables:
            return None
        li = _t(spark, sf_dir, "lineitem").filter(
            (F.col("l_linenumber") % 4 == tables[name])
            & (F.lit(1388) + F.col("l_orderkey") % 5 == year)
        )
        ident = (1 + F.col("l_orderkey") % 200).cast("long").alias("ID")
        member = (1 + F.col("l_suppkey") % 3).cast("long").alias("Member_Number")
        price = F.col("l_extendedprice")
        if name == "employment_income":
            return li.select(
                ident,
                member,
                F.when(F.col("l_partkey") % 3 == 0, "Public")
                .when(F.col("l_partkey") % 3 == 1, "Private")
                .otherwise("Cooperative")
                .alias("Sector"),
                price.alias("Yearly_Net_Income"),
            )
        if name == "self_employed_income":
            return li.select(
                ident,
                member,
                (F.col("l_partkey") % 2 == 0).alias("Is_Agricultural"),
                (price * (F.lit(1) - F.col("l_discount"))).alias("Profit"),
            )
        if name == "other_income":
            # one income type per row (slot 6 = all-NULL row, dropped by
            # the stack); ~1/11 of values are ZERO to exercise the melt
            # chain's "> 0" filter
            val = F.when(F.col("l_suppkey") % 11 == 0, F.lit(0.0)).otherwise(price)
            slot = F.col("l_partkey") % 7
            cols = [ident, member]
            for j, t in enumerate(
                ["Retirement", "Rent", "Interest", "Aid", "Home_Production", "Transfer"]
            ):
                cols.append(F.when(slot == j, val).alias(t))
            return li.select(*cols)
        return li.select(
            ident, (F.col("l_discount") * 1000 + 5).alias("Subsidy")
        )

    return loader


def q_real_income_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.api import HBSIREngine

    eng = HBSIREngine.with_reference_corpus(
        spark, base_loader=_l17_base_loader(spark, sf_dir)
    )
    bd = eng.load_table("Income_Breakdown", _L17_YEARS)
    return (
        bd.groupBy(F.col("Year").cast("long").alias("Year"), F.col("Income_Type"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("Income") * 10000, 0).cast("long")).alias("inc_e4"),
            F.sum("ID").cast("long").alias("id_sum"),
        )
        .orderBy("Year", "Income_Type")
    )


SQL_REAL_INCOME_CHAIN = """
WITH li AS (
  SELECT 1388 + l_orderkey % 5                    AS y,
         l_linenumber % 4                          AS tbl,
         1 + l_orderkey % 200                      AS id,
         1 + l_suppkey % 3                         AS member,
         l_partkey                                 AS pk,
         l_suppkey                                 AS sk,
         l_extendedprice                           AS price,
         l_discount                                AS disc
  FROM lineitem
),
emp AS (
  SELECT y, id, price AS income,
         CASE pk % 3 WHEN 0 THEN 'Cash_Public'
                     WHEN 1 THEN 'Cash_Private'
                     ELSE 'Cash_Cooperative' END   AS itype
  FROM li WHERE tbl = 0
),
se AS (
  SELECT y, id, price * (1 - disc) AS income,
         CASE WHEN pk % 2 = 0 THEN 'Cash_Agricultural'
              ELSE 'Cash_NonAgricultural' END      AS itype
  FROM li WHERE tbl = 1
),
oth AS (
  -- the melt chain: slot 6 rows are all-NULL (stack drops them), zero
  -- values fail the "> 0" filter
  SELECT y, id,
         CASE WHEN sk % 11 = 0 THEN 0.0 ELSE price END AS income,
         'Cash_' || CASE pk % 7 WHEN 0 THEN 'Retirement' WHEN 1 THEN 'Rent'
                                WHEN 2 THEN 'Interest' WHEN 3 THEN 'Aid'
                                WHEN 4 THEN 'Home_Production'
                                ELSE 'Transfer' END AS itype
  FROM li WHERE tbl = 2 AND pk % 7 <= 5
            AND NOT (sk % 11 = 0)
),
sub AS (
  SELECT y, id, disc * 1000 + 5 AS income, 'Cash_Subsidy' AS itype
  FROM li WHERE tbl = 3 AND y >= 1390
),
cash AS (
  SELECT * FROM emp UNION ALL SELECT * FROM se
  UNION ALL SELECT * FROM oth UNION ALL SELECT * FROM sub
),
bd AS (
  SELECT y, id, itype, sum(income) AS inc
  FROM cash GROUP BY y, id, itype
)
SELECT y::BIGINT                                   AS Year,
       itype                                       AS Income_Type,
       count(*)::BIGINT                            AS n_rows,
       sum(round(inc * 10000)::BIGINT)::BIGINT     AS inc_e4,
       sum(id)::BIGINT                             AS id_sum
FROM bd
GROUP BY y, itype
ORDER BY Year, Income_Type
"""


# --------------------------------------------------------------------------
# L18 — the real schema.yaml OUTLAY chain (schema.yaml Original_Outlays/
# Outlays): the 14-member original-table union (12 members prune away —
# F4 breadth), the Secondhand_Sale NETTING expression whose operand-only
# coalesce handles the column existing only in durable-type members
# (union NULL-fill -> Net = Expenditure - 0 for food rows), and the
# Duration annualization division (/30*360 for food, /360*360 for
# durable). Gated at the OUTLAYS row level with per-row-rounded integer
# sums — per-row arithmetic is engine-identical, so the oracle is
# tie-free; Total_Outlay's household aggregation (order-dependent float
# sums) is pinned by the tolerance-based pytest instead
# (tests/test_era_batching.py::TestOutlayChain).
# --------------------------------------------------------------------------

#: the eight 1383-era Provision_Method labels, reused by the fabricated
#: cleaned frames (cleaning already decoded codes to labels)
_L18_PM = [
    "Purchase", "Home_Production", "Instead_of_Public_Service",
    "Instead_of_Cooperative_Service", "Instead_of_Private_Service",
    "Agricultural_Work", "Non_Agricultural_Work", "Donation",
]
_L18_YEARS = [1397, 1398, 1399]


def _l18_base_loader(spark: SparkSession, sf_dir: str):
    """Cleaned-form food/durable frames from disjoint lineitem slices
    (l_linenumber%2 picks the table, l_orderkey keys the year)."""

    def loader(name: str, year: int):
        if year not in _L18_YEARS or name not in ("food", "durable"):
            return None
        li = _t(spark, sf_dir, "lineitem").filter(
            (F.col("l_linenumber") % 2 == (0 if name == "food" else 1))
            & (F.lit(1397) + F.col("l_orderkey") % 3 == year)
        )
        ident = (1 + F.col("l_orderkey") % 150).cast("long").alias("ID")
        pm = F.element_at(
            F.array(*[F.lit(s) for s in _L18_PM]),
            (F.col("l_suppkey") % 8 + 1).cast("int"),
        ).alias("Provision_Method")
        price = F.col("l_extendedprice")
        if name == "food":
            return li.select(
                ident,
                (F.lit(11100) + F.col("l_partkey") % 380).cast("long").alias("Code"),
                pm,
                (F.col("l_discount") * 1000).alias("Grams"),
                F.col("l_quantity").alias("Kilos"),
                price.alias("Price"),
                (price * (F.lit(1) - F.col("l_discount"))).alias("Expenditure"),
            )
        return li.select(
            ident,
            (F.lit(31100) + F.col("l_partkey") % 100).cast("long").alias("Code"),
            pm,
            price.alias("Expenditure"),
            (price * F.col("l_discount")).alias("Secondhand_Sale"),
        )

    return loader


def q_real_outlay_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.api import HBSIREngine

    eng = HBSIREngine.with_reference_corpus(
        spark, base_loader=_l18_base_loader(spark, sf_dir)
    )
    out = eng.load_table("Outlays", _L18_YEARS)
    return (
        out.groupBy(
            F.col("Year").cast("long").alias("Year"),
            F.col("Table_Name"),
            F.col("Provision_Method"),
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.round(F.col("Gross_Expenditure") * 10000, 0).cast("long")
            ).alias("gross_e4"),
            F.sum(
                F.round(F.col("Net_Expenditure") * 10000, 0).cast("long")
            ).alias("net_e4"),
            F.min("Code").cast("long").alias("min_code"),
        )
        .orderBy("Year", "Table_Name", "Provision_Method")
    )


SQL_REAL_OUTLAY_CHAIN = """
WITH li AS (
  SELECT 1397 + l_orderkey % 3                      AS y,
         l_linenumber % 2                           AS tbl,
         l_partkey                                  AS pk,
         CASE l_suppkey % 8
              WHEN 0 THEN 'Purchase' WHEN 1 THEN 'Home_Production'
              WHEN 2 THEN 'Instead_of_Public_Service'
              WHEN 3 THEN 'Instead_of_Cooperative_Service'
              WHEN 4 THEN 'Instead_of_Private_Service'
              WHEN 5 THEN 'Agricultural_Work'
              WHEN 6 THEN 'Non_Agricultural_Work'
              ELSE 'Donation' END                   AS pm,
         l_extendedprice                            AS price,
         l_discount                                 AS disc
  FROM lineitem
),
outlays AS (
  SELECT y, 'food' AS table_name, pm,
         11100 + pk % 380                           AS code,
         price * (1 - disc) / 30 * 360              AS gross,
         (price * (1 - disc) - 0) / 30 * 360        AS net
  FROM li WHERE tbl = 0
  UNION ALL
  SELECT y, 'durable', pm,
         31100 + pk % 100,
         price / 360 * 360,
         (price - price * disc) / 360 * 360
  FROM li WHERE tbl = 1
)
SELECT y::BIGINT                                    AS Year,
       table_name                                   AS Table_Name,
       pm                                           AS Provision_Method,
       count(*)::BIGINT                             AS n_rows,
       sum(round(gross * 10000)::BIGINT)::BIGINT    AS gross_e4,
       sum(round(net * 10000)::BIGINT)::BIGINT      AS net_e4,
       min(code)::BIGINT                            AS min_code
FROM outlays
GROUP BY y, table_name, pm
ORDER BY Year, Table_Name, Provision_Method
"""


# --------------------------------------------------------------------------
# W3 — quantile on a DERIVED variable through the full engine chain
# (reference calculator/quantile.py:47-169 + api.py:563-609): Total_
# Expenditure derives from the food pipeline (filter -> Gross -> Yearly ->
# per-household aggregate, with the fingerprint CACHE in the loop — the
# gate loads it TWICE, so the oracled values round-trip S5's parquet
# cache), the ranking variable divides by the OECD equivalence scale
# (J5: members_properties -> Number_of_Members -> Equivalence_Scale via
# the external-function chain), weights join from household_information
# (J3), W1's ECDF ranks within year, P15 bins to deciles, and the bin
# joins back by (Year, ID). Output sums are per-row-rounded integers
# (gross is finite-decimal per household: sum of 4-decimal products, so
# e4 rounding is exact in both engines); sum(ID) pins decile MEMBERSHIP
# exactly. Full DuckDB window oracle.
# --------------------------------------------------------------------------


def _w3_base_loader(spark: SparkSession, sf_dir: str):
    """Survey-shaped base tables fabricated from TPC-H: households are
    custkeys 1-150 (present at every sf), food rows are lineitem slices
    keyed to (year, household)."""

    def loader(name: str, year: int):
        if year not in (1399, 1400):
            return None
        if name == "food":
            li = _t(spark, sf_dir, "lineitem").filter(
                F.lit(1399) + F.col("l_linenumber") % 2 == year
            )
            return li.select(
                F.lit(int(year)).alias("Year"),
                (1 + F.col("l_orderkey") % 150).cast("long").alias("ID"),
                F.when(F.col("l_partkey") % 50 == 0, 18888)
                .otherwise(11150 + F.col("l_partkey") % 40)
                .cast("long")
                .alias("Code"),
                F.when(F.col("l_suppkey") % 3 == 0, 30)
                .when(F.col("l_suppkey") % 3 == 1, 90)
                .otherwise(360)
                .cast("long")
                .alias("Duration"),
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
                    "Expenditure"
                ),
            )
        hh = (
            _t(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") <= 150)
            .select(F.col("c_custkey").cast("long").alias("ID"))
        )
        if name == "household_information":
            return hh.select(
                F.lit(int(year)).alias("Year"),
                "ID",
                ((F.col("ID") % 9 + 1) / F.lit(2.0)).alias("Weight"),
                (1 + F.col("ID") % 12).cast("long").alias("Month"),
            )
        if name == "members_properties":
            return hh.select(
                F.lit(int(year)).alias("Year"),
                "ID",
                F.explode(
                    F.sequence(F.lit(1), (F.lit(1) + F.col("ID") % 4).cast("int"))
                ).alias("Member_Number"),
            ).withColumn(
                "Age",
                ((F.col("ID") * 7 + F.col("Member_Number") * 31) % 80).cast("long"),
            )
        return None

    return loader


def q_quantile_by_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from hbsir_old_spark.api import HBSIREngine

    workdir = _scratch_dir("w3_cache", sf_dir)
    try:
        eng = HBSIREngine(
            spark, base_loader=_w3_base_loader(spark, sf_dir), cache_dir=workdir
        )
        years = [1399, 1400]
        # first load PRIMES the S5 fingerprint cache (cache_result on
        # Total_Expenditure); the second is SERVED from it — the oracled
        # output therefore certifies the cache round-trip's values
        eng.load_table("Total_Expenditure", years)
        te = eng.load_table("Total_Expenditure", years)
        decorated = eng.add_quantile_by_variable(
            te,
            "Gross_Expenditure",
            bins=10,
            equivalence_scale="OECD",
            years=years,
        )
        out = (
            decorated.groupBy(
                F.col("Year").cast("long").alias("Year"), F.col("Decile")
            )
            .agg(
                F.count("*").cast("long").alias("n_households"),
                F.sum(
                    F.round(F.col("Gross_Expenditure") * 10000, 0).cast("long")
                ).alias("gross_e4"),
                F.sum("ID").cast("long").alias("id_sum"),
            )
            .orderBy("Year", "Decile")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return out


SQL_QUANTILE_BY_VARIABLE = """
WITH years AS (SELECT unnest([1399, 1400]) AS y),
hh AS (SELECT c_custkey AS id FROM customer WHERE c_custkey <= 150),
food AS (
  SELECT 1399 + l_linenumber % 2                        AS y,
         1 + l_orderkey % 150                           AS id,
         CASE WHEN l_partkey % 50 = 0 THEN 18888
              ELSE 11150 + l_partkey % 40 END           AS code,
         l_extendedprice * (1 - l_discount)             AS exp
  FROM lineitem
),
te AS (
  SELECT y, id, sum(exp) AS gross
  FROM food WHERE code NOT IN (18888, 19993) GROUP BY y, id
),
members AS (
  SELECT y, hh.id, m AS member, (hh.id * 7 + m * 31) % 80 AS age
  FROM hh, years, unnest(generate_series(1, 1 + hh.id % 4)) AS u(m)
),
nm AS (
  SELECT y, id,
         count(*)                                        AS mem,
         sum(CASE WHEN age >= 14 THEN 1 ELSE 0 END)      AS adults
  FROM members GROUP BY y, id
),
scale AS (
  SELECT y, id, 0.7 * adults + 0.3 + 0.5 * (mem - adults) AS oecd FROM nm
),
wt AS (
  SELECT y, hh.id, ((hh.id % 9) + 1) / 2.0::DOUBLE AS w FROM hh, years
),
ranked AS (
  SELECT te.y, te.id, te.gross,
         sum(wt.w) OVER (
             PARTITION BY te.y ORDER BY te.gross / scale.oecd, te.id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / sum(wt.w) OVER (PARTITION BY te.y)            AS q
  FROM te
  JOIN scale ON te.y = scale.y AND te.id = scale.id
  JOIN wt    ON te.y = wt.y    AND te.id = wt.id
)
SELECT y::BIGINT                                         AS Year,
       least(greatest(floor(q * 10) + 1, 1), 10)::INTEGER AS Decile,
       count(*)::BIGINT                                  AS n_households,
       sum(round(gross * 10000)::BIGINT)::BIGINT         AS gross_e4,
       sum(id)::BIGINT                                   AS id_sum
FROM ranked
GROUP BY y, Decile
ORDER BY Year, Decile
"""


# --------------------------------------------------------------------------
# L16 — the OTHER real CPI chain: the 1395-base MONTHLY urban/rural family
# through the genuine external_data.yaml (reference external_data/
# cleaning_scripts.py:10-36 + metadata/external_data.yaml cpi_1395).
# Differs from l13 in every step that matters: different sheet layouts
# (urban column-2 run from row 2 vs the TRANSPOSED rural band row 3 from
# column 53), fixed metadata spans instead of label-driven ones, a
# month-keyed join (Urban_Rural, Year, Month) instead of the annual
# default, and a dash missing-cell whose NULL must survive the chain into
# a LEFT-join deflation (NULL real value, row retained). Aggregates are
# per-row-rounded integer sums (see l15's rationale). Full DuckDB oracle
# regenerates both series closed-form.
# --------------------------------------------------------------------------


def _l16_fixture_csvs() -> dict[str, str]:
    """Urban monthly CPI(y, m) = (y-1360)*12 + m over 1361-1401 (column-2
    run); rural all-items CPI(y, m) = (y-1373)*10 + m over 1374-1401 (row
    3 from column 53) with (1374, month 1) a dash cell."""
    urban: list[list] = [["title junk"], [None, "header", "CPI"]]
    for y in range(1361, 1402):
        for m in range(1, 13):
            urban.append([y, m, float((y - 1360) * 12 + m)])
    vals: list = [
        "-" if (y == 1374 and m == 1) else float((y - 1373) * 10 + m)
        for y in range(1374, 1402)
        for m in range(1, 13)
    ]
    rural = [["title junk"], [], [], ["junk"] * 53 + vals]
    return {
        "sci.cpi_1395_urban_singleindex.monthly": _l13_grid_csv(urban),
        "sci.cpi_1395_rural_maingroups.monthly": _l13_grid_csv(rural),
    }


def q_monthly_cpi_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from hbsir_old_spark.api import HBSIREngine
    from hbsir_old_spark.metadata.corpus import load_corpus
    from hbsir_old_spark.sources.external import ExternalDataRegistry

    meta = load_corpus().external_data
    probe = ExternalDataRegistry(spark, meta)
    url_to_csv = {
        probe._navigate(name)[1]["url"]: csv
        for name, csv in _l16_fixture_csvs().items()
    }

    def fetcher(url: str, dest: str) -> None:
        with open(dest, "w", encoding="utf-8") as fh:
            fh.write(url_to_csv[url])

    workdir = _scratch_dir("l16_ext", sf_dir)
    try:
        eng = HBSIREngine.with_reference_corpus(spark)
        external = eng.attach_external(fetcher=fetcher, cache_dir=workdir)
        cpi = external.load_named("CPI_1395", "SCI", "Monthly", "Urban_Rural")
        fact = _t(spark, sf_dir, "lineitem").select(
            (F.lit(1374) + F.col("l_partkey") % 28).cast("long").alias("Year"),
            (F.lit(1) + F.col("l_suppkey") % 12).cast("long").alias("Month"),
            F.when(F.col("l_orderkey") % 2 == 0, "Urban")
            .otherwise("Rural")
            .alias("Urban_Rural"),
            F.col("l_extendedprice").alias("Expenditure"),
        )
        deflated = eng.adjust_by_cpi(
            fact, cpi, ["Expenditure"], on=("Urban_Rural", "Year", "Month")
        )
        out = (
            deflated.groupBy("Urban_Rural", "Year")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.count("Expenditure").cast("long").alias("priced_rows"),
                F.sum(
                    F.round(F.col("Expenditure") * 10000, 0).cast("long")
                ).alias("real_e4"),
            )
            .orderBy("Urban_Rural", "Year")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return out


SQL_MONTHLY_CPI_CHAIN = """
WITH months AS (SELECT unnest(generate_series(1, 12)) AS m),
u AS (
  SELECT y, m, ((y - 1360) * 12 + m)::DOUBLE AS cpi
  FROM (SELECT unnest(generate_series(1361, 1401)) AS y), months
),
r AS (
  SELECT y, m,
         CASE WHEN y = 1374 AND m = 1 THEN NULL
              ELSE ((y - 1373) * 10 + m)::DOUBLE END AS cpi
  FROM (SELECT unnest(generate_series(1374, 1401)) AS y), months
),
cpi AS (
  SELECT 'Urban' AS ur, y, m, cpi FROM u
  UNION ALL
  SELECT 'Rural' AS ur, y, m, cpi FROM r
),
fact AS (
  SELECT 1374 + l_partkey % 28                                  AS y,
         1 + l_suppkey % 12                                     AS m,
         CASE WHEN l_orderkey % 2 = 0 THEN 'Urban' ELSE 'Rural' END AS ur,
         l_extendedprice                                        AS exp
  FROM lineitem
)
SELECT f.ur                                     AS Urban_Rural,
       f.y::BIGINT                              AS Year,
       count(*)::BIGINT                         AS n_rows,
       count(c.cpi)::BIGINT                     AS priced_rows,
       sum(round(f.exp / c.cpi * 100 * 10000)::BIGINT)::BIGINT AS real_e4
FROM fact f
LEFT JOIN cpi c ON f.ur = c.ur AND f.y = c.y AND f.m = c.m
GROUP BY f.ur, f.y
ORDER BY Urban_Rural, Year
"""


# --------------------------------------------------------------------------
# L14 — the reference's defining workload shape: one load_table over THREE
# survey eras (1375 / 1394 / 1400) whose raw files carry era-specific
# column names (COL4_5 vs COL4+COL5 vs DYCOL*), era-specific
# Provision_Method code tables (7 categories in 1375, 8 from 1383), and
# era-specific derived-Amount expressions (Kilos vs Kilos + 0.001*Grams)
# — all resolved from the genuine year-versioned tables.yaml/schema.yaml,
# compiled into per-year plans and U1-unioned (reference
# data_engine.py:674-679, schema.yaml food). Raw rows derive from
# disjoint lineitem slices so each year carries distinct data. Full
# DuckDB oracle replaying every era's decode + arithmetic.
# --------------------------------------------------------------------------

#: era-disjoint lineitem slices: l_linenumber % 3 keys the survey year
_L14_YEARS = {1375: 0, 1394: 1, 1400: 2}


def _l14_raw_loader(spark: SparkSession, sf_dir: str):
    def raw_loader(name: str, year: int):
        if name != "food" or year not in _L14_YEARS:
            return None
        li = _t(spark, sf_dir, "lineitem").filter(
            F.col("l_linenumber") % 3 == _L14_YEARS[year]
        )
        code = (F.lit(11000) + F.col("l_partkey") % 97).alias("__code__")
        kilos = F.col("l_quantity")
        price = F.col("l_extendedprice")
        expend = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        grams = F.col("l_discount") * 1000
        if year == 1375:  # 1374-era sheet: no Grams, Kilos in COL4_5
            raw = li.select(
                F.col("l_orderkey").alias("ADDRESS"),
                code.alias("COL1"),
                (F.lit(1) + F.col("l_suppkey") % 7).alias("COL3"),
                kilos.alias("COL4_5"),
                price.alias("COL6"),
                expend.alias("COL7"),
            )
        elif year == 1394:  # 1383-era sheet: Grams/Kilos split, COL names
            raw = li.select(
                F.col("l_orderkey").alias("ADDRESS"),
                code.alias("COL1"),
                (F.lit(1) + F.col("l_suppkey") % 8).alias("COL3"),
                grams.alias("COL4"),
                kilos.alias("COL5"),
                price.alias("COL6"),
                expend.alias("COL7"),
            )
        else:  # 1400: DYCOL* access-export layout (same as l3)
            raw = li.select(
                F.col("l_orderkey").alias("ADDRESS"),
                code.alias("DYCOL01"),
                (F.lit(1) + F.col("l_suppkey") % 8).alias("DYCOL02"),
                grams.alias("DYCOL03"),
                kilos.alias("DYCOL04"),
                price.alias("DYCOL05"),
                expend.alias("DYCOL06"),
                F.col("l_returnflag").alias("DYCOL07"),
            )
        # untyped survey text: double->string->double round-trips exactly
        return raw.select([F.col(c).cast("string").alias(c) for c in raw.columns])

    return raw_loader


def q_multi_year_food(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    registry = build_reference_registry(
        spark, raw_loader=_l14_raw_loader(spark, sf_dir)
    )
    df = registry.load_table("food", sorted(_L14_YEARS), form="processed")
    return (
        df.withColumn("Year", F.col("Year").cast("long"))
        .groupBy("Year", "Provision_Method")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("Expenditure"), 2).alias("total_expenditure"),
            F.round(F.avg("Amount"), 6).alias("avg_amount"),
            F.max("Duration").cast("long").alias("duration"),
            F.min("Code").cast("long").alias("min_code"),
        )
        .orderBy("Year", "Provision_Method")
    )


SQL_MULTI_YEAR_FOOD = """
WITH raw AS (
  SELECT CASE l_linenumber % 3 WHEN 0 THEN 1375 WHEN 1 THEN 1394
                               ELSE 1400 END                 AS year,
         11000 + l_partkey % 97                              AS code,
         CASE WHEN l_linenumber % 3 = 0 THEN 1 + l_suppkey % 7
              ELSE 1 + l_suppkey % 8 END                     AS pm,
         l_discount * 1000                                   AS grams,
         l_quantity                                          AS kilos,
         l_extendedprice * (1 - l_discount)                  AS expenditure
  FROM lineitem
), cleaned AS (
  SELECT year,
         CASE WHEN year = 1375 THEN
                CASE pm WHEN 1 THEN 'Purchase'
                        WHEN 2 THEN 'Home_Production'
                        WHEN 3 THEN 'Instead_of_Public_Service'
                        WHEN 4 THEN 'Instead_of_Private_Service'
                        WHEN 5 THEN 'Agricultural_Work'
                        WHEN 6 THEN 'Non_Agricultural_Work'
                        WHEN 7 THEN 'Donation' END
              ELSE
                CASE pm WHEN 1 THEN 'Purchase'
                        WHEN 2 THEN 'Home_Production'
                        WHEN 3 THEN 'Instead_of_Public_Service'
                        WHEN 4 THEN 'Instead_of_Cooperative_Service'
                        WHEN 5 THEN 'Instead_of_Private_Service'
                        WHEN 6 THEN 'Agricultural_Work'
                        WHEN 7 THEN 'Non_Agricultural_Work'
                        WHEN 8 THEN 'Donation' END
         END                                                  AS Provision_Method,
         code,
         CASE WHEN year = 1375 THEN kilos
              ELSE kilos + 0.001::DOUBLE * grams END          AS amount,
         expenditure
  FROM raw
)
SELECT year::BIGINT                   AS Year,
       Provision_Method,
       count(*)::BIGINT               AS n_rows,
       round(sum(expenditure), 2)     AS total_expenditure,
       round(avg(amount), 6)          AS avg_amount,
       30::BIGINT                     AS duration,
       min(code)::BIGINT              AS min_code
FROM cleaned
GROUP BY year, Provision_Method
ORDER BY Year, Provision_Method
"""


# --------------------------------------------------------------------------
# L15 — the reference's DEFINING workload at full span: load_table("food")
# over every available survey year 1363-1401 (39 years, availability from
# tables.yaml:47-79, reference data_engine.py:674-679) through the genuine
# year-versioned corpus. Exercises every layout era the metadata encodes:
# five raw file layouts (COL 1363/1369/1374/1383 + DYCOL 1400), six
# Provision_Method code tables, the 1363-1368 Price_System/Purchase
# derivation + Duration CLASSIFICATION decode (J1 inside the pipeline),
# the 1383 Amount expression switch, the 1364-1366 exclusion-list filter
# drift, and the 1374 projection change — era-batched into ~5 compile
# groups by the registry (plans/registry.py:_build_years_batched; was 39
# per-year plans at ~90 s of driver analysis before round 7's refactor).
# The raw loader implements the batched load_years protocol (one frame
# per layout era — the year-partitioned-scan shape a real deployment
# would use) and the per-year fallback for the batched-vs-per-year
# equality test. Aggregates are per-row-rounded INTEGER sums (x*1e4 as
# BIGINT): per-row arithmetic is bit-identical across engines, so integer
# sums dodge the float-sum rounding-tie class entirely — with ~300 groups
# x 3 rounded float sums, decimal ties at the round-2 boundary would be
# near-certain. Full DuckDB oracle replays all six eras.
# --------------------------------------------------------------------------

#: (first_year, last_year) of each raw file layout era
_L15_ERAS = [(1363, 1368), (1369, 1373), (1374, 1382), (1383, 1399), (1400, 1401)]


def _l15_era_columns(year_col, lo: int):
    """The fabricated raw columns of one layout era, as (expr, raw_name)
    pairs over lineitem. Values are deterministic functions of lineitem
    keys so DuckDB can replay them; the layout (which raw columns exist,
    which survey field each carries) follows tables.yaml resolved at the
    era — see the column dumps in tests/test_era_batching.py."""
    code = F.lit(11100) + F.col("l_partkey") % 380
    kilos = F.col("l_quantity")
    grams = F.col("l_discount") * 1000
    price = F.col("l_extendedprice")
    expend = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    sup = F.col("l_suppkey")
    addr = (F.col("l_orderkey"), "ADDRESS")
    if lo == 1363:
        return [addr, (code, "COL1"), (1 + sup % 8, "COL3"),
                (kilos, "COL4_5"), (expend, "COL6")]
    if lo == 1369:
        return [addr, (code, "COL1"), (2 + sup % 7, "COL3"),
                (sup % 2, "COL4"), (kilos, "COL5_6"),
                (price, "COL7"), (expend, "COL8")]
    if lo == 1374:
        pm = F.when(year_col <= 1378, 1 + sup % 7).otherwise(1 + sup % 8)
        return [addr, (code, "COL1"), (pm, "COL3"),
                (kilos, "COL4_5"), (price, "COL6"), (expend, "COL7")]
    if lo == 1383:
        return [addr, (code, "COL1"), (1 + sup % 8, "COL3"),
                (grams, "COL4"), (kilos, "COL5"),
                (price, "COL6"), (expend, "COL7")]
    pm = F.when(year_col == 1401, sup % 9).otherwise(1 + sup % 8)
    return [addr, (code, "DYCOL01"), (pm, "DYCOL02"),
            (grams, "DYCOL03"), (kilos, "DYCOL04"),
            (price, "DYCOL05"), (expend, "DYCOL06"),
            (F.col("l_returnflag"), "DYCOL07")]


_L15_FRAME_CACHE: dict = {}


def _l15_raw_loader(spark: SparkSession, sf_dir: str):
    """39 era-correct fabricated raw food files over disjoint lineitem
    slices (year = 1363 + (l_orderkey*7 + l_linenumber) % 39). Exposes
    BOTH loader contracts: per-year (the reference shape) and the batched
    ``load_years`` protocol (one frame per layout era). The era frames
    are memoized per (session, sf_dir, years) — DataFrames are immutable,
    and rebuilding the five ~10-column casts costs ~0.7 s of py4j round
    trips per call."""
    from hbsir_old_spark.plans.pipeline import PIPELINE_YEAR

    lineitem = _t(spark, sf_dir, "lineitem")
    year_expr = (
        F.lit(1363) + (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 39
    ).cast("int")

    def raw_loader(name: str, year: int):
        if name != "food" or not (1363 <= year <= 1401):
            return None
        lo = next(l for l, h in _L15_ERAS if l <= year <= h)
        # COL7 exists on disk only outside 1370-1371 (tables.yaml: the
        # column's metadata is null those years); the era frame carries it
        # for the whole era because cleaning drops it per metadata — the
        # per-year loader mirrors the actual files instead
        cols = [
            (c, n)
            for c, n in _l15_era_columns(year_expr, lo)
            if not (n == "COL7" and year in (1370, 1371))
        ]
        return lineitem.filter(year_expr == year).select(
            [c.cast("string").alias(n) for c, n in cols]
        )

    def load_years(name: str, years):
        if name != "food":
            return []
        from hbsir_old_spark.sources.cache import object_token

        cache_key = (object_token(spark), sf_dir, tuple(sorted(years)))
        cached = _L15_FRAME_CACHE.get(cache_key)
        if cached is not None:
            return cached
        # One CACHED base projection feeds all five era frames: without
        # it every era frame re-scans the parquet and re-evaluates the
        # computed-year expression (~1.2 s of the l15-vs-l15b gap at
        # sf0.1, the round-9 record/PARITY discrepancy). This is adapter
        # scaffolding, not a production pattern — the fabricated-raw
        # adapter conjures 39 years out of ONE table, so its repeated
        # base scan is a fabrication artifact; the 100-TB read path is
        # l15b's Year-partitioned layout, where each era scan prunes
        # partitions instead of filtering a shared scan.
        base_key = (object_token(spark), sf_dir, "__l15_base__")
        base = _L15_FRAME_CACHE.get(base_key)
        if base is None:
            base = lineitem.select(
                "l_orderkey",
                "l_partkey",
                "l_suppkey",
                "l_quantity",
                "l_discount",
                "l_extendedprice",
                "l_returnflag",
                year_expr.alias(PIPELINE_YEAR),
            ).cache()
            _L15_FRAME_CACHE[base_key] = base
        out = []
        for lo, hi in _L15_ERAS:
            covered = [y for y in years if lo <= y <= hi]
            if not covered:
                continue
            cols = _l15_era_columns(F.col(PIPELINE_YEAR), lo)
            frame = base.select(
                *[c.cast("string").alias(n) for c, n in cols],
                F.col(PIPELINE_YEAR),
            ).filter(F.col(PIPELINE_YEAR).isin([int(y) for y in covered]))
            out.append((covered, frame))
        if len(_L15_FRAME_CACHE) > 64:
            # the dict holds the ONLY handles to the persisted base
            # projections — unpersist them before dropping the refs, or
            # the blocks stay pinned in the CacheManager for the session.
            # The CURRENT base is exempt: the era frames memoized right
            # below depend on it, and unpersisting it here would silently
            # de-optimize every later cache hit on cache_key back to five
            # parquet re-scans
            for k, v in list(_L15_FRAME_CACHE.items()):
                if (
                    isinstance(k, tuple)
                    and k
                    and k[-1] == "__l15_base__"
                    and v is not base
                ):
                    try:
                        v.unpersist()
                    except Exception:
                        pass  # dead session/gateway: nothing left to free
            _L15_FRAME_CACHE.clear()
            _L15_FRAME_CACHE[base_key] = base
        _L15_FRAME_CACHE[cache_key] = out
        return out

    raw_loader.load_years = load_years
    return raw_loader


def _l15_warm_base(spark: SparkSession, sf_dir: str) -> None:
    """Bench warmup hook: materialize the synthetic era adapter's cached
    base projection at the target SF, the parallel of ``_l15b_root``
    materializing the partitioned layout — both are one-time setup
    artifacts of the fabricated-raw adapter, so l15's timed cold run
    should measure era-plan execution over the (already cached) base,
    not the cache build (which would otherwise trip the bench's
    cold_storm_suspects annotation with a FALSE host-stall label)."""
    from hbsir_old_spark.sources.cache import object_token

    _l15_raw_loader(spark, sf_dir).load_years("food", list(range(1363, 1402)))
    base = _L15_FRAME_CACHE.get((object_token(spark), sf_dir, "__l15_base__"))
    if base is not None:
        base.count()


def _l15_registry(spark: SparkSession, sf_dir: str):
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    return build_reference_registry(
        spark, raw_loader=_l15_raw_loader(spark, sf_dir)
    )


def _l15_aggregate(df: DataFrame) -> DataFrame:
    def e4(col: str) -> Column:
        # per-row integer rounding: the row value is computed bit-
        # identically by both engines, so the integer sum is exact
        return F.sum(F.round(F.col(col) * 10000, 0).cast("long"))

    return (
        df.withColumn("Year", F.col("Year").cast("long"))
        .groupBy("Year", "Provision_Method")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            e4("Expenditure").alias("exp_e4"),
            e4("Amount").alias("amt_e4"),
            e4("Price").alias("price_e4"),
            F.max("Duration").cast("long").alias("duration"),
            F.min("Code").cast("long").alias("min_code"),
            F.count("Price_System").cast("long").alias("ps_rows"),
        )
        .orderBy("Year", "Provision_Method")
    )


def q_full_span_food(spark: SparkSession, sf_dir: str) -> DataFrame:
    registry = _l15_registry(spark, sf_dir)
    df = registry.load_table("food", list(range(1363, 1402)), form="processed")
    return _l15_aggregate(df)


SQL_FULL_SPAN_FOOD = """
WITH raw AS (
  SELECT 1363 + (l_orderkey * 7 + l_linenumber) % 39            AS y,
         11100 + l_partkey % 380                                AS code,
         l_suppkey                                              AS s,
         l_quantity                                             AS kilos,
         l_discount * 1000                                      AS grams,
         l_extendedprice                                        AS xprice,
         l_extendedprice * (1 - l_discount)                     AS expend
  FROM lineitem
), coded AS (
  SELECT *,
         CASE WHEN y <= 1368 THEN 1 + s % 8
              WHEN y <= 1373 THEN 2 + s % 7
              WHEN y <= 1378 THEN 1 + s % 7
              WHEN y <= 1400 THEN 1 + s % 8
              ELSE s % 9 END                                    AS pmc
  FROM raw
), lab AS (
  SELECT y, code, expend,
    CASE
      WHEN y <= 1368 THEN
        CASE pmc WHEN 1 THEN 'Purchase' WHEN 2 THEN 'Purchase'
                 WHEN 3 THEN 'Home_Production'
                 WHEN 4 THEN 'Instead_of_Public_Service'
                 WHEN 5 THEN 'Instead_of_Private_Service'
                 WHEN 6 THEN 'Agricultural_Work'
                 WHEN 7 THEN 'Non_Agricultural_Work'
                 WHEN 8 THEN 'Donation' END
      WHEN y <= 1373 THEN
        CASE pmc WHEN 2 THEN 'Purchase' WHEN 3 THEN 'Home_Production'
                 WHEN 4 THEN 'Instead_of_Public_Service'
                 WHEN 5 THEN 'Instead_of_Private_Service'
                 WHEN 6 THEN 'Agricultural_Work'
                 WHEN 7 THEN 'Non_Agricultural_Work'
                 WHEN 8 THEN 'Donation' END
      WHEN y <= 1378 THEN
        CASE pmc WHEN 1 THEN 'Purchase' WHEN 2 THEN 'Home_Production'
                 WHEN 3 THEN 'Instead_of_Public_Service'
                 WHEN 4 THEN 'Instead_of_Private_Service'
                 WHEN 5 THEN 'Agricultural_Work'
                 WHEN 6 THEN 'Non_Agricultural_Work'
                 WHEN 7 THEN 'Donation' END
      WHEN y <= 1382 THEN
        CASE pmc WHEN 1 THEN 'Purchase' WHEN 2 THEN 'Home_Production'
                 WHEN 3 THEN 'Instead_of_Public_Service'
                 WHEN 4 THEN 'Instead_of_Private_Service'
                 WHEN 5 THEN 'Agricultural_Work'
                 WHEN 6 THEN 'Non_Agricultural_Work'
                 WHEN 7 THEN 'Donation'
                 WHEN 8 THEN 'Instead_of_Cooperative_Service' END
      ELSE
        CASE pmc WHEN 0 THEN 'Secondhand_Sale' WHEN 1 THEN 'Purchase'
                 WHEN 2 THEN 'Home_Production'
                 WHEN 3 THEN 'Instead_of_Public_Service'
                 WHEN 4 THEN 'Instead_of_Cooperative_Service'
                 WHEN 5 THEN 'Instead_of_Private_Service'
                 WHEN 6 THEN 'Agricultural_Work'
                 WHEN 7 THEN 'Non_Agricultural_Work'
                 WHEN 8 THEN 'Donation' END
    END                                                         AS Provision_Method,
    CASE WHEN y <= 1368 THEN
           CASE pmc WHEN 1 THEN 'Subsidised_Price'
                    WHEN 2 THEN 'Free_Price' END
         WHEN y <= 1373 THEN
           CASE s % 2 WHEN 0 THEN 'Free_Price'
                      ELSE 'Subsidised_Price' END
    END                                                         AS price_system,
    CASE WHEN y >= 1383 THEN kilos + 0.001::DOUBLE * grams
         ELSE kilos END                                         AS amount,
    CASE WHEN y <= 1368 OR y IN (1370, 1371) THEN expend / kilos
         ELSE xprice END                                        AS price,
    CASE WHEN y >= 1369 THEN 30
         WHEN code < 11200 THEN 2
         WHEN code < 11300 THEN 30
         ELSE 2 END                                             AS duration
  FROM coded
)
SELECT y::BIGINT                                AS Year,
       Provision_Method,
       count(*)::BIGINT                         AS n_rows,
       sum(round(expend * 10000)::BIGINT)::BIGINT AS exp_e4,
       sum(round(amount * 10000)::BIGINT)::BIGINT AS amt_e4,
       sum(round(price * 10000)::BIGINT)::BIGINT  AS price_e4,
       max(duration)::BIGINT                    AS duration,
       min(code)::BIGINT                        AS min_code,
       count(price_system)::BIGINT              AS ps_rows
FROM lab
GROUP BY y, Provision_Method
ORDER BY Year, Provision_Method
"""


# --------------------------------------------------------------------------
# L15B — the SAME 39-year full-span food workload served from the
# Year-partitioned parquet layout a real deployment writes
# (sources/writer.py:write_partitioned + the batched load_years raw-loader
# protocol): one partitioned directory tree per raw file-layout era, each
# era loaded as ONE scan whose Year predicate prunes to the requested
# partition directories at planning time (PartitionFilters, pinned by
# tests/test_partitioned_io.py::test_l15b_era_scans_prune). This measures
# the claim l15 only plan-pins — that the real-corpus path serves each
# era as one pruned scan instead of l15's per-year synthetic adapter
# frames — and shares l15's oracle verbatim, so the bench twin is also a
# full-oracle gate. The layout is materialized once per (sf_dir, process)
# from the l15 fabricated raw frames; warm calls only read.
# --------------------------------------------------------------------------

_L15B_ROOTS: dict = {}


def _l15b_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) the partitioned raw layout:
    ``{root}/era_{lo}/Year=YYYY/*.parquet`` with each era's raw string
    columns, from the same fabricated frames l15 serves directly."""
    import tempfile

    root = _L15B_ROOTS.get(sf_dir)
    if root is not None:
        return root
    import atexit
    import shutil

    from hbsir_old_spark.sources.writer import write_partitioned

    root = f"{tempfile.gettempdir()}/l15b_{_scratch_tag(sf_dir)}"
    # the tree must OUTLIVE this call (warm calls re-read it) but not the
    # process: the pid-suffixed path is never reused by another process,
    # so without this hook every bench/pytest run would leak a full
    # partitioned dataset copy into /tmp
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    lineitem = _t(spark, sf_dir, "lineitem")
    year_expr = (
        F.lit(1363) + (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 39
    ).cast("int")
    for lo, hi in _L15_ERAS:
        cols = _l15_era_columns(year_expr, lo)
        frame = lineitem.select(
            *[c.cast("string").alias(n) for c, n in cols],
            year_expr.alias("Year"),
        ).filter(F.col("Year").between(lo, hi))
        write_partitioned(frame, f"{root}/era_{lo}", partition_cols=("Year",))
    _L15B_ROOTS[sf_dir] = root
    return root


def _l15b_raw_loader(spark: SparkSession, sf_dir: str):
    from hbsir_old_spark.plans.pipeline import PIPELINE_YEAR

    root = _l15b_root(spark, sf_dir)

    def era_frame(lo: int):
        return spark.read.parquet(f"{root}/era_{lo}")

    def raw_loader(name: str, year: int):
        if name != "food" or not (1363 <= year <= 1401):
            return None
        lo, hi = next((l, h) for l, h in _L15_ERAS if l <= year <= h)
        df = era_frame(lo).filter(F.col("Year") == year).drop("Year")
        # mirror the on-disk per-year files: COL7 absent in 1370-1371
        if lo == 1369 and year in (1370, 1371):
            df = df.drop("COL7")
        return df

    def load_years(name: str, years):
        if name != "food":
            return []
        out = []
        for lo, hi in _L15_ERAS:
            covered = [y for y in years if lo <= y <= hi]
            if not covered:
                continue
            df = era_frame(lo).filter(
                F.col("Year").isin([int(y) for y in covered])
            )
            raw_cols = [c for c in df.columns if c != "Year"]
            out.append(
                (
                    covered,
                    df.select(
                        *raw_cols,
                        F.col("Year").cast("int").alias(PIPELINE_YEAR),
                    ),
                )
            )
        return out

    raw_loader.load_years = load_years
    return raw_loader


def q_partitioned_span_food(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    registry = build_reference_registry(
        spark, raw_loader=_l15b_raw_loader(spark, sf_dir)
    )
    df = registry.load_table("food", list(range(1363, 1402)), form="processed")
    return _l15_aggregate(df)


# --------------------------------------------------------------------------
# X30 — corpus-LM perplexity filter (the CCNet/Gopher quality-scoring
# shape): per-document cross-entropy under an add-one-smoothed word-bigram
# LM trained on the corpus itself. Training is explode + partial-agg
# counts, context totals roll up from the bigram table, V is a one-row
# broadcast, scoring is a hash join on the bigram — the TF-IDF shuffle
# topology, no UDFs. DuckDB replays the identical count/smooth/log2
# pipeline: full oracle.
# --------------------------------------------------------------------------


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import bigram_lm_scores

    docs = _docs(spark, sf_dir, "doc_id", "text")
    return bigram_lm_scores(docs).orderBy("doc_id")


SQL_LM_PERPLEXITY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> t <> '') AS t
  FROM documents
), pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
), bc AS (
  SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
), ct AS (
  SELECT w1, sum(c2) AS c1 FROM bc GROUP BY w1
), v AS (
  SELECT count(DISTINCT w2) AS v FROM bc
), scored AS (
  SELECT bc.w1, bc.w2, (c2 + 1)::DOUBLE / (c1 + v) AS p
  FROM bc JOIN ct USING (w1), v
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(-log2(p)), 4) AS cross_entropy
FROM pairs JOIN scored USING (w1, w2)
GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X35 — perplexity-percentile corpus pruning (the CCNet filter pass):
# score every document under the x30 bigram LM, then keep docs at or
# below the EXACT 0.75-quantile of cross-entropy. The quantile is NOT a
# percent_rank over the corpus (global sort): prune_by_score_quantile
# (functions/sampling.py) builds the score HISTOGRAM (partial-aggregable
# groupBy on the rounded score), runs the cumulative count on that
# compact frame, and broadcasts the one-row threshold back for a
# map-only filter — one histogram shuffle, zero row sorts. Tie rows at
# the threshold are all kept, so membership is a pure function of the
# (already hash-matched, x30-green) rounded scores — deterministic
# across engines. Full DuckDB oracle extends the x30 CTE chain.
# --------------------------------------------------------------------------


def q_perplexity_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.sampling import prune_by_score_quantile
    from hbsir_old_spark.functions.text import bigram_lm_scores

    docs = _docs(spark, sf_dir, "doc_id", "text")
    # materialize the per-document scores ONCE (r14): the prune consumes
    # them as histogram, total, and filter side — without this the whole
    # bigram-LM pipeline re-executes per consumer (the pre-r14 plan
    # carried 24 scans / 68 Exchanges). One narrow row per doc.
    scores = bigram_lm_scores(docs).localCheckpoint(eager=True)
    return prune_by_score_quantile(scores, "cross_entropy", q=0.75).orderBy("doc_id")


SQL_PERPLEXITY_PRUNE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> t <> '') AS t
  FROM documents
), pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
), bc AS (
  SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
), ct AS (
  SELECT w1, sum(c2) AS c1 FROM bc GROUP BY w1
), v AS (
  SELECT count(DISTINCT w2) AS v FROM bc
), scored AS (
  SELECT bc.w1, bc.w2, (c2 + 1)::DOUBLE / (c1 + v) AS p
  FROM bc JOIN ct USING (w1), v
), s AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         round(avg(-log2(p)), 4) AS cross_entropy
  FROM pairs JOIN scored USING (w1, w2)
  GROUP BY doc_id
), hist AS (
  SELECT cross_entropy AS ce, count(*) AS c FROM s GROUP BY ce
), cdf AS (
  SELECT ce, sum(c) OVER (ORDER BY ce
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
), tot AS (
  SELECT sum(c) AS n FROM hist
), thr AS (
  SELECT min(ce) AS t FROM cdf, tot WHERE cum >= ceil(0.75 * n)
)
SELECT s.doc_id, s.n_bigrams, s.cross_entropy
FROM s, thr WHERE s.cross_entropy <= thr.t
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X32 — cross-corpus duplicated-passage fraction (Lee et al. 2022
# exact-substring-dedup signal, token-window form): per document, the
# fraction of SAMPLED 5-token shingles of the normalized text whose hash
# occurs in >= 2 distinct documents. Token shingles are alignment-free
# (a shared passage yields identical shingles at any offset); sampling
# is content-defined (keep shingles whose md5 starts with '0', 1/16).
# Shingles build O(tokens) via zip_with over shifted slices, explode
# BEFORE hashing so md5 runs row-wise in codegen — the within-doc Gopher
# rules (x25) can't see cross-doc duplication; this statistic needs
# corpus-wide state. Full DuckDB oracle (identical normalize/split/md5).
# --------------------------------------------------------------------------


def q_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import cross_doc_dup_windows

    docs = _docs(spark, sf_dir, "doc_id", "text")
    return cross_doc_dup_windows(docs).orderBy("doc_id")


SQL_DUP_WINDOWS = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
  FROM documents
), toks AS (
  SELECT doc_id, string_split(t, ' ') AS tk FROM norm
), grams AS (
  SELECT doc_id,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
         tk[i+3] || ' ' || tk[i+4] AS g
  FROM toks, unnest(range(1, len(tk) - 3)) AS u(i)
  UNION ALL
  SELECT doc_id, array_to_string(tk, ' ') FROM toks WHERE len(tk) < 5
), w AS (
  SELECT doc_id, md5(g) AS h FROM grams WHERE md5(g) LIKE '0%'
), owners AS (
  SELECT h, count(*) AS nd
  FROM (SELECT DISTINCT doc_id, h FROM w) GROUP BY h
)
SELECT w.doc_id::BIGINT AS doc_id,
       count(*)::BIGINT AS n_windows,
       sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
       round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS dup_frac
FROM w JOIN owners USING (h)
GROUP BY w.doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X33 — fastText/CCNet-style hashed-feature linear quality classifier
# (deterministic weight table; see functions/text.py:hashed_quality_score).
# Map-only: tokenize -> md5 bucket -> closed-form integer weight -> exact
# LONG fold -> mean + threshold. The integer score_sum makes the double
# quality_score bit-identical across engines, so the 0.19 threshold (the
# sf0.01 median) is a stable boolean. No explode, no shuffle.
# --------------------------------------------------------------------------


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import hashed_quality_score

    docs = _docs(spark, sf_dir, "doc_id", "text")
    return hashed_quality_score(docs, pass_threshold=0.19).orderBy("doc_id")


SQL_QUALITY_CLASSIFIER = r"""
WITH base AS (
  SELECT doc_id, trim(text) AS t FROM documents
), toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(t, '[ \t\n\x0b\f\r]+')) AS tok
  FROM base WHERE t IS NOT NULL AND length(t) > 0
), w AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_tokens,
         sum((('0x' || substr(md5('qw|' || tok), 1, 3))::BIGINT * 2654435761)
             % 4097 - 2048)::BIGINT AS score_sum
  FROM toks GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(w.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(w.score_sum, 0)::BIGINT AS score_sum,
       CASE WHEN w.n_tokens > 0
            THEN w.score_sum / (w.n_tokens * 2048.0) END AS quality_score,
       coalesce(w.n_tokens > 0
                AND w.score_sum / (w.n_tokens * 2048.0) > 0.19,
                FALSE) AS quality_pass
FROM base b LEFT JOIN w USING (doc_id)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X34 — end-to-end corpus-curation funnel (CCNet/Gopher/RefinedWeb stage
# order): language id -> hashed-feature quality classifier -> exact dedup
# -> benchmark contamination, composed into ONE declarative plan
# (functions/curation.py). Language + quality evaluate map-only inline on
# the scan (no join-back), dedup is one fingerprint window Exchange,
# contamination one shingle semi-join + id join-back. Diagnostic output:
# every doc, every stage flag, one precedence verdict. Full DuckDB oracle
# composing the already-proven x6/x33/x1/x15 formulations as CTEs.
# --------------------------------------------------------------------------


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.curation import curate_corpus

    docs = _docs(spark, sf_dir, "doc_id", "text")
    # doubled corpus (exact-dup pressure, as x1); originals < 5 are the
    # held-out benchmark set probed by the contamination stage
    corpus = _explode_variants(
        docs,
        [F.col("doc_id"), F.col("text")],
        [(F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")],
    )
    # benchmark probe from the bare scan: the 5-row dim side must not
    # carry the corpus round-robin spread
    benchmark = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 5
    )
    return curate_corpus(
        corpus, benchmark, quality_threshold=0.0, shingle_n=5
    ).orderBy("doc_id")


#: Normalization expression of the DuckDB oracles (the normalize_text
#: twin) — ONE definition; the x34/x38/x44 oracle builders all compose
#: from it so the sigma fold / whitespace class can never silently fork.
_SQL_NORM_EXPR = (
    "trim(regexp_replace(translate(lower(text), 'ς', 'σ'),"
    " '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"
)


def _sql_grams_expr(width: int) -> str:
    """Distinct word ``width``-gram list over a token array named ``t`` —
    the word_shingles twin (position-1 whole-text gram for short docs)."""
    return (
        f"list_distinct(list_transform(range(1, greatest(len(t) - {width - 1}, 1) + 1),"
        f" i -> array_to_string(t[i:i+{width - 1}], ' ')))"
    )


def _sql_curation_stage13_ctes() -> str:
    """Stages 1-3 of the curation funnel (lang-id, hashed quality,
    exact-dup canonical) as CTEs over a CTE named ``corpus``
    ``(doc_id, text[, ...])`` — THE shared fragment of the x34 / x38 /
    x44 oracles. Returns the inner CTE list (no WITH, no trailing
    comma)."""
    return f"""lang AS (
  SELECT doc_id, substr(greatest({_sql_lang_scores()}), 13, 2) = 'en' AS lang_ok FROM corpus
), qbase AS (
  SELECT doc_id, trim(text) AS t FROM corpus
), qtoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(t, '[ \\t\\n\\x0b\\f\\r]+')) AS tok
  FROM qbase WHERE t IS NOT NULL AND length(t) > 0
), qw AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum((('0x' || substr(md5('qw|' || tok), 1, 3))::BIGINT * 2654435761)
             % 4097 - 2048)::BIGINT AS score_sum
  FROM qtoks GROUP BY doc_id
), q AS (
  SELECT b.doc_id,
         coalesce(w.n_tokens > 0 AND w.score_sum / (w.n_tokens * 2048.0) > 0.0,
                  FALSE) AS quality_pass
  FROM qbase b LEFT JOIN qw w USING (doc_id)
), fp AS (
  SELECT doc_id, md5({_SQL_NORM_EXPR}) AS f FROM corpus
), canon AS (
  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY f) AS is_canonical FROM fp
)"""


def _sql_contamination_ctes(width: int = 5) -> str:
    """Stage-4 contamination CTEs over ``corpus``: distinct ``width``-gram
    overlap with the held-out benchmark (documents doc_id < 5) — shared
    by the x34 / x38 / x44 oracles."""
    grams = _sql_grams_expr(width)
    return f"""ctoks AS (
  SELECT doc_id, string_split({_SQL_NORM_EXPR}, ' ') AS t FROM corpus
), csh AS (
  SELECT doc_id, unnest({grams}) AS g FROM ctoks
), bsh AS (
  -- '' is the no-content sentinel gram of NULL/empty text, never shared
  -- benchmark content (matches curate_corpus's bench-side filter)
  SELECT DISTINCT g FROM (
    SELECT unnest({grams}) AS g
    FROM (SELECT string_split({_SQL_NORM_EXPR}, ' ') AS t FROM documents WHERE doc_id < 5)
  ) WHERE g <> ''
), cont AS (
  SELECT DISTINCT doc_id FROM csh
  WHERE EXISTS (SELECT 1 FROM bsh WHERE bsh.g = csh.g)
)"""


def _sql_mixture_ctes(src: str, target: int, cols: list[str]) -> str:
    """Temperature (alpha=0.5) mixture CTEs over ``src`` grouped by
    ``lang`` with the md5('temp|id') keep order, ending in a ``mixed``
    CTE carrying ``cols`` — shared by the x29 and x44 oracles (epsilon,
    null-safe quota join and all)."""
    col_list = ", ".join(cols)
    r_cols = ", ".join(f"r.{c}" for c in cols)
    return f"""counts AS (
  SELECT lang, count(*)::DOUBLE AS n FROM {src} GROUP BY lang
), tot AS (
  SELECT sum(pow(n, 0.5)) AS tw FROM counts
), quota AS (
  -- the 1e-9 epsilon mirrors the engine: it keeps mathematically-integer
  -- quotas from flipping on the last ulp of the order-dependent weight sum
  SELECT lang, greatest(1, floor({target} * pow(n, 0.5) / tw + 1e-9))::BIGINT AS qq
  FROM counts, tot
), ranked AS (
  SELECT {col_list},
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('temp' || '|' || doc_id::VARCHAR), doc_id
         ) AS rn
  FROM {src}
), mixed AS (
  -- null-safe join: the engine budgets the NULL-lang group too
  SELECT {r_cols}
  FROM ranked r JOIN quota ON r.lang IS NOT DISTINCT FROM quota.lang
  WHERE r.rn <= quota.qq
)"""


def _sql_curation_pipeline() -> str:
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
), {_sql_curation_stage13_ctes()}, {_sql_contamination_ctes()}
SELECT c.doc_id, l.lang_ok, q.quality_pass, canon.is_canonical,
       (cont.doc_id IS NOT NULL) AS contaminated,
       CASE WHEN NOT l.lang_ok THEN 'lang'
            WHEN NOT q.quality_pass THEN 'quality'
            WHEN NOT canon.is_canonical THEN 'duplicate'
            WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
            ELSE 'keep' END AS verdict
FROM corpus c
JOIN lang l USING (doc_id)
JOIN q USING (doc_id)
JOIN canon USING (doc_id)
LEFT JOIN cont USING (doc_id)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X38 — the FULL production curation funnel: x34's four stages plus the
# near-duplicate stage, composing the repo's independently-verified
# building blocks end-to-end (the CCNet / RefinedWeb shape): candidate
# pairs -> exact-Jaccard verify -> connected components -> min-id
# canonical. The x38 gate runs pair_mode='exact' (ngram_jaccard_pairs —
# deterministic, so the WHOLE composed funnel carries a full DuckDB
# oracle with a recursive-CTE transitive closure over the survivor
# universe); x38b runs the same corpus through pair_mode='lsh' (the
# 100-TB scale path: banded MinHash candidates + verify) — approximate
# by design => rows-only driver check, with the planted-twin recall
# floor pinned in tests/test_curation.py. Corpus plant: every doc gets
# an exact copy (+1M, stage-3 pressure) AND a perturbed near-copy (+2M,
# stage-4 pressure).
# --------------------------------------------------------------------------


def _fuzzy_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    # corpus side spread across the parallelism (r14, see _docs): the
    # single-file scan otherwise serializes the funnel's expression work.
    # The benchmark probe (doc_id < 5) keeps the bare scan — repartitioning
    # a 5-row dim before its broadcast would be pure overhead.
    #
    # The planted 3x corpus is built by EXPLODING each scanned row into
    # its three variants instead of a 3-branch self-union (r14, guide
    # §2.4): the rows are identical (original, +1M exact copy, +2M
    # perturbed near-copy — concat(NULL, lit) stays NULL exactly like the
    # union branch did), but every consumer of the corpus now pays ONE
    # documents scan instead of three. x38/x38b consume this frame four
    # times (funnel flags, contamination grams, LSH signatures, verify
    # sliver), so the old shape re-read the parquet file 12x per run.
    docs = _docs(spark, sf_dir, "doc_id", "text")
    corpus = _explode_variants(
        docs,
        [F.col("doc_id"), F.col("text")],
        [(F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")],
        [
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" perturbed suffix token")).alias("text"),
        ],
    )
    benchmark = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 5
    )
    return corpus, benchmark


def q_curation_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.curation import curate_corpus_fuzzy

    corpus, benchmark = _fuzzy_corpus(spark, sf_dir)
    return curate_corpus_fuzzy(
        corpus,
        benchmark,
        quality_threshold=0.0,
        shingle_n=5,
        near_n=2,
        near_threshold=0.5,
        pair_mode="exact",
    ).orderBy("doc_id")


def q_curation_fuzzy_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.curation import curate_corpus_fuzzy

    corpus, benchmark = _fuzzy_corpus(spark, sf_dir)
    return curate_corpus_fuzzy(
        corpus,
        benchmark,
        quality_threshold=0.0,
        shingle_n=5,
        near_n=2,
        near_threshold=0.5,
        pair_mode="lsh",
        num_perm=16,
        bands=4,
    ).orderBy("doc_id")


def _sql_curation_fuzzy() -> str:
    norm = _SQL_NORM_EXPR
    grams2 = _sql_grams_expr(2)
    return f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' perturbed suffix token' AS text
  FROM documents
), {_sql_curation_stage13_ctes()}, univ AS (
  -- near-dup universe: survivors of stages 1-3
  SELECT c.doc_id, c.text
  FROM corpus c
  JOIN lang l USING (doc_id)
  JOIN q USING (doc_id)
  JOIN canon USING (doc_id)
  WHERE l.lang_ok AND q.quality_pass AND canon.is_canonical
), ntoks AS (
  SELECT doc_id, string_split({norm}, ' ') AS t FROM univ
), nsh AS (
  SELECT doc_id, {grams2} AS s FROM ntoks
), nex AS (
  SELECT doc_id, unnest(s) AS g FROM nsh
), ncommon AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS c
  FROM nex a JOIN nex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), npairs AS (
  SELECT id_a, id_b
  FROM ncommon
  JOIN nsh sa ON sa.doc_id = id_a
  JOIN nsh sb ON sb.doc_id = id_b
  WHERE round(c / (len(sa.s) + len(sb.s) - c), 6) >= 0.5
), nedges AS (
  SELECT id_a AS u, id_b AS v FROM npairs
  UNION ALL
  SELECT id_b, id_a FROM npairs
), nreach AS (
  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM nedges)
  UNION
  SELECT e.u, r.comp FROM nedges e JOIN nreach r ON e.v = r.u
), nnonrep AS (
  SELECT u AS doc_id FROM nreach GROUP BY u HAVING u <> min(comp)
), {_sql_contamination_ctes()}
SELECT c.doc_id, l.lang_ok, q.quality_pass, canon.is_canonical,
       (nn.doc_id IS NULL) AS is_near_canonical,
       (cont.doc_id IS NOT NULL) AS contaminated,
       CASE WHEN NOT l.lang_ok THEN 'lang'
            WHEN NOT q.quality_pass THEN 'quality'
            WHEN NOT canon.is_canonical THEN 'duplicate'
            WHEN nn.doc_id IS NOT NULL THEN 'near_duplicate'
            WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
            ELSE 'keep' END AS verdict
FROM corpus c
JOIN lang l USING (doc_id)
JOIN q USING (doc_id)
JOIN canon USING (doc_id)
LEFT JOIN nnonrep nn USING (doc_id)
LEFT JOIN cont USING (doc_id)
ORDER BY c.doc_id
"""


# --------------------------------------------------------------------------
# X39 — the Gopher quality-RULE filter (Rae et al. 2021 §A1.1): the
# heuristic-rule half of the standard curation stack (x25 covers the
# repetition rules, x33 the learned classifier). Seven document-level
# rules over the shared whitespace tokenizer, all exact integer counts
# with IEEE-division ratios — map-only, full DuckDB oracle. The corpus
# plants one stripe per line/symbol rule (the synthetic documents are
# single-line and symbol-free, so the base rows alone would leave three
# rules untested).
# --------------------------------------------------------------------------

_X39_SYMBOLS = " " + " ".join(["####"] * 12)
_X39_BULLETS = "- bullet item\n" * 19
_X39_ELLIPSIS = "trailing off…\n" * 9


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import gopher_quality_rules

    docs = _docs(spark, sf_dir, "doc_id", "text")
    corpus = _explode_variants(
        docs,
        [F.col("doc_id"), F.col("text")],
        [
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(_X39_SYMBOLS)).alias("text"),
        ],
        [
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.lit(_X39_BULLETS), F.col("text")).alias("text"),
        ],
        [
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.concat(F.lit(_X39_ELLIPSIS), F.col("text")).alias("text"),
        ],
    )
    return gopher_quality_rules(corpus, min_words=30).orderBy("doc_id")


SQL_GOPHER_RULES = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || '{_X39_SYMBOLS}' FROM documents
  UNION ALL
  SELECT doc_id + 2000000, repeat('- bullet item' || chr(10), 19) || text
  FROM documents
  UNION ALL
  SELECT doc_id + 3000000, repeat('trailing off' || chr(8230) || chr(10), 9)
         || text
  FROM documents
), toks AS (
  SELECT doc_id, coalesce(text, '') AS t,
         list_filter(string_split_regex(coalesce(text, ''),
                                        '[ \\t\\n\\x0b\\f\\r]+'),
                     x -> x <> '') AS w
  FROM corpus
), feats AS (
  SELECT doc_id,
         len(w) AS n_words,
         coalesce(list_sum(list_transform(w, x -> length(x))), 0)
           AS total_chars,
         string_split_regex(t, '\\r?\\n') AS lines,
         (length(t) - length(replace(t, '#', ''))) / 1
           + (length(t) - length(replace(t, '...', ''))) / 3 AS symbols,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
           AS alpha_words,
         len(list_filter(['the','be','to','of','and','that','have','with'],
             s -> list_contains(list_transform(w, x -> lower(x)), s)))
           AS stop_hits
  FROM toks
), lfeats AS (
  SELECT *,
         len(lines) AS n_lines,
         -- lines split mirrors Spark's \\r?\\n (CRLF-safe)
         len(list_filter(lines, l -> starts_with(trim(l), chr(8226))
               OR starts_with(trim(l), '-') OR starts_with(trim(l), '*')))
           AS bullet_lines,
         len(list_filter(lines, l -> ends_with(trim(l), '...')
               OR ends_with(trim(l), chr(8230)))) AS ellipsis_lines
  FROM feats
), flags AS (
  SELECT doc_id, n_words,
         (n_words >= 30 AND n_words <= 100000) AS words_ok,
         (CASE WHEN n_words > 0
               THEN total_chars / n_words >= 3.0
                AND total_chars / n_words <= 10.0
               ELSE TRUE END) AS mean_len_ok,
         (CASE WHEN n_words > 0 THEN symbols / n_words <= 0.1
               ELSE TRUE END) AS symbol_ok,
         (CASE WHEN n_lines > 0 THEN bullet_lines / n_lines <= 0.9
               ELSE TRUE END) AS bullet_ok,
         (CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines <= 0.3
               ELSE TRUE END) AS ellipsis_ok,
         (CASE WHEN n_words > 0 THEN alpha_words / n_words >= 0.8
               ELSE TRUE END) AS alpha_ok,
         (stop_hits >= 2) AS stopword_ok
  FROM lfeats
)
SELECT doc_id, n_words::BIGINT AS n_words, words_ok, mean_len_ok, symbol_ok,
       bullet_ok, ellipsis_ok, alpha_ok, stopword_ok,
       CASE WHEN NOT words_ok THEN 'words'
            WHEN NOT mean_len_ok THEN 'mean_word_length'
            WHEN NOT symbol_ok THEN 'symbol_ratio'
            WHEN NOT bullet_ok THEN 'bullet_lines'
            WHEN NOT ellipsis_ok THEN 'ellipsis_lines'
            WHEN NOT alpha_ok THEN 'alpha_words'
            WHEN NOT stopword_ok THEN 'stopwords'
            ELSE 'keep' END AS verdict
FROM flags ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X40 — the C4 cleaning filter (Raffel et al. 2020 §2.2): line-level
# retention (terminal punctuation + >=5 words + no 'javascript') with
# order-preserving reassembly, page-level lorem-ipsum / curly-brace /
# min-3-sentences blocks. Completes the published rule-filter family
# beside x39 (Gopher) and x36 (CCNet boilerplate). Map-only, full
# oracle. The synthetic documents have no terminal punctuation, so the
# plant prefixes a C4-shaped page (with one javascript line and one
# too-short line) and appends the page-level poison per stripe.
# --------------------------------------------------------------------------

_X40_PREFIX = (
    "The quick brown fox jumps over the fence today.\n"
    "Please enable Javascript to view this page properly.\n"
    "Too short.\n"
    "A second full sentence sits in this line nicely.\n"
    "The third sentence closes the page quite cleanly.\n"
)


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import c4_line_filter

    docs = _docs(spark, sf_dir, "doc_id", "text")
    corpus = _explode_variants(
        docs,
        [F.col("doc_id"), F.col("text")],
        [
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit(_X40_PREFIX), F.col("text")).alias("text"),
        ],
        [
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.lit(_X40_PREFIX), F.col("text"), F.lit(" and Lorem Ipsum text")
            ).alias("text"),
        ],
        [
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.concat(
                F.lit(_X40_PREFIX), F.col("text"), F.lit(" code { brace")
            ).alias("text"),
        ],
    )
    return c4_line_filter(corpus).orderBy("doc_id")


SQL_C4_FILTER = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, '__PREFIX__' || text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, '__PREFIX__' || text || ' and Lorem Ipsum text'
  FROM documents
  UNION ALL
  SELECT doc_id + 3000000, '__PREFIX__' || text || ' code { brace'
  FROM documents
), base AS (
  SELECT doc_id, coalesce(text, '') AS t FROM corpus
), linesd AS (
  SELECT doc_id, t, string_split_regex(t, '\\r?\\n') AS lines FROM base
), keptd AS (
  SELECT doc_id,
         contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
         contains(t, '{') AS has_brace,
         len(lines)::BIGINT AS n_lines,
         list_filter(lines, l ->
           (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
              OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
           AND len(list_filter(string_split_regex(l, '[ \\t\\n\\x0b\\f\\r]+'),
                               x -> x <> '')) >= 5
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM linesd
), agg AS (
  SELECT doc_id, n_lines, len(kept)::BIGINT AS n_kept_lines,
         -- array_to_string([]) is NULL in DuckDB, '' in Spark's array_join
         coalesce(array_to_string(kept, chr(10)), '') AS kept_text,
         has_lorem_ipsum, has_brace
  FROM keptd
), sent AS (
  SELECT *,
         ((length(kept_text) - length(replace(kept_text, '.', '')))
          + (length(kept_text) - length(replace(kept_text, '!', '')))
          + (length(kept_text) - length(replace(kept_text, '?', ''))))::BIGINT
           AS n_sentences
  FROM agg
)
SELECT doc_id, n_lines, n_kept_lines, kept_text, has_lorem_ipsum, has_brace,
       n_sentences,
       (NOT has_lorem_ipsum AND NOT has_brace AND n_sentences >= 3) AS keep
FROM sent ORDER BY doc_id
""".replace("__PREFIX__", _X40_PREFIX)


# --------------------------------------------------------------------------
# X31 — DSIR importance resampling (Xie et al. 2023), deterministic
# variant: score every document by log P_target - log P_source under
# add-one-smoothed multinomials over md5-hashed word features (target =
# the 'en' slice, source = the whole pool), keep the deterministic top-n
# (hash tiebreak instead of the paper's Gumbel noise, so the selection
# replays exactly). One explode, ONE combined count pass (conditional sum
# beside the plain count), a 256-row broadcast feature table, a per-doc
# sum, a rank window. Full DuckDB oracle replaying the identical hash,
# smoothing, and tiebreak.
# --------------------------------------------------------------------------


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.sampling import dsir_importance_select

    docs = _docs(spark, sf_dir, 
        "doc_id", (F.col("lang") == "en").alias("is_target"), "text"
    )
    return dsir_importance_select(
        docs, "is_target", n=150, id_col="doc_id", text_col="text"
    ).orderBy("doc_id")


SQL_DSIR_SELECT = r"""
WITH docs AS (
  SELECT doc_id, (lang = 'en') AS is_target, text FROM documents
), toks AS (
  SELECT doc_id, is_target,
         unnest(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                            t -> t <> '')) AS w
  FROM docs
), words AS (
  SELECT doc_id, is_target, substr(md5('dsir' || '|' || w), 1, 2) AS f
  FROM toks
), feat AS (
  SELECT f, sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc,
         count(*) AS sc
  FROM words GROUP BY f
), tot AS (SELECT sum(tc) AS tt, sum(sc) AS st FROM feat),
fs AS (
  SELECT f, ln((tc + 1)::DOUBLE / (tt + 256))
           - ln((sc + 1)::DOUBLE / (st + 256)) AS lw
  FROM feat, tot
), ds AS (
  SELECT w.doc_id, count(*) AS n_tokens, sum(lw) AS score
  FROM words w JOIN fs USING (f) GROUP BY w.doc_id
), scored AS (
  SELECT d.doc_id, d.is_target,
         coalesce(ds.n_tokens, 0)::BIGINT AS n_tokens,
         coalesce(ds.score, 0.0) AS score
  FROM docs d LEFT JOIN ds USING (doc_id)
), ranked AS (
  SELECT *, row_number() OVER (
    ORDER BY score DESC, md5('dsir' || '|' || doc_id::VARCHAR), doc_id
  ) AS rn
  FROM scored
)
SELECT doc_id::BIGINT AS doc_id, is_target, n_tokens,
       round(score, 4) AS dsir_score
FROM ranked WHERE rn <= 150 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X29 — temperature mixture resampling (the multilingual/domain-rebalance
# primitive): per-language quotas proportional to n_lang^0.5 normalized to
# 300 docs, deterministic md5-ordered keep, quota floored at 1. Completes
# the corpus-mixing trio (x17 count quota, x24 token budget, x29
# temperature). DuckDB replays the count -> sqrt-weight -> quota -> ranked
# keep pipeline exactly; sqrt/mul/div are correctly-rounded IEEE ops on
# per-group scalars, so the quotas match bit-for-bit.
# --------------------------------------------------------------------------


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = temperature_sample(
        docs, "lang", alpha=0.5, target_rows=300, order_col="doc_id"
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("lang")
    )


def _sql_temperature_sample() -> str:
    # the mixture CTEs are the shared x29/x44 fragment (epsilon, null-safe
    # quota join and all) — see _sql_mixture_ctes
    return f"""
WITH {_sql_mixture_ctes("documents", 300, ["doc_id", "lang"])}
SELECT lang, count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS min_doc_id,
       sum(doc_id)::BIGINT AS id_checksum
FROM mixed
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# X28 — GPT-style sequence packing: docs are concatenated in deterministic
# order within md5 hash buckets and cut every seq_len tokens (documents
# span chunk boundaries — standard pretraining packing); each doc gets
# (bucket, chunk, offset). The window partitions by bucket — one hash
# Exchange, no global sort. Whitespace token counts + the md5 bucketing
# and running-sum arithmetic replay identically in DuckDB: full oracle
# over per-(bucket, chunk) rollups.
# --------------------------------------------------------------------------


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.sampling import pack_sequences
    from hbsir_old_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(
        docs, seq_len=2048, token_col="n_tokens", order_col="doc_id"
    )
    return (
        packed.groupBy("pack_bucket", "pack_chunk")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("pack_offset").cast("long").alias("first_offset"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .orderBy("pack_bucket", "pack_chunk")
    )


SQL_SEQUENCE_PACK = r"""
WITH toks AS (
  SELECT doc_id,
         coalesce(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                                  t -> t <> '')), 0)::BIGINT AS n_tokens,
         substr(md5('pack' || '|' || doc_id::VARCHAR), 1, 2) AS pack_bucket
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens, pack_bucket,
         sum(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS before_tokens
  FROM toks
)
SELECT pack_bucket,
       (before_tokens // 2048)::BIGINT AS pack_chunk,
       count(*)::BIGINT                AS n_docs,
       sum(n_tokens)::BIGINT           AS total_tokens,
       min(before_tokens % 2048)::BIGINT AS first_offset,
       min(doc_id)::BIGINT             AS min_doc_id
FROM cum
GROUP BY pack_bucket, pack_chunk
ORDER BY pack_bucket, pack_chunk
"""


# --------------------------------------------------------------------------
# X26 — distributed k-means (spherical Lloyd's: broadcast centroids,
# map-side assignment, partial-aggregable (cluster, dim) mean shuffle,
# k x d model on the driver) pinned by a FULL oracle despite being an
# iterative algorithm: vectors get a planted one-hot blob offset (+10 at
# index vec_id % 4, noise = 0.05 * embedding), init supplies one seed per
# blob, and the separation guarantees Lloyd's converges to exactly the
# planted partition — which DuckDB recomputes directly from vec_id. A
# wrong assignment rule, mean update, or convergence test mismatches.
# --------------------------------------------------------------------------


def q_kmeans_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.clustering import kmeans_assign, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    blob = (F.col("vec_id") % 4).cast("int")
    planted = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: x.cast("double") * 0.05
            + F.when(i == blob, F.lit(10.0)).otherwise(F.lit(0.0)),
        ).alias("vec"),
    )
    # gate fixture: the 4 seed vectors (vec_id 0..3, one per blob) — 4 rows
    seeds = planted.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    init = [[float(v) for v in r["vec"]] for r in seeds]
    cents = kmeans_fit(
        planted, init=init, id_col="vec_id", vec_col="vec", max_iter=10
    )
    out = kmeans_assign(planted, cents, id_col="vec_id", vec_col="vec")
    return (
        out.groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.round(F.avg(F.element_at("vec", 1)), 4).alias("avg_c0"),
        )
        .orderBy("cluster")
    )


SQL_KMEANS_PLANTED = """
WITH planted AS (
  SELECT vec_id, (vec_id % 4)::INT AS cluster,
         embedding[1]::DOUBLE * 0.05
           + CASE WHEN vec_id % 4 = 0 THEN 10.0 ELSE 0.0 END AS c0
  FROM embeddings
)
SELECT cluster, count(*)::BIGINT AS n_vectors, round(avg(c0), 4) AS avg_c0
FROM planted GROUP BY cluster ORDER BY cluster
"""


# --------------------------------------------------------------------------
# X27 — SemDeDup (cluster-scoped embedding near-dup removal) with a FULL
# oracle for the composite kmeans_fit -> kmeans_assign -> per-cluster
# pairwise check -> keep-earliest: every odd vec_id's vector is its even
# leader's embedding plus 0.1% of its own (cosine ~0.999999 to the
# leader), while distinct 64-dim corpus embeddings keep cross-pair
# |cosine| far below the 0.9 threshold — so near-dup pairs can never
# straddle a cluster boundary and the kept set is exactly the rows with
# no smaller-id neighbor at >= 0.9, which DuckDB recomputes by brute
# force (list_cosine_similarity over all pairs, no clustering needed).
# --------------------------------------------------------------------------


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.clustering import kmeans_fit, semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    leader = emb.select(
        F.col("vec_id").alias("lid"), F.col("embedding").alias("lvec")
    )
    planted = (
        emb.select(
            "vec_id",
            (F.col("vec_id") - F.col("vec_id") % 2).alias("lid"),
            "embedding",
        )
        .join(leader, "lid")
        .select(
            "vec_id",
            F.zip_with(
                "lvec",
                "embedding",
                lambda l, x: l.cast("double") + 0.001 * x.cast("double"),
            ).alias("vec"),
        )
        # gate-scale fixture: the planted construction feeds the Lloyd
        # iterations AND three dedup subtrees — materialize it once
        .localCheckpoint(eager=True)
    )
    model = kmeans_fit(planted, k=8, id_col="vec_id", vec_col="vec", max_iter=5)
    kept = semantic_dedup(
        planted, model, threshold=0.9, id_col="vec_id", vec_col="vec", dim=64
    )
    return kept.select("vec_id").orderBy("vec_id")


SQL_SEMANTIC_DEDUP = """
WITH planted AS (
  SELECT e.vec_id,
         list_transform(range(1, len(e.embedding) + 1),
                        i -> l.embedding[i]::DOUBLE
                             + 0.001 * e.embedding[i]::DOUBLE) AS vec
  FROM embeddings e
  JOIN embeddings l ON l.vec_id = e.vec_id - e.vec_id % 2
)
SELECT p1.vec_id
FROM planted p1
WHERE NOT EXISTS (
  SELECT 1 FROM planted p2
  WHERE p2.vec_id < p1.vec_id
    AND list_cosine_similarity(p2.vec, p1.vec) >= 0.9
)
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# L4 — household-ID attribute decode against the REAL household.yaml: at
# year 1400 the ID is 11 digits (1392+ layout), Urban_Rural is digit 0
# under the post-1387 {1: Urban, 2: Rural} mapping (the label flip the
# corpus port pins), Province is digits 1-2. IDs are composed
# deterministically FROM c_custkey, and the oracle recomputes the codes
# directly from c_custkey — so a wrong digit-extraction in the engine
# (wrong power of ten, wrong mapping version) mismatches. Reference:
# household.yaml ID_Length/Urban_Rural/Province + metadata_reader.py
# Attribute handling; engine decode is pure year-branched arithmetic
# (operators/attributes.py), no join, no UDF.
# --------------------------------------------------------------------------


def q_real_household_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    registry = build_reference_registry(spark)
    cust = _t(spark, sf_dir, "customer")
    ids = cust.select(
        (
            (F.lit(1) + F.col("c_custkey") % 2) * F.lit(10**10)
            + (F.col("c_custkey") % 10) * F.lit(10**8)
            + F.col("c_custkey") % F.lit(10**8)
        ).alias("ID"),
        F.lit(1400).alias("Year"),
        "c_acctbal",
    )
    out = registry.add_attribute(ids, "Urban_Rural")
    out = registry.add_attribute(out, "Province")
    return (
        out.groupBy("Urban_Rural", "Province")
        .agg(
            F.count("*").cast("long").alias("n_households"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy("Urban_Rural", "Province")
    )


SQL_REAL_HOUSEHOLD_DECODE = """
WITH ids AS (
  SELECT 1 + c_custkey % 2 AS ur_code,
         c_custkey % 10    AS prov_code,
         c_acctbal
  FROM customer
)
SELECT CASE ur_code WHEN 1 THEN 'Urban' WHEN 2 THEN 'Rural' END AS Urban_Rural,
       CASE prov_code WHEN 0 THEN 'Markazi'
                      WHEN 1 THEN 'Gilan'
                      WHEN 2 THEN 'Mazandaran'
                      WHEN 3 THEN 'East_Azerbaijan'
                      WHEN 4 THEN 'West_Azerbaijan'
                      WHEN 5 THEN 'Kermanshah'
                      WHEN 6 THEN 'Khuzestan'
                      WHEN 7 THEN 'Fars'
                      WHEN 8 THEN 'Kerman'
                      WHEN 9 THEN 'Razavi_Khorasan' END AS Province,
       count(*)::BIGINT         AS n_households,
       round(sum(c_acctbal), 2) AS total_balance
FROM ids
GROUP BY Urban_Rural, Province
ORDER BY Urban_Rural, Province
"""


# --------------------------------------------------------------------------
# L6 — the local-metadata override hook end-to-end (reference
# metadata_reader.py:338-353): a user-directory household.yaml replaces the
# Urban_Rural top-level key with custom labels; the registry built with
# local_metadata_dir decodes the SAME ids into the overridden labels. The
# oracle hard-codes the custom labels, so a registry that ignored the
# local file (or merged at the wrong depth) mismatches.
# --------------------------------------------------------------------------

_L6_LOCAL_HOUSEHOLD = """\
Urban_Rural:
  code:
    position:
      start: 0
      end: 1
  name:
    1363:
      0: "Countryside"
      1: "City"
    1387:
      1: "City"
      2: "Countryside"
"""


def q_local_override_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from hbsir_old_spark.metadata.corpus import build_reference_registry

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    local_dir = os.path.join(tempfile.gettempdir(), f"hbsir_l6_meta_{tag}")
    os.makedirs(local_dir, exist_ok=True)
    # atomic publish: concurrent harness processes share this path, and a
    # truncate-and-write could expose a partial YAML to a reader mid-write
    tmp_fd, tmp_path = tempfile.mkstemp(dir=local_dir, suffix=".yaml.tmp")
    with os.fdopen(tmp_fd, "w") as fh:
        fh.write(_L6_LOCAL_HOUSEHOLD)
    os.replace(tmp_path, os.path.join(local_dir, "household.yaml"))
    registry = build_reference_registry(spark, local_metadata_dir=local_dir)
    cust = _t(spark, sf_dir, "customer")
    ids = cust.select(
        _hh_id_1400(F.col("c_custkey")).alias("ID"),
        F.lit(1400).alias("Year"),
        "c_acctbal",
    )
    out = registry.add_attribute(ids, "Urban_Rural")
    return (
        out.groupBy("Urban_Rural")
        .agg(
            F.count("*").cast("long").alias("n_households"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy("Urban_Rural")
    )


SQL_LOCAL_OVERRIDE_DECODE = """
SELECT CASE 1 + c_custkey % 2 WHEN 1 THEN 'City'
                              WHEN 2 THEN 'Countryside' END AS Urban_Rural,
       count(*)::BIGINT         AS n_households,
       round(sum(c_acctbal), 2) AS total_balance
FROM customer
GROUP BY Urban_Rural
ORDER BY Urban_Rural
"""


# --------------------------------------------------------------------------
# L5 — occupation classification against the REAL occupations.yaml: the
# multi-thousand-interval isco dimension (far above the CASE-chain cutoff)
# must resolve through the broadcast range-join strategy with the genuine
# level-4 labels. Job codes cycle through five real ISCO-08 codes spanning
# major groups 1/2/3/5/9 plus one unmapped code (NULL label); the oracle
# maps code->label with literals read from occupations.yaml itself
# (verified at yaml lines 13477-13481, 11409-11413, 22662-22666), so a
# wrong range resolution or year-version pick mismatches.
# --------------------------------------------------------------------------


def q_real_occupation_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.metadata.corpus import build_reference_registry

    registry = build_reference_registry(spark)
    orders = _t(spark, sf_dir, "orders")
    codes = F.array(
        F.lit(1120), F.lit(2211), F.lit(3434), F.lit(5141), F.lit(9333), F.lit(42)
    )
    df = orders.select(
        F.lit(1400).alias("Year"),
        F.element_at(codes, (F.col("o_orderkey") % 6 + 1).cast("int")).alias(
            "Job_Code"
        ),
        "o_totalprice",
    )
    out = registry.add_classification(
        df, "isco", years=[1400], levels=(4,), classification_type="occupation"
    )
    return (
        out.groupBy(
            F.col("Job_Code").cast("long").alias("Job_Code"), "Occupation"
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("Job_Code")
    )


SQL_REAL_OCCUPATION_CLASSIFICATION = """
WITH coded AS (
  SELECT [1120, 2211, 3434, 5141, 9333, 42][(o_orderkey % 6 + 1)::INTEGER]
           AS Job_Code,
         o_totalprice
  FROM orders
)
SELECT Job_Code::BIGINT AS Job_Code,
       CASE Job_Code
            WHEN 1120 THEN 'managing_directors_and_chief_executives'
            WHEN 2211 THEN 'generalist_medical_practitioners'
            WHEN 3434 THEN 'chefs'
            WHEN 5141 THEN 'hairdressers'
            WHEN 9333 THEN 'freight_handlers' END AS Occupation,
       count(*)::BIGINT            AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM coded
GROUP BY Job_Code
ORDER BY Job_Code
"""


# --------------------------------------------------------------------------
# X16/X17/X18 — deterministic corpus sampling + vocabulary (training-data
# pipeline primitives beyond the reference): stable hash train/test split
# (pure key function, map-side), per-group document quotas (window topK),
# and corpus token frequency (explode -> partial-aggregable count).
# --------------------------------------------------------------------------


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    tagged = hash_split(docs, key_col="doc_id", test_frac=0.1)
    return (
        tagged.groupBy("lang", "split")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("lang", "split")
    )


SQL_HASH_SPLIT = """
SELECT lang,
       CASE WHEN substr(md5('split' || '|' || doc_id::VARCHAR), 1, 4) < '1999'
            THEN 'test' ELSE 'train' END AS split,
       count(*)::BIGINT AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY lang, split
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x24: per-language TOKEN-budget corpus mixing — keep docs in stable
    # md5-hash order until each language's cumulative whitespace-token
    # count reaches 5000; the doc that crosses the budget is included.
    # One Exchange + in-partition prefix scan (inherently sequential per
    # group — unlike x17's count quota, which is now two-level salted) —
    # bounding token MASS, which is what an LLM data mixture actually
    # budgets.
    from hbsir_old_spark.functions.sampling import token_budget_sample
    from hbsir_old_spark.functions.text import token_count

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        # token_count is never NULL (whitespace_tokens coalesces to []),
        # so no NULL-papering wrapper is needed here
        .withColumn("n_tokens", token_count("text").cast("long"))
        .withColumn(
            "h", F.md5(F.concat(F.lit("tb|"), F.col("doc_id").cast("string")))
        )
    )
    kept = token_budget_sample(
        docs, group_col="lang", budget=5000, token_col="n_tokens", order_col="h"
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .orderBy("lang")
    )


SQL_TOKEN_BUDGET = """
WITH toks AS (
  SELECT doc_id, lang,
         coalesce(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                  t -> t <> '')), 0)::BIGINT AS n_tokens,
         md5('tb|' || doc_id::VARCHAR) AS h
  FROM documents
), cum AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY h
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS before_tokens
  FROM toks
)
SELECT lang,
       count(*)::BIGINT      AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       min(doc_id)::BIGINT   AS min_doc_id
FROM cum
WHERE before_tokens < 5000
GROUP BY lang
ORDER BY lang
"""


def q_group_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.sampling import group_quota

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    capped = group_quota(docs, group_col="lang", quota=50, order_col="doc_id")
    return (
        capped.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
        )
        .orderBy("lang")
    )


SQL_GROUP_QUOTA = """
WITH capped AS (
  SELECT * FROM documents
  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY doc_id) <= 50
)
SELECT lang, count(*)::BIGINT AS n_docs,
       min(doc_id) AS first_id, max(doc_id) AS last_id
FROM capped GROUP BY lang ORDER BY lang
"""


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import top_k_tokens

    docs = _docs(spark, sf_dir, "text")
    return top_k_tokens(docs, text_col="text", k=20).select(
        "token", F.col("freq").cast("long").alias("freq")
    )


SQL_TOKEN_FREQ = """
SELECT token, count(*)::BIGINT AS freq
FROM (
  SELECT unnest(string_split(
           trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY freq DESC, token
LIMIT 20
"""


# --------------------------------------------------------------------------
# W4 — approximate decile binning (scale twin of w2's exact window ECDF):
# Greenwald-Khanna sketch breaks (partial-aggregable, no global sort) +
# map-side array binning. Approximate by design -> rows-only gate; the
# exact twin (w2_decile) is the oracle-checked baseline, and
# tests/test_approx_quality.py pins >=99% row agreement with it.
# --------------------------------------------------------------------------


def q_approx_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.operators.quantile import add_approx_bin

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    binned = add_approx_bin(orders, "o_totalprice", bins=10, out_col="decile")
    return (
        binned.groupBy("decile")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# W4b — WEIGHTED approximate decile (scale twin of the flagship
# survey-weighted w2 semantics, reference quantile.py:119-146): GK probe
# grid + exact weighted CDF at each probe + interpolated breaks — no sort,
# no window. Approximate by design -> rows-only gate; w2_decile is the
# oracle-checked exact twin and tests/test_approx_quality.py pins >=99%
# row agreement under cubed-skew weights.
# --------------------------------------------------------------------------


def q_weighted_approx_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.operators.quantile import add_weighted_approx_bin

    # r14: a round-robin spread was tried here and REVERTED — the keyless
    # repartition is re-paid by each of the operator's eager sketch jobs
    # (probe grid + breaks) plus the timed action, while the map-side
    # binning it parallelizes compiles to scalar literals and is cheap.
    # Measured isolated at sf0.1/local[32]: 2.1 s without vs 3.1-3.3 s
    # with the spread (OPTIMIZATION_r14.md).
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", F.col("l_quantity").alias("Weight")
    )
    binned = add_weighted_approx_bin(
        li, "l_extendedprice", "Weight", bins=10, out_col="decile"
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("Weight"), 2).alias("total_weight"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# S4 — streaming upsert sink, end-to-end with a REPLAYED epoch: two
# micro-batches of the hourly aggregate go through upsert_batch_writer
# (dynamic partition overwrite keyed on the window partition), the second
# batch is delivered twice with the same epoch id (exactly the re-delivery
# contract foreachBatch has after a failure), and the table read back from
# disk must equal the plain batch aggregate over ALL events — which is the
# DuckDB oracle. Proves the sink's idempotent-upsert semantics, not just
# the aggregate.
# --------------------------------------------------------------------------


def q_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from hbsir_old_spark.streaming.sink import upsert_batch_writer

    events = _events(spark, sf_dir)

    def hourly_agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.unix_millis(F.date_trunc("hour", "ts")).alias("window_start_ms"),
            "event_type",
        ).agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )

    # split point: mid-range hour boundary (two tiny scalar reads — metadata,
    # not a data collect)
    lo, hi = events.agg(
        F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
    ).first()
    cut_ms = (lo + hi) // 2
    cut_hour_ms = cut_ms - cut_ms % 3_600_000
    # deterministic workspace keyed on the input (see _scratch_dir). Unlike
    # l2 there is no completion marker: re-running the writes IS the gate,
    # and stale window partitions from older test data must not survive,
    # so the tree is rebuilt from empty every call.
    target = _scratch_dir("s4_upsert", sf_dir)
    try:
        writer = upsert_batch_writer(target, ["window_start_ms"])
        # micro-batch 0: everything before the cut — the boundary window
        # holds a PARTIAL aggregate that batch 1 must overwrite
        writer(hourly_agg(events.filter(F.unix_millis("ts") < cut_ms)), 0)
        # micro-batch 1: update-mode re-emission of every window touched at
        # or after the cut (rows >= cut only land in windows >= the cut hour)
        batch2 = hourly_agg(events).filter(
            F.col("window_start_ms") >= cut_hour_ms
        )
        writer(batch2, 1)
        writer(batch2, 1)  # replayed epoch — a no-op on the final state
        # checkpoint the read-back into Spark's block manager so the /tmp
        # tree can be deleted immediately
        out = spark.read.parquet(target).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(target, ignore_errors=True)
    return out.select(
        F.col("window_start_ms").cast("long").alias("window_start_ms"),
        "event_type",
        "n_events",
        "sum_value",
    )


# the sink's final state must equal the plain batch hourly aggregate — the
# same oracle as s1 by construction, so share the constant rather than
# letting two copies drift
SQL_UPSERT_SINK = SQL_EVENTS_TUMBLING


# --------------------------------------------------------------------------
# S7 — streaming exactly-once dedup: the events table is doubled, streamed
# through withWatermark + dropDuplicatesWithinWatermark(event_id) on a
# REAL readStream (availableNow), and the deduped stream must equal the
# ORIGINAL table — DuckDB aggregates events directly. The doubled input is
# written as ONE file so the run is a single micro-batch: the first
# batch's watermark is unset, so no copy can be late-filtered and no
# dedup state can be evicted mid-run — the result is exact, not
# best-effort (multi-batch arrival-order caveats are the documented
# production tradeoff of the operator itself).
# --------------------------------------------------------------------------


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    events = _events(spark, sf_dir)
    workdir = _scratch_dir("s7_dedup", sf_dir)
    qname = f"s7_mem_{_scratch_tag(sf_dir)}"
    query = None
    try:
        dup_dir = f"{workdir}/in"
        events.unionByName(events).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dup_dir)
        schema = spark.read.parquet(dup_dir).schema
        stream = spark.readStream.schema(schema).parquet(dup_dir)
        deduped = stream.withWatermark(
            "ts", "1 hour"
        ).dropDuplicatesWithinWatermark(["event_id"])
        query = (
            deduped.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .start()
        )
        # fail fast on a hung stream: a partial memory table would surface
        # as a confusing value mismatch, and rmtree under a live query
        # breaks it
        if not query.awaitTermination(240):
            raise RuntimeError("s7 streaming dedup did not finish within 240s")
        query = None  # terminated; nothing to stop in the finally
        out = (
            spark.table(qname)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.countDistinct("event_id")
                .cast("long")
                .alias("n_distinct_ids"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .localCheckpoint(eager=True)
        )
        spark.catalog.dropTempView(qname)
    finally:
        if query is not None:
            query.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    return out.orderBy("event_type")


SQL_STREAM_DEDUP = """
SELECT event_type, count(*)::BIGINT AS n_events,
       count(DISTINCT event_id)::BIGINT AS n_distinct_ids,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the STREAMING twin of s8's batch funnel: per-user funnel state via
    # applyInPandasWithState (streaming/stateful.py:streaming_funnel),
    # replayed over a bounded single-batch stream — within-batch ts sort
    # makes the greedy fold reproduce the batch semantics EXACTLY, so this
    # carries a full oracle (same CTE chain as s8, per-user form). The
    # sanctioned Arrow seam: three scalars of state per user, only
    # (user, ms, type) of the k funnel types ever crosses to Python.
    import shutil

    from hbsir_old_spark.streaming.stateful import streaming_funnel

    events = _events(spark, sf_dir)
    workdir = _scratch_dir("s10_funnel", sf_dir)
    qname = f"s10_mem_{_scratch_tag(sf_dir)}"
    query = None
    try:
        src = f"{workdir}/in"
        events.coalesce(1).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        funneled = streaming_funnel(
            stream,
            ["view", "click", "purchase"],
            within_ms=7 * 86400 * 1000,
        )
        query = (
            funneled.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .start()
        )
        if not query.awaitTermination(240):
            raise RuntimeError("s10 streaming funnel did not finish within 240s")
        query = None  # terminated; nothing to stop in the finally
        # single batch -> exactly one update row per step-1 user
        out = spark.table(qname).localCheckpoint(eager=True)
        spark.catalog.dropTempView(qname)
    finally:
        if query is not None:
            query.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    return out.orderBy("user_id")


SQL_STREAM_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > s2.t2 AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
)
SELECT s1.user_id,
       (CASE WHEN t3 IS NOT NULL THEN 3
             WHEN t2 IS NOT NULL THEN 2
             ELSE 1 END)::INT AS step_reached,
       epoch_ms(t1)::BIGINT AS step_1_ms,
       epoch_ms(coalesce(t3, t2, t1))::BIGINT AS last_step_ms
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# X19 — near-dup CLUSTERS: pair emission (exact n-gram Jaccard, the oracled
# x2 path) -> connected components (O(log n)-round pointer-jumping label
# propagation) -> (doc_id, component=min reachable id). The transitive
# closure is what corpus dedup actually needs (A~B, B~C => one keeper);
# DuckDB verifies with a recursive CTE over the identical pair set.
# --------------------------------------------------------------------------


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=2, threshold=0.5)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


SQL_DUP_CLUSTERS = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                      i -> array_to_string(t[i:i+1], ' '))) AS s
  FROM toks
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS c
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
  WHERE round(c / (len(sa.s) + len(sb.s) - c), 6) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u::BIGINT AS doc_id, min(comp)::BIGINT AS component
FROM reach GROUP BY u
"""


# --------------------------------------------------------------------------
# X23 — quality-prior near-dup curation: the x19 duplicate clusters, but
# keeping each cluster's BEST member (highest n_chars, min-id tiebreak)
# instead of an arbitrary one — the production curation shape. Only the
# clustered ids join back for priorities; the corpus moves once, through
# the final left-anti join (functions/dedup.py:keep_cluster_representatives).
# Full DuckDB oracle: recursive-CTE components + row_number argmax.
# --------------------------------------------------------------------------


def q_best_rep_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.dedup import keep_cluster_representatives

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=2, threshold=0.5)
    kept = keep_cluster_representatives(docs, pairs, priority_col="n_chars")
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


SQL_BEST_REP_DEDUP = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                      i -> array_to_string(t[i:i+1], ' '))) AS s
  FROM toks
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS c
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
  WHERE round(c / (len(sa.s) + len(sb.s) - c), 6) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.u
), members AS (
  SELECT u AS doc_id, min(comp) AS component FROM reach GROUP BY u
), ranked AS (
  SELECT m.doc_id,
         row_number() OVER (PARTITION BY m.component
                            ORDER BY d.n_chars DESC, m.doc_id ASC) AS rn
  FROM members m JOIN documents d USING (doc_id)
)
SELECT d.doc_id::BIGINT AS doc_id, d.lang, d.n_chars::BIGINT AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# X22 — incremental dedup (functions/dedup.py dedup_against): odd-id docs
# arrive as the new batch, even-id docs are the existing store; survivors
# are odd-id docs whose fingerprint is absent from the store, one per
# in-batch duplicate group. Full DuckDB oracle over the same md5
# fingerprint.
# --------------------------------------------------------------------------


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.dedup import dedup_against

    docs = _docs(spark, sf_dir)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    out = dedup_against(incoming, seen)
    return out.select("doc_id", "lang", "source")


SQL_INCREMENTAL_DEDUP = """
WITH fp AS (
  SELECT doc_id, lang, source,
         md5(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS f
  FROM documents
), seen AS (
  SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 0
), fresh AS (
  -- NOT EXISTS, not NOT IN: a NULL fingerprint (NULL text) must be KEPT,
  -- matching Spark's left_anti equi-join where NULL never matches
  SELECT * FROM fp
  WHERE doc_id % 2 = 1
    AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.f = fp.f)
)
SELECT doc_id, lang, source FROM fresh
QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
"""


# --------------------------------------------------------------------------
# X22B — x22's incremental dedup driven through the broadcast BLOOM
# pre-filter (functions/dedup.py dedup_against_bloom): misses skip the
# verify join entirely (a Bloom filter has no false negatives), only hits
# — true dups + ~1-2% false positives — anti-join the store's
# fingerprints. Result IDENTICAL to dedup_against by construction, so the
# oracle is x22's SQL over the planted corpus; what this gate adds is the
# driver + bench coverage of the ingest-loop shape a 100-TB user actually
# runs (VERDICT r10 next-round #7). The plant copies 10 store docs into
# the batch so the hit path runs in anger (the natural corpus has zero
# cross-split exact dups).
# --------------------------------------------------------------------------


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.dedup import dedup_against_bloom

    # bare scan, NOT _docs (r14, measured): the eager bloom-build
    # aggregate and the filter side each re-pay the round-robin
    # repartition, while the per-row fingerprint work is spread anyway by
    # the operator's own aggregation Exchange. Isolated A/B at sf0.1:
    # 2.4-2.5 s bare vs 2.9-3.0 s spread.
    docs = _t(spark, sf_dir, "documents")
    planted = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20)).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "source", "text"
    )
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source", "text"
    ).unionByName(planted)
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    out = dedup_against_bloom(incoming, seen)
    return out.select("doc_id", "lang", "source")


def _sql_bloom_dedup() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000, lang, source, text FROM documents
  WHERE doc_id % 2 = 0 AND doc_id < 20
), fp AS (
  SELECT doc_id, lang, source, md5({_SQL_NORM_EXPR}) AS f FROM base
), seen AS (
  SELECT DISTINCT md5({_SQL_NORM_EXPR}) AS f FROM documents WHERE doc_id % 2 = 0
), fresh AS (
  -- NOT EXISTS, not NOT IN: a NULL fingerprint (NULL text) must be KEPT,
  -- matching Spark's left_anti equi-join where NULL never matches
  SELECT * FROM fp
  WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.f = fp.f)
)
SELECT doc_id, lang, source FROM fresh
QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
"""


# --------------------------------------------------------------------------
# X20 — per-document TF-IDF top terms (functions/text.py tfidf_top_terms):
# smoothed idf = ln((N+1)/(df+1)) + 1, deterministic term-asc tiebreak.
# Full DuckDB oracle — identical tokenization and formula; ranks compare
# raw doubles, only the emitted score rounds (4dp).
# --------------------------------------------------------------------------


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.text import tfidf_top_terms

    docs = _docs(spark, sf_dir)
    out = tfidf_top_terms(docs, "doc_id", "text", k=3)
    # rank on the raw doubles (identical relative order on both engines),
    # round only at the comparison boundary — 4dp leaves a wide margin
    # against last-ulp ln() differences between Java Math.log and libm
    return out.withColumn("score", F.round("score", 4))


SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(translate(lower(text), 'ς', 'σ'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM toks WHERE term <> '' GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*)::BIGINT AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((n.n_docs + 1) / (df.df + 1.0)) + 1) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, rank::INT AS rank, round(score, 4) AS score
FROM ranked WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# X21 — as-of join (operators/temporal.py): purchase -> latest prior click
# attribution per user, 2h tolerance. Sorted-merge-over-window formulation
# (one shuffle, no join operator); DuckDB verifies with its native ASOF
# LEFT JOIN. Clicks are pre-collapsed per (user, ts) so ties are
# deterministic on both engines.
# --------------------------------------------------------------------------


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.operators.temporal import asof_join

    events = _events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(
        purchases, clicks, "ts", ["user_id"], tolerance_s=7200
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.round("purchase_value", 4).alias("purchase_value"),
        F.round("click_value", 4).alias("click_value"),
        F.unix_millis("ts_right").alias("click_ts_ms"),
    )


SQL_ASOF_ATTRIBUTION = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), matched AS (
  SELECT p.event_id, p.user_id, p.ts, p.value, c.click_value, c.ts AS click_ts
  FROM purchases p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT event_id, user_id, epoch_ms(ts)::BIGINT AS ts_ms,
       round(value, 4) AS purchase_value,
       CASE WHEN click_ts IS NOT NULL AND ts - click_ts <= INTERVAL 2 HOUR
            THEN round(click_value, 4) END AS click_value,
       CASE WHEN click_ts IS NOT NULL AND ts - click_ts <= INTERVAL 2 HOUR
            THEN epoch_ms(click_ts)::BIGINT END AS click_ts_ms
FROM matched
"""


# --------------------------------------------------------------------------
# J8 — geometry join (reference map_drawer.py:27-43 add_geometry): per-area
# aggregate + broadcast WKT-dimension left join; areas without a geometry
# keep NULL. The dim is built driver-side from the nation table (admin
# geographies are inherently dim-sized), deterministic POINT WKTs so DuckDB
# reproduces the same strings.
# --------------------------------------------------------------------------


def q_geometry_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.operators.geo import add_geometry, geometry_dim

    wkts = {
        r["n_name"]: f"POINT ({r['n_nationkey']} {r['n_nationkey']})"
        for r in _t(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 12)
        .collect()
    }
    dim = geometry_dim(spark, wkts, area="Province")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("Province")
    )
    per_prov = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("Province")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
    )
    return add_geometry(per_prov, dim).orderBy("Province")


SQL_GEOMETRY_JOIN = """
SELECT n.n_name AS Province,
       count(*)::BIGINT AS n_customers,
       round(sum(c.c_acctbal), 2) AS total_balance,
       CASE WHEN n.n_nationkey < 12
            THEN 'POINT (' || n.n_nationkey || ' ' || n.n_nationkey || ')'
            ELSE NULL END AS geometry
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, n.n_nationkey
ORDER BY Province
"""


# --------------------------------------------------------------------------
# j8b — geometry ANALYTICS on the add_geometry output (round 12: closes the
# S10 residual — VERDICT r11 "What's missing" #2). The dimension carries
# irregular integer-coordinate pentagon WKTs generated per nationkey; Spark
# PARSES the actual WKT strings (operators/geo.py wkt_polygon_points, pure
# regexp/split/transform — no UDF) and computes the shoelace/centroid
# building blocks, emitted INTEGER-EXACT (|signed| = 2*area, the centroid
# numerators, and denom = 3*signed — all exact integers for
# integer-coordinate rings; r13 hardening of the r12 round(x,4) emission,
# which rested on the fixture staying tie-free at the 5th decimal); the
# oracle recomputes them from the vertex GENERATOR, so a parse or formula
# bug on either axis breaks the hash. Nations >= 20 get no
# geometry (the left-join NULL-analytics path). Rendering itself stays out
# of core (SURVEY §2 scope): area/centroid are the choropleth-binning and
# label-placement quantities a map consumer needs from the engine.
# --------------------------------------------------------------------------


def _pentagon_wkt(k: int) -> str:
    vs = [(k, 0), (k + 4, k % 3), (k + 3, k % 5 + 4), (k + 1, k % 7 + 5), (k - 1, 2), (k, 0)]
    return "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in vs) + "))"


def q_geometry_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.operators.geo import (
        add_geometry,
        geometry_dim,
        wkt_polygon_centroid_terms,
    )

    wkts = {
        r["n_name"]: _pentagon_wkt(r["n_nationkey"])
        for r in _t(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 20)
        .collect()
    }
    dim = geometry_dim(spark, wkts, area="Province")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("Province")
    )
    per_prov = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("Province")
        .agg(F.count("*").cast("long").alias("n_suppliers"))
    )
    g = add_geometry(per_prov, dim)
    t = wkt_polygon_centroid_terms("geometry")
    # integer-exact emission (ADVICE r12): round(cx, 4) compared Spark
    # HALF_UP against DuckDB round() and rested on the fixture staying
    # tie-free at the 5th decimal; the centroid NUMERATORS and 3*signed
    # are exact integers for integer-coordinate rings, so the hash
    # compares construction, not luck. centroid = (cx_num, cy_num)/denom;
    # area = area2x / 2.
    return g.select(
        "Province",
        "n_suppliers",
        F.abs(t["signed"]).cast("long").alias("area2x"),
        t["cx_num"].cast("long").alias("cx_num"),
        t["cy_num"].cast("long").alias("cy_num"),
        (3 * t["signed"]).cast("long").alias("denom"),
    )


SQL_GEOMETRY_ANALYTICS = """
WITH sup AS (
  SELECT n.n_name AS Province, n.n_nationkey AS k, count(*)::BIGINT AS n_suppliers
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
), v AS (
  SELECT Province, n_suppliers, k,
         k AS x1, 0 AS y1,
         k+4 AS x2, k%3 AS y2,
         k+3 AS x3, k%5+4 AS y3,
         k+1 AS x4, k%7+5 AS y4,
         k-1 AS x5, 2 AS y5
  FROM sup
), s2 AS (
  SELECT *, (x1*y2-x2*y1)+(x2*y3-x3*y2)+(x3*y4-x4*y3)+(x4*y5-x5*y4)+(x5*y1-x1*y5) AS signed
  FROM v
)
SELECT Province, n_suppliers,
  (CASE WHEN k < 20 THEN abs(signed) END)::BIGINT AS area2x,
  (CASE WHEN k < 20 THEN
    (x1+x2)*(x1*y2-x2*y1)+(x2+x3)*(x2*y3-x3*y2)+(x3+x4)*(x3*y4-x4*y3)
    +(x4+x5)*(x4*y5-x5*y4)+(x5+x1)*(x5*y1-x1*y5) END)::BIGINT AS cx_num,
  (CASE WHEN k < 20 THEN
    (y1+y2)*(x1*y2-x2*y1)+(y2+y3)*(x2*y3-x3*y2)+(y3+y4)*(x3*y4-x4*y3)
    +(y4+y5)*(x4*y5-x5*y4)+(y5+y1)*(x5*y1-x1*y5) END)::BIGINT AS cy_num,
  (CASE WHEN k < 20 THEN 3*signed END)::BIGINT AS denom
FROM s2
"""


# --------------------------------------------------------------------------
# Driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship composite on sf0.001: classification range-join + weighted
    ECDF deciles + weighted average — the reference's signature pipeline
    shape (load -> classify -> weight -> decile -> weighted mean)."""
    sf_dir = DEFAULT_SF_DIR
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    dim = build_classification_dim(PART_CLASSIFICATION, aspects=("name",))
    classified = add_classification(
        li,
        dim,
        code_col="l_partkey",
        year_col=None,
        levels=(1,),
        aspects=("name",),
        column_names={"name": "name_1"},
    )
    fact = classified.join(orders, classified.l_orderkey == orders.o_orderkey)
    fact = fact.withColumn("Weight", ((F.col("o_custkey") % 5) + 1).cast("double"))
    # deciles within each classification group: the window partitions by
    # name_1, so no single-partition global sort (the reference's deciles
    # are likewise within-year/within-group)
    binned = add_decile(
        fact,
        value_col="o_totalprice",
        weight_col="Weight",
        group_cols=("name_1",),
        out_col="decile",
        tiebreaker_cols=("o_orderkey", "l_linenumber"),
    )
    wavg = weighted_average(
        binned, weight_col="Weight", value_cols=["l_extendedprice", "l_quantity"],
        group_cols=["name_1", "decile"],
    )
    return wavg.select(
        "name_1",
        "decile",
        F.round("l_extendedprice", 4).alias("wavg_price"),
        F.round("l_quantity", 4).alias("wavg_qty"),
    )


# --------------------------------------------------------------------------
# X42b — PQ ENCODE with fixed codebooks, full oracle (the deterministic
# twin of rows-only x42, the x38/x38b pattern): embeddings are scaled to
# integers (round(x*1000) — float32->double is exact and the products stay
# far under 2^53), the codebooks are synthetic integer sub-centroids, so
# every subspace distance is integer-EXACT in both engines and the argmin
# (lowest-code tiebreak) can never flip on a last-ulp disagreement. Pins
# pq_encode's slicing, distance, and tie semantics; the trained-codebook
# ADC/refine path keeps its recall/soundness floors under x42.
# --------------------------------------------------------------------------

_X42B_M, _X42B_KS, _X42B_DSUB = 2, 4, 32


def _x42b_books() -> list[list[list[float]]]:
    return [
        [
            [
                float(((j * 131 + c * 31 + i * 7) % 33 - 16) * 100)
                for i in range(_X42B_DSUB)
            ]
            for c in range(_X42B_KS)
        ]
        for j in range(_X42B_M)
    ]


def q_pq_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.similarity import pq_encode

    # dimension guard on BOTH sides: for a ragged (short) vector the two
    # engines would legitimately diverge (DuckDB's list_sum skips NULL
    # out-of-range terms -> partial-distance argmin; Spark's sq_l2 nulls
    # the whole distance -> +inf guard -> code 0). All current fixtures
    # are exactly 64-dim, so the filter is a no-op that keeps the gate
    # immune to fixture drift.
    emb = _t(spark, sf_dir, "embeddings").where(F.size("embedding") == 64).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000)
        ).alias("embedding"),
    )
    enc = pq_encode(emb, _x42b_books())
    return enc.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.element_at("pq_codes", 1).cast("long").alias("code_0"),
        F.element_at("pq_codes", 2).cast("long").alias("code_1"),
    ).orderBy("vec_id")


def _sql_pq_encode_fixed() -> str:
    bks = _x42b_books()
    values = ",\n".join(
        f"({j}, {c}, {[int(v) for v in bks[j][c]]})"
        for j in range(_X42B_M)
        for c in range(_X42B_KS)
    )
    d = _X42B_DSUB
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)) AS v
  FROM embeddings WHERE len(embedding) = 64
), books(j, c, bv) AS (
  VALUES {values}
), d AS (
  SELECT vec_id, j, c,
         list_sum(list_transform(range(1, {d} + 1),
                  i -> (v[j * {d} + i] - bv[i]) * (v[j * {d} + i] - bv[i]))) AS dist
  FROM e CROSS JOIN books
), best AS (
  SELECT vec_id, j, c,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
  FROM d
)
SELECT vec_id::BIGINT AS vec_id,
       max(CASE WHEN j = 0 THEN c END)::BIGINT AS code_0,
       max(CASE WHEN j = 1 THEN c END)::BIGINT AS code_1
FROM best WHERE rn = 1
GROUP BY vec_id ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# X44 — the END-TO-END training-data pipeline (the capstone composition):
# curate (x34's four-stage funnel: lang-id -> quality -> exact-dedup
# canonical -> contamination vs a held-out benchmark) -> temperature
# mixture by language (x29, alpha=0.5) -> deterministic global training
# order (x43, seed 11) -> GPT-style sequence packing (x28, seq_len 512,
# keyed on the training order). Every stage deterministic, so the WHOLE
# composition carries a full oracle — one CTE chain reusing the x34/x29/
# x43/x28 oracle fragments verbatim. Output: one row per surviving
# document with its language, training position, and pack assignment.
# --------------------------------------------------------------------------


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.curation import curate_corpus
    from hbsir_old_spark.functions.sampling import (
        assign_global_order,
        pack_sequences,
        temperature_sample,
    )
    from hbsir_old_spark.functions.text import token_count

    docs = _docs(spark, sf_dir, "doc_id", "text", "lang")
    # benchmark probe from the bare scan (see q_curation_pipeline)
    benchmark = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 5
    )
    verdicts = curate_corpus(
        docs.select("doc_id", "text"), benchmark, quality_threshold=0.0, shingle_n=5
    )
    # pin the narrow survivor frame ONCE (the curate_corpus_fuzzy
    # precedent, functions/curation.py): temperature_sample derives its
    # quota subtree from this same lineage and assign_global_order's
    # count pass executes the plan again — without the checkpoint the
    # whole four-stage funnel re-executes ~4x per run.
    # n_tokens is computed HERE, in the checkpoint's map stage, so the
    # text column never crosses it (r14, guide §2.3 "project before the
    # exchange"): nothing after this point reads text — only the token
    # count the packer needs — yet the old shape carried full documents
    # through the checkpoint AND the mixture/order/pack shuffles (the
    # quota windows, the order window, the final sort), materializing
    # and moving corpus text purely as dead weight. Same values: the
    # count is per-row and order-independent.
    kept = (
        docs.select(
            "doc_id", "lang", token_count("text").cast("long").alias("n_tokens")
        )
        .join(verdicts.filter(F.col("verdict") == "keep").select("doc_id"), "doc_id")
        .localCheckpoint(eager=True)
    )
    mixed = temperature_sample(
        kept, "lang", alpha=0.5, target_rows=200, order_col="doc_id"
    )
    ordered = assign_global_order(mixed, seed=11)
    packed = pack_sequences(
        ordered,
        seq_len=512,
        token_col="n_tokens",
        order_col="order_pos",
    )
    return packed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "order_pos",
        "pack_bucket",
        F.col("pack_chunk").cast("long").alias("pack_chunk"),
        F.col("pack_offset").cast("long").alias("pack_offset"),
        "n_tokens",
    ).orderBy("doc_id")


def _sql_pipeline_e2e() -> str:
    # every stage is the SHARED oracle fragment of its standalone gate:
    # curation (x34, _sql_curation_stage13_ctes + _sql_contamination_ctes),
    # temperature mixture (x29, _sql_mixture_ctes); the global-order and
    # pack CTEs mirror SQL_GLOBAL_SHUFFLE (seed 11) and SQL_SEQUENCE_PACK
    # (seq_len 512, keyed on order_pos) — those two are 6-line arithmetic
    # fragments pinned by their own gates AND by this one
    return f"""
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
), {_sql_curation_stage13_ctes()}, {_sql_contamination_ctes()}, kept AS (
  SELECT c.doc_id, c.text, c.lang
  FROM corpus c
  JOIN lang l USING (doc_id) JOIN q USING (doc_id) JOIN canon USING (doc_id)
  LEFT JOIN cont ON cont.doc_id = c.doc_id
  WHERE l.lang_ok AND q.quality_pass AND canon.is_canonical
    AND cont.doc_id IS NULL
), {_sql_mixture_ctes("kept", 200, ["doc_id", "text", "lang"])}, ordered AS (
  SELECT doc_id, text, lang,
         (row_number() OVER (
            ORDER BY md5('shuffle11|' || doc_id::VARCHAR), doc_id) - 1)::BIGINT
           AS order_pos
  FROM mixed
), toks AS (
  SELECT doc_id, lang, order_pos,
         coalesce(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                  x -> x <> '')), 0)::BIGINT AS n_tokens,
         substr(md5('pack' || '|' || order_pos::VARCHAR), 1, 2) AS pack_bucket
  FROM ordered
), cum AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY order_pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_tokens AS before_tokens
  FROM toks
)
SELECT doc_id::BIGINT AS doc_id, lang, order_pos, pack_bucket,
       (before_tokens // 512)::BIGINT AS pack_chunk,
       (before_tokens % 512)::BIGINT AS pack_offset,
       n_tokens
FROM cum ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X44B — the capstone with the FUZZY funnel (VERDICT r10 next-round #5):
# x44's end-to-end pipeline with stage 1 swapped from curate_corpus to
# curate_corpus_fuzzy — the two round-10 flagships composed in ONE lazy
# plan. Corpus = the x38 plant (every doc + an exact copy (+1M) + a
# perturbed near-copy (+2M)) so the near-dup stage runs in anger;
# pair_mode='exact' keeps every stage deterministic, so the whole
# composition carries a full oracle: the x38 recursive-CTE chain feeding
# the x44 mixture/order/pack fragments verbatim.
# --------------------------------------------------------------------------


def q_pipeline_fuzzy_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.curation import curate_corpus_fuzzy
    from hbsir_old_spark.functions.sampling import (
        assign_global_order,
        pack_sequences,
        temperature_sample,
    )
    from hbsir_old_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    corpus = _explode_variants(
        docs,
        [F.col("doc_id"), F.col("text"), F.col("lang")],
        [(F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text"), F.col("lang")],
        [
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" perturbed suffix token")).alias("text"),
            F.col("lang"),
        ],
    )
    benchmark = docs.filter(F.col("doc_id") < 5).select("doc_id", "text")
    verdicts = curate_corpus_fuzzy(
        corpus.select("doc_id", "text"),
        benchmark,
        quality_threshold=0.0,
        shingle_n=5,
        near_n=2,
        near_threshold=0.5,
        pair_mode="exact",
    )
    # pin the narrow survivor frame once (the x44 precedent): the mixture
    # quota subtree and assign_global_order's count pass would otherwise
    # re-execute the whole five-stage fuzzy funnel per consumer
    kept = corpus.join(
        verdicts.filter(F.col("verdict") == "keep").select("doc_id"), "doc_id"
    ).localCheckpoint(eager=True)
    mixed = temperature_sample(
        kept, "lang", alpha=0.5, target_rows=200, order_col="doc_id"
    )
    ordered = assign_global_order(mixed, seed=11)
    packed = pack_sequences(
        ordered.withColumn("n_tokens", token_count("text").cast("long")),
        seq_len=512,
        token_col="n_tokens",
        order_col="order_pos",
    )
    return packed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "order_pos",
        "pack_bucket",
        F.col("pack_chunk").cast("long").alias("pack_chunk"),
        F.col("pack_offset").cast("long").alias("pack_offset"),
        "n_tokens",
    ).orderBy("doc_id")


def _sql_pipeline_fuzzy_e2e() -> str:
    # stage 1 is x38's oracle chain VERBATIM (stages 1-3 CTEs + the
    # survivor-universe n-gram Jaccard + recursive-CTE transitive closure
    # + contamination); the tail is x44's mixture/order/pack fragments
    return f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' perturbed suffix token' AS text,
         lang
  FROM documents
), {_sql_curation_stage13_ctes()}, univ AS (
  SELECT c.doc_id, c.text
  FROM corpus c
  JOIN lang l USING (doc_id)
  JOIN q USING (doc_id)
  JOIN canon USING (doc_id)
  WHERE l.lang_ok AND q.quality_pass AND canon.is_canonical
), ntoks AS (
  SELECT doc_id, string_split({_SQL_NORM_EXPR}, ' ') AS t FROM univ
), nsh AS (
  SELECT doc_id, {_sql_grams_expr(2)} AS s FROM ntoks
), nex AS (
  SELECT doc_id, unnest(s) AS g FROM nsh
), ncommon AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS c
  FROM nex a JOIN nex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), npairs AS (
  SELECT id_a, id_b
  FROM ncommon
  JOIN nsh sa ON sa.doc_id = id_a
  JOIN nsh sb ON sb.doc_id = id_b
  WHERE round(c / (len(sa.s) + len(sb.s) - c), 6) >= 0.5
), nedges AS (
  SELECT id_a AS u, id_b AS v FROM npairs
  UNION ALL
  SELECT id_b, id_a FROM npairs
), nreach AS (
  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM nedges)
  UNION
  SELECT e.u, r.comp FROM nedges e JOIN nreach r ON e.v = r.u
), nnonrep AS (
  SELECT u AS doc_id FROM nreach GROUP BY u HAVING u <> min(comp)
), {_sql_contamination_ctes()}, kept AS (
  SELECT c.doc_id, c.text, c.lang
  FROM corpus c
  JOIN lang l USING (doc_id) JOIN q USING (doc_id) JOIN canon USING (doc_id)
  LEFT JOIN nnonrep nn ON nn.doc_id = c.doc_id
  LEFT JOIN cont ON cont.doc_id = c.doc_id
  WHERE l.lang_ok AND q.quality_pass AND canon.is_canonical
    AND nn.doc_id IS NULL AND cont.doc_id IS NULL
), {_sql_mixture_ctes("kept", 200, ["doc_id", "text", "lang"])}, ordered AS (
  SELECT doc_id, text, lang,
         (row_number() OVER (
            ORDER BY md5('shuffle11|' || doc_id::VARCHAR), doc_id) - 1)::BIGINT
           AS order_pos
  FROM mixed
), toks AS (
  SELECT doc_id, lang, order_pos,
         coalesce(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                  x -> x <> '')), 0)::BIGINT AS n_tokens,
         substr(md5('pack' || '|' || order_pos::VARCHAR), 1, 2) AS pack_bucket
  FROM ordered
), cum AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY order_pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_tokens AS before_tokens
  FROM toks
)
SELECT doc_id::BIGINT AS doc_id, lang, order_pos, pack_bucket,
       (before_tokens // 512)::BIGINT AS pack_chunk,
       (before_tokens % 512)::BIGINT AS pack_offset,
       n_tokens
FROM cum ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X43 — deterministic global training-order shuffle: contiguous positions
# 0..n-1 in md5(seed|id) order, computed WITHOUT a global sort or an
# unpartitioned window (hash-prefix buckets are a deterministic coarse
# range partition; one 256-long count collect; per-bucket windowed
# row_number + broadcast offsets). Full oracle: DuckDB's row_number over
# the same md5 order replays it exactly.
# --------------------------------------------------------------------------


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.sampling import assign_global_order

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = assign_global_order(docs, seed=7)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "order_pos").orderBy(
        "doc_id"
    )


SQL_GLOBAL_SHUFFLE = r"""
SELECT doc_id::BIGINT AS doc_id,
       (row_number() OVER (
          ORDER BY md5('shuffle7|' || doc_id::VARCHAR), doc_id
        ) - 1)::BIGINT AS order_pos
FROM documents WHERE doc_id IS NOT NULL
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# X42 — product-quantization ANN (Jégou et al. 2011): m=4 subspace
# codebooks (ks=16, L2 Lloyd, deterministic hash init), corpus encoded to
# 4 codes/vector, per-query ADC table (m x ks subspace dots computed once),
# IVF coarse pruning (n_coarse=16, n_probe=4), exact-cosine refine of the
# top refine*k ADC candidates. Approximate => rows-only gate (q_cosine_topk
# is the exact baseline); recall + soundness floors pinned in
# tests/test_approx_quality.py.
# --------------------------------------------------------------------------


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb_d.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(
        emb_d,
        queries,
        k=5,
        m=4,
        ks=16,
        refine=4,
        n_coarse=16,
        n_probe=4,
        train_max_iter=4,
    )


# --------------------------------------------------------------------------
# X41 — exact-substring dedup REMOVAL (Lee et al. 2022 ExactSubstr, token-
# window form): every normalized 8-token window occurring in >= 2 distinct
# documents is a duplicated passage; keep='first' retains the smallest
# (doc_id, position) occurrence and cuts every other copy, reassembling the
# survivors in order. The removal counterpart of x32's statistic — both mark
# the same windows (the corpus carries real cross-doc duplication: 24 docs
# touched at sf0.01). Full oracle: DuckDB replays the normalization, the
# position windows, the distinct-doc ownership, the min-encoded canonical
# pick ((doc_id, pos) lexicographic == doc_id * 2^32 + pos for these
# non-negative, < 2^32 positions), the coverage union, and the ORDER BY-pos
# reassembly exactly.
# --------------------------------------------------------------------------


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbsir_old_spark.functions.dedup import remove_duplicate_passages

    # no _docs guard here: remove_duplicate_passages spreads its input itself
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = remove_duplicate_passages(docs, width=8, min_docs=2, keep="first")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
    ).orderBy("doc_id")


SQL_SUBSTRING_DEDUP = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
), toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t,
         string_split(trim(regexp_replace(translate(lower(text), 'ς', 'σ'),
                      '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ') AS nt
  FROM base WHERE text IS NOT NULL
), docs AS (
  SELECT doc_id, t, nt, len(t) AS n FROM toks WHERE len(t) >= 1
), occ AS (
  SELECT doc_id, n, i AS pos,
         md5(array_to_string(nt[i:i+7], ' ')) AS h
  FROM docs, unnest(range(1, greatest(n - 7, 1) + 1)) AS u(i)
), owners AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM occ)
  GROUP BY h HAVING count(*) >= 2
), dup_occ AS (
  SELECT o.doc_id, o.n, o.pos, o.h FROM occ o JOIN owners USING (h)
), canon AS (
  SELECT h, min(doc_id * 4294967296 + pos) AS c FROM dup_occ GROUP BY h
), cut AS (
  SELECT d.doc_id, d.n, d.pos FROM dup_occ d JOIN canon USING (h)
  WHERE d.doc_id * 4294967296 + d.pos <> c
), covered AS (
  SELECT DISTINCT doc_id, tp
  FROM cut, unnest(range(pos, least(pos + 7, n) + 1)) AS v(tp)
), tokpos AS (
  SELECT doc_id, i AS tp, t[i] AS tok
  FROM docs, unnest(range(1, n + 1)) AS u(i)
), kept AS (
  SELECT k.doc_id,
         string_agg(k.tok, ' ' ORDER BY k.tp) AS clean,
         count(*) AS nk
  FROM tokpos k LEFT JOIN covered c ON k.doc_id = c.doc_id AND k.tp = c.tp
  WHERE c.doc_id IS NULL
  GROUP BY k.doc_id
), ntok AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS ntk
  FROM base WHERE text IS NOT NULL
)
SELECT b.doc_id::BIGINT AS doc_id,
       CASE WHEN b.text IS NULL THEN NULL
            ELSE coalesce(k.clean, '') END AS text,
       coalesce(n2.ntk, 0)::BIGINT AS n_tokens,
       (coalesce(n2.ntk, 0) - coalesce(k.nk, 0))::BIGINT AS n_removed
FROM base b
LEFT JOIN ntok n2 USING (doc_id)
LEFT JOIN kept k USING (doc_id)
ORDER BY doc_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "a10_cube": q_cube,
        "a1_groupby_sum": q_groupby_sum,
        "a2_household_math": q_household_math,
        "a4_average_table": q_average_table,
        "a5_weighted_sum": q_weighted_sum,
        "a6_distinct_agg": q_distinct_agg,
        "a7_approx_distinct": q_approx_distinct,
        "a8_rollup": q_rollup,
        "a9_grouping_sets": q_grouping_sets,
        "f1_filter_predicates": q_filter_predicates,
        "f2_attribute_select": q_attribute_select,
        "f3_distinct": q_distinct,
        "g1_dsl_pipeline": q_dsl_pipeline,
        "g2_training_pipeline": q_training_pipeline,
        "g3_report_pivot_totals": q_report_pivot_totals,
        "g4_real_weighted_report": q_real_weighted_report,
        "g5_real_isc_summary": q_real_isc_summary,
        "g5b_isc_summary_1401": q_real_isc_summary_1401,
        "g6_poverty_rate": q_poverty_rate,
        "g7_income_brackets": q_income_brackets,
        "g8_isc_decile_table": q_isc_decile_table,
        "j10_local_supplier_revenue": q_local_supplier_revenue,
        "j1_classification_join": q_classification_join,
        "j2_dim_join_chain": q_dim_join_chain,
        "j3_weighted_average": q_weighted_average,
        "j6_fact_join": q_fact_join,
        "j8_geometry_join": q_geometry_join,
        "j8b_geometry_analytics": q_geometry_analytics,
        "j9_semi_anti": q_semi_anti_join,
        "l10_salted_skew_join": q_salted_skew_join,
        "l11_partitioned_write": q_partitioned_write,
        "l12_real_duration_aspect": q_real_duration_aspect,
        "l13_real_cpi_chain": q_real_cpi_chain,
        "l14_multi_year_food": q_multi_year_food,
        "l15_full_span_food": q_full_span_food,
        "l15b_partitioned_span": q_partitioned_span_food,
        "l16_monthly_cpi_chain": q_monthly_cpi_chain,
        "l17_real_income_chain": q_real_income_chain,
        "l18_real_outlay_chain": q_real_outlay_chain,
        "l1_form_raw_vs_cleaned": q_form_raw_vs_cleaned,
        "l2_setup_roundtrip": q_setup_roundtrip,
        "l3_real_corpus_food": q_real_corpus_food,
        "l4_real_household_decode": q_real_household_decode,
        "l5_real_occupation_classification": q_real_occupation_classification,
        "l6_local_override_decode": q_local_override_decode,
        "l7_jsonl_ingest": q_jsonl_ingest,
        "l8_orc_roundtrip": q_orc_roundtrip,
        "l9_bucketed_join": q_bucketed_join,
        "o1_top_k": q_top_k,
        "o2_rolling_window": q_rolling_window,
        "p11_season_derivation": q_season_derivation,
        "p13_cpi_deflation": q_cpi_deflation,
        "p16_id_digit_extraction": q_id_digit_extraction,
        "p17_map_lookup": q_map_lookup,
        "p18_melt": q_melt,
        "p19_pivot": q_pivot,
        "p23_json_extract": q_json_extract,
        "p24_interval_binning": q_interval_binning,
        "p4_string_scrub": q_string_scrub,
        "p7_computed_column": q_computed_column,
        "p8_category_conditions": q_category_conditions,
        "s10_stream_funnel": q_stream_funnel,
        "s11_path_trigrams": q_path_trigrams,
        "s1_events_tumbling": q_events_tumbling,
        "s2_events_sessions": q_events_sessions,
        "s3_events_sliding": q_events_sliding,
        "s4_upsert_sink": q_upsert_sink,
        "s5_batch_sessions": q_batch_sessions,
        "s6_interval_join": q_interval_join,
        "s7_stream_dedup": q_stream_dedup,
        "s8_funnel": q_funnel,
        "s9_retention": q_retention,
        "u1_union_missing_columns": q_union_missing_columns,
        "w1_weighted_ecdf": q_weighted_ecdf,
        "w2_decile": q_decile,
        "w3_quantile_by_variable": q_quantile_by_variable,
        "w4_approx_decile": q_approx_decile,
        "w4b_weighted_approx_decile": q_weighted_approx_decile,
        "x10_multimodal_features": q_multimodal_features,
        "x11_bpe_token_count": q_bpe_token_count,
        "x12_embedding_dedup": q_embedding_dedup,
        "x13_ivf_topk": q_ivf_topk,
        "x14_text_cleaning": q_text_cleaning,
        "x15_contamination_flag": q_contamination_flag,
        "x16_hash_split": q_hash_split,
        "x17_group_quota": q_group_quota,
        "x18_token_freq": q_token_freq,
        "x19_dup_clusters": q_dup_clusters,
        "x1_dedup_exact": q_dedup_exact,
        "x20_tfidf_top_terms": q_tfidf_top_terms,
        "x21_asof_attribution": q_asof_attribution,
        "x22_incremental_dedup": q_incremental_dedup,
        "x22b_bloom_dedup": q_bloom_dedup,
        "x23_best_rep_dedup": q_best_rep_dedup,
        "x24_token_budget": q_token_budget,
        "x25_repetition_filter": q_repetition_filter,
        "x26_kmeans_planted": q_kmeans_planted,
        "x27_semantic_dedup": q_semantic_dedup,
        "x28_sequence_pack": q_sequence_pack,
        "x29_temperature_sample": q_temperature_sample,
        "x2_ngram_jaccard": q_ngram_jaccard,
        "x30_lm_perplexity": q_lm_perplexity,
        "x31_dsir_select": q_dsir_select,
        "x32_dup_windows": q_dup_windows,
        "x33_quality_classifier": q_quality_classifier,
        "x34_curation_pipeline": q_curation_pipeline,
        "x35_perplexity_prune": q_perplexity_prune,
        "x36_boilerplate_removal": q_boilerplate_removal,
        "x37_context_chunking": q_chunk_documents,
        "x38_curation_fuzzy": q_curation_fuzzy,
        "x38b_curation_fuzzy_lsh": q_curation_fuzzy_lsh,
        "x39_gopher_rules": q_gopher_rules,
        "x3_minhash_lsh": q_minhash_lsh,
        "x40_c4_filter": q_c4_filter,
        "x41_substring_dedup": q_substring_dedup,
        "x42_pq_topk": q_pq_topk,
        "x42b_pq_encode": q_pq_encode_fixed,
        "x43_global_shuffle": q_global_shuffle,
        "x44_pipeline_e2e": q_pipeline_e2e,
        "x44b_pipeline_fuzzy": q_pipeline_fuzzy_e2e,
        "x45_bpe_learned": q_bpe_learned,
        "x45b_bpe_encode": q_bpe_encode_fixed,
        "x46_corpus_refresh": q_corpus_refresh,
        "x47_audio_decode": q_audio_decode_stats,
        "x48_resize_nearest": q_resize_stats,
        "x48b_resize_bilinear": q_resize_bilinear_stats,
        "x49_image_dedup": q_image_dedup,
        "x4_simhash_pairs": q_simhash_pairs,
        "x50_multimodal_capstone": q_multimodal_capstone,
        "x51_image_near_dedup": q_image_near_dedup,
        "x52_audio_near_dedup": q_audio_near_dedup,
        "x5_text_stats": q_text_stats,
        "x6_lang_id": q_lang_id,
        "x7_rolling_fingerprint": q_rolling_fingerprint,
        "x8_cosine_topk": q_cosine_topk,
        "x9_ann_lsh": q_ann_lsh,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "a1_groupby_sum": SQL_GROUPBY_SUM,
        "p7_computed_column": SQL_COMPUTED_COLUMN,
        "p8_category_conditions": SQL_CATEGORY_CONDITIONS,
        "p4_string_scrub": SQL_STRING_SCRUB,
        "p11_season_derivation": SQL_SEASON_DERIVATION,
        "p16_id_digit_extraction": SQL_ID_DIGIT_EXTRACTION,
        "p17_map_lookup": SQL_MAP_LOOKUP,
        "p18_melt": SQL_MELT,
        "p19_pivot": SQL_PIVOT,
        "f1_filter_predicates": SQL_FILTER_PREDICATES,
        "f2_attribute_select": SQL_ATTRIBUTE_SELECT,
        "f3_distinct": SQL_DISTINCT,
        "j1_classification_join": SQL_CLASSIFICATION_JOIN,
        "j3_weighted_average": SQL_WEIGHTED_AVERAGE,
        "j2_dim_join_chain": SQL_DIM_JOIN_CHAIN,
        "j6_fact_join": SQL_FACT_JOIN,
        "a2_household_math": SQL_HOUSEHOLD_MATH,
        "a4_average_table": SQL_AVERAGE_TABLE,
        "a5_weighted_sum": SQL_WEIGHTED_SUM,
        "w1_weighted_ecdf": SQL_WEIGHTED_ECDF,
        "w2_decile": SQL_DECILE,
        "o1_top_k": SQL_TOP_K,
        "u1_union_missing_columns": SQL_UNION_MISSING_COLUMNS,
        "p13_cpi_deflation": SQL_CPI_DEFLATION,
        "s1_events_tumbling": SQL_EVENTS_TUMBLING,
        "s2_events_sessions": SQL_EVENTS_SESSIONS,
        "s3_events_sliding": SQL_EVENTS_SLIDING,
        "a6_distinct_agg": SQL_DISTINCT_AGG,
        "p23_json_extract": SQL_JSON_EXTRACT,
        "g2_training_pipeline": SQL_TRAINING_PIPELINE,
        "a8_rollup": SQL_ROLLUP,
        "j9_semi_anti": SQL_SEMI_ANTI_JOIN,
        "x14_text_cleaning": SQL_TEXT_CLEANING,
        "x15_contamination_flag": SQL_CONTAMINATION_FLAG,
        # a7_approx_distinct: HLL sketch, approximate by design => rows-only
        # check; a6_distinct_agg is the exact twin.
        "x1_dedup_exact": SQL_DEDUP_EXACT,
        "x2_ngram_jaccard": SQL_NGRAM_JACCARD,
        # x3_minhash_lsh / x4_simhash_pairs / x9_ann_lsh: approximate by
        # design (LSH recall < 1) — rows-only driver check; exact twins
        # x2_ngram_jaccard / x8_cosine_topk carry full oracles.
        "x5_text_stats": SQL_TEXT_STATS,
        "x6_lang_id": _sql_lang_id(),
        "x7_rolling_fingerprint": SQL_ROLLING_FINGERPRINT,
        "x8_cosine_topk": SQL_COSINE_TOPK,
        "x10_multimodal_features": SQL_MULTIMODAL_FEATURES,
        "x47_audio_decode": SQL_AUDIO_DECODE_STATS,
        # round 13: the r12-staged resize family + the mixed-modality capstone
        "x48_resize_nearest": SQL_RESIZE_STATS,
        "x48b_resize_bilinear": SQL_RESIZE_BILINEAR_STATS,
        "x49_image_dedup": SQL_IMAGE_DEDUP,
        "x50_multimodal_capstone": SQL_MULTIMODAL_CAPSTONE,
        "x51_image_near_dedup": SQL_IMAGE_NEAR_DEDUP,
        "x52_audio_near_dedup": SQL_AUDIO_NEAR_DEDUP,
        "x11_bpe_token_count": SQL_BPE_TOKEN_COUNT,
        "x12_embedding_dedup": SQL_EMBEDDING_DEDUP,
        "g1_dsl_pipeline": SQL_DSL_PIPELINE,
        "l1_form_raw_vs_cleaned": SQL_FORM_RAW_VS_CLEANED,
        "l2_setup_roundtrip": SQL_SETUP_ROUNDTRIP,
        "j8_geometry_join": SQL_GEOMETRY_JOIN,
        "j8b_geometry_analytics": SQL_GEOMETRY_ANALYTICS,
        "x16_hash_split": SQL_HASH_SPLIT,
        "x17_group_quota": SQL_GROUP_QUOTA,
        "x18_token_freq": SQL_TOKEN_FREQ,
        "g3_report_pivot_totals": SQL_REPORT_PIVOT_TOTALS,
        # w4b_weighted_approx_decile: approximate by design => rows-only;
        # w2_decile is the exact oracle-checked twin (>=99% agreement pinned
        # in tests/test_approx_quality.py).
        "s4_upsert_sink": SQL_UPSERT_SINK,
        "x19_dup_clusters": SQL_DUP_CLUSTERS,
        "x20_tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
        "x21_asof_attribution": SQL_ASOF_ATTRIBUTION,
        "x22_incremental_dedup": SQL_INCREMENTAL_DEDUP,
        "x22b_bloom_dedup": _sql_bloom_dedup(),
        "a9_grouping_sets": SQL_GROUPING_SETS,
        # round 5
        "l3_real_corpus_food": SQL_REAL_CORPUS_FOOD,
        "a10_cube": SQL_CUBE,
        "o2_rolling_window": SQL_ROLLING_WINDOW,
        "s5_batch_sessions": SQL_BATCH_SESSIONS,
        "s8_funnel": SQL_FUNNEL,
        "s9_retention": SQL_RETENTION,
        "s10_stream_funnel": SQL_STREAM_FUNNEL,
        "s11_path_trigrams": SQL_PATH_TRIGRAMS,
        "x45b_bpe_encode": SQL_BPE_ENCODE_FIXED,
        "j10_local_supplier_revenue": SQL_LOCAL_SUPPLIER_REVENUE,
        "x46_corpus_refresh": _sql_corpus_refresh(),
        "l4_real_household_decode": SQL_REAL_HOUSEHOLD_DECODE,
        "x23_best_rep_dedup": SQL_BEST_REP_DEDUP,
        "l5_real_occupation_classification": SQL_REAL_OCCUPATION_CLASSIFICATION,
        "s6_interval_join": SQL_INTERVAL_JOIN,
        "l6_local_override_decode": SQL_LOCAL_OVERRIDE_DECODE,
        "g4_real_weighted_report": SQL_REAL_WEIGHTED_REPORT,
        "g5_real_isc_summary": SQL_REAL_ISC_SUMMARY,
        "g5b_isc_summary_1401": SQL_REAL_ISC_SUMMARY_1401,
        "g8_isc_decile_table": SQL_ISC_DECILE_TABLE,
        "x25_repetition_filter": SQL_REPETITION_FILTER,
        "x26_kmeans_planted": SQL_KMEANS_PLANTED,
        "x27_semantic_dedup": SQL_SEMANTIC_DEDUP,
        "s7_stream_dedup": SQL_STREAM_DEDUP,
        "x28_sequence_pack": SQL_SEQUENCE_PACK,
        "x29_temperature_sample": _sql_temperature_sample(),
        "x30_lm_perplexity": SQL_LM_PERPLEXITY,
        "l7_jsonl_ingest": SQL_JSONL_INGEST,
        "l8_orc_roundtrip": SQL_ORC_ROUNDTRIP,
        "l9_bucketed_join": SQL_BUCKETED_JOIN,
        "l10_salted_skew_join": SQL_SALTED_SKEW_JOIN,
        "l11_partitioned_write": SQL_PARTITIONED_WRITE,
        "l12_real_duration_aspect": SQL_REAL_DURATION_ASPECT,
        "l13_real_cpi_chain": SQL_REAL_CPI_CHAIN,
        "l14_multi_year_food": SQL_MULTI_YEAR_FOOD,
        "l15_full_span_food": SQL_FULL_SPAN_FOOD,
        # l15b reads the same 39-year workload from the Year-partitioned
        # layout — identical semantics, identical oracle
        "l15b_partitioned_span": SQL_FULL_SPAN_FOOD,
        "g6_poverty_rate": SQL_POVERTY_RATE,
        "p24_interval_binning": SQL_INTERVAL_BINNING,
        "g7_income_brackets": SQL_INCOME_BRACKETS,
        "x36_boilerplate_removal": SQL_BOILERPLATE_REMOVAL,
        "x37_context_chunking": SQL_CHUNK_DOCUMENTS,
        "x39_gopher_rules": SQL_GOPHER_RULES,
        "x40_c4_filter": SQL_C4_FILTER,
        "x41_substring_dedup": SQL_SUBSTRING_DEDUP,
        "x43_global_shuffle": SQL_GLOBAL_SHUFFLE,
        "x44_pipeline_e2e": _sql_pipeline_e2e(),
        "x44b_pipeline_fuzzy": _sql_pipeline_fuzzy_e2e(),
        "x42b_pq_encode": _sql_pq_encode_fixed(),
        "x34_curation_pipeline": _sql_curation_pipeline(),
        # x38b_curation_fuzzy_lsh: approximate by design (LSH recall < 1)
        # => rows-only; x38_curation_fuzzy is the exact-pair twin with the
        # full recursive-CTE oracle below.
        "x38_curation_fuzzy": _sql_curation_fuzzy(),
        "x35_perplexity_prune": SQL_PERPLEXITY_PRUNE,
        "l16_monthly_cpi_chain": SQL_MONTHLY_CPI_CHAIN,
        "w3_quantile_by_variable": SQL_QUANTILE_BY_VARIABLE,
        "l17_real_income_chain": SQL_REAL_INCOME_CHAIN,
        "l18_real_outlay_chain": SQL_REAL_OUTLAY_CHAIN,
        "x33_quality_classifier": SQL_QUALITY_CLASSIFIER,
        "x31_dsir_select": SQL_DSIR_SELECT,
        "x32_dup_windows": SQL_DUP_WINDOWS,
        "x24_token_budget": SQL_TOKEN_BUDGET,
    }
