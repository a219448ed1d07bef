"""The query catalog: SURVEY.md §2's operator inventory as runnable queries.

Every entry pairs a Spark DataFrame program with the ANSI-SQL oracle DuckDB
runs over the same parquet tables (driver contract, __spark_entry__.py).
Column names and value representations are engineered to hash-match across
engines:

- money/metric sums go through DECIMAL(18,2/4/6) so the aggregation is exact
  integer arithmetic (double summation order differs between engines), then
  cast back to DOUBLE (deterministic);
- averages are expressed as decimal-sum / count (one double division);
- timestamps in output are formatted to strings (ns/us precision differs);
- cross-engine hashing uses md5 (both engines) and the 60-bit
  ``hash64`` primitive (functions/hashing.py) =
  ``('0x' || substring(md5(seed || v), 1, 15))::BIGINT`` in DuckDB.

Reference parity notes cite /root/reference file:line in each docstring.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ctcityscraper_spark.functions.coercion import money_col, normalize_key
from ctcityscraper_spark.functions.hashing import hash64, row_hash_col
from ctcityscraper_spark.plans.tables import load_table


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False
    doc: str = ""


QUERIES: dict[str, Query] = {}


# a CTE definition: ``name AS (`` right after WITH, RECURSIVE or a comma
# (so ``WINDOW w AS (`` and a recursive ``walk(a, b) AS (`` never match)
_CTE_DEF = re.compile(r"((?:\bWITH|\bRECURSIVE|,)\s+)(\w+) AS \(")


def materialize_ctes(sql: str) -> str:
    """Mark every plain CTE of an oracle ``MATERIALIZED``.

    DuckDB inlines a plain CTE at each reference, so a CTE read from k
    places re-runs its whole upstream k times, compounding down a chain:
    the BPE merge replay reads each ``m{k}`` four times per merge step,
    and the dedup walk oracles re-derive their cascade pairs per
    recursion step. Materialized, every CTE runs once and the result is
    the same.
    """
    return _CTE_DEF.sub(r"\1\2 AS MATERIALIZED (", sql)


def query(name: str, oracle: str | None, headline: bool = False):
    def deco(fn):
        QUERIES[name] = Query(
            fn=fn,
            oracle=None if oracle is None else materialize_ctes(oracle),
            headline=headline,
            doc=fn.__doc__ or "",
        )
        return fn

    return deco


def query_catalog() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql_catalog() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec_sum(c, scale: int = 2):
    """Cross-engine-exact sum of a double column: decimal-cast, sum, double."""
    return F.sum(F.col(c).cast(f"decimal(18,{scale})")).cast("double")


# =========================================================================
# Scans / projections / filters  (SURVEY §2.1 S1-S2, §2.2 P1-P7)
# =========================================================================


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) / 1000000.0 AS sum_disc_price,
           (SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q_pricing_summary(spark, sf_dir):
    """Flagship: TPC-H Q1-shaped scan+filter+agg (SURVEY §2.2 P4, §2.4 A1/A2).

    The filter and the 5-column projection reach the parquet scan (pushdown +
    pruning); aggregation is partial map-side then final — one shuffle.

    Exactness scheme: fixed-point integer sums (cents / micros) — ~2x faster
    than decimal aggregation and still bit-identical across engines because
    the pre-round values sit at integer +/- fp-epsilon (2dp/4dp source data),
    never at a .5 boundary, and long sums are order-independent.

    No parallelize_scan here: the per-row work is a handful of codegen'd
    arithmetic ops, far below parquet-decode cost, so repartitioning the
    unsplittable testdata file only adds a full-table shuffle (measured 3x
    slower). The repartition guard is for hash-heavy operators (md5 per
    shingle), where downstream CPU dominates the scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    qty_cents = F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
    price_cents = F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
    disc_micros = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1_000_000).cast("long")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (qty_cents / 100.0).alias("sum_qty"),
            (price_cents / 100.0).alias("sum_base_price"),
            (disc_micros / 1_000_000.0).alias("sum_disc_price"),
            ((qty_cents / 100.0) / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity > 45
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q_scan_filter_project(spark, sf_dir):
    """Projection + range/equality predicates pushed to parquet (P3/P4/P7;
    reference src/engine/database.py:74-79, scrapers/vgsi/source.py:850-859)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
            & (F.col("l_quantity") > 45)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "distinct_sort",
    oracle="""
    SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
    """,
)
def q_distinct_sort(spark, sf_dir):
    """DISTINCT projection + sort — the reference's known-entry-ids scan
    (P1/P2/A3; src/engine/database.py:218-244: SELECT DISTINCT {col} ORDER BY)."""
    return _t(spark, sf_dir, "orders").select("o_orderpriority").distinct().orderBy("o_orderpriority")


@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk_orders(spark, sf_dir):
    """ORDER BY ... LIMIT top-k (O2/O3) — Spark plans TakeOrderedAndProject,
    a partial per-partition top-k with no full sort at scale."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# =========================================================================
# Joins  (SURVEY §2.3 J1-J4)
# =========================================================================


@query(
    "join_agg_by_segment",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    headline=True,
)
def q_join_agg_by_segment(spark, sf_dir):
    """Equi inner join parent<->child (J1; reference tests/test_engine.py:404-412)
    + group agg. Customer is the small dim — broadcast it to kill the shuffle."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("order_count"),
            _dec_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "join_star_three_way",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
)
def q_join_star_three_way(spark, sf_dir):
    """Multi-hop dimension join (J1/J4 lookup-join shape): both dims broadcast;
    zero shuffles before the final aggregation."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("customers"),
            _dec_sum("c_acctbal").alias("total_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def q_anti_join(spark, sf_dir):
    """Left anti join — the reference's hash-dedup shape (J2/D2;
    src/engine/database.py:139-149: drop rows whose hash exists already).
    The contract is NOT EXISTS, which is what Spark's left_anti implements:
    a NOT IN oracle looks equivalent until the key column contains a NULL,
    at which point three-valued logic empties the whole result
    (adversarial gate)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "semi_join_parts_in_lineitem",
    oracle="""
    SELECT p_brand, COUNT(*) AS parts_used
    FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_semi_join(spark, sf_dir):
    """Left semi join (EXISTS shape)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("parts_used"))
        .orderBy("p_brand")
    )


# =========================================================================
# Aggregations  (SURVEY §2.4 A1-A3 + rollup per §2.4 note)
# =========================================================================


@query(
    "groupby_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_groupby_rollup(spark, sf_dir):
    """ROLLUP grouping sets — free from Catalyst once a SQL surface exists
    (SURVEY §2.4: 'Spark provides them for free')."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "groupby_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_groupby_cube(spark, sf_dir):
    """CUBE grouping sets (all 4 combinations) — §2.4's 'free from Catalyst'
    family alongside rollup."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), _dec_sum("o_totalprice").alias("revenue"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "groupby_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_groupby_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (neither rollup nor cube: the two
    single-column marginals only), completing §2.4's grouping family via
    the SQL surface — one Expand + one aggregate shuffle."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


@query(
    "conditional_pivot_agg",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS clicks,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS errors
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q_conditional_pivot_agg(spark, sf_dir):
    """Pivot-style conditional aggregation (A5 running-counters shape,
    reference src/engine/engine.py:196-199 re-expressed declaratively)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("errors"),
        )
        .orderBy("user_id")
    )


# =========================================================================
# Window functions — the SCD2 heart  (SURVEY §2.5 W1-W5)
# =========================================================================
# Entity model per FIXTURES.md §B: events.user_id is the entity key, ts the
# version order, and md5(event_type) the content hash — the same queries the
# engine runs over scraped tables (operators/scd2.py), exercised on the
# driver's synthetic stream.


@query(
    "scd2_latest_state",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
    headline=True,
)
def q_scd2_latest_state(spark, sf_dir):
    """W1 latest-state view (reference README.md:126-128): newest row per
    entity via ROW_NUMBER over a descending window."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts_ns").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


@query(
    "scd2_history_versions",
    oracle="""
    SELECT user_id, event_id, event_type, version FROM (
        SELECT *,
            LAG(md5(event_type)) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev_hash,
            md5(event_type) AS row_hash,
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS version
        FROM events
    ) WHERE row_hash != prev_hash OR prev_hash IS NULL
    ORDER BY user_id, version
    """,
)
def q_scd2_history(spark, sf_dir):
    """W2+W3+W4 history view (reference scrapers/vgsi/source.py:813-837):
    LAG(hash) + ROW_NUMBER, keep version boundaries only. Version order
    pins NULL scrape-times FIRST (oldest/unknown — Spark's ASC default;
    the oracle says NULLS FIRST explicitly because DuckDB defaults the
    other way, which shifted every later version number on dirty data)."""
    ev = _t(spark, sf_dir, "events").withColumn("row_hash", F.md5("event_type"))
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return (
        ev.withColumns(
            {"prev_hash": F.lag("row_hash").over(w), "version": F.row_number().over(w)}
        )
        .filter((F.col("row_hash") != F.col("prev_hash")) | F.col("prev_hash").isNull())
        .select("user_id", "event_id", "event_type", "version")
        .orderBy("user_id", "version")
    )


@query(
    "scd2_changed_since",
    oracle="""
    SELECT user_id, event_id, event_type FROM (
        SELECT *, LAG(md5(event_type)) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev_hash,
               md5(event_type) AS row_hash
        FROM events
    )
    WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      AND prev_hash IS NOT NULL AND row_hash != prev_hash
    ORDER BY user_id, event_id
    """,
)
def q_scd2_changed_since(spark, sf_dir):
    """W5 changed-since CDC view (reference scrapers/vgsi/source.py:840-864):
    window over FULL history, then cutoff + changed-hash filter."""
    ev = _t(spark, sf_dir, "events").withColumn("row_hash", F.md5("event_type"))
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    cutoff_ns = 1705363200 * 10**9  # 2024-01-16 00:00:00 UTC
    return (
        ev.withColumn("prev_hash", F.lag("row_hash").over(w))
        .filter(
            (F.col("ts_ns") >= F.lit(cutoff_ns))
            & F.col("prev_hash").isNotNull()
            & (F.col("row_hash") != F.col("prev_hash"))
        )
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id", "event_id")
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_running_total(spark, sf_dir):
    """Running-frame window aggregate (beyond the reference's rank-style
    frames — §2.5 notes none exist there; first-class here)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("running_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# =========================================================================
# Set operations  (SURVEY §2.7 U1-U3)
# =========================================================================


@query(
    "union_by_name",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n FROM (
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderdate <  TIMESTAMP '1998-01-01'
        UNION ALL
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    ) GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_union_by_name(spark, sf_dir):
    """unionByName across drifted column orders (U1 — the reference's
    union_by_name compaction read, src/engine/database.py:275)."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    a = orders.filter(F.col("o_orderdate") < cut).select("o_orderkey", "o_orderstatus")
    b = orders.filter(F.col("o_orderdate") >= cut).select("o_orderstatus", "o_orderkey")
    return (
        a.unionByName(b)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderstatus")
    )


@query(
    "except_lapsed_customers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    ORDER BY custkey
    """,
)
def q_except_lapsed(spark, sf_dir):
    """EXCEPT set op (the reference only has anti-join EXCEPT-semantics, §2.7)."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("timestamp_ntz")
    early = orders.filter(F.col("o_orderdate") < cut).select(F.col("o_custkey").alias("custkey"))
    late = orders.filter(F.col("o_orderdate") >= cut).select(F.col("o_custkey").alias("custkey"))
    return early.subtract(late).orderBy("custkey")  # EXCEPT (distinct) semantics


# =========================================================================
# Scalar functions  (SURVEY §2.8 F1-F12)
# =========================================================================


@query(
    "money_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) / 100.0 AS parsed
    FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey
    """,
)
def q_money_roundtrip(spark, sf_dir):
    """F1 money coercion round-trip: build "$1,234.56" from integer cents,
    parse back with money_col (reference _handle_money,
    scrapers/vgsi/source.py:134-145). Integer-exact across engines."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    money_text = F.concat(
        F.lit("$"),
        F.format_number((cents / F.lit(100.0)), 2),  # adds thousands commas
    )
    return orders.select(
        "o_orderkey",
        cents.alias("cents"),
        money_col(money_text).alias("parsed"),
    ).orderBy("o_orderkey")


@query(
    "string_normalize",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
               lower(trim(source || ' Area:', ' ')), '[ \t\n\v\f\r:]+$', ''), '&', 'and'), '[ \t\n\v\f\r]+', '_', 'g')
               AS norm_key,
           length(trim(text, ' ')) AS text_len
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def q_string_normalize(spark, sf_dir):
    """F3/F6 string cleanup + key normalization (reference
    scrapers/vgsi/source.py:170-174, 421-424)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        normalize_key(F.concat(F.col("source"), F.lit(" Area:"))).alias("norm_key"),
        F.length(F.trim("text")).alias("text_len"),
    ).orderBy("doc_id")


@query(
    "regex_extract_tokens",
    oracle="""
    SELECT regexp_extract(text, '(customer|supplier|window)', 1) AS token, COUNT(*) AS n
    FROM documents
    WHERE regexp_matches(text, '(customer|supplier|window)')
    GROUP BY token ORDER BY token
    """,
)
def q_regex_extract(spark, sf_dir):
    """F10 regex extraction (reference city-link regex,
    scrapers/vgsi/source.py:721-733)."""
    docs = _t(spark, sf_dir, "documents")
    pat = "(customer|supplier|window)"
    return (
        docs.filter(F.col("text").rlike(pat))
        .select(F.regexp_extract("text", pat, 1).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy("token")
    )


@query(
    "date_bucket_monthly",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY month ORDER BY month
    """,
)
def q_date_bucket_monthly(spark, sf_dir):
    """F11 timestamp functions: month bucketing + agg (reference stamps and
    formats timestamps at src/engine/database.py:57,125,192)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count("*").alias("orders"), _dec_sum("o_totalprice").alias("revenue"))
        .orderBy("month")
    )


@query(
    "json_extract_props",
    oracle="""
    SELECT CASE WHEN json_valid(props)
                THEN json_extract_string(props, '$.k') END AS k_value,
           COUNT(*) AS n
    FROM events GROUP BY k_value ORDER BY CAST(k_value AS BIGINT)
    """,
)
def q_json_extract(spark, sf_dir):
    """F8/F9 JSON escape hatch: extract from the props JSON-string column
    (the reference's extra_fields pattern, scrapers/vgsi/source.py:301-330).
    Dirty-data contract: malformed / empty / NULL JSON yields NULL — what
    Spark's get_json_object does natively; the oracle needs the explicit
    json_valid guard because DuckDB's json_extract_string ERRORS on
    malformed input (adversarial gate)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").alias("k_value"))
        .groupBy("k_value")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("k_value").cast("long"))
    )


@query(
    "row_hash_content",
    oracle="""
    SELECT md5('{' || concat_ws(',',
               CASE WHEN o_orderpriority IS NOT NULL
                    THEN '"o_orderpriority":"' || o_orderpriority || '"' END,
               CASE WHEN o_orderstatus IS NOT NULL
                    THEN '"o_orderstatus":"' || o_orderstatus || '"' END)
               || '}') AS row_hash,
           COUNT(*) AS n
    FROM orders GROUP BY row_hash ORDER BY row_hash
    """,
)
def q_row_hash_content(spark, sf_dir):
    """F4 canonical row hash, cross-engine: md5 over sorted-key JSON of
    string-cast fields (reference src/engine/hash.py:27-40; engine twin is
    functions/hashing.row_hash_col)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            row_hash_col(["o_orderstatus", "o_orderpriority"]).alias("row_hash")
        )
        .groupBy("row_hash")
        .agg(F.count("*").alias("n"))
        .orderBy("row_hash")
    )


@query(
    "groupby_salted_skew",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_groupby_salted_skew(spark, sf_dir):
    """Salted two-phase aggregation (operators/skew.salted_agg) over the
    lake's hottest key shape: event_type has a handful of values covering
    the whole table — the power-law key that melts a single reducer at
    100 TB. Phase 1 aggregates per (key, salt ∈ [0,16)) so the heavy
    combine spreads across 16× more groups; phase 2 merges one row per
    (key, salt) pair. The salt is NONDETERMINISTIC (F.rand) — the hash
    match against the plain GROUP BY oracle is therefore the proof that
    the decomposition is salt-independent: count/min/max are associative
    and the value sum stays on the DECIMAL path through BOTH phases (no
    float reassociation can leak the salt choice into the result; the
    double cast happens once, after the exact merge)."""
    from ctcityscraper_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    out = salted_agg(
        ev,
        ["event_type"],
        [
            F.count("*").alias("pn"),
            F.sum(dec).alias("pv"),
            F.min("ts").alias("pf"),
            F.max("ts").alias("pl"),
        ],
        [
            F.sum("pn").alias("n_events"),
            F.sum("pv").cast("double").alias("total_value"),
            F.min("pf").alias("first_ts"),
            F.max("pl").alias("last_ts"),
        ],
    )
    return out.select(
        "event_type", "n_events", "total_value", "first_ts", "last_ts"
    ).orderBy("event_type")


@query(
    "join_salted_skew",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q_join_salted_skew(spark, sf_dir):
    """Skew-safe equi-join (operators/skew.salted_join): the fact side is
    salted with a nondeterministic salt ∈ [0,16) and the dimension side
    is exploded 16×, so one hot key's rows spread over 16 tasks instead
    of melting one — the in-between regime where the dimension is too
    big to broadcast and the key too skewed for a plain shuffle join
    (below broadcast size, use broadcast(); AQE skew-split covers
    sort-merge joins — this is the aggregation-side tool the planner
    doesn't have). The hash match against the plain-join oracle proves
    the salt never changes the JOIN RESULT: every (fact row, dim row)
    pair matches on exactly one salt value, and the rollup rides the
    decimal path so no float reassociation leaks task boundaries."""
    from ctcityscraper_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        salted_join(orders, customer, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# =========================================================================
# Event-time windows (streaming semantics in batch; SURVEY §2.10 note)
# =========================================================================


@query(
    "events_tumbling_6h",
    oracle="""
    SELECT (epoch_ns(ts) // 21600000000000) AS bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type
    """,
    headline=True,
)
def q_events_tumbling(spark, sf_dir):
    """Tumbling 6h event-time window aggregate — integer ns bucketing so the
    oracle matches exactly; the streaming twin uses F.window (streaming/)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.expr("ts_ns div 21600000000000").alias("bucket"), "event_type"
        )
        .agg(F.count("*").alias("n"), _dec_sum("value").alias("total_value"))
        .orderBy("bucket", "event_type")
    )


@query(
    "events_sessionization",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > 3600000000000
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id, session_id, COUNT(*) AS events_in_session
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q_events_sessionization(spark, sf_dir):
    """Session windows (1h inactivity gap) derived with lag + running sum —
    the batch twin of streaming session windows. NULL event-time rows are
    excluded (no time, no session — a streaming engine would drop them at
    the watermark), and every ORDER BY carries the event_id tiebreaker:
    with exact-duplicate timestamps — certain at 100 TB — an untied
    running sum is nondeterministic and engines disagree (adversarial
    gate)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gap_ns = 3600 * 10**9
    with_flag = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts_ns") - F.lag("ts_ns").over(w) > gap_ns)
            | F.lag("ts_ns").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    run = Window.partitionBy("user_id").orderBy("ts_ns", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        with_flag.withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("events_in_session"))
        .orderBy("user_id", "session_id")
    )


# =========================================================================
# Wider analytics: TPC-H classic shapes, quantiles, sliding windows,
# deterministic entity identity (capabilities a full engine owes its users)
# =========================================================================


@query(
    "top_revenue_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    headline=True,
)
def q_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, filters on both fact sides, group-agg,
    deterministic top-k. Customer dim broadcasts; orders<->lineitem is the
    one real shuffle."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            ).cast("double").alias("revenue")
        )
        .select("o_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "regional_customer_revenue",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(DISTINCT o_custkey) AS active_customers
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
)
def q_regional_customer_revenue(spark, sf_dir):
    """TPC-H Q5 shape: fact -> dim chain (customer/nation/region all
    broadcast) with COUNT(DISTINCT) — one shuffle for the distinct expand."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _dec_sum("o_totalprice").alias("revenue"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "quantiles_by_status",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_quantiles_by_status(spark, sf_dir):
    """Exact interpolated percentiles per group — Spark ``percentile`` and
    DuckDB ``quantile_cont`` agree bit-for-bit (verified; both sort-exact)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "events_sliding_1h_30m",
    oracle="""
    SELECT slot, event_type, COUNT(*) AS n FROM (
        SELECT unnest([
                 (epoch_ns(ts) // 1800000000000),
                 (epoch_ns(ts) // 1800000000000) - 1
               ]) AS slot,
               event_type
        FROM events
    ) GROUP BY slot, event_type ORDER BY slot, event_type
    """,
)
def q_events_sliding(spark, sf_dir):
    """Sliding event-time windows (1h length, 30m slide) via explode over
    the 2 covering slots — integer-exact; the streaming twin is
    streaming.sliding_window_counts (F.window)."""
    ev = _t(spark, sf_dir, "events")
    slot0 = F.expr("ts_ns div 1800000000000")
    return (
        ev.select(
            F.explode(F.array(slot0, slot0 - 1)).alias("slot"), "event_type"
        )
        .groupBy("slot", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("slot", "event_type")
    )


@query(
    "entity_uuid_identity",
    oracle="""
    SELECT o_orderkey,
           substring(h, 1, 8) || '-' || substring(h, 9, 4) || '-' ||
           substring(h, 13, 4) || '-' || substring(h, 17, 4) || '-' ||
           substring(h, 21, 12) AS entity_uuid
    FROM (
        SELECT o_orderkey,
               md5(CAST(o_orderkey AS VARCHAR) ||
                   '{"o_orderpriority":"' || o_orderpriority ||
                   '","o_orderstatus":"' || o_orderstatus || '"}') AS h
        FROM orders
    ) WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey
    """,
)
def q_entity_uuid_identity(spark, sf_dir):
    """F5 deterministic entity UUID (reference generate_uuid,
    scrapers/vgsi/source.py:182-194): md5(entry_id || canonical JSON),
    dict-order independent, formatted 8-4-4-4-12."""
    from ctcityscraper_spark.functions.hashing import entity_uuid_col

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    return orders.select(
        "o_orderkey",
        entity_uuid_col("o_orderkey", ["o_orderstatus", "o_orderpriority"]).alias(
            "entity_uuid"
        ),
    ).orderBy("o_orderkey")


@query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS cohort_day
        FROM events GROUP BY user_id)
    SELECT f.cohort_day AS cohort_day,
           strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS activity_day,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY cohort_day, activity_day
    """,
)
def q_events_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen day, counted
    distinct per activity day. Two shuffles (first-seen agg on user_id,
    final agg); the cohort frame is one row per user, so at scale the join
    back is a plain shuffled equi-join on user_id — no window over the full
    event log."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_format(F.min(F.to_date("ts")), "yyyy-MM-dd").alias("cohort_day")
    )
    return (
        ev.join(firsts, "user_id")
        .groupBy("cohort_day", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("activity_day"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "activity_day")
    )


@query(
    "events_funnel_ordered",
    oracle="""
    WITH s AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts > s.t1 GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after,
           (SELECT count(*) FROM p) AS n_purchase_after,
           (SELECT count(*) FROM p) / (SELECT count(*) FROM s) AS conversion
    """,
)
def q_events_funnel_ordered(spark, sf_dir):
    """Ordered funnel signup → click → purchase: stepwise earliest-ts
    joins (each stage's min ts must follow the previous stage's), counts
    per stage plus one exact-division conversion rate. Each stage is one
    filtered agg + an equi-join on user_id — linear in events, no window
    over per-user full histories."""
    ev = _t(spark, sf_dir, "events")

    def stage(event_type, prev=None, prev_t=None):
        e = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return e.groupBy("user_id").agg(F.min("ts").alias(f"t_{event_type}"))

    s = stage("signup")
    c = stage("click", s, "t_signup")
    p = stage("purchase", c, "t_click")
    counts = (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after")))
    )
    return counts.withColumn(
        "conversion", F.col("n_purchase_after") / F.col("n_signup")
    )


# Extension operators (dedup / similarity / text / multimodal / engine-SCD2)
# register themselves into QUERIES on import.
from ctcityscraper_spark.plans import queries_ext  # noqa: E402,F401
from ctcityscraper_spark.plans import queries_corpus  # noqa: E402,F401
from ctcityscraper_spark.plans import queries_analytic  # noqa: E402,F401
