"""Analytic-breadth catalog: correlated subqueries, window frames,
time-series gap-fill, n-gram frequency analytics, quantized ANN.

These are the query shapes a full analytical engine owes its users beyond
SURVEY §2's literal inventory (which queries.py covers): EXISTS / scalar /
NOT-EXISTS correlated subqueries (what Catalyst decorrelates into the
semi/anti/aggregate-join plans this module writes directly), explicit
ROWS-frame window functions, grid gap-fill with last-observation-carried-
forward, and int8 scalar-quantized similarity search (the memory-bandwidth
lever for 100 TB embedding scans).

Oracle construction follows queries.py: decimal-cast sums with single
double divisions, integer bucketing for event time, deterministic
tie-breaks in every rank/limit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ctcityscraper_spark.plans.queries import _dec_sum, query
from ctcityscraper_spark.plans.queries_ext import EMB_VALID
from ctcityscraper_spark.plans.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# =========================================================================
# Correlated subquery shapes (TPC-H Q4 / Q13 / Q17 / Q22 analogues).
# Written as the decorrelated join plans directly — the same physical
# shapes Catalyst produces from the SQL subqueries the oracles use, which
# is the point: EXISTS == left-semi, NOT EXISTS == left-anti, correlated
# scalar agg == groupBy + equi-join.
# =========================================================================


@query(
    "subq_exists_late_shipment",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_subq_exists_late_shipment(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS with a non-equi component
    (shipment later than order date + 90 days). Plan: left-semi join with
    equi key l_orderkey plus the range residual — one shuffle, orders-side
    date filter pushed to the scan."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "subq_outer_join_order_counts",
    headline=True,  # analytic-family bench representative (r7 brief):
    # outer join w/ join-condition predicate + two chained aggregations —
    # the subquery/window additions' perf trend line
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_subq_outer_join_order_counts(spark, sf_dir):
    """TPC-H Q13 shape: outer join with a predicate INSIDE the join
    condition (not a post-filter — customers keep their row when no
    qualifying order exists), two-level aggregation of the distribution."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "subq_scalar_avg_quantity",
    oracle="""
    SELECT CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly
    FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#1'
      AND l1.l_quantity < 0.2 * (
          SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*)
          FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q_subq_scalar_avg_quantity(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar aggregate subquery (per-part
    average quantity), decorrelated into a groupBy + broadcast join. The
    per-part average is the exact decimal-sum / count double, so the
    comparison boundary is bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li_b = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
    avgs = li_b.groupBy("l_partkey").agg(
        (_dec_sum("l_quantity") / F.count("*")).alias("avg_qty")
    )
    small = li_b.join(F.broadcast(avgs), "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return small.agg((_dec_sum("l_extendedprice") / 7.0).alias("avg_yearly"))


@query(
    "subq_rich_inactive_customers",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                                   AS DOUBLE) / COUNT(*)
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1998-06-01')
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def q_subq_rich_inactive_customers(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery (positive-balance
    average) + correlated NOT EXISTS with its own filter. Plan: 1-row
    cross-join broadcast of the scalar + left-anti join against the
    filtered orders — both sides one pass."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-06-01").cast("timestamp_ntz")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (_dec_sum("c_acctbal") / F.count("*")).alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    inactive = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        inactive.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            _dec_sum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


# =========================================================================
# Window frames: explicit ROWS frames, rank family, partition first/last
# =========================================================================


@query(
    "window_frame_stats",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3,
           PERCENT_RANK() OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pr,
           NTILE(4) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS quartile,
           FIRST_VALUE(o_orderkey) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS first_key,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_max
    FROM orders WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_frame_stats(spark, sf_dir):
    """Window-frame breadth: 3-row moving average (explicit ROWS frame),
    percent_rank, ntile quartiles, partition first value, running max —
    one shuffle on o_custkey serves every function; ordering
    (o_orderdate, o_orderkey) is a total order so rank/ntile are
    deterministic."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    wfull = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = wfull.rowsBetween(-2, Window.currentRow)
    wcum = wfull.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            (F.sum(dec).over(w3).cast("double") / F.count("*").over(w3)).alias(
                "moving_avg3"
            ),
            F.percent_rank().over(wfull).alias("pr"),
            F.ntile(4).over(wfull).alias("quartile"),
            F.first("o_orderkey").over(wfull).alias("first_key"),
            F.max(dec).over(wcum).cast("double").alias("run_max"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# =========================================================================
# Time-series grid fill (the hypertable/rollup gap-fill primitive)
# =========================================================================

_HOUR_NS = 3_600_000_000_000


@query(
    "timeseries_gapfill_locf",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_ns(ts) // {_HOUR_NS} AS hour, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY hour, event_type),
    bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly),
    grid AS (
        SELECT unnest(range(h0, h1 + 1)) AS hour FROM bounds),
    types AS (SELECT DISTINCT event_type FROM hourly)
    SELECT g.hour AS hour, t.event_type AS event_type,
           COALESCE(h.n, 0) AS n,
           last_value(h.total_value IGNORE NULLS) OVER
               (PARTITION BY t.event_type ORDER BY g.hour
                ROWS UNBOUNDED PRECEDING) AS total_locf,
           (h.n IS NULL) AS is_gap
    FROM grid g CROSS JOIN types t
    LEFT JOIN hourly h ON h.hour = g.hour AND h.event_type = t.event_type
    ORDER BY event_type, hour
    """,
)
def q_timeseries_gapfill_locf(spark, sf_dir):
    """Gap-fill + LOCF: aggregate to an hourly grid, generate the complete
    (hour × event_type) frame via sequence/explode, left-join the
    observations back, carry the last non-null value forward with an
    ignore-nulls window. The continuous-aggregate primitive of hypertable
    stores, in pure DataFrame ops: agg shuffle + broadcast grid join +
    one window shuffle on event_type."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.expr(f"ts_ns div {_HOUR_NS}").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), _dec_sum("value").alias("total_value"))
    )
    bounds = hourly.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hour")
    )
    types = hourly.select("event_type").distinct()
    frame = grid.crossJoin(types)
    filled = frame.join(hourly, ["hour", "event_type"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "hour",
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("total_value", ignorenulls=True).over(w).alias("total_locf"),
        F.col("n").isNull().alias("is_gap"),
    ).orderBy("event_type", "hour")


# =========================================================================
# Corpus n-gram frequency analytics
# =========================================================================


@query(
    "text_top_bigrams",
    oracle="""
    WITH toks AS (
        SELECT regexp_split_to_array(trim(text, ' '), '[ \t\n\v\f\r]+') AS t FROM documents),
    bi AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks)
    SELECT bigram, COUNT(*) AS n
    FROM bi GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 25
    """,
)
def q_text_top_bigrams(spark, sf_dir):
    """Corpus-wide top-25 bigram frequencies: explode + one aggregation
    shuffle + TakeOrderedAndProject top-k (never a global sort). The
    vocabulary-analysis primitive behind tokenizer training and corpus
    drift monitoring; deterministic tie-break on the bigram string."""
    from ctcityscraper_spark.operators.text import tokens_col

    from ctcityscraper_spark.functions.exprs import bind_once

    docs = _t(spark, sf_dir, "documents")

    # let-bind the token array (bind_once — the shingles_col lesson): the
    # bigram lambda reads a bound variable instead of re-splitting per
    # element
    def make_bigrams(tk):
        grams = F.transform(
            F.slice(tk, 1, F.size(tk) - 1),
            lambda x, i: F.concat_ws(" ", x, F.element_at(tk, i + 2)),
        )
        return F.when(F.size(tk) >= 2, grams).otherwise(
            F.array().cast("array<string>")
        )

    bigrams = docs.select(
        F.explode(bind_once(tokens_col("text"), make_bigrams)).alias(
            "bigram"
        )
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(25)
    )


# =========================================================================
# Approximate aggregates (HLL++ distinct, quantile sketch) under an honest
# gate: the catalog can't hash-match sketch internals across engines, so
# the query emits exact-vs-approx agreement BOOLEANS with tolerances far
# wider than the sketches' error bounds. A sketch regression (or a future
# Spark accuracy change) flips a boolean and the driver gate catches it.
# =========================================================================


@query(
    "approx_aggregates_check",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS hll_within_2pct,
           TRUE AS p50_within_1pct
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_approx_aggregates_check(spark, sf_dir):
    """approx_count_distinct (HLL++, rsd=0.5%) and percentile_approx
    (accuracy=10000) vs their exact twins, per order status. At 100 TB the
    approx forms are the default: HLL is one pass + constant memory vs the
    exact distinct's shuffle; the quantile sketch replaces a full sort.
    The emitted booleans assert |approx - exact| within 2% / 1%."""
    orders = _t(spark, sf_dir, "orders")
    exact_p50 = F.expr("percentile(o_totalprice, 0.5)")
    approx_p50 = F.percentile_approx("o_totalprice", 0.5, 10000)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.approx_count_distinct("o_custkey", rsd=0.005).alias("_hll"),
            exact_p50.alias("_p50"),
            approx_p50.alias("_ap50"),
        )
        .select(
            "o_orderstatus",
            "exact_customers",
            (
                F.abs(F.col("_hll") - F.col("exact_customers"))
                <= 0.02 * F.col("exact_customers")
            ).alias("hll_within_2pct"),
            (F.abs(F.col("_ap50") - F.col("_p50")) <= 0.01 * F.col("_p50")).alias(
                "p50_within_1pct"
            ),
        )
        .orderBy("o_orderstatus")
    )


# =========================================================================
# Quantized ANN (int8 scalar quantization)
# =========================================================================


def _int8_sql(vec: str, dims: int) -> str:
    maxabs = f"list_max(list_transform({vec}, y -> abs(y::DOUBLE)))"
    return (
        f"list_transform({vec}, x -> CAST(round(x::DOUBLE * 127.0 / {maxabs}) "
        f"AS INTEGER))"
    )


def _int8_dot_sql(a: str, b: str, dims: int) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


@query(
    "ann_int8_topk",
    oracle=f"""
    WITH q8 AS (SELECT vec_id AS query_id, {_int8_sql('embedding', 64)} AS qv
                FROM {EMB_VALID} embeddings WHERE vec_id < 10),
         c8 AS (SELECT vec_id AS neighbor_id, {_int8_sql('embedding', 64)} AS cv
                FROM {EMB_VALID} embeddings),
         scored AS (
            SELECT query_id, neighbor_id,
                   {_int8_dot_sql('qv', 'cv', 64)} AS score
            FROM q8, c8 WHERE query_id != neighbor_id)
    SELECT query_id, neighbor_id, rank, score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_ann_int8_topk(spark, sf_dir):
    """Int8 scalar-quantized ANN top-5: per-vector symmetric quantization
    (q = round(v * 127 / max|v|)) then pure INTEGER dot products — exact
    arithmetic, so the oracle matches bit-for-bit with no float-association
    caveat. At 100 TB this is the memory-bandwidth lever: 4x smaller scans
    and SIMD-friendly integer math; compose with the SRP/IVF bucketed
    candidate generation (similarity.py) for the full scale path."""
    from ctcityscraper_spark.operators.similarity import int8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_int8_gram_matrix",
    oracle=f"""
    WITH q AS (SELECT {_int8_sql('embedding', 64)} AS qv
               FROM {EMB_VALID} embeddings)
    SELECT j::INTEGER AS j, l::INTEGER AS l,
           SUM(qv[j + 1] * qv[l + 1])::BIGINT AS g
    FROM q, range(0, 64) tj(j), range(0, 64) tl(l)
    GROUP BY 1, 2 ORDER BY j, l
    """,
)
def q_ann_int8_gram_matrix(spark, sf_dir):
    """Exact integer Gram matrix of the int8-quantized embedding corpus
    (operators/similarity.int8_gram_matrix) — the PCA-whitening / OPQ
    rotation training primitive. Spark collapses each Arrow batch with
    one numpy Q^T·Q matmul into a d^2 int64 partial and sums partials
    (shuffle ~partitions x d^2 rows); the oracle takes the naive n x d^2
    exploded shape — a value-hash match proves the matmul path is exact.
    Integer quantization first makes the whole thing association-order-
    independent (a float covariance could never hash-match)."""
    from ctcityscraper_spark.operators.similarity import int8_gram_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        int8_gram_matrix(emb, dims=64)
        .repartition(1)
        .sortWithinPartitions("j", "l")
    )


@query(
    "ann_gram_update",
    oracle=f"""
    WITH q AS (SELECT {_int8_sql('embedding', 64)} AS qv
               FROM {EMB_VALID} embeddings)
    SELECT j::INTEGER AS j, l::INTEGER AS l,
           SUM(qv[j + 1] * qv[l + 1])::BIGINT AS g
    FROM q, range(0, 64) tj(j), range(0, 64) tl(l)
    GROUP BY 1, 2 ORDER BY j, l
    """,
)
def q_ann_gram_update(spark, sf_dir):
    """Incremental PCA-trainer maintenance (operators/similarity.
    update_gram_matrix): the Gram matrix is built over an 80% base
    corpus, then a 20% delta batch is MERGED in (sum re-aggregation of
    ≤ 2·d² rows — the batch pays its own Gram pass, never the corpus's).
    The oracle is DELIBERATELY the one-pass fresh build over the whole
    corpus: a value-hash match proves update_gram_matrix(gram(base),
    delta) ≡ int8_gram_matrix(base ∪ delta) exactly (sum-associativity
    of the integer partials), which is what makes per-batch trainer-state
    maintenance exact on a growing corpus — the same contract shape as
    dedup_bloom_update's OR-merge."""
    from ctcityscraper_spark.functions.hashing import hash64
    from ctcityscraper_spark.operators.similarity import (
        int8_gram_matrix,
        update_gram_matrix,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bucket = hash64(F.col("vec_id"), "gramsplit") % 5
    base = emb.filter(bucket != 0)
    delta = emb.filter(bucket == 0)
    return (
        update_gram_matrix(int8_gram_matrix(base, dims=64), delta, dims=64)
        .repartition(1)
        .sortWithinPartitions("j", "l")
    )


# =========================================================================
# layout_zorder_cells — the Z-order (Morton) clustering key, oracle-gated.
# zorder_col is pure integer/double Column arithmetic (quantize each dim
# to a 2^bits grid, interleave the bits), so DuckDB replays the key
# bit-for-bit: the same affine scale + clamp + floor, then the same
# 2·bits-term interleave sum. The query groups orders into coarse z-cells
# (top 8 of 32 key bits) and reports per-cell min-max spans of BOTH
# dimensions — small spans per cell are exactly the property parquet
# min-max file skipping exploits after cluster_by_zorder (the
# data-skipping assertion itself lives in tests/test_extension_plans.py's
# file-stats test; footer stats aren't SQL-visible).
# =========================================================================

_Z_BITS = 16
_Z_PRICE_LO, _Z_PRICE_HI = 0.0, 524288.0
_Z_CUST_LO, _Z_CUST_HI = 0.0, 16384.0


def _zorder_oracle() -> str:
    cells = (1 << _Z_BITS) - 1
    qx = (
        f"CAST(floor(least(greatest((o_totalprice - {_Z_PRICE_LO}) /"
        f" {_Z_PRICE_HI - _Z_PRICE_LO}, 0.0), 1.0) * {cells}) AS BIGINT)"
    )
    qy = (
        f"CAST(floor(least(greatest((CAST(o_custkey AS DOUBLE) - {_Z_CUST_LO}) /"
        f" {_Z_CUST_HI - _Z_CUST_LO}, 0.0), 1.0) * {cells}) AS BIGINT)"
    )
    terms = " + ".join(
        f"((q{d} >> {b}) & 1) * {1 << (b * 2 + i)}"
        for b in range(_Z_BITS)
        for i, d in enumerate(("x", "y"))
    )
    return f"""
    WITH q AS (
        SELECT o_orderkey, o_totalprice, o_custkey,
               {qx} AS qx, {qy} AS qy
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL
          AND NOT isnan(o_totalprice)),
    keyed AS (SELECT *, ({terms}) AS z FROM q)
    SELECT z >> 24 AS zcell,
           COUNT(*) AS n_rows,
           MIN(o_totalprice) AS price_lo, MAX(o_totalprice) AS price_hi,
           MIN(o_custkey) AS cust_lo, MAX(o_custkey) AS cust_hi
    FROM keyed
    GROUP BY zcell ORDER BY zcell
    """


@query("layout_zorder_cells", oracle=_zorder_oracle())
def q_layout_zorder_cells(spark, sf_dir):
    """Multi-dimensional clustering key (operators/layout.zorder_col):
    quantize (o_totalprice, o_custkey) to a 2^16 grid under FIXED bounds
    (caller-provided, so the key is deterministic and append-safe — a new
    batch z-sorts against the same bounds, no global re-shuffle), Morton-
    interleave the bits, then report per-coarse-cell row counts and
    min-max spans of both dimensions. Tight per-cell spans in EVERY
    participating dimension is the property that makes parquet footer
    min-max stats skip files for ANY predicate combination after
    cluster_by_zorder — a table range-partitioned on one column answers
    the other column's predicates by scanning everything. The whole key
    is scan-stage integer/double codegen (no UDF, no shuffle before the
    one groupBy); the oracle rebuilds it bit-for-bit, so a quantization
    or interleave drift in either engine hash-mismatches."""
    from ctcityscraper_spark.operators.layout import zorder_col

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
        & F.col("o_custkey").isNotNull()
        & ~F.isnan("o_totalprice")
    )
    z = zorder_col(
        [
            (F.col("o_totalprice"), _Z_PRICE_LO, _Z_PRICE_HI),
            (F.col("o_custkey"), _Z_CUST_LO, _Z_CUST_HI),
        ],
        bits=_Z_BITS,
    )
    return (
        orders.withColumn("z", z)
        .groupBy(F.shiftright("z", 24).alias("zcell"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("price_lo"),
            F.max("o_totalprice").alias("price_hi"),
            F.min("o_custkey").alias("cust_lo"),
            F.max("o_custkey").alias("cust_hi"),
        )
        .repartition(1)
        .sortWithinPartitions("zcell")
    )
