"""Relational operator surface as registered, oracle-checked queries.

Covers the [EXT] rows of SURVEY.md §2.2 — joins (all flavors +
broadcast), aggregations (incl. rollup/cube/grouping sets/distinct),
window functions, sort/limit/top-k, set ops, scalar
string/date/math/JSON functions, array functions, pivot — plus the
reference-parity ingestion queries (R2–R6).

Every query is a declarative DataFrame/SQL plan: Catalyst owns
pushdown, pruning, join selection and AQE. Scale notes are inline
where a choice matters at 100 TB (broadcast hints, decimal-exact
aggregation, deterministic tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafkatoclickhouse_spark.functions.exact import (
    davg,
    dec2,
    dsum,
    dsum_dec,
    sql_davg,
    sql_dec2,
    sql_dsum,
    sql_dsum_dec,
)

# exact-decimal money products (see functions.exact: doubles would hit
# decimal half-boundaries and round differently per engine)
_DISC_PRICE_SQL = (
    f"{sql_dec2('l_extendedprice')} * (1 - {sql_dec2('l_discount')})"
)
_CHARGE_SQL = f"({_DISC_PRICE_SQL}) * (1 + {sql_dec2('l_tax')})"


def _disc_price():
    return dec2("l_extendedprice") * (1 - dec2("l_discount"))


def _charge():
    return _disc_price() * (1 + dec2("l_tax"))
from kafkatoclickhouse_spark.operators import ingest
from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Reference-parity ingestion (SURVEY §2.1 R2-R6)
# ---------------------------------------------------------------------------


@query(
    "ingest_clean",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS essCode,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS cTime,
           strftime(ts, '%Y-%m-%d') AS dayOfYear,
           value AS power,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS soc,
           'events' AS topicName,
           event_id AS topicOffset,
           CAST(event_id % 8 AS INTEGER) AS topicPartition,
           'spark-graft' AS topicGroupId
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    """,
)
def ingest_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full R2→R6 chain (parse → metadata → validate → enrich →
    project), deterministic columns only (sTime excluded, FIXTURES.md).
    """
    return ingest.ingest_pipeline(_t(spark, sf_dir, "events"))


@query(
    "ingest_keyed_counts",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS essCode,
           COUNT(*) AS n_events,
           {power_sum} AS total_power,
           MIN(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS first_ctime,
           MAX(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS last_ctime
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
    """.format(power_sum=sql_dsum("value")),
)
def ingest_keyed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: reference pipeline + per-key (essCode ≈ the
    reference's keyBy, ``KafakToClickhouse.scala:59``) batch stats.
    One shuffle on the key — exactly the exchange the reference's
    keyBy performs, but with map-side partial aggregation."""
    clean = ingest.ingest_pipeline(_t(spark, sf_dir, "events"))
    # min/max over the TIMESTAMP form of cTime, formatted back after
    # the aggregate: identical strings (fixed format, lexicographic ==
    # chronological) but a fixed-width aggregation buffer, so Spark
    # plans HashAggregate instead of the Sort+SortAggregate a string
    # min/max buffer forces — at 100 TB that removes a per-partition
    # sort of every event row on both sides of the exchange.
    ctime_ts = F.to_timestamp("cTime", "yyyy-MM-dd HH:mm:ss")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return clean.groupBy("essCode").agg(
        F.count("*").alias("n_events"),
        dsum("power", "total_power"),
        F.date_format(F.min(ctime_ts), fmt).alias("first_ctime"),
        F.date_format(F.max(ctime_ts), fmt).alias("last_ctime"),
    )


@query(
    "ingest_batch_groups",
    oracle="""
    WITH numbered AS (
      SELECT user_id,
             value,
             (ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) - 1) // 20 AS batch_seq
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT CAST(user_id AS VARCHAR) AS essCode,
           batch_seq,
           COUNT(*) AS batch_rows,
           {vsum} AS batch_value
    FROM numbered GROUP BY 1, 2
    """.format(vsum=sql_dsum("value")),
)
def ingest_batch_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch analog of the reference's per-key count window
    (``KafakToClickhouse.scala:60``, size 20 per
    ``test.properties:25`` prod default): rows are grouped per key
    into consecutive batches of 20 in event-time order and each batch
    aggregated. The true streaming count-window lives in
    ``streaming/count_window_jvm.py``; this oracle-checked twin pins the
    batch-assignment semantics."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn(
            "batch_seq",
            F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(20)).cast(
                "long"
            ),
        )
        .groupBy(
            F.col("user_id").cast("string").alias("essCode"), "batch_seq"
        )
        .agg(
            F.count("*").alias("batch_rows"),
            dsum("value", "batch_value"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations (TPC-H-style + rollup/cube/grouping sets/distinct)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           {sum_qty} AS sum_qty,
           {sum_base} AS sum_base_price,
           {sum_disc} AS sum_disc_price,
           {sum_charge} AS sum_charge,
           {avg_qty} AS avg_qty,
           {avg_price} AS avg_price,
           {avg_disc} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """.format(
        sum_qty=sql_dsum("l_quantity"),
        sum_base=sql_dsum("l_extendedprice"),
        sum_disc=sql_dsum_dec(_DISC_PRICE_SQL),
        sum_charge=sql_dsum_dec(_CHARGE_SQL),
        avg_qty=sql_davg("l_quantity"),
        avg_price=sql_davg("l_extendedprice"),
        avg_disc=sql_davg("l_discount"),
    ),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates.

    Plan: parquet scan (shipdate predicate pushed) → partial
    HashAggregate → exchange on 2 low-cardinality keys → final
    HashAggregate. At 100 TB this is bandwidth-bound on the scan;
    6 grouping keys' worth of state fits in L1 — optimal."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum_dec(_disc_price(), "sum_disc_price"),
            dsum_dec(_charge(), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_stats_by_nation",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           {s} AS total_acctbal,
           {a} AS avg_acctbal,
           MIN(c_acctbal) AS min_acctbal,
           MAX(c_acctbal) AS max_acctbal
    FROM customer GROUP BY c_nationkey
    """.format(s=sql_dsum("c_acctbal"), a=sql_davg("c_acctbal")),
)
def agg_stats_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basic aggregate battery: count/sum/avg/min/max."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
            davg("c_acctbal", "avg_acctbal"),
            F.min("c_acctbal").alias("min_acctbal"),
            F.max("c_acctbal").alias("max_acctbal"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase aggregate in
    Spark — scales via partial distinct on the mappers)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS orders_within_5pct,
           TRUE AS parts_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). Sketches merge
    map-side, so this never shuffles raw keys — the 100 TB answer to
    COUNT(DISTINCT). Sketch estimates are engine-specific, so the
    hash-checked output carries the exact counts plus booleans
    asserting the sketch landed within a 5% envelope (the oracle
    emits TRUE). The sketch runs at an explicit rsd=0.01 so the 5%
    envelope is a 5-sigma bound — deterministic in practice, unlike
    the default rsd=0.05 where 5% is ~1 sigma and the boolean flaps
    (it did, in CORRECTNESS_r02). Exact values also pinned in
    pytest."""
    df = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_orderkey", 0.01).alias(
                "approx_orders"
            ),
            F.approx_count_distinct("l_partkey", 0.01).alias(
                "approx_parts"
            ),
        )
    )

    def within(approx: str, exact: str):  # |approx-exact| <= 5% of exact
        a, e = F.col(approx), F.col(exact)
        return F.abs(a - e) <= 0.05 * e

    return df.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        within("approx_orders", "exact_orders").alias("orders_within_5pct"),
        within("approx_parts", "exact_parts").alias("parts_within_5pct"),
    )


@query(
    "agg_hll_mergeable",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit mergeable HLL sketches (Datasketches, Spark 3.5+):
    per-(event_type, shard) partial sketches union into a per-type
    cardinality estimate. This is the two-level pattern behind every
    distributed COUNT(DISTINCT) at 100 TB — partials are tiny fixed-
    size binaries that merge associatively, so the rollup can cross
    days/partitions/clusters without ever reshuffling raw keys
    (unlike approx_count_distinct, the sketch itself is storable:
    write the partials, re-aggregate them tomorrow). Driver-checked
    like ``approx_count_distinct``: exact count + a within-5%-envelope
    boolean the oracle asserts TRUE. lgK=16 puts the sketch's rse at
    ~0.4%, so the 5% envelope is a >10-sigma bound (the default
    lgK=12 is ~1.6% — only ~3 sigma, a flake risk across scales)."""
    ev = _t(spark, sf_dir, "events")
    shards = ev.withColumn(
        "shard", (F.col("event_id") % 8).cast("int")
    )
    partials = shards.groupBy("event_type", "shard").agg(
        F.hll_sketch_agg("user_id", F.lit(16)).alias("sk"),
    )
    # The exact distinct is a separate groupBy over the raw keys (the
    # sketch path never reshuffles them — that is its point).
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    merged = partials.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           {s} AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """.format(s=sql_dsum("l_quantity")),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (Expand → single aggregate in Spark)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count("*").alias("n"))
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           {s} AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """.format(s=sql_dsum("l_quantity")),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over both grouping dims."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count("*").alias("n"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "pivot_event_types",
    oracle="""
    SELECT user_id,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
           SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list so no extra distinct-values job —
    at scale always pass the pivot values)."""
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds],
    )


# ---------------------------------------------------------------------------
# Joins — every flavor (SURVEY §2.2 'Joins: absent in reference')
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           {rev} AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """.format(rev=sql_dsum_dec(_DISC_PRICE_SQL)),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg →
    top-N. `customer` (filtered) is broadcast — at 100 TB the fact
    table never shuffles for the dim side; only the orders⋈lineitem
    equi-join exchanges on orderkey. Deterministic tie-break on
    l_orderkey."""
    cu = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    od = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum_dec(_disc_price(), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_nation_revenue",
    oracle="""
    SELECT n_name, {rev} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """.format(rev=sql_dsum_dec(_DISC_PRICE_SQL)),
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. All dims (nation/region/supplier/
    customer) broadcast; the only shuffle is orders⋈lineitem on
    orderkey. The c_nationkey = s_nationkey residual enforces the
    'local supplier' semantics."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(
            F.broadcast(su),
            (li.l_suppkey == su.s_suppkey)
            & (cu.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_dec(_disc_price(), "revenue"))
    )


@query(
    "join_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 100000
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join, dim side broadcast."""
    od = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    cu = _t(spark, sf_dir, "customer")
    return od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 300000
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a join-side predicate (kept in the join
    condition, not the WHERE — semantics differ; this is the one
    users get wrong)."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    return cu.join(
        od,
        (cu.c_custkey == od.o_custkey) & (od.o_totalprice > 300000),
        "left",
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_right",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 9000
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (Catalyst plans it as the mirrored left —
    the broadcast side stays the small one either way)."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    return (
        od.join(cu, od.o_custkey == cu.c_custkey, "right")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )


@query(
    "join_cross",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey <> r2.r_regionkey
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (tiny×tiny only — at scale a cross join of
    two big tables is a plan bug, which is why Spark demands the
    explicit ``crossJoin`` call this exercises)."""
    r1 = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k1"), F.col("r_name").alias("from_region")
    )
    r2 = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("to_region")
    )
    return (
        r1.crossJoin(r2)
        .filter(F.col("k1") != F.col("k2"))
        .select("from_region", "to_region")
    )


@query(
    "join_full_outer",
    oracle="""
    WITH big AS (SELECT * FROM orders WHERE o_totalprice > 350000),
         rich AS (SELECT * FROM customer WHERE c_acctbal > 8000)
    SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
    FROM rich FULL OUTER JOIN big ON c_custkey = o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (both sides filtered so both null-extensions
    actually occur)."""
    od = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000)
    return cu.join(od, cu.c_custkey == od.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join ≡ EXISTS."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cu.join(od, cu.c_custkey == od.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join ≡ NOT EXISTS."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cu.join(od, cu.c_custkey == od.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS INTEGER) AS rn
      FROM lineitem
    ) WHERE rn <= 5
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via row_number — the scalable top-k idiom
    (partial top-k per partition under AQE; no global sort).
    Deterministic tie-break on (l_orderkey, l_linenumber)."""
    w = W.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "window_rank_dense",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           CAST(RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC)
                AS INTEGER) AS price_rank,
           CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC)
                AS INTEGER) AS price_dense_rank
    FROM part
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank (well-defined under ties by construction)."""
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return _t(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, value,
           LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
    FROM events
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over a deterministic per-key event-time order."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(24,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_n
    FROM events
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregates over rowsBetween (decimal-exact so the
    prefix sums are partition-order independent)."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(24,4)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
        F.count("*").over(w).cast("long").alias("running_n"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------


@query(
    "sort_limit_topn",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject — per-partition
    heap + driver merge, no global sort, the right plan at any scale."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "set_union_distinct",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
    )
    cu = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return od.union(cu).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = _t(spark, sf_dir, "orders")
    y96 = od.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    y97 = od.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y96.intersect(y97)


@query(
    "set_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    od = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("custkey"))
    )
    return cu.subtract(od)  # subtract == EXCEPT DISTINCT


@query(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics — occurrence counts subtract,
    not just membership): each customer's key survives as many times
    as they have non-'F' orders. Spark plans this as a count-compare
    aggregate + generate, never a row-by-row anti loop."""
    od = _t(spark, sf_dir, "orders")
    allk = od.select(F.col("o_custkey").alias("custkey"))
    fk = od.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return allk.exceptAll(fk)


@query(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders
    WHERE o_totalprice > 100000
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: per key, min(multiplicity left, multiplicity
    right) copies survive."""
    od = _t(spark, sf_dir, "orders")
    o = od.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    big = od.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    return o.intersectAll(big)


# ---------------------------------------------------------------------------
# Scalar functions: string / date / math / JSON / array
# ---------------------------------------------------------------------------


@query(
    "filter_predicates",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND c_name LIKE 'Customer%7'
      AND c_acctbal BETWEEN -500.0 AND 7500.0
      AND NOT (c_nationkey IS NOT DISTINCT FROM 13)
      AND c_acctbal IS NOT NULL
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full predicate surface of SURVEY §2.2's filter row in one
    query: isin, LIKE, BETWEEN, null-safe equality (eqNullSafe ≡
    IS NOT DISTINCT FROM), IS NOT NULL — all pushable; every one of
    these lands in the parquet scan's PushedFilters so at 100 TB the
    scan, not the engine, does the filtering."""
    cu = _t(spark, sf_dir, "customer")
    return cu.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        & F.col("c_name").like("Customer%7")
        & F.col("c_acctbal").between(-500.0, 7500.0)
        & ~F.col("c_nationkey").eqNullSafe(F.lit(13))
        & F.col("c_acctbal").isNotNull()
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_brand) AS brand_lower,
           SUBSTRING(p_type, 1, 4) AS type_prefix,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           p_brand || '/' || p_type AS brand_type,
           TRIM(CONCAT('  ', p_name, '  ')) AS name_trim,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
           REPLACE(p_type, 'A', '_') AS type_repl
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar battery (SURVEY §2.2): upper/lower/substring/
    length/concat/trim/regexp_extract/replace."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias(
            "name_trim"
        ),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", "A", "_").alias("type_repl"),
    )


@query(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(day(o_orderdate) AS INTEGER) AS order_day,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month_start,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since_95,
           CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch
    FROM orders
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar battery: year/month/day, date_trunc,
    date_format, datediff, unix epoch."""
    od = _t(spark, sf_dir, "orders")
    return od.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").cast("date").alias(
            "order_month_start"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
    )


@query(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND({disc_price}, 2) AS DOUBLE) AS disc_price_2dp,
           ABS(l_extendedprice - 30000.0) AS dist_from_30k,
           ROUND(sqrt(l_quantity), 6) AS qty_sqrt,
           ROUND(ln(l_extendedprice), 6) AS price_ln,
           CAST(floor(l_quantity / 10.0) AS BIGINT) AS qty_decile,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod7
    FROM lineitem
    """.format(disc_price=_DISC_PRICE_SQL),
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar battery. sqrt is IEEE-correctly-rounded everywhere;
    ln is not, so transcendental outputs are rounded to 6 dp on both
    sides (cross-libm determinism)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(_disc_price(), 2).cast("double").alias("disc_price_2dp"),
        F.abs(F.col("l_extendedprice") - 30000.0).alias("dist_from_30k"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.floor(F.col("l_quantity") / 10.0).cast("long").alias("qty_decile"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod7"),
    )


@query(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_value
    FROM events
    WHERE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) > 50
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field access (`get_json_object`) with a predicate on the
    extracted value — the reference's fastjson getString equivalent
    (`MyWindowFunction.scala:45`)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("k_value")).filter(
        F.col("k_value") > 50
    )


@query(
    "json_variant_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 5
             AS k_mod,
           COUNT(*) AS n,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS max_k
    FROM events GROUP BY 1
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-free JSON via VariantType (Spark 4): ``parse_json``
    once into the binary variant encoding, then typed path access
    with ``variant_get``. For dynamic payloads (the reference's
    model — fastjson over schemaless records, SURVEY §1.1) variant
    beats both string re-parsing per access (get_json_object) and a
    frozen StructType: the binary encoding parses once, fields
    shred to columns at the parquet layer, and unknown future fields
    survive ingestion."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select((k % 5).alias("k_mod"), k.alias("k"))
        .groupBy("k_mod")
        .agg(F.count("*").alias("n"), F.max("k").alias("max_k"))
    )


@query(
    "json_schema_parse",
    oracle="""
    SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10
             AS k_bucket,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema → typed struct column →
    aggregate. Schema-on-read pinned to a StructType (SURVEY §7.6.4)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        F.from_json("props", "struct<k: bigint>").alias("p")
    )
    return parsed.groupBy(
        (F.col("p.k") % 10).alias("k_bucket")
    ).agg(F.count("*").alias("n"))


@query(
    "array_funcs_embeddings",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> x * x)), 6) AS sq_norm,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))
                AS INTEGER) AS n_positive
    FROM embeddings
    """,
)
def array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order-function battery over embeddings: size,
    element_at, transform+aggregate (squared norm), filter count —
    all JVM-side codegen expressions."""
    em = _t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.round(
            F.aggregate(
                dbl, F.lit(0.0), lambda acc, x: acc + x * x
            ),
            6,
        ).alias("sq_norm"),
        F.size(F.filter(dbl, lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "explode_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
          FROM documents)
    WHERE token <> ''
    GROUP BY token ORDER BY n DESC, token LIMIT 50
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (UDTF-class op): word histogram over documents."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


@query(
    "agg_collect_list",
    oracle="""
    SELECT n_name,
           list(c_name ORDER BY c_name) AS customers,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 9500
    GROUP BY n_name
    """,
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list into a deterministic (sorted) array per group.
    collect_list itself is partition-order-dependent; array_sort makes
    the result stable under any shuffle — the only way a list agg can
    be hash-checked, or trusted on a real cluster."""
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9500)
    na = _t(spark, sf_dir, "nation")
    return (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_sort(F.collect_list("c_name")).alias("customers"),
            F.count("*").alias("n_customers"),
        )
    )


@query(
    "map_funcs_props",
    oracle="""
    SELECT event_id,
           COALESCE(json_extract_string(props, '$.k'), '') AS k_value,
           list_sort(json_keys(props)) AS prop_keys,
           CAST(len(json_keys(props)) AS INTEGER) AS n_props
    FROM events
    """,
)
def map_funcs_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: parse the JSON props into map<string,string>,
    then element_at / map_keys / size. The map type is the dynamic-
    schema answer when payload keys vary per row (SURVEY §1.1) —
    columnar stays possible because keys live in data, not schema."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.coalesce(m["k"], F.lit("")).alias("k_value"),
        F.array_sort(F.map_keys(m)).alias("prop_keys"),
        F.size(F.map_keys(m)).alias("n_props"),
    )


@query(
    "json_tuple_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str
    FROM events
    """,
)
def json_tuple_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_tuple: multi-field extraction in one pass (one parse for
    N fields, vs N parses with get_json_object — the same
    parse-once principle the ingest pipeline applies)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.json_tuple(F.col("props"), "k").alias("k_str")
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum_dec(f"{sql_dec2('l_extendedprice')} * (1 - {sql_dec2('l_discount')})")}
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items, top 20
    customers. Fact-fact join shuffles on orderkey; nation broadcasts;
    top-20 is a TakeOrdered (no global sort materialization).
    Deterministic tie-break on c_custkey."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    na = _t(spark, sf_dir, "nation")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum_dec(_disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "json_parse_errors",
    oracle="""
    WITH aug AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0
                  THEN substring(props, 1, length(props) - 2)
                  ELSE props END AS payload
      FROM events
    )
    SELECT event_id,
           json_valid(payload) AS is_valid,
           CASE WHEN json_valid(payload)
                THEN json_extract_string(payload, '$.k') END AS k_value
    FROM aug
    """,
)
def json_parse_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-payload handling: every 7th record's JSON is
    deliberately truncated (the fixtures carry no dirty JSON), then
    classified valid/invalid by the parser itself — ``from_json``
    returns NULL on malformed input, the engine-level dead-letter
    predicate (field-level validation is ``ingest.split_clean_dirty``;
    this is the layer below it). Verified cross-engine: Spark's
    Jackson and DuckDB's json_valid agree on every fixture row.
    Map-only, codegen, no shuffle."""
    ev = _t(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("substring(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    parsed = F.from_json(payload, "map<string,string>")
    return ev.select(
        "event_id",
        parsed.isNotNull().alias("is_valid"),
        F.when(parsed.isNotNull(), parsed["k"]).alias("k_value"),
    )


@query(
    "unpivot_event_metrics",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
               AS click,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS purchase,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
               AS view
      FROM events GROUP BY user_id
    )
    SELECT user_id, metric, n FROM wide
    UNPIVOT (n FOR metric IN (click, purchase, view))
    """,
)
def unpivot_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — the inverse of ``pivot_event_types``: a wide
    per-user metric frame back to long (user_id, metric, n) form.
    ``DataFrame.unpivot`` plans a single Expand (each input row fans
    to K output rows map-side) — no shuffle beyond the upstream agg,
    no UDF; K× row growth is the expected cost model."""
    kinds = ["click", "purchase", "view"]
    wide = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
    ).select(
        "user_id",
        *[
            F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k)
            for k in kinds
        ],
    )
    return wide.unpivot(
        ids=["user_id"],
        values=kinds,
        variableColumnName="metric",
        valueColumnName="n",
    )


@query(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) = 1 THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id, event_type,
           CAST(SUM(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user in event-time
    order — a window Spark (and ANSI SQL) cannot express directly
    (no DISTINCT aggregates over a running frame), rewritten as the
    standard first-occurrence-flag + prefix-sum composition:
    row_number()=1 over (user, type) marks each type's first event,
    then an integer running sum over (user) counts the marks. Both
    windows hash-partition on user_id-prefixed keys and the state per
    row is one integer, so the rewrite scales where a naive
    collect_set-over-window (O(types) state per row) would not."""
    ev = load_table(spark, sf_dir, "events")
    w_first = W.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.withColumn(
            "first_seen",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
        )
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.sum("first_seen")
            .over(w_run)
            .cast("long")
            .alias("distinct_types_so_far"),
        )
    )
