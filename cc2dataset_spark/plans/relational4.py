"""Relational surface, part 4: the remaining TPC-H query shapes
(Q7/Q8/Q9/Q11/Q12/Q15/Q16/Q17/Q20/Q21), adapted to the slim fixture
schema (no partsupp, no commit/receipt dates, no shipmode/container —
FIXTURES.md §B). Each keeps the *plan shape* that makes the original
interesting: multi-nation fact-fact joins, share-of-total ratios,
global-scalar thresholds, correlated per-group averages, nested
IN-chains, and only-late-supplier set logic.

Determinism rules (catalog module docstring): every quantity that
decides row membership or ordering — thresholds, shares, revenues — is
accumulated in DECIMAL(28,6) then cast to DOUBLE with the identical
expression on both engines, so comparison boundaries cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cc2dataset_spark.functions.numeric import RATIO6_SQL
from cc2dataset_spark.operators.partitioning import spread_small
from cc2dataset_spark.plans.catalog import query
from cc2dataset_spark.plans.relational import dsum, _osum
from cc2dataset_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_DISC_PRICE = "l_extendedprice * (1 - l_discount)"


def _disc_price():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           {_osum(_DISC_PRICE)} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "tpch"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship
    year. The only shuffle is the lineitem-orders fact-fact join on
    the order key; supplier, customer, and both nation aliases are
    broadcast, and the symmetric nation-pair disjunction evaluates
    post-join on broadcast-sourced columns (no shuffle contribution)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(_disc_price()).alias("revenue"))
    )


_Q8_NATION_VOL = (
    f"CASE WHEN n2.n_name = 'NATION_3' THEN {_DISC_PRICE} ELSE 0 END"
)


@query(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           -- raw double, no round(): both engines sum the SAME
           -- decimal-exact values and perform one identical IEEE
           -- division, so the unrounded quotient is bit-equal by
           -- construction — round(double, 6) would ADD the
           -- Spark-shortest-repr vs DuckDB-binary half-boundary flip
           -- (the q2 class) where none existed
           {_osum(_Q8_NATION_VOL)}
                 / {_osum(_DISC_PRICE)} AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
      AND p.p_type = 'STANDARD'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    """,
    tags=("join", "agg", "tpch", "ratio"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a region's STANDARD-part
    import volume, per order year. Seven-table join where every
    dimension (part, customer, supplier, nation x2, region) broadcasts —
    the lone shuffle is lineitem-orders. Share = decimal-exact
    conditional sum over decimal-exact total, rounded to 6."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = _disc_price()
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((dsum(nation_vol) / dsum(vol)).alias("mkt_share"))
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           {_osum(f"{_DISC_PRICE} - 0.1 * p.p_retailprice * l.l_quantity")}
             AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    """,
    tags=("join", "agg", "tpch"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on 'widget' parts by supplier nation and
    order year. The fixture has no partsupp, so supply cost is proxied
    as 10% of the part's retail price per unit (the plan shape — LIKE
    filter pushed into a broadcast dim, fact-fact orders join, two
    broadcast dims — is what Q9 exercises). Profit accumulates in
    DECIMAL after identical left-associated double arithmetic on both
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = _disc_price() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
    )


@query(
    "q11_important_parts",
    oracle=f"""
    WITH eu AS (
      SELECT s.s_suppkey
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ), lv AS (
      SELECT l.l_partkey, l.l_extendedprice, l.l_discount
      FROM lineitem l JOIN eu ON l.l_suppkey = eu.s_suppkey
    ), pv AS (
      SELECT l_partkey, {_osum(_DISC_PRICE)} AS part_value
      FROM lv GROUP BY l_partkey
    ), tot AS (
      SELECT {_osum(_DISC_PRICE)} AS total_value FROM lv
    )
    SELECT pv.l_partkey, pv.part_value
    FROM pv, tot
    WHERE pv.part_value > 0.001 * tot.total_value
    """,
    tags=("agg", "subquery", "tpch", "threshold"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose EUROPE-supplied value exceeds a
    fraction of the total — a grouped aggregate gated by a global
    scalar aggregate over the same input (the HAVING-subquery pattern).
    The supplier restriction is a broadcast semi-join; the global total
    is a 1-row broadcast; both sides of the threshold are decimal-exact
    before the double multiply, so the cut is engine-stable."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    lv = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    pv = lv.groupBy("l_partkey").agg(dsum(_disc_price()).alias("part_value"))
    tot = lv.agg(dsum(_disc_price()).alias("total_value"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(F.col("part_value") > 0.001 * F.col("total_value"))
        .select("l_partkey", "part_value")
    )


@query(
    "q12_priority_latency",
    oracle="""
    SELECT l.l_linestatus,
           -- CAST: DuckDB SUM(int) is HUGEINT, Spark's is BIGINT; the
           -- driver's typed hasher treats them as different values.
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
    tags=("join", "agg", "tpch", "conditional"),
)
def q12_priority_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix of late-shipped lines by line
    status (the fixture's shipmode stand-in). 'Late' = shipped more
    than 60 days after the order date — a cross-table predicate that
    must evaluate post-join, while the shipdate range still pushes to
    the scan. Counts are integers, so no numeric-drift concern."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {_osum(_DISC_PRICE)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tags=("agg", "subquery", "tpch", "argmax"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum quarterly revenue — the
    view + scalar-MAX-subquery pattern, planned as a grouped aggregate,
    a 1-row max broadcast back onto it, and a broadcast dim join for
    the name. Revenue is decimal-exact so the MAX equality (and any
    genuine tie) is reproducible across engines."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_disc_price()).alias("total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("best_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("join", "agg", "anti", "tpch", "distinct"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type,
    size), excluding a NOT-IN supplier blacklist (negative balances
    stand in for the complaints filter). The blacklist is a broadcast
    anti-join — s_suppkey is non-null so NOT IN degenerates safely —
    and the IN-list size predicate pushes to the part scan."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    li = _t(spark, sf_dir, "lineitem")
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH b3 AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#3'
    ), li3 AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN b3 ON l.l_partkey = b3.p_partkey
    ), avgs AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM li3 GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(li3.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             / 7.0 AS avg_yearly,
           COUNT(*) AS n_items
    FROM li3 JOIN avgs ON li3.l_partkey = avgs.l_partkey
    WHERE li3.l_quantity < 0.5 * avgs.avg_qty
    """,
    tags=("join", "agg", "subquery", "tpch", "correlated"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from below-half-average-quantity lines of one
    brand — the correlated per-group average, decorrelated into a
    grouped aggregate joined back to the fact rows (Catalyst's own
    strategy for the subquery form, written explicitly so the oracle
    replays it verbatim). The brand filter broadcasts; the per-part
    average and the rejoin share one partkey shuffle; the threshold
    compares identical decimal-exact doubles on both engines."""
    b3 = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    li3 = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(b3), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avgs = li3.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty")
    )
    return (
        li3.join(avgs, F.col("l_partkey") == F.col("a_partkey"))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q20_dominant_suppliers",
    oracle=f"""
    WITH wparts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'
    ), l96 AS (
      SELECT l.l_partkey, l.l_suppkey, l.l_quantity
      FROM lineitem l
      JOIN wparts w ON l.l_partkey = w.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ), per_sp AS (
      SELECT l_partkey, l_suppkey,
             {_osum("l_quantity")} AS supp_qty
      FROM l96 GROUP BY l_partkey, l_suppkey
    ), per_p AS (
      SELECT l_partkey, {_osum("l_quantity")} AS part_qty
      FROM l96 GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM per_sp
    JOIN per_p   ON per_sp.l_partkey = per_p.l_partkey
    JOIN supplier s ON s.s_suppkey = per_sp.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE per_sp.supp_qty > 0.2 * per_p.part_qty
    """,
    tags=("join", "agg", "subquery", "tpch", "threshold"),
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than 20% of any
    widget part's 1996 volume (availqty > half-of-shipped becomes
    share-of-shipped without partsupp). The nested-IN chain plans as:
    broadcast semi-join for the part name filter, one (partkey,
    suppkey) shuffle shared by both aggregates, a partkey-equi
    threshold join, then a distinct over supplier — supplier and
    nation both broadcast."""
    wparts = _t(spark, sf_dir, "part").where(
        F.col("p_name").like("%widget%")
    ).select("p_partkey")
    l96 = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(wparts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    per_sp = l96.groupBy("l_partkey", "l_suppkey").agg(
        dsum(F.col("l_quantity")).alias("supp_qty")
    )
    per_p = l96.groupBy(F.col("l_partkey").alias("p_key")).agg(
        dsum(F.col("l_quantity")).alias("part_qty")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        per_sp.join(per_p, per_sp.l_partkey == F.col("p_key"))
        .where(F.col("supp_qty") > 0.2 * F.col("part_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH per_order AS (
      SELECT l.l_orderkey,
             COUNT(DISTINCT l.l_suppkey) AS n_supps,
             COUNT(DISTINCT CASE WHEN l.l_shipdate >
                                      o.o_orderdate + INTERVAL 60 DAY
                                 THEN l.l_suppkey END) AS n_late,
             MIN(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN l.l_suppkey END) AS late_supp
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM per_order po
    JOIN supplier s ON s.s_suppkey = po.late_supp
    WHERE po.n_supps > 1 AND po.n_late = 1
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s.s_suppkey ASC
    LIMIT 20
    """,
    tags=("join", "agg", "tpch", "topk", "exists"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who were the SOLE late supplier on
    multi-supplier finished orders ('late' = shipped >60 days after
    the order date, standing in for receipt-past-commit). The classic
    EXISTS + NOT-EXISTS pair is decorrelated into one per-order
    aggregate — n_supps > 1 replays the EXISTS, n_late = 1 the
    NOT-EXISTS — so the whole query costs a single orderkey shuffle
    instead of two correlated self-joins; the top-20 plans as
    TakeOrderedAndProject with a suppkey tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supps"),
            F.count_distinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.min(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        per_order.where((F.col("n_supps") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("late_supp") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


_PROFILE_COLS = (
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_shipdate",
    "l_linestatus",
)

# Double columns: engine-native double->VARCHAR diverges (Spark emits
# scientific notation outside [1e-3, 1e7) via Java shortest-repr;
# DuckDB formats the binary value its own way), so min/max of doubles
# are rendered as exact 2-dp fixed-point strings assembled from a
# BIGINT: floor(x*100 + 0.5) is bit-identical double arithmetic in
# both engines, and everything after is integer/string ops.  Assumes
# non-negative money/quantity values (true of lineitem; '%' sign
# conventions differ on negatives).
_PROFILE_DOUBLE_COLS = frozenset({"l_quantity", "l_extendedprice"})


def _fixed2_col(col: Column) -> Column:
    """Exact 2-dp fixed-point string of a non-negative double via
    BIGINT assembly — the Spark twin of _fixed2_sql.  (scaled - rem)
    is an exact multiple of 100 < 2^53, so the double division is
    exact; every step is bit-identical across engines."""
    scaled = F.floor(col * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    rem = F.pmod(scaled, F.lit(100))
    whole = ((scaled - rem) / F.lit(100)).cast("bigint")
    return F.concat(
        whole.cast("string"), F.lit("."), F.lpad(rem.cast("string"), 2, "0")
    )


def _fixed2_sql(expr: str) -> str:
    s = f"CAST(floor(({expr}) * 100.0 + 0.5) AS BIGINT)"
    return (
        f"CAST({s} // 100 AS VARCHAR) || '.' || "
        f"lpad(CAST({s} % 100 AS VARCHAR), 2, '0')"
    )


def _profile_minmax_sql(c: str, fn: str) -> str:
    if c in _PROFILE_DOUBLE_COLS:
        return _fixed2_sql(f"{fn}({c})")
    return f"CAST({fn}({c}) AS VARCHAR)"


@query(
    "profile_lineitem_columns",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           {_profile_minmax_sql(c, "MIN")} AS min_value,
           {_profile_minmax_sql(c, "MAX")} AS max_value
    FROM lineitem"""
        for c in _PROFILE_COLS
    ),
    tags=("profile", "agg", "stats"),
)
def profile_lineitem_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the data-quality pass every ingestion
    pipeline runs before training-set assembly: per-column row count,
    null count, exact distinct count, and min/max (as strings, so one
    schema profiles heterogeneous column types). The oracle is a
    straightforward per-column UNION ALL.

    Plan: TWO complementary passes. (1) min/max/null counts for all
    columns ride ONE wide 1-row aggregate (cheap: simple partial
    aggs). (2) distinct counts come from a MELTED (column_name,
    value-string) stream with a single grouped count_distinct —
    measured 6x faster than putting six count_distincts in the wide
    aggregate, whose Expand replicates every agg input column 7x
    through the shuffle (11.6 s vs ~2 s at sf0.1 on local[32]); the
    melted stream is 2 narrow columns, and the string casts are
    injective (shortest-repr doubles, dates, keys) so distinct-by-
    string == distinct-by-value; double MIN/MAX are rendered via
    _fixed2_col (exact BIGINT fixed-point, see above) because
    engine-native double->string forms diverge across Spark/DuckDB.
    The 6-row distinct table broadcasts
    back onto the exploded wide row. Exact distinct on purpose:
    approx_distinct is the 100 TB default but its sketch is not
    cross-engine reproducible; swap in approx_count_distinct where 2%
    error is acceptable and the scan is the bottleneck."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        if c in _PROFILE_DOUBLE_COLS:
            mn = _fixed2_col(F.min(F.col(c)))
            mx = _fixed2_col(F.max(F.col(c)))
        else:
            mn = F.min(F.col(c)).cast("string")
            mx = F.max(F.col(c)).cast("string")
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{c}__nulls"),
            mn.alias(f"{c}__min"),
            mx.alias(f"{c}__max"),
        ]
    row = li.agg(*aggs)
    # The melt explodes 6 structs per row (6x the scan) and partial-
    # aggregates the (column_name, value) pairs, so it is spread. The
    # wide min/max/null branch stays unspread on purpose: its simple
    # partial aggs pipeline with the scan, and repartitioning that
    # shape measured 2x slower (q1-shape re-test).
    melted = spread_small(li, "l_orderkey").select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("m")
    ).select("m.*")
    dist = melted.groupBy("column_name").agg(
        F.count_distinct("v").alias("n_distinct")
    )
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    wide = row.select(F.explode(per_col).alias("p")).select("p.*")
    return wide.join(F.broadcast(dist), "column_name").select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_value",
        "max_value",
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
    tags=("join", "skew", "salting", "events"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join — the manual mitigation for a join key
    whose hottest values overwhelm single tasks when AQE's skew-join
    split cannot fire (its thresholds are tuned for spills, not
    stragglers, and it never splits the BUILD side). The fact side
    gets a deterministic salt in [0, S) (pmod of the already-unique
    event_id — never rand(), which re-evaluates per reference and can
    disagree between a task retry and its first attempt); the dim side
    explodes each row into all S salt values; the join key becomes
    (user_id, salt), so one hot user spreads across S tasks. The
    result is EXACTLY the unsalted join — each fact row meets its dim
    row in precisely one salt bucket — which is what the plain-join
    oracle checks.

    Scale math: dim inflation is S * |dim| rows, borne only on the
    small side; S=8 caps the hottest key's per-task share at 1/8. The
    plan is asserted to join on both keys (tests/test_relational2.py);
    the per-segment rollup keeps the driver result small while still
    value-checking every joined row through the counts."""
    SALTS = 8
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.pmod(F.col("event_id"), F.lit(SALTS)).alias("salt"),
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i) for i in range(SALTS)])).alias("salt"),
    )
    joined = e.join(
        c,
        (F.col("user_id") == F.col("c_custkey"))
        & (e["salt"] == c["salt"]),
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


_SKEW_SHARE = RATIO6_SQL.format(num="f.freq", den="g.n_rows")
_SKEW_RATIO = RATIO6_SQL.format(
    num="f.freq * g.n_keys", den="g.n_rows"
)


@query(
    "profile_key_skew",
    oracle=f"""
    WITH freq AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS freq
      FROM events GROUP BY user_id
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(freq) AS BIGINT) AS n_rows
      FROM freq
    ), ranked AS (
      SELECT user_id, freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, user_id)
                  AS BIGINT) AS rnk
      FROM freq
    )
    SELECT f.rnk, f.user_id, f.freq, g.n_keys, g.n_rows,
           {_SKEW_SHARE} AS row_share,
           {_SKEW_RATIO} AS skew_ratio
    FROM ranked f CROSS JOIN g
    WHERE f.rnk <= 10
    """,
    tags=("profiling", "skew", "stats"),
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the measurement that DECIDES the
    mitigation (salting factor, AQE skew-join thresholds, broadcast
    eligibility) before a 100 TB join is launched: the top-10 heaviest
    keys of events.user_id with each key's row share and its skew
    ratio freq * n_keys / n_rows (1.0 = perfectly uniform; the factor
    by which the hottest reducer exceeds the average is exactly this
    number, which is why it maps directly to the salt count
    join_salted_skew uses).

    All counts integer-exact; both ratios via the exact rational.
    Plan: one key-keyed count with map-side partials (the only
    corpus-scale stage), a 1-row global broadcast, and a top-10 head
    — WindowGroupLimit bounds the rank's per-partition state, so the
    unpartitioned ROW_NUMBER never materializes the key table in one
    task (same argument as sort_topk_orders)."""
    from cc2dataset_spark.functions.numeric import ratio_round6

    e = load_table(spark, sf_dir, "events").select("user_id")
    freq = e.groupBy("user_id").agg(F.count("*").alias("freq"))
    g = freq.agg(
        F.count("*").alias("n_keys"),
        F.sum("freq").cast("bigint").alias("n_rows"),
    )
    ranked = freq.select(
        "user_id",
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), F.col("user_id")))
        .cast("bigint")
        .alias("rnk"),
    ).where(F.col("rnk") <= 10)
    return ranked.crossJoin(F.broadcast(g)).select(
        "rnk",
        "user_id",
        "freq",
        "n_keys",
        "n_rows",
        ratio_round6(F.col("freq"), F.col("n_rows")).alias("row_share"),
        ratio_round6(
            F.col("freq") * F.col("n_keys"), F.col("n_rows")
        ).alias("skew_ratio"),
    )
