"""TPC-H closure batch: the seven query shapes the first two relational
batches didn't cover — Q4 (EXISTS semi), Q8 (market share, 7-way join +
conditional agg), Q9 (profit, LIKE + 5-way join), Q12 (conditional
counts), Q13 (outer join + double aggregation), Q20 (nested semi chain
with a correlated quantity threshold), Q21 (EXISTS + NOT EXISTS over the
same fact table). With these, all 22 TPC-H query *shapes* have a catalog
entry (SURVEY §2.12 closure; the reference itself has no joins at all —
SURVEY §2.10 — so this whole menu is the "standard relational menu"
extension the survey calls for).

The driver's testdata lacks partsupp / l_shipmode / l_commitdate /
l_receiptdate, so shapes are transposed onto existing columns:
"late shipment" := l_shipdate > o_orderdate + 90 days, "supply cost" :=
a p_retailprice multiple. What is preserved is the PLAN shape — where
each subquery sits and what Catalyst must do with it (decorrelate,
semi/anti-join, reuse exchanges).

Scale notes (local[32] today, 1000 executors tomorrow):
- Q4/Q21's EXISTS/NOT EXISTS become semi/anti joins keyed on l_orderkey
  — the same key every orders↔lineitem join here shuffles on, so AQE
  reuses one exchange instead of re-shuffling per predicate;
- Q8/Q9 broadcast only nation/region (fixed cardinality at every SF —
  sources/tables.BROADCAST_TABLES); part/supplier grow LINEARLY with
  SF (TPC-H: SF x 200k / SF x 10k rows), so their joins are left to
  AQE: broadcast while they fit, sort-merge when they don't — a forced
  broadcast would OOM the driver at the 100 TB target (review r9);
- Q13's left join aggregates count-per-customer then distribution —
  both aggs partial (map-side combine) before any shuffle;
- Q20's threshold compare stays in exact DECIMAL so the qualifying set
  is bit-identical across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dec_sum_expr, fixed_sum
from ..plans.catalog import register
from ..sources.tables import load_table

_DEC = "decimal(25,6)"
_LATE = "INTERVAL 90 DAYS"  # Spark interval literal spelling


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q4_order_priority_checking",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS over lineitem → LEFT SEMI join
    on l_orderkey with the lateness predicate folded into the join
    condition. One shuffle on orderkey; the date filter on orders is
    pushed to the parquet scan before the join."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr(_LATE)),
            "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "q8_national_market_share",
    oracle=f"""
    SELECT yr,
           CAST({dec_sum_expr(
               "CASE WHEN supp_nation = 'NATION_7' THEN vol ELSE 0 END")}
             / {dec_sum_expr("vol")} AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS yr,
             l.l_extendedprice * (1 - l.l_discount) AS vol,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'ASIA'
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    ) all_sales
    GROUP BY yr
    ORDER BY yr
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share of one supplier nation inside one
    customer region, by year — a 7-way join where every dimension
    (part, supplier, customer, nation x2, region) broadcasts and only
    lineitem↔orders shuffles; share = conditional sum / total sum in one
    aggregation pass (no second scan)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sales = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("sn_key"))
        .select(F.year("o_orderdate").alias("yr"), vol.alias("vol"),
                F.col("supp_nation"))
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_7",
                        F.col("vol")).otherwise(F.lit(0.0))
    return (
        sales.groupBy("yr")
        .agg((F.sum(nation_vol.cast(_DEC)).cast("double")
              / F.sum(F.col("vol").cast(_DEC)).cast("double"))
             .cast("double").alias("mkt_share"))
        .orderBy("yr")
    )


@register(
    "q9_product_type_profit",
    oracle=f"""
    SELECT supp_nation, yr, {dec_sum_expr("amount")} AS sum_profit
    FROM (
      SELECT n.n_name AS supp_nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS yr,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.6 * p.p_retailprice * l.l_quantity AS amount
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    ) profit
    GROUP BY supp_nation, yr
    ORDER BY supp_nation, yr DESC
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year over parts
    matching a LIKE pattern (supply cost transposed to a p_retailprice
    multiple — no partsupp in the testdata). The LIKE filter lands on the
    broadcast side, so the big scan only keeps matching partkeys after a
    broadcast hash join — no shuffle for the dimension legs."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.6 * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("supp_nation"),
                F.year("o_orderdate").alias("yr"), amount.alias("amount"))
        .groupBy("supp_nation", "yr")
        .agg(fixed_sum("amount", 4).alias("sum_profit"))
        .orderBy("supp_nation", F.col("yr").desc())
    )


@register(
    "q12_priority_by_linestatus",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_shipmode → l_linestatus): join + two
    conditional counts in a single aggregation. The shipdate range
    filter is pushed to the lineitem scan (PushedFilters), shrinking the
    shuffle before the orderkey join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
        .orderBy("l_linestatus")
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with a filter inside the join
    condition (not a WHERE — customers with zero qualifying orders must
    survive with count 0), then a second aggregation over the first's
    output. Both aggregations partial-combine map-side; the second one's
    input is already tiny (one row per customer)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q20_potential_part_promotion",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(25,6))) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ), tot AS (
      SELECT l_partkey, SUM(qty) AS total_qty FROM shipped GROUP BY l_partkey
    )
    SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT sh.l_suppkey
      FROM shipped sh
      JOIN tot ON tot.l_partkey = sh.l_partkey
      JOIN part p ON p.p_partkey = sh.l_partkey
      WHERE p.p_name LIKE 'small%' AND sh.qty > 0.3 * tot.total_qty)
    ORDER BY s.s_name
    """,
)
def q20_potential_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers who shipped
    >30% of some qualifying part's 1997 volume. The per-(part, supplier)
    and per-part aggregates share the l_partkey shuffle (the second agg
    consumes the first's partitioning); the threshold compare stays in
    exact DECIMAL so the qualifying set is engine- and
    partitioning-independent. Final step is a broadcast LEFT SEMI join
    into supplier."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = _t(spark, sf_dir, "supplier")
    shipped = (li.groupBy("l_partkey", "l_suppkey")
               .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("qty")))
    tot = (shipped.groupBy(F.col("l_partkey").alias("tk"))
           .agg(F.sum("qty").alias("total_qty")))
    qualifying = (
        shipped.join(tot, shipped.l_partkey == tot.tk)
        # the 'small%' slice is a fixed FRACTION of part — linear in SF
        # like its parent, so AQE decides broadcast vs shuffle
        .join(p, shipped.l_partkey == p.p_partkey)
        .filter(F.col("qty") > F.lit(0.3).cast("decimal(2,1)") * F.col("total_qty"))
        .select("l_suppkey"))
    return (
        s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "q21_suppliers_kept_waiting",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS over the same fact table.
    Rewritten set-wise (the classic decorrelation): a late line counts
    iff its order has ≥2 distinct suppliers overall and EXACTLY ONE
    distinct late supplier — two small per-order aggregates semi-joined
    back on l_orderkey. Every leg shuffles on the same key, so one
    exchange feeds the fact join, both aggregates, and both semi joins;
    nation and supplier broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    late = (li.join(o, li.l_orderkey == o.o_orderkey)
            .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr(_LATE)))
    multi_supp = (li.groupBy("l_orderkey")
                  .agg(F.count_distinct("l_suppkey").alias("ns"))
                  .filter(F.col("ns") >= 2)
                  .select(F.col("l_orderkey").alias("mk")))
    one_late = (late.groupBy(F.col("l_orderkey").alias("lk"))
                .agg(F.count_distinct("l_suppkey").alias("nl"))
                .filter(F.col("nl") == 1)
                .select("lk"))
    return (
        late.join(multi_supp, late.l_orderkey == F.col("mk"), "left_semi")
        .join(one_late, late.l_orderkey == F.col("lk"), "left_semi")
        .join(s, late.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "sql_recursive_supplier_chain",
    oracle=f"""
    WITH RECURSIVE chain AS (
      SELECT s_suppkey, s_suppkey AS node, 0 AS depth FROM supplier
      UNION ALL
      SELECT s_suppkey, node // 4 AS node, depth + 1 AS depth
      FROM chain WHERE node > 0
    )
    SELECT d.depth_to_root,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           {dec_sum_expr('s.s_acctbal')} AS sum_acctbal
    FROM (SELECT s_suppkey, CAST(MAX(depth) AS INTEGER) AS depth_to_root
          FROM chain GROUP BY s_suppkey) d
    JOIN supplier s ON s.s_suppkey = d.s_suppkey
    GROUP BY d.depth_to_root
    ORDER BY d.depth_to_root
    """,
)
def sql_recursive_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): walk each supplier's
    synthetic parent chain (parent := suppkey DIV 4 — a 4-ary-tree
    hierarchy derived from the key, since the testdata has no explicit
    edges) and aggregate account balance by depth-to-root. The recursion
    is set-at-a-time — each UnionLoop iteration advances EVERY frontier
    row in one distributed step (log N iterations total), the same
    execution shape as the iterative min-label propagation in
    operators/dedup.py but expressed declaratively through SQL.

    Shuffle sizing: every iteration pays per-partition fixed costs on a
    frontier of |supplier| rows — same reasoning as the dedup pair
    stages and streaming state stores. The recursion runs on a private
    session at 8 partitions, and its view of ``supplier`` lives there
    too. On a real cluster this is sized to frontier volume, not core
    count."""
    from ..session import private_session

    own = private_session(spark, {"spark.sql.shuffle.partitions": "8"})
    _t(own, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return _recursive_chain_sql(own)


def _recursive_chain_sql(spark: SparkSession) -> DataFrame:
    return spark.sql(f"""
        WITH RECURSIVE chain AS (
          SELECT s_suppkey, s_suppkey AS node, 0 AS depth FROM supplier
          UNION ALL
          SELECT s_suppkey, node DIV 4 AS node, depth + 1 AS depth
          FROM chain WHERE node > 0
        )
        SELECT d.depth_to_root,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(CAST(s.s_acctbal AS DECIMAL(25,6))) AS DOUBLE)
                 AS sum_acctbal
        FROM (SELECT s_suppkey, CAST(MAX(depth) AS INT) AS depth_to_root
              FROM chain GROUP BY s_suppkey) d
        JOIN supplier s ON s.s_suppkey = d.s_suppkey
        GROUP BY d.depth_to_root
        ORDER BY d.depth_to_root
    """)


@register(
    "sql_pipe_syntax_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {dec_sum_expr('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's `|>` operators): the same
    filter→aggregate→sort dataflow the reference writes as a method
    chain (SURVEY §2.11), expressed through the SQL surface's pipe form.
    Parses to the identical Catalyst plan as the nested-SELECT
    equivalent — the construct under test is the parser, not a new
    operator."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(25,6))) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_items, revenue
        |> ORDER BY l_returnflag, l_linestatus
    """)


@register(
    "sql_scripting_threshold_report",
    oracle="""
    WITH t AS (
      SELECT MIN(v) AS threshold FROM (
        SELECT o_totalprice AS v FROM orders ORDER BY v DESC LIMIT 100)
    )
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_big,
           CAST(MAX(o.o_totalprice) AS DOUBLE) AS max_price
    FROM orders o, t WHERE o.o_totalprice >= t.threshold
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def sql_scripting_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4's BEGIN…END batch): a DECLAREd session
    variable holds a scalar threshold computed in one statement and
    consumed in the next — the multi-step-report shape ops teams write,
    run entirely inside the engine (the variable is driver-side state,
    the statements are ordinary Catalyst plans). Threshold is the 100th-
    largest order value (an actual data value, not an interpolated
    percentile) so the qualifying set is bit-exact in any engine."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        BEGIN
          DECLARE threshold DOUBLE;
          SET threshold = (
            SELECT MIN(v) FROM (
              SELECT o_totalprice AS v FROM orders
              ORDER BY v DESC LIMIT 100));
          SELECT o_orderstatus,
                 CAST(COUNT(*) AS BIGINT) AS n_big,
                 CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
          FROM orders WHERE o_totalprice >= threshold
          GROUP BY o_orderstatus ORDER BY o_orderstatus;
        END
    """)


@register(
    "api_lateral_join_top2",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey,
           CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
    FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey <= 300
    ORDER BY c.c_custkey, o_totalprice DESC, t.o_orderkey
    """,
)
def api_lateral_join_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.lateralJoin`` (Spark 4.1's API spelling of LATERAL):
    the subquery references the outer row via ``.outer()`` column refs —
    same semantics and same decorrelated window/join plan as the SQL
    form (tpch_shapes.sql_lateral_top2_orders); registered so BOTH
    spellings of the per-row-subquery surface are under the gate."""
    c = (_t(spark, sf_dir, "customer")
         .filter(F.col("c_custkey") <= 300).select("c_custkey"))
    o = _t(spark, sf_dir, "orders")
    top2 = (o.where(F.col("o_custkey") == F.col("c_custkey").outer())
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(2)
            .select("o_orderkey", "o_totalprice"))
    return (
        c.lateralJoin(top2)
        .select("c_custkey", "o_orderkey",
                F.col("o_totalprice").cast("double").alias("o_totalprice"))
        .orderBy("c_custkey", F.col("o_totalprice").desc(), "o_orderkey")
    )


@register(
    "api_scalar_exists_subqueries",
    oracle="""
    SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_quantity >= 45)
      AND o.o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def api_scalar_exists_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.scalar()`` + ``DataFrame.exists()`` (Spark 4.1's API
    spelling of scalar and EXISTS subquery expressions, with ``.outer()``
    correlation) — planned exactly like the SQL forms: the EXISTS
    decorrelates to a semi join on l_orderkey, the scalar average
    broadcasts as a 1-row relation.

    Float caveat: AVG here is the built-in double avg on BOTH sides —
    parity holds because the threshold compare has no rows within one
    ulp of the average; the engine's own aggregates use the exact
    decimal forms (functions/numeric.py) precisely so results never
    depend on such luck."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    avg_price = o.select(F.avg("o_totalprice")).scalar()
    has_big_line = (li.where((F.col("l_orderkey") == F.col("o_orderkey").outer())
                             & (F.col("l_quantity") >= 45)).exists())
    return (
        o.where(has_big_line & (F.col("o_totalprice") > avg_price))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderstatus")
    )


@register(
    "api_transpose_status_metrics",
    oracle=f"""
    WITH s AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             round({dec_sum_expr('o_totalprice')} / COUNT(*), 6) AS avg_price,
             round(MAX(o_totalprice), 6) AS max_price
      FROM orders GROUP BY 1
    )
    SELECT k.key,
           MAX(CASE WHEN o_orderstatus = 'F' THEN
             CASE k.key WHEN 'n_orders' THEN n_orders
                        WHEN 'avg_price' THEN avg_price
                        ELSE max_price END END) AS "F",
           MAX(CASE WHEN o_orderstatus = 'O' THEN
             CASE k.key WHEN 'n_orders' THEN n_orders
                        WHEN 'avg_price' THEN avg_price
                        ELSE max_price END END) AS "O",
           MAX(CASE WHEN o_orderstatus = 'P' THEN
             CASE k.key WHEN 'n_orders' THEN n_orders
                        WHEN 'avg_price' THEN avg_price
                        ELSE max_price END END) AS "P"
    FROM s CROSS JOIN (SELECT unnest(['n_orders', 'avg_price', 'max_price'])
                       AS key) k
    GROUP BY k.key ORDER BY k.key
    """,
)
def api_transpose_status_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4.0+ API): a per-status metrics
    block flipped so each metric becomes a row and each status a column
    — the wide-summary presentation shape. Transpose requires a uniform
    value type (all metrics cast to double) and uses the first column's
    values as the new column names; the input is ordered by status so
    the emitted columns are deterministic (F, O, P). The oracle spells
    the same flip as a manual CASE pivot over the metric names."""
    o = _t(spark, sf_dir, "orders")
    s = (
        o.groupBy("o_orderstatus")
        .agg(F.count("*").cast("double").alias("n_orders"),
             F.round(fixed_sum("o_totalprice", 2) / F.count("*"), 6)
             .alias("avg_price"),
             F.round(F.max("o_totalprice"), 6).alias("max_price"))
        .orderBy("o_orderstatus")
    )
    return s.transpose().orderBy("key")
