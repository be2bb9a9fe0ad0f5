package graft.operators

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-H-shaped relational queries over the driver star schema (SURVEY.md §7.5)
  * — the join/agg surface Catalyst provides, exercised explicitly, plus
  * sessionization over `events`.
  *
  * Money sums use exact integer micros (floor(x·1e6 + 0.5) summed as BIGINT,
  * divided back once) so aggregation order — nondeterministic in any parallel
  * engine — cannot perturb the oracle hash.
  *
  * Scale: dimension tables (region/nation/customer/supplier/part) broadcast;
  * only fact-fact joins (orders⋈lineitem) shuffle, on their natural key. AQE
  * handles skew; filters sit directly on the scans for parquet pushdown.
  */
object Relational {

  /** Exact order-independent sum of a money-like double: Σ as integer micros.
    * The micros are cast to BIGINT BEFORE aggregating (matching the SQL twin):
    * summing them as DOUBLE would lose exactness — and become association-order
    * dependent — once a group's total passes 2^53 (~sf0.3 for q1 base price).
    */
  private def exactSum(c: Column): Column =
    (sum(floor(c * 1e6 + 0.5).cast("long")).cast("double") / 1e6).as("x")
  private def sqlExactSum(x: String): String =
    s"(CAST(sum(CAST(floor(($x)*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/1e6)"

  private def exactAvg(c: Column): Column =
    sum(floor(c * 1e6 + 0.5).cast("long")).cast("double") / count(lit(1)) / 1e6
  private def sqlExactAvg(x: String): String =
    s"(CAST(sum(CAST(floor(($x)*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/count(*)/1e6)"

  /** Q1-style pricing summary. */
  def q1(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        exactAvg(col("l_quantity")).as("avg_qty"),
        exactAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Q3-style: top 10 open orders by revenue for one segment. */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  /** Q5-style: revenue per nation through the full star join. */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Q6-style: filtered revenue delta. */
  def q6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24.0)
      .agg(exactSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Q18 threshold on the exact-micros order quantity sum. */
  val Q18MinQty = 180.0

  /** Q18-style "large volume customer" query: orders whose total lineitem
    * quantity exceeds [[Q18MinQty]], with their customer, top 100 by order
    * value. The shape worth exercising: a HAVING-filtered fact aggregation
    * JOINED BACK to the fact table — the aggregate prunes orders before the
    * customer join, so the dimension join only sees qualifying keys, and the
    * final top-100 is TakeOrdered, not a global sort.
    */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(exactSum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > Q18MinQty)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  def q18Oracle: String =
    s"""WITH big AS (
       |  SELECT l_orderkey, ${sqlExactSum("l_quantity")} AS sum_qty
       |  FROM lineitem GROUP BY 1
       |  HAVING ${sqlExactSum("l_quantity")} > ${sqlD(Q18MinQty)}
       |)
       |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, b.sum_qty
       |FROM orders o
       |JOIN big b ON b.l_orderkey = o.o_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin

  /** Q4-shape order-priority checking: orders in a one-year window with at
    * least one line shipped more than 60 days after the order date (the
    * fixture has no l_commitdate/l_receiptdate, so "late" is derived from the
    * two dates it does carry), counted per priority. The EXISTS collapses to a
    * LEFT SEMI join on the order key with the date inequality as a residual
    * condition — one fact-fact shuffle on l_orderkey, lineitem pruned to two
    * columns at the scan, no duplication of matched orders however many lines
    * qualify. That shape is unchanged at 100 TB: semi-join output is bounded
    * by the orders side.
    */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  def q4Oracle: String =
    s"""SELECT o_orderpriority, count(*) AS order_count
       |FROM orders o
       |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
       |  AND EXISTS (SELECT 1 FROM lineitem l
       |              WHERE l.l_orderkey = o.o_orderkey
       |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q14-shape promo revenue share: one month of lineitem joined to part,
    * conditional aggregation of the PROMO slice against the total in a single
    * scan. part broadcasts (it is a dimension); the month filter pushes to the
    * lineitem scan. Both sums are exact integer micros; the percentage is one
    * double division over the two exact totals, so both engines divide the
    * same pair of doubles.
    */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        exactSum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))).as("promo_revenue"),
        exactSum(rev).as("total_revenue"))
      .select(
        r6(lit(100.0) * col("promo_revenue") / col("total_revenue")).as("promo_pct"),
        col("promo_revenue"), col("total_revenue"))
  }

  def q14Oracle: String = {
    val rev = "l.l_extendedprice * (1.0e0 - l.l_discount)"
    s"""WITH t AS (
       |  SELECT ${sqlExactSum(s"CASE WHEN p.p_type = 'PROMO' THEN $rev ELSE 0.0e0 END")} AS promo_revenue,
       |         ${sqlExactSum(rev)} AS total_revenue
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' AND l.l_shipdate < TIMESTAMP '1997-10-01'
       |)
       |SELECT ${sqlR6("100.0e0 * promo_revenue / total_revenue")} AS promo_pct,
       |       promo_revenue, total_revenue
       |FROM t""".stripMargin
  }

  /** Q19-shape disjunctive-predicate join: revenue over an OR of three
    * AND-branches, each constraining (p_brand, p_size, l_quantity) jointly.
    * The plan this must produce: part broadcasts, and Catalyst pushes the
    * per-side restriction of the disjunction to each scan (every branch bounds
    * l_quantity ≤ 30, and the part side keeps only the three brands), so the
    * join probes a pre-shrunk build side instead of evaluating the full OR on
    * the cross of both tables — the difference between a predicate evaluated
    * once per scanned row and once per joined row at 100 TB.
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val branch = (brand: String, szHi: Int, qLo: Double, qHi: Double) =>
      col("p_brand") === brand && col("p_size").between(1, szHi) &&
        col("l_quantity").between(qLo, qHi)
    li.join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .filter(branch("Brand#11", 15, 1.0, 11.0) ||
        branch("Brand#22", 25, 10.0, 20.0) ||
        branch("Brand#15", 35, 20.0, 30.0))
      .agg(
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  def q19Oracle: String =
    s"""SELECT ${sqlExactSum("l.l_extendedprice * (1.0e0 - l.l_discount)")} AS revenue,
       |       count(*) AS n_items
       |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1.0e0 AND 11.0e0)
       |   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10.0e0 AND 20.0e0)
       |   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20.0e0 AND 30.0e0)""".stripMargin

  /** Q10-shape returned-item reporting: revenue lost to returns ('R' lines)
    * for one quarter of orders, per customer, top 20. The canonical
    * fact-fact-then-dimension shape: both fact filters push to their scans,
    * the orderkey join is the only shuffle, customer/nation broadcast, and
    * the top-20 is TakeOrdered (per-partition heaps, no global sort) — at
    * 100 TB the output is 20 rows regardless of input size.
    */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .select(col("c_custkey"), col("c_name"), r6(col("c_acctbal")).as("c_acctbal"),
        col("n_name"), col("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  def q10Oracle: String =
    s"""SELECT c.c_custkey, c.c_name, ${sqlR6("c.c_acctbal")} AS c_acctbal, n.n_name,
       |       ${sqlExactSum("l.l_extendedprice * (1.0e0 - l.l_discount)")} AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |WHERE l.l_returnflag = 'R'
       |  AND o.o_orderdate >= TIMESTAMP '1997-10-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Q16's part-class filter: a handful of exact sizes, two excluded classes. */
  val Q16Sizes = Seq(1, 5, 9, 14, 19, 23, 36, 45)

  /** Q16-shape supplier-relationship count, adapted to this schema: the
    * fixture carries no partsupp table, so the DISTINCT (l_partkey,
    * l_suppkey) pairs of lineitem are the de-facto part-supplier relation,
    * and (absent s_comment) "suppliers with complaints" are those with a
    * NEGATIVE account balance — same NOT-IN/anti-join shape as the original.
    * Plan: the distinct pair agg collapses map-side before anything joins;
    * both the excluded-supplier set and the filtered part dimension
    * broadcast; count(DISTINCT) is Catalyst's two-phase expand — no join
    * ever sees raw lineitem rows twice.
    */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey").distinct()
    val badSupp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0.0).select("s_suppkey")
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(Q16Sizes: _*))
    ps.join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
  }

  def q16Oracle: String =
    s"""SELECT p.p_brand, p.p_type, p.p_size,
       |       count(DISTINCT ps.l_suppkey) AS supplier_cnt
       |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
       |JOIN part p ON p.p_partkey = ps.l_partkey
       |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
       |  AND p.p_size IN (${Q16Sizes.mkString(", ")})
       |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0e0)
       |GROUP BY 1, 2, 3
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** A line is "late" when shipped > 90 days after its order date (the
    * fixture has no commit/receipt dates — same derivation as [[q4]]). */
  val Q21LateDays = 90

  /** Q21-shape "suppliers who kept orders waiting": for finished orders with
    * ≥ 2 distinct suppliers where EXACTLY ONE supplier shipped late, charge
    * that supplier; top 10 by count. The textbook form is a double
    * EXISTS/NOT-EXISTS self-correlation on lineitem; re-expressed for scale
    * as ONE orders⋈lineitem join followed by a per-(order, supplier)
    * aggregate and a per-order window — the fact table is scanned and
    * shuffled once, instead of three correlated probes, and the window rides
    * the agg's partitioning (orderkey prefix). The oracle mirrors the same
    * reformulation, which is equivalent to the EXISTS form because "exactly
    * one late supplier" ⇔ "this supplier is late ∧ no OTHER supplier late".
    */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val ordF = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
    val perPair = li.join(ordF, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $Q21LateDays DAYS")).as("late"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg((sum(when(col("late"), 1L).otherwise(0L)) > 0L).as("late"))
    val byOrder = Window.partitionBy("l_orderkey")
    perPair
      .withColumn("n_supp", count(lit(1)).over(byOrder))
      .withColumn("n_late_supp", sum(when(col("late"), 1L).otherwise(0L)).over(byOrder))
      .filter(col("late") && col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(10)
  }

  def q21Oracle: String =
    s"""WITH pair AS (
       |  SELECT l.l_orderkey, l.l_suppkey,
       |         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL $Q21LateDays DAY THEN 1 ELSE 0 END) = 1 AS late
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE o.o_orderstatus = 'F'
       |  GROUP BY 1, 2
       |), flagged AS (
       |  SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
       |         sum(CASE WHEN late THEN 1 ELSE 0 END) OVER (PARTITION BY l_orderkey) AS n_late_supp
       |  FROM pair
       |)
       |SELECT s.s_name, count(*) AS numwait
       |FROM flagged f JOIN supplier s ON s.s_suppkey = f.l_suppkey
       |WHERE f.late AND f.n_supp >= 2 AND f.n_late_supp = 1
       |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin

  /** Q22's customer cohort (nation-key group standing in for the phone
    * country codes this schema doesn't carry) and inactivity cutoff (every
    * fixture customer has SOME order, so "never ordered" is vacuous; "no
    * order since the cutoff" keeps the anti-join non-degenerate at every
    * scale — 58/564 qualifying customers at sf0.001/sf0.01).
    */
  val Q22Nations = Seq(1, 3, 5, 7, 9, 11, 13)
  val Q22Cutoff = "2001-01-01"

  /** Q22-shape global-sales-opportunity: well-funded-but-inactive customers —
    * balance above the cohort's positive-balance average, no order since
    * [[Q22Cutoff]] — counted per nation. Exercises the two decorrelations
    * Catalyst must get right: the scalar AVG subquery becomes a 1-row
    * broadcast cross join (never a per-row probe), and NOT EXISTS becomes a
    * LEFT ANTI join against the distinct-key recent-buyer set. The average is
    * exact integer micros over doubles, so the > threshold cut is
    * bit-identical in both engines. At 100 TB: the anti-join build side is
    * distinct customer KEYS of one date slice, the probe side a filtered
    * dimension — both orders of magnitude below the fact table.
    */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val cohort = Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(Q22Nations.map(Integer.valueOf): _*))
    val avgBal = cohort.filter(col("c_acctbal") > 0.0)
      .agg((sum(floor(col("c_acctbal") * 1e6 + 0.5).cast("long")).cast("double") /
        count(lit(1)) / 1e6).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(Q22Cutoff).cast("timestamp"))
      .select("o_custkey").distinct()
    cohort.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        exactSum(col("c_acctbal")).as("totacctbal"))
  }

  def q22Oracle: String =
    s"""WITH cohort AS (
       |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
       |  WHERE c_nationkey IN (${Q22Nations.mkString(", ")})
       |), avgb AS (
       |  SELECT ${sqlExactAvg("c_acctbal")} AS avg_bal FROM cohort WHERE c_acctbal > 0.0e0
       |)
       |SELECT c.c_nationkey, count(*) AS numcust, ${sqlExactSum("c.c_acctbal")} AS totacctbal
       |FROM cohort c, avgb
       |WHERE c.c_acctbal > avgb.avg_bal
       |  AND NOT EXISTS (SELECT 1 FROM orders o
       |                  WHERE o.o_custkey = c.c_custkey
       |                    AND o.o_orderdate >= TIMESTAMP '$Q22Cutoff')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q7's trading-nation pair. */
  val Q7NationA = "NATION_1"
  val Q7NationB = "NATION_2"

  /** Q7-shape volume shipping between two nations: revenue by (supplier
    * nation, customer nation, year) for the two directed flows of one nation
    * pair. The shape this adds: ONE dimension (nation) joined in TWO ROLES,
    * with a disjunctive pair predicate that cannot sit on any single scan.
    * The scale-correct plan prunes FIRST: supplier and customer are each
    * pre-filtered to the two nations (broadcast), so the fact join runs on
    * the ~8% slice and the OR over role pairs is a residual on joined rows —
    * not a post-join filter over the full fact table.
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name").isin(Q7NationA, Q7NationB))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === Q7NationA && col("cust_nation") === Q7NationB) ||
        (col("supp_nation") === Q7NationB && col("cust_nation") === Q7NationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  def q7Oracle: String =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |       CAST(year(l.l_shipdate) AS INT) AS l_year,
       |       ${sqlExactSum("l.l_extendedprice * (1.0e0 - l.l_discount)")} AS revenue,
       |       count(*) AS n_items
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
       |  AND ((sn.n_name = '$Q7NationA' AND cn.n_name = '$Q7NationB')
       |    OR (sn.n_name = '$Q7NationB' AND cn.n_name = '$Q7NationA'))
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  /** Q17's brand slice. */
  val Q17Brand = "Brand#11"

  /** Q17-shape small-quantity-order revenue: for one brand, the yearly
    * revenue from lineitems whose quantity is below 20% of that PART's
    * average quantity — the per-GROUP scalar-average decorrelation (vs Q22's
    * global scalar and Q2's groupwise-min): the correlated `avg` subquery
    * becomes a per-part aggregate joined back on the part key. The brand
    * filter prunes BEFORE the average, so both the agg and the join-back run
    * on the brand slice only; the average is exact integer micros, making
    * the 20% threshold cut engine-exact.
    */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir).filter(col("p_brand") === Q17Brand)
      .select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
    val perPart = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg((lit(0.2) * (sum(floor(col("l_quantity") * 1e6 + 0.5).cast("long")).cast("double") /
        count(lit(1)) / 1e6)).as("qty_thr"))
    li.join(perPart, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_thr"))
      .agg(r6(exactSum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  def q17Oracle: String =
    s"""WITH br AS (
       |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |  WHERE p.p_brand = '$Q17Brand'
       |), thr AS (
       |  SELECT l_partkey, 0.2e0 * ${sqlExactAvg("l_quantity")} AS qty_thr
       |  FROM br GROUP BY 1
       |)
       |SELECT ${sqlR6(s"${sqlExactSum("b.l_extendedprice")} / 7.0e0")} AS avg_yearly,
       |       count(*) AS n_items
       |FROM br b JOIN thr t ON t.l_partkey = b.l_partkey
       |WHERE b.l_quantity < t.qty_thr""".stripMargin

  /** Q8's market: one region's customers, one part class, one focal nation. */
  val Q8Region = "ASIA"
  val Q8Nation = "NATION_2"
  val Q8PartType = "PROMO"

  /** Q8-shape national market share: of the [[Q8Region]]-region customers'
    * spend on [[Q8PartType]] parts, the share supplied by [[Q8Nation]], per
    * order year — the conditional-share aggregation (CASE inside one sum
    * divided by the other) over a deep star join where nation again plays
    * two roles (customer region membership, supplier share split). All five
    * dimension arms broadcast; both sums are exact micros, so the share is
    * one double division of two exact totals.
    */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir).filter(col("p_type") === Q8PartType)
      .select("p_partkey")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === Q8Region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        exactSum(when(col("supp_nation") === Q8Nation, rev).otherwise(lit(0.0))).as("nation_volume"),
        exactSum(rev).as("total_volume"))
      .select(col("o_year"),
        r6(col("nation_volume") / col("total_volume")).as("mkt_share"),
        col("nation_volume"), col("total_volume"))
  }

  def q8Oracle: String = {
    val rev = "l.l_extendedprice * (1.0e0 - l.l_discount)"
    s"""WITH t AS (
       |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       |         ${sqlExactSum(s"CASE WHEN sn.n_name = '$Q8Nation' THEN $rev ELSE 0.0e0 END")} AS nation_volume,
       |         ${sqlExactSum(rev)} AS total_volume
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = '$Q8PartType'
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = '$Q8Region'
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
       |  GROUP BY 1
       |)
       |SELECT o_year, ${sqlR6("nation_volume / total_volume")} AS mkt_share,
       |       nation_volume, total_volume
       |FROM t ORDER BY o_year""".stripMargin
  }

  /** Market-basket pair mining: parts co-purchased in the same order, with
    * support counts and lift, top 50 — the "frequently bought together"
    * co-occurrence operator (and the within-group pair-expansion shape:
    * candidate pairs exist ONLY inside an order, never across the catalog).
    * The self-join key is the order, so fan-out per key is bounded by order
    * size (≤ 7 lines here) — at 100 TB the pair count grows linearly with
    * orders, not quadratically with parts; the two singleton-count joins are
    * item-keyed aggregates. Lift's numerator/denominator are exact BIGINT
    * products cast once to double, top-50 is TakeOrdered with a total-order
    * tiebreak.
    */
  def marketBasket(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = li.toDF("o", "p1")
      .join(li.toDF("o", "p2"), "o")
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_both"))
    val item = li.groupBy(col("p")).agg(count(lit(1)).as("n_item"))
    val tot = li.select(countDistinct(col("o")).as("n_orders"))
    pairs
      .join(item.select(col("p").as("p1"), col("n_item").as("n_p1")), "p1")
      .join(item.select(col("p").as("p2"), col("n_item").as("n_p2")), "p2")
      .crossJoin(broadcast(tot))
      .select(col("p1"), col("p2"), col("n_both"), col("n_p1"), col("n_p2"),
        r6((col("n_both") * col("n_orders")).cast("double") /
          (col("n_p1") * col("n_p2")).cast("double")).as("lift"))
      .orderBy(desc("n_both"), asc("p1"), asc("p2"))
      .limit(50)
  }

  def marketBasketOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (
       |  SELECT a.p AS p1, b.p AS p2, count(*) AS n_both
       |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2
       |), item AS (SELECT p, count(*) AS n_item FROM li GROUP BY 1),
       |tot AS (SELECT count(DISTINCT o) AS n_orders FROM li)
       |SELECT p.p1, p.p2, p.n_both, i1.n_item AS n_p1, i2.n_item AS n_p2,
       |       ${sqlR6("CAST(p.n_both * t.n_orders AS DOUBLE) / CAST(i1.n_item * i2.n_item AS DOUBLE)")} AS lift
       |FROM pairs p
       |JOIN item i1 ON i1.p = p.p1
       |JOIN item i2 ON i2.p = p.p2
       |CROSS JOIN tot t
       |ORDER BY n_both DESC, p1, p2 LIMIT 50""".stripMargin

  /** Referential-integrity audit over the star schema — the FK-contract
    * checks a warehouse runs on every load, as one bounded report (the
    * relational complement of the single-table `events_quality_report`):
    * orphaned lineitems (l_orderkey ∉ orders), orphaned orders (o_custkey ∉
    * customer), childless orders (no lineitem), dangling part/supplier keys
    * on lineitem, and domain checks (non-positive quantity / price). Each
    * check is a left-anti join on the key — the 100-TB shape, since an
    * anti-join's build side is the KEY SET of the dimension, never the fact
    * rows — collapsed to one (check_name, n_violations) row; the final
    * union is a dozen rows.
    */
  def integrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    def cnt(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations")).select(lit(name).as("check_name"), col("n_violations"))
    cnt("lineitem_orphan_order",
        li.join(ord.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_anti"))
      .unionByName(cnt("order_orphan_customer",
        ord.join(Tables.customer(spark, dir).select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")))
      .unionByName(cnt("order_without_lineitem",
        ord.join(li.select("l_orderkey").distinct(),
          col("o_orderkey") === col("l_orderkey"), "left_anti")))
      .unionByName(cnt("lineitem_orphan_part",
        li.join(Tables.part(spark, dir).select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_anti")))
      .unionByName(cnt("lineitem_orphan_supplier",
        li.join(Tables.supplier(spark, dir).select("s_suppkey"),
          col("l_suppkey") === col("s_suppkey"), "left_anti")))
      .unionByName(cnt("lineitem_nonpositive_qty", li.filter(col("l_quantity") <= 0.0)))
      .unionByName(cnt("lineitem_nonpositive_price", li.filter(col("l_extendedprice") <= 0.0)))
      .unionByName(cnt("order_nonpositive_total", ord.filter(col("o_totalprice") <= 0.0)))
  }

  def integrityAuditOracle: String =
    s"""SELECT 'lineitem_orphan_order' AS check_name,
       |       count(*) AS n_violations
       |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
       |UNION ALL
       |SELECT 'order_orphan_customer', count(*)
       |FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
       |UNION ALL
       |SELECT 'order_without_lineitem', count(*)
       |FROM orders o WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
       |UNION ALL
       |SELECT 'lineitem_orphan_part', count(*)
       |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
       |UNION ALL
       |SELECT 'lineitem_orphan_supplier', count(*)
       |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
       |UNION ALL
       |SELECT 'lineitem_nonpositive_qty', count(*) FROM lineitem WHERE l_quantity <= 0.0e0
       |UNION ALL
       |SELECT 'lineitem_nonpositive_price', count(*) FROM lineitem WHERE l_extendedprice <= 0.0e0
       |UNION ALL
       |SELECT 'order_nonpositive_total', count(*) FROM orders WHERE o_totalprice <= 0.0e0
       |ORDER BY check_name""".stripMargin

  /** Revenue concentration per nation — the inequality metrics an account
    * team reads before deciding where concentration risk lives: the GINI
    * coefficient of customer lifetime spend, G = (2·Σᵢ i·xᵢ − (n+1)·Σx) /
    * (n·Σx) over the ascending-spend ranking, and the top-decile share
    * (the ⌈n/10⌉ biggest customers' fraction of spend). Everything is exact
    * integer arithmetic: spend in integer CENTS (so the rank-weighted sum
    * Σ i·xᵢ stays far below 2⁶³ at every scale — micros would overflow it
    * at sf1), ranks with total-order tiebreaks, the two final divisions
    * same-operand doubles r6-rounded. Partitioned by nation so every rank
    * window has a partition key (the `customers_rfm` stance); output is one
    * row per nation.
    */
  def revenueGini(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("x"))
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    val byNat = Window.partitionBy("c_nationkey")
    val wAsc = byNat.orderBy(asc("x"), asc("c_custkey"))
    val wDesc = byNat.orderBy(desc("x"), desc("c_custkey"))
    val ranked = spend
      .withColumn("rn", row_number().over(wAsc).cast("long"))
      .withColumn("rd", row_number().over(wDesc).cast("long"))
      .withColumn("n", count(lit(1)).over(byNat))
    ranked.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("x")).cast("double") / 100.0).as("total_spend"),
        r6((lit(2.0) * sum(col("rn") * col("x")).cast("double") -
          (max(col("n")) + 1L).cast("double") * sum(col("x")).cast("double")) /
          (max(col("n")).cast("double") * sum(col("x")).cast("double"))).as("gini"),
        // ⌈n/10⌉ as an explicit floor: Column `/` is double division
        r6(sum(when(col("rd") <= floor((col("n") + 9L).cast("double") / 10.0).cast("long"),
            col("x")).otherwise(lit(0L)))
          .cast("double") / sum(col("x")).cast("double")).as("top_decile_share"))
  }

  def revenueGiniOracle: String =
    s"""WITH spend AS (
       |  SELECT c.c_nationkey, o.o_custkey,
       |         CAST(sum(CAST(floor(o.o_totalprice*100.0 + 0.5) AS BIGINT)) AS BIGINT) AS x
       |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT c_nationkey, x,
       |         CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY x, o_custkey) AS BIGINT) AS rn,
       |         CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY x DESC, o_custkey DESC) AS BIGINT) AS rd,
       |         count(*) OVER (PARTITION BY c_nationkey) AS n
       |  FROM spend
       |)
       |SELECT c_nationkey, count(*) AS n_customers,
       |       CAST(sum(x) AS DOUBLE)/100.0 AS total_spend,
       |       ${sqlR6("(2.0 * CAST(sum(rn * x) AS DOUBLE) - CAST(max(n) + 1 AS DOUBLE) * CAST(sum(x) AS DOUBLE)) / (CAST(max(n) AS DOUBLE) * CAST(sum(x) AS DOUBLE))")} AS gini,
       |       ${sqlR6("CAST(sum(CASE WHEN rd <= (n + 9) // 10 THEN x ELSE 0 END) AS DOUBLE) / CAST(sum(x) AS DOUBLE)")} AS top_decile_share
       |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** RFM reference date: the day after the fixture's last order date. */
  val RfmAsOf = "2001-08-02"

  /** RFM customer segmentation — the classic marketing-analytics cube:
    * per customer, Recency (days since last order, as of [[RfmAsOf]]),
    * Frequency (order count) and Monetary (exact-micros lifetime spend),
    * each cut into quintiles and composed into the familiar "R5F4M3"
    * segment code. The scale decision: quintiles are computed PER NATION
    * (market-local segmentation), so every ntile window has a partition key
    * and nothing sorts globally — the same reason `events_value_deciles`
    * partitions by type; a global cut would need the PSI-style broadcast
    * boundary trick instead. Tiebreaks are total (metric, custkey), R ranks
    * ascending (recent = best) while F/M rank descending, and all three
    * metrics are exact integers so the quintile cuts are engine-identical.
    */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(floor(col("o_totalprice") * 1e6 + 0.5).cast("long")).as("spend_mi"))
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_nationkey"),
        datediff(lit(RfmAsOf).cast("date"), col("last_order").cast("date"))
          .cast("long").as("recency_days"),
        col("frequency"), (col("spend_mi").cast("double") / 1e6).as("monetary"),
        col("spend_mi"))
    val byNation = Window.partitionBy("c_nationkey")
    val rQ = ntile(5).over(byNation.orderBy(asc("recency_days"), asc("c_custkey")))
    val fQ = ntile(5).over(byNation.orderBy(desc("frequency"), asc("c_custkey")))
    val mQ = ntile(5).over(byNation.orderBy(desc("spend_mi"), asc("c_custkey")))
    base
      .withColumn("r_q", rQ).withColumn("f_q", fQ).withColumn("m_q", mQ)
      .select(col("c_custkey"), col("c_nationkey"),
        col("recency_days"), col("frequency"), col("monetary"),
        col("r_q"), col("f_q"), col("m_q"),
        concat(lit("R"), col("r_q"), lit("F"), col("f_q"), lit("M"), col("m_q"))
          .as("segment"))
  }

  def rfmOracle: String =
    s"""WITH base AS (
       |  SELECT c.c_custkey, c.c_nationkey,
       |         CAST(CAST(DATE '$RfmAsOf' AS DATE) - CAST(max(o.o_orderdate) AS DATE) AS BIGINT) AS recency_days,
       |         count(*) AS frequency,
       |         CAST(sum(CAST(floor(o.o_totalprice*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS spend_mi
       |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       |  GROUP BY 1, 2
       |)
       |SELECT c_custkey, c_nationkey, recency_days, frequency,
       |       CAST(spend_mi AS DOUBLE)/1e6 AS monetary,
       |       r_q, f_q, m_q,
       |       'R' || r_q || 'F' || f_q || 'M' || m_q AS segment
       |FROM (
       |  SELECT *,
       |         CAST(ntile(5) OVER (PARTITION BY c_nationkey ORDER BY recency_days, c_custkey) AS INT) AS r_q,
       |         CAST(ntile(5) OVER (PARTITION BY c_nationkey ORDER BY frequency DESC, c_custkey) AS INT) AS f_q,
       |         CAST(ntile(5) OVER (PARTITION BY c_nationkey ORDER BY spend_mi DESC, c_custkey) AS INT) AS m_q
       |  FROM base
       |)
       |ORDER BY c_custkey""".stripMargin

  /** PageRank damping and iteration count (fixed unroll — each iteration is
    * one join+agg pass in Spark and one CTE in the oracle). */
  val PrDamping = 0.85
  val PrIters = 3

  /** PageRank over the part co-purchase graph — the graph-centrality twin of
    * the label-propagation connected components in `dedup_clusters`: nodes
    * are parts, directed edges connect parts co-purchased in some order
    * (both directions, so every node in the graph has out-degree ≥ 1 — no
    * dangling mass). Each iteration is the sparse mat-vec as a join+agg:
    * contributions rank/outdeg flow along in-edges and collapse through a
    * map-side partial sum; ranks are fx12-quantized BEFORE summation (the
    * order-independence discipline) and r9-rounded before reuse (the
    * round-before-reuse rule), so three unrolled iterations are bit-identical
    * in both engines. Scale: edges ∝ Σ order_size² (bounded by order size,
    * never catalog²); each iteration shuffles the edge list on its
    * destination key — the canonical iterative-graph workload on a relational
    * engine, with the iteration count a compile-time unroll.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    // repartition by order FIRST: hash(o) satisfies both the (o, p) dedup's
    // clustering and the self-join's requirement (subset rule), so the whole
    // per-order pair generation runs off ONE 60 M-row exchange; a
    // distinct-then-join shape shuffles the table by (o, p) and then again by
    // o for the join (75 of pagerank's 110 s at sf10 were that edge build;
    // only the final 240 M-pair distinct is irreducible, since
    // cross-order duplicate pairs must collapse exactly once for outdeg and
    // the per-edge contribution to match the distinct-edge oracle).
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(col("o")).distinct()
    // dedupe HALF the pairs: the edge set is symmetric ((a,b) ⇔ (b,a)), so
    // only a < b pairs go through the one irreducible pair-keyed shuffle and
    // the mirror direction is emitted map-side after the distinct — the same
    // 239 M-edge set reaches the checkpoint off a 120 M-row exchange.
    val edges = li.toDF("o", "src")
      .join(li.toDF("o", "dst"), "o")
      .filter(col("src") < col("dst"))
      .select("src", "dst").distinct()
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = outdeg.select(col("src").as("node"), col("outdeg"))
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("node"), col("outdeg"), col("n_nodes"),
        r(lit(1.0) / col("n_nodes").cast("double"), 9).as("rank"))
    for (it <- 1 to PrIters) {
      // the rank vector (one row per node) broadcasts both ways, so the
      // 30×-larger edge table never shuffles: contributions are a map-side
      // broadcast join + partial-agg, the update a broadcast left join
      val contrib = edges
        .join(broadcast(ranks), col("src") === col("node"))
        .select(col("dst"),
          floor(col("rank") / col("outdeg").cast("double") * 1e12 + 0.5).cast("long").as("c_mi"))
        .groupBy("dst").agg(sum(col("c_mi")).as("sum_mi"))
      // materialize each pass: the lazy chain references the previous ranks
      // TWICE (the contrib broadcast and the update join), so unmaterialized
      // iteration i re-executes iteration i−1's whole subplan ~2× — 2^iters
      // edge joins by iteration 3 (72.6 s at sf10). A per-pass
      // localCheckpoint makes each edge join run exactly once; values are
      // bit-identical, so the unrolled oracle is untouched. The LAST pass
      // stays lazy: its inputs are already checkpointed (nothing can
      // re-execute beyond a cheap RDD rescan), and leaving it in the plan
      // keeps the query's broadcast-join shape visible to the executed-plan
      // hygiene sweep instead of collapsing the whole query to one
      // LogicalRDD scan.
      ranks = ranks.join(broadcast(contrib), col("node") === col("dst"), "left")
        .select(col("node"), col("outdeg"), col("n_nodes"),
          r(lit(1.0 - PrDamping) / col("n_nodes").cast("double") +
            lit(PrDamping) * (coalesce(col("sum_mi"), lit(0L)).cast("double") / 1e12), 9).as("rank"))
      if (it < PrIters) ranks = ranks.localCheckpoint(eager = true)
    }
    ranks.select(col("node").as("p_partkey"), col("outdeg"), col("rank"))
      .orderBy(desc("rank"), asc("p_partkey"))
      .limit(100)
  }

  def pageRankOracle: String = {
    val steps = (1 to PrIters).map { i =>
      s"""contrib$i AS (
         |  SELECT e.dst, sum(CAST(floor(r.rank / r.outdeg * 1e12 + 0.5) AS BIGINT)) AS sum_mi
         |  FROM rank${i - 1} r JOIN edges e ON e.src = r.node GROUP BY 1
         |), rank$i AS MATERIALIZED (
         |  SELECT r.node, r.outdeg, r.n_nodes,
         |         ${graft.functions.Num.sqlR(
                      s"${1.0 - PrDamping}e0 / r.n_nodes + ${PrDamping}e0 * (CAST(coalesce(c.sum_mi, 0) AS DOUBLE) / 1e12)", 9)} AS rank
         |  FROM rank${i - 1} r LEFT JOIN contrib$i c ON c.dst = r.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS src, b.p AS dst FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
       |), outdeg AS (
       |  SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1
       |), rank0 AS MATERIALIZED (
       |  SELECT node, outdeg, (SELECT CAST(count(*) AS DOUBLE) FROM outdeg) AS n_nodes,
       |         ${graft.functions.Num.sqlR("1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM outdeg)", 9)} AS rank
       |  FROM outdeg
       |),
       |$steps
       |SELECT node AS p_partkey, outdeg, rank
       |FROM rank$PrIters
       |ORDER BY rank DESC, p_partkey LIMIT 100""".stripMargin
  }

  /** Q2's part-class filter: one type, a size band. */
  val Q2Type = "STANDARD"

  /** Q2-shape min-cost supplier: for each qualifying part, the supplier(s)
    * offering the groupwise-MINIMUM unit cost, with supplier/nation detail,
    * top 100. The fixture has no partsupp, so the per-(part, supplier) min
    * unit price observed in lineitem is the de-facto supply cost. Exercises
    * the correlated-scalar-min decorrelation: the per-part min is an
    * aggregate JOINED BACK on (partkey, cost) equality — costs are
    * r6-quantized before the min so the double equality is engine-exact.
    * Plan: part filter broadcasts and prunes BEFORE the per-part min, so
    * both aggs run on the filtered slice; the join-back is on the agg's own
    * partitioning; top-100 is TakeOrdered.
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_size").between(10, 20) && col("p_type") === Q2Type)
      .select("p_partkey", "p_brand", "p_size")
    val ps = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey", "p_brand", "p_size")
      .agg(r6(min(col("l_extendedprice") / col("l_quantity"))).as("unit_cost"))
    val minCost = ps.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("unit_cost")).as("min_cost"))
    ps.join(minCost,
        col("l_partkey") === col("mc_partkey") && col("unit_cost") === col("min_cost"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(r6(col("s_acctbal")).as("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), col("p_brand"), col("p_size"), col("unit_cost"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"), asc("p_partkey"))
      .limit(100)
  }

  def q2Oracle: String =
    s"""WITH ps AS (
       |  SELECT l.l_partkey, l.l_suppkey, p.p_brand, p.p_size,
       |         ${sqlR6("min(l.l_extendedprice / l.l_quantity)")} AS unit_cost
       |  FROM lineitem l
       |  JOIN part p ON p.p_partkey = l.l_partkey
       |   AND p.p_size BETWEEN 10 AND 20 AND p.p_type = '$Q2Type'
       |  GROUP BY 1, 2, 3, 4
       |), mc AS (
       |  SELECT l_partkey, min(unit_cost) AS min_cost FROM ps GROUP BY 1
       |)
       |SELECT ${sqlR6("s.s_acctbal")} AS s_acctbal, s.s_name, n.n_name,
       |       ps.l_partkey AS p_partkey, ps.p_brand, ps.p_size, ps.unit_cost
       |FROM ps
       |JOIN mc ON mc.l_partkey = ps.l_partkey AND ps.unit_cost = mc.min_cost
       |JOIN supplier s ON s.s_suppkey = ps.l_suppkey
       |JOIN nation n ON n.n_nationkey = s.s_nationkey
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  /** Hierarchical rollup: revenue at (region, nation), per-region subtotal,
    * and grand total in ONE pass — Catalyst's Expand operator computes all
    * grouping sets from a single scan (SURVEY §2.3: grouping sets are a free
    * Spark capability the reference lacks). NULL grouping slots are labeled
    * 'ALL' so the oracle hash never sees NULLs.
    */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      // Column overload: the String-name rollup overload tags grouping refs
      // with dataset-ids that trip DetectAmbiguousSelfJoin under multi-joins
      .rollup(col("r_name"), col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .na.fill("ALL", Seq("r_name", "n_name"))
  }

  /** Window ranking: top-3 customers by account balance per nation. */
  def topCustomersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("n_name").orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("n_name"), col("rank"), col("c_custkey"), r6(col("c_acctbal")).as("c_acctbal"))
  }

  /** Running per-customer order total (cumulative window, deterministic order). */
  def customerRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        r6(sum(col("o_totalprice")).over(w)).as("running_total"))
  }

  /** Semi-join (TPC-H Q4 shape, adapted to fixture columns): count 1997
    * orders by priority that have at least one returned lineitem. EXISTS
    * compiles to LEFT SEMI HASH JOIN — the probe side streams, the build side
    * carries only the join key, and a row matches at most once (no fan-out,
    * unlike an inner join + distinct).
    */
  def ordersWithReturns(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select("l_orderkey")
    ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  def ordersWithReturnsOracle: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** Anti-join: customers that placed no orders (TPC-H Q22 shape). NOT EXISTS
    * compiles to LEFT ANTI HASH JOIN — same single-shuffle, no-fan-out
    * properties as the semi join, keeping only non-matching probe rows.
    */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        r6(col("c_acctbal")).as("c_acctbal"))

  def customersWithoutOrdersOracle: String =
    s"""SELECT c_custkey, c_name, c_mktsegment, ${sqlR6("c_acctbal")} AS c_acctbal
       |FROM customer c
       |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       |ORDER BY c_custkey""".stripMargin

  /** As-of join — an operator Spark lacks natively: for each purchase event,
    * the most recent click of the same user at or before the purchase time.
    *
    * The scale-correct Spark form is NOT a range join (quadratic blowup per
    * user) but union + LOCF window: tag both sides, sort within the user key
    * by (ts, side) so a click at the same instant precedes the purchase, and
    * carry the last click forward — ONE shuffle on the join key, linear work,
    * the same shape at 100 TB. The right side is deduplicated to one click
    * per (user, ts) (argmax event_id) so the pick is deterministic. The
    * oracle is DuckDB's native ASOF JOIN.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("m").getField("event_id").as("event_id"), col("m").getField("value").as("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"), col("event_id"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts", "side", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_ts", last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .withColumn("click_value", last(when(col("side") === 0, col("value")), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("click_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        r6(col("value")).as("purchase_value"),
        col("click_ts"), r6(col("click_value")).as("click_value"))
  }

  def asofJoinOracle: String =
    s"""WITH cl AS (
       |  SELECT user_id, ts, event_id, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
       |    FROM events WHERE event_type = 'click')
       |  WHERE rn = 1
       |), pu AS (
       |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
       |)
       |SELECT p.event_id, p.user_id, p.ts, ${sqlR6("p.value")} AS purchase_value,
       |       c.ts AS click_ts, ${sqlR6("c.value")} AS click_value
       |FROM pu p ASOF JOIN cl c ON p.user_id = c.user_id AND p.ts >= c.ts
       |ORDER BY p.event_id""".stripMargin

  /** Label-join horizon: a click "converts" if a purchase follows within this. */
  val LabelHorizonHours = 24

  /** FORWARD as-of join — the training-label generator: for every click, the
    * NEXT purchase by the same user, and the supervised label "converted
    * within [[LabelHorizonHours]] h" with its latency. The backward form
    * ([[asofJoin]]) enriches features from the past; this one peeks forward to
    * build the target, which is why it exists as its own operator — swapping
    * direction by accident leaks the label into the features.
    *
    * Same merge-scan shape as [[asofJoin]], time-reversed: one union, one
    * per-user window ordered ts DESC, running `last` purchase — so each
    * click sees the nearest purchase with ts STRICTLY greater (at equal ts
    * the click sorts first in the DESC scan and cannot see it). One shuffle
    * on user_id; no per-user nested loop, no horizon-sized state: at 100 TB
    * this is a sort-merge pass per user partition.
    */
  def labelJoin(spark: SparkSession, dir: String): DataFrame =
    labelJoinOf(Tables.events(spark, dir))

  /** Frame-parameterized form of [[labelJoin]] — boundary semantics (strictly
    * after; horizon inclusive) are pinned by RelBoundarySpec on synthetic
    * events, not assumed. */
  def labelJoinOf(ev: DataFrame): DataFrame = {
    // one purchase per (user, ts): the smallest event_id is "the" purchase
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(min(col("event_id")).as("event_id"))
      .select(col("user_id"), col("ts"), lit(1).as("side"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("side"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(desc("ts"), asc("side"), asc("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val horizon = expr(s"INTERVAL $LabelHorizonHours HOURS")
    clicks.unionByName(purchases)
      .withColumn("p_ts", last(when(col("side") === 1, col("ts")), ignoreNulls = true).over(w))
      .withColumn("p_id", last(when(col("side") === 1, col("event_id")), ignoreNulls = true).over(w))
      .filter(col("side") === 0)
      .withColumn("converted", col("p_ts").isNotNull && col("p_ts") <= col("ts") + horizon)
      .select(col("event_id"), col("user_id"), col("ts"), col("converted"),
        when(col("converted"),
          expr("(unix_micros(p_ts) - unix_micros(ts)) div 1000000")).as("latency_s"),
        when(col("converted"), col("p_id")).as("purchase_id"))
  }

  def labelJoinOracle: String =
    s"""WITH pu AS (
       |  SELECT user_id, ts, min(event_id) AS event_id
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
       |), cl AS (
       |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
       |), nxt AS (
       |  SELECT c.event_id, c.user_id, c.ts, min(p.ts) AS p_ts
       |  FROM cl c LEFT JOIN pu p
       |    ON p.user_id = c.user_id AND p.ts > c.ts
       |   AND p.ts <= c.ts + INTERVAL $LabelHorizonHours HOUR
       |  GROUP BY 1, 2, 3
       |)
       |SELECT n.event_id, n.user_id, n.ts, (n.p_ts IS NOT NULL) AS converted,
       |       CASE WHEN n.p_ts IS NOT NULL
       |            THEN (epoch_us(n.p_ts) - epoch_us(n.ts)) // 1000000 END AS latency_s,
       |       p2.event_id AS purchase_id
       |FROM nxt n LEFT JOIN pu p2 ON p2.user_id = n.user_id AND p2.ts = n.p_ts
       |ORDER BY n.event_id""".stripMargin

  /** Interval-join window length (minutes) and its bucket width (seconds). */
  val IntervalMin = 60
  private val BucketUs = IntervalMin * 60L * 1000000L

  /** Time-interval (range) join — the other join class Spark lacks natively
    * next to [[asofJoin]]: for each purchase, aggregate the same user's
    * clicks in the preceding [[IntervalMin]] minutes (`[ts-60min, ts)`).
    *
    * The scale-correct Spark form is NOT `ON c.ts BETWEEN p.ts - 60min AND
    * p.ts` — Catalyst can only execute that as a per-user-key nested loop
    * (quadratic in events-per-user, and a single shuffle key per user).
    * Instead both sides are bucketed by the window length: a click lands in
    * ONE hour bucket; a purchase probes its own bucket and the previous one
    * (two candidate rows via explode — any match is within one bucket width,
    * so exactly these two buckets can contain it). The join is then a plain
    * equi-join on (user_id, bucket) — hash-partitioned parallelism scales
    * with users × hours, candidates are bounded by per-user-per-hour click
    * volume, and the exact `[p-60min, p)` predicate filters the at-most-2×
    * candidate set. The oracle runs the naive inequality join in DuckDB.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
        floor(unix_micros(col("ts")).cast("double") / BucketUs).cast("long").as("bucket"),
        floor(col("value") * 1e6 + 0.5).cast("long").as("c_micros"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), unix_micros(col("ts")).as("p_us"))
      .withColumn("pb", floor(unix_micros(col("ts")).cast("double") / BucketUs).cast("long"))
      .withColumn("bucket", explode(array(col("pb"), col("pb") - 1)))
    val matched = purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_us") >= col("p_us") - BucketUs && col("c_us") < col("p_us"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n"), sum(col("c_micros")).as("sv"))
    purchases.filter(col("bucket") === col("pb")) // one row per purchase again
      .join(matched, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("n"), lit(0L)).as("n_clicks_60m"),
        r6(coalesce(col("sv"), lit(0L)).cast("double") / 1e6).as("clicks_value"))
  }

  def intervalJoinOracle: String =
    s"""SELECT p.event_id, p.user_id, p.ts,
       |       count(c.user_id) AS n_clicks_60m,
       |       ${sqlR6("CAST(coalesce(sum(CAST(floor(c.value * 1e6 + 0.5) AS BIGINT)), 0) AS DOUBLE) / 1e6")} AS clicks_value
       |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
       |LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
       |  ON c.user_id = p.user_id
       | AND c.ts >= p.ts - INTERVAL $IntervalMin MINUTE AND c.ts < p.ts
       |GROUP BY 1, 2, 3 ORDER BY p.event_id""".stripMargin

  /** Conversion-latency profile — the "how fast do clicks convert" view the
    * funnel counts don't give: for every purchase with at least one same-user
    * click in the preceding 60 minutes, the delay from the LAST such click,
    * rolled up per day with exact integer-seconds stats. Uses the same
    * hour-bucketed candidate probe as `events_interval_join` (each purchase
    * checks exactly 2 buckets), so there is no per-user nested loop; the
    * per-purchase max-click reduction collapses map-side.
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
        floor(unix_micros(col("ts")).cast("double") / BucketUs).cast("long").as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), unix_micros(col("ts")).as("p_us"))
      .withColumn("pb", floor(unix_micros(col("ts")).cast("double") / BucketUs).cast("long"))
      .withColumn("bucket", explode(array(col("pb"), col("pb") - 1)))
    purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_us") >= col("p_us") - BucketUs && col("c_us") < col("p_us"))
      .groupBy("event_id", "ts", "p_us")
      .agg(max(col("c_us")).as("last_c_us"))
      .select(to_date(col("ts")).as("event_date"),
        expr("(p_us - last_c_us) div 1000000").as("delay_s"))
      .groupBy("event_date")
      .agg(count(lit(1)).as("n_conversions"),
        min(col("delay_s")).as("min_delay_s"),
        max(col("delay_s")).as("max_delay_s"),
        r6(sum(col("delay_s")).cast("double") / count(lit(1))).as("avg_delay_s"))
  }

  def funnelLatencyOracle: String =
    s"""WITH conv AS (
       |  SELECT p.event_id, p.ts,
       |         (epoch_us(p.ts) - max(epoch_us(c.ts))) // 1000000 AS delay_s
       |  FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
       |  JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
       |    ON c.user_id = p.user_id
       |   AND c.ts >= p.ts - INTERVAL $IntervalMin MINUTE AND c.ts < p.ts
       |  GROUP BY 1, 2
       |)
       |SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_conversions,
       |       min(delay_s) AS min_delay_s, max(delay_s) AS max_delay_s,
       |       ${sqlR6("CAST(sum(delay_s) AS DOUBLE) / count(*)")} AS avg_delay_s
       |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin

  /** Linear multi-touch attribution — the credit-assignment twin of
    * [[funnelLatency]]: each purchase's value is split EQUALLY across the
    * same user's clicks in the preceding [[IntervalMin]] minutes, and the
    * credited value rolls up by the CLICK's day (the marketing-report axis:
    * which day's clicks drove revenue). Uses the same hour-bucketed candidate
    * probe (2 buckets per purchase, no per-user nested loop); the per-purchase
    * click count is a window over the join output partitioned by purchase id.
    * Credits are fx6-quantized before the daily integer sum, so split ratios
    * aggregate order-independently.
    */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), unix_micros(col("ts")).as("c_us"),
        floor(unix_micros(col("ts")).cast("double") / BucketUs).cast("long").as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"), unix_micros(col("ts")).as("p_us"))
      .withColumn("pb", floor(col("p_us").cast("double") / BucketUs).cast("long"))
      .withColumn("bucket", explode(array(col("pb"), col("pb") - 1)))
    val byPurchase = Window.partitionBy("event_id")
    purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_us") >= col("p_us") - BucketUs && col("c_us") < col("p_us"))
      .withColumn("n", count(lit(1)).over(byPurchase))
      .select(to_date(col("c_ts")).as("click_date"),
        fx(col("value") / col("n").cast("double"), 6).as("credit_fx"))
      .groupBy("click_date")
      .agg(count(lit(1)).as("n_credited_clicks"),
        r6(sum(col("credit_fx")).cast("double") / 1e6).as("attributed_value"))
  }

  def attributionLinearOracle: String =
    s"""WITH m AS (
       |  SELECT p.event_id, p.value, c.ts AS c_ts
       |  FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
       |  JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
       |    ON c.user_id = p.user_id
       |   AND c.ts >= p.ts - INTERVAL $IntervalMin MINUTE AND c.ts < p.ts
       |), w AS (
       |  SELECT *, count(*) OVER (PARTITION BY event_id) AS n FROM m
       |)
       |SELECT CAST(c_ts AS DATE) AS click_date, count(*) AS n_credited_clicks,
       |       ${sqlR6(s"CAST(sum(${sqlFx("value / CAST(n AS DOUBLE)", 6)}) AS DOUBLE) / 1e6")} AS attributed_value
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** The pivot vocabulary, fixed at plan time. Passing the value list to
    * `pivot` matters at scale twice over: it skips the eager
    * distinct-discovery JOB Spark otherwise runs before it can even plan,
    * and it bounds output width by contract — a miskeyed stream can't
    * explode the schema to millions of columns.
    */
  val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Long→wide reshaping: per-user event counts pivoted to one column per
    * event_type. Plans as two chained hash aggregates:
    * a (user, type) count whose partial agg collapses map-side, then a
    * per-user PivotFirst packing the ≤ |PivotTypes| rows into columns — so
    * everything that shuffles is ∝ users × types, never raw events, and the
    * scan reads only the two columns involved. Missing combinations surface
    * as 0, not null, to keep the frame arithmetic-ready (and the hash
    * deterministic).
    */
  def typePivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
    wide.na.fill(0L, PivotTypes)
  }

  def typePivotOracle: String = {
    val cols = PivotTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
      .mkString(",\n       |       ")
    s"""SELECT user_id,
       |       $cols
       |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin
  }

  /** Wide→long: `unpivot` (melt) of the pivoted frame back to
    * (user_id, event_type, n_events) rows. Because the wide frame is dense
    * (zeros, not dropped rows), the roundtrip yields the FULL user × type
    * grid — the shape a feature store hands to a trainer — unlike the plain
    * groupBy which omits empty combinations. Unpivot is a zero-shuffle
    * expand: each wide row becomes #types long rows map-side.
    */
  def typeUnpivot(spark: SparkSession, dir: String): DataFrame =
    typePivot(spark, dir)
      .unpivot(Array(col("user_id")), PivotTypes.map(col).toArray, "event_type", "n_events")

  def typeUnpivotOracle: String =
    s"""SELECT u.user_id, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
       |FROM (SELECT DISTINCT user_id FROM events) u
       |CROSS JOIN (SELECT unnest(${PivotTypes.mkString("['", "', '", "']")}) AS event_type) t
       |LEFT JOIN (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2) c
       |  USING (user_id, event_type)
       |ORDER BY user_id, event_type""".stripMargin

  /** Fuzzy-match block width: names sharing this prefix are candidates. */
  val FuzzyBlockLen = 16
  /** Hot-block guard: a block bigger than this extends its key to
    * [[FuzzyExtLen]] chars. Pairs in a block cost block², so ONE hot block
    * (a common name prefix, an ingest artifact) can dominate the whole
    * matcher — the sf10 rehearsal measured 195 s + an OOM cascade from a
    * single fixture-made hot block. Sub-blocking trades recall for a hard
    * pair bound, and the trade is SEVERE for short name schemas: the fixture
    * 'Customer#%09d' names are exactly 18 chars, so the 18-char extended key
    * degenerates to full-name equality and a hot block keeps ONLY its exact
    * duplicates — every edit-distance-1 pair between distinct names inside a
    * hot block is lost (the oracle mirrors the same rule, so parity holds).
    * For name schemas longer than 18 chars the extended key is a genuine
    * partial prefix and only chars-beyond-18 pairs are sacrificed. */
  val FuzzyHotBlock = 256L
  val FuzzyExtLen = 18

  /** Blocked fuzzy entity matching — the candidate-generation pass of entity
    * resolution: customers whose names sit within edit distance 1, found via
    * prefix BLOCKING (names sharing the first [[FuzzyBlockLen]] chars) + an
    * in-block levenshtein filter. Blocking is to ER what banding is to
    * MinHash dedup: candidate pairs are bounded by block size, never table²,
    * and the edit distance only runs inside blocks — the one shape that
    * survives 100 TB, since the full cross-product levenshtein is exactly
    * what it avoids. Hot blocks (> [[FuzzyHotBlock]] names) hierarchically
    * extend their key to [[FuzzyExtLen]] chars, so pair volume stays bounded
    * under ANY name distribution. Pairs differing inside the blocked prefix
    * are out of scope BY CONTRACT (the documented recall trade every blocked
    * matcher makes).
    */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 1, FuzzyBlockLen).as("blk"))
    // block census (one small blk-keyed aggregate) drives the per-block key
    // choice; no broadcast hint — block count scales with the table and AQE
    // picks the join side at runtime
    val sizes = base.groupBy("blk").agg(count(lit(1)).as("blk_n"))
    val c = base.join(sizes, "blk")
      .withColumn("eblk", when(col("blk_n") > FuzzyHotBlock,
        substring(col("c_name"), 1, FuzzyExtLen)).otherwise(col("blk")))
    c.select(col("c_custkey").as("a_key"), col("c_name").as("a_name"), col("eblk"))
      .join(c.select(col("c_custkey").as("b_key"), col("c_name").as("b_name"), col("eblk")), "eblk")
      // thresholded levenshtein short-circuits to -1 past the bound: O(n·k)
      // per pair instead of O(n²), same result set (DuckDB's oracle computes
      // the full distance — values agree wherever the threshold form is ≥ 0)
      .filter(col("a_key") =!= col("b_key") &&
        levenshtein(col("a_name"), col("b_name"), 1) >= 0)
      .groupBy(col("a_key").as("c_custkey"))
      .agg(count(lit(1)).as("n_near"), min(col("b_key")).as("min_match_key"))
  }

  def fuzzyMatchOracle: String =
    s"""WITH cb AS (
       |  SELECT c_custkey, c_name, substr(c_name, 1, $FuzzyBlockLen) AS blk FROM customer
       |), sizes AS (
       |  SELECT blk, count(*) AS blk_n FROM cb GROUP BY 1
       |), c AS (
       |  SELECT c_custkey, c_name,
       |         CASE WHEN s.blk_n > $FuzzyHotBlock
       |              THEN substr(c_name, 1, $FuzzyExtLen) ELSE cb.blk END AS eblk
       |  FROM cb JOIN sizes s USING (blk)
       |), p AS (
       |  SELECT a.c_custkey AS a_key, b.c_custkey AS b_key
       |  FROM c a JOIN c b ON a.eblk = b.eblk AND a.c_custkey <> b.c_custkey
       |  WHERE levenshtein(a.c_name, b.c_name) <= 1
       |)
       |SELECT a_key AS c_custkey, count(*) AS n_near, min(b_key) AS min_match_key
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** CDC merge boundary: events before it are the standing snapshot, events
    * from it on are the change batch. Chosen so the change window leaves some
    * users untouched (base-only rows survive) at every fixture scale. */
  val CdcCutoff = "2024-01-30"

  /** CDC upsert/delete merge — the MERGE INTO shape incremental pipelines
    * apply on every sync: a keyed snapshot (latest state per user before
    * [[CdcCutoff]]) FULL OUTER joined with the change batch's per-key latest
    * operation; the delta wins where present, an 'error'-typed latest change
    * is a tombstone that DELETES the key, untouched keys pass through. This
    * is [[scd2]]'s complement: SCD-2 keeps history, CDC merge maintains the
    * current-state table.
    *
    * Scale: both sides collapse to one row per key BEFORE the join (window
    * rn=1 — a WindowGroupLimit, per-partition 1-row heaps), so the full
    * outer join is key-sized, not event-sized; at 100 TB the snapshot side
    * would be the stored table and only the delta is computed.
    */
  def cdcMerge(spark: SparkSession, dir: String): DataFrame =
    cdcMergeOf(Tables.events(spark, dir))

  /** Frame-parameterized form of [[cdcMerge]]; RelBoundarySpec drives the
    * three merge cases (base-only, delta-wins, tombstone) on synthetic keys. */
  def cdcMergeOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    def latest(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val cut = lit(CdcCutoff).cast("timestamp")
    val base = latest(ev.filter(col("ts") < cut))
      .select(col("user_id"), col("ts").as("b_ts"), col("value").as("b_value"))
    val delta = latest(ev.filter(col("ts") >= cut))
      .select(col("user_id"), col("ts").as("d_ts"), col("value").as("d_value"),
        (col("event_type") === "error").as("tombstone"))
    base.join(delta, Seq("user_id"), "full_outer")
      .filter(!coalesce(col("tombstone"), lit(false)))
      .select(col("user_id"),
        coalesce(col("d_ts"), col("b_ts")).as("ts"),
        r6(coalesce(col("d_value"), col("b_value"))).as("value"),
        when(col("d_ts").isNotNull, "delta").otherwise("base").as("src"))
  }

  def cdcMergeOracle: String =
    s"""WITH base AS (
       |  SELECT user_id, ts, value FROM (
       |    SELECT user_id, ts, value,
       |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts < TIMESTAMP '$CdcCutoff')
       |  WHERE rn = 1
       |), delta AS (
       |  SELECT user_id, ts, value, event_type = 'error' AS tombstone FROM (
       |    SELECT user_id, ts, value, event_type,
       |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts >= TIMESTAMP '$CdcCutoff')
       |  WHERE rn = 1
       |)
       |SELECT coalesce(d.user_id, b.user_id) AS user_id,
       |       coalesce(d.ts, b.ts) AS ts,
       |       ${sqlR6("coalesce(d.value, b.value)")} AS value,
       |       CASE WHEN d.ts IS NOT NULL THEN 'delta' ELSE 'base' END AS src
       |FROM base b FULL OUTER JOIN delta d ON d.user_id = b.user_id
       |WHERE NOT coalesce(d.tombstone, false)
       |ORDER BY user_id""".stripMargin

  /** Snapshot data-diff — the reconciliation audit run after every CDC sync
    * ("what did the merge actually change?"): the pre-cutoff keyed snapshot
    * vs the merged current state, every key classified added / deleted /
    * changed / unchanged, with the total absolute value drift for the
    * changed class. Values compare as exact cents. Rides [[cdcMergeOf]];
    * both sides are key-sized (one row per user) before the join, so the
    * diff costs one more key-sized full outer join — the same shape a
    * petabyte reconciliation has, because the event tables never re-enter.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    val base = ev.filter(col("ts") < lit(CdcCutoff).cast("timestamp"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), floor(col("value") * 1e2 + 0.5).cast("long").as("b_c"))
    val merged = cdcMergeOf(ev)
      .select(col("user_id"), floor(col("value") * 1e2 + 0.5).cast("long").as("m_c"))
    val classed = base.join(merged, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("b_c").isNull, "added")
          .when(col("m_c").isNull, "deleted")
          .when(col("b_c") === col("m_c"), "unchanged")
          .otherwise("changed").as("diff_class"),
        when(col("b_c").isNotNull && col("m_c").isNotNull,
          abs(col("m_c") - col("b_c"))).otherwise(lit(0L)).as("drift_c"))
    classed.groupBy("diff_class")
      .agg(count(lit(1)).as("n_keys"),
        r6(sum(col("drift_c")).cast("double") / 1e2).as("abs_value_drift"))
  }

  def snapshotDiffOracle: String =
    s"""WITH base AS (
       |  SELECT user_id, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS b_c FROM (
       |    SELECT user_id, value,
       |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts < TIMESTAMP '$CdcCutoff')
       |  WHERE rn = 1
       |), merged AS (
       |  SELECT user_id, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS m_c
       |  FROM (${cdcMergeOracle.replace("ORDER BY user_id", "")})
       |), classed AS (
       |  SELECT CASE WHEN b.b_c IS NULL THEN 'added'
       |              WHEN m.m_c IS NULL THEN 'deleted'
       |              WHEN b.b_c = m.m_c THEN 'unchanged'
       |              ELSE 'changed' END AS diff_class,
       |         CASE WHEN b.b_c IS NOT NULL AND m.m_c IS NOT NULL
       |              THEN abs(m.m_c - b.b_c) ELSE 0 END AS drift_c
       |  FROM base b FULL OUTER JOIN merged m ON m.user_id = b.user_id
       |)
       |SELECT diff_class, count(*) AS n_keys,
       |       ${sqlR6("CAST(sum(drift_c) AS DOUBLE)/1e2")} AS abs_value_drift
       |FROM classed GROUP BY 1 ORDER BY diff_class""".stripMargin

  /** Path length cap and report size for [[sessionPaths]]. */
  val PathMaxEvents = 5
  val PathTopK = 20

  /** Top session paths — the "what do users actually do" sequence readout of
    * product analytics: each 30-min-gap session reduced to its first
    * [[PathMaxEvents]] event types in time order, joined with '>', counted
    * across all sessions, top [[PathTopK]]. The per-session sequence is
    * assembled with sort_array(collect_list(struct(ts, event_id, type))) —
    * a deterministic total order, NOT collect_list alone (whose order is
    * partition-arrival and irreproducible). Scale: sessions collapse
    * map-side after one user_id shuffle; the path table is
    * distinct-paths-sized; the report is a TakeOrdered.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMin = (col("ts").cast("double") - col("prev_ts").cast("double")) / 60.0
    val sess = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || gapMin > 30.0, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "session_seq")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("event_type")))).as("evs"))
      .select(array_join(
        transform(slice(col("evs"), 1, PathMaxEvents), e => e.getField("event_type")),
        ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), asc("path")).limit(PathTopK)
  }

  def sessionPathsOracle: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id, event_type,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR (epoch(ts) - epoch(lag(ts) OVER w))/60.0 > 30.0
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM marked
       |), paths AS (
       |  SELECT array_to_string(
       |           (list(event_type ORDER BY ts, event_id))[1:$PathMaxEvents], '>') AS path
       |  FROM sess GROUP BY user_id, session_seq
       |)
       |SELECT path, count(*) AS n_sessions
       |FROM paths GROUP BY 1
       |ORDER BY n_sessions DESC, path LIMIT $PathTopK""".stripMargin

  /** Hour-of-day × ISO-weekday activity profile — the seasonality heatmap
    * every ops dashboard renders: per (isodow, hour) exact event counts,
    * exact-cents mean value, and each cell's share of the week. One scan,
    * one 168-cell hash agg, a broadcast total.
    */
  def hourWeekProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select((weekday(col("ts")) + 1).as("isodow"), hour(col("ts")).as("hour"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .groupBy("isodow", "hour")
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("sc"))
    val tot = cells.agg(sum(col("n_events")).as("tot"))
    cells.crossJoin(broadcast(tot))
      .select(col("isodow"), col("hour"), col("n_events"),
        r6(col("sc").cast("double") / 1e2 / col("n_events").cast("double")).as("mean_value"),
        r6(col("n_events").cast("double") / col("tot").cast("double")).as("share"))
  }

  def hourWeekProfileOracle: String =
    s"""WITH cells AS (
       |  SELECT isodow(ts) AS isodow, CAST(hour(ts) AS INT) AS hour,
       |         count(*) AS n_events,
       |         CAST(sum(CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sc
       |  FROM events GROUP BY 1, 2
       |), t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM cells)
       |SELECT CAST(isodow AS INT) AS isodow, hour, n_events,
       |       ${sqlR6("CAST(sc AS DOUBLE)/1e2/CAST(n_events AS DOUBLE)")} AS mean_value,
       |       ${sqlR6("CAST(n_events AS DOUBLE)/CAST(tot AS DOUBLE)")} AS share
       |FROM cells, t ORDER BY isodow, hour""".stripMargin

  /** Gap-based sessionization of events: new session when > 30 min idle. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // fractional-second-exact gap: timestamp→double seconds matches DuckDB epoch()
    val gapMin = (col("ts").cast("double") - col("prev_ts").cast("double")) / 60.0
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || gapMin > 30.0, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        r6(exactSum(col("value"))).as("session_value"))
  }

  /** Sampled user cohort for the SCD-2 view (1-in-7 users keeps the output
    * proportional to the fixture, ~2k rows at sf0.1 per type). */
  val Scd2UserMod = 7

  /** SCD-2 (slowly-changing-dimension type 2) interval build: the event log
    * of each (user_id, event_type) becomes half-open validity intervals
    * [valid_from, valid_to) via `lead`, with the open current row flagged —
    * the change-log → dimension-snapshot pass a warehouse runs so as-of state
    * is a range probe instead of a log scan (the same hour-bucketed probe
    * [[asofJoin]] then serves).
    *
    * Scale: one window over the natural (user, type) partitioning — the same
    * shuffle any per-key ordering pays, no global sort, output linear in the
    * change log.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("valid_from", "event_id")
    Tables.events(spark, dir)
      .filter(col("user_id") % Scd2UserMod === 0)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("valid_from"), col("value"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  def scd2Oracle: String =
    s"""SELECT user_id, event_type, event_id, ts AS valid_from, value,
       |       lead(ts) OVER w AS valid_to,
       |       lead(ts) OVER w IS NULL AS is_current
       |FROM events WHERE user_id % $Scd2UserMod = 0
       |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
       |ORDER BY user_id, event_type, valid_from, event_id""".stripMargin

  /** SCD-2 point-in-time lookup join — the probe side of [[scd2]]: every
    * purchase event resolves the signup-version row VALID AT its timestamp
    * (valid_from ≤ ts < valid_to, open current row unbounded) — the
    * versioned-dimension enrichment a warehouse serves instead of scanning
    * the change log. The join is user_id-equi (co-partitioned both sides)
    * with the interval predicate as a residual filter: per-user version
    * chains are disjoint, so at most one row matches and correctness needs
    * no dedup; purchases before the user's first version keep NULLs via the
    * left join. At 100 TB this is the shape that scales — the range never
    * enters the shuffle key.
    */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("user_id") % Scd2UserMod === 0)
    val w = Window.partitionBy("d_user").orderBy("valid_from", "dim_event_id")
    val dim = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("d_user"), col("event_id").as("dim_event_id"),
        col("ts").as("valid_from"), floor(col("value") * 1e2 + 0.5).cast("long").as("dim_c"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    probe.join(dim,
        probe("user_id") === dim("d_user") && dim("valid_from") <= probe("ts") &&
          (dim("valid_to").isNull || probe("ts") < dim("valid_to")),
        "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("dim_event_id"), col("valid_from"),
        r6(col("dim_c").cast("double") / 1e2).as("dim_value"))
  }

  def scd2LookupOracle: String =
    s"""WITH ev AS (SELECT * FROM events WHERE user_id % $Scd2UserMod = 0),
       |dim AS (
       |  SELECT user_id AS d_user, event_id AS dim_event_id, ts AS valid_from,
       |         CAST(floor(value*1e2 + 0.5) AS BIGINT) AS dim_c,
       |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
       |  FROM ev WHERE event_type = 'signup'
       |)
       |SELECT p.event_id, p.user_id, p.ts, d.dim_event_id, d.valid_from,
       |       ${sqlR6("CAST(d.dim_c AS DOUBLE)/1e2")} AS dim_value
       |FROM (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase') p
       |LEFT JOIN dim d ON d.d_user = p.user_id AND d.valid_from <= p.ts
       |  AND (d.valid_to IS NULL OR p.ts < d.valid_to)
       |ORDER BY p.event_id""".stripMargin

  /** Per-type latency-style SLO quantiles (p50/p90/p99) by the EXACT
    * order-statistic rank: k_q = ⌈q·n⌉ computed in pure integer arithmetic
    * ((q_num·n + q_den − 1) div q_den — Spark Column `/` is double division,
    * so the div is written floor()), then the k-th value read off the
    * cents-grid cumulative counts (the rank-histogram form). This is the
    * exact form of the sketch-quantile pair (`ts_value_quantiles_sketch`).
    */
  def typeSlo(spark: SparkSession, dir: String): DataFrame = {
    // grid rank, not row_number: `c` is the BOUNDED cents grid, so the c
    // value holding rank k is fully determined by per-(type, c) cumulative
    // counts — the per-type row_number (one task sorting 1/5 of the fact
    // table; 44× for 100× data at the sf10 rehearsal) collapses to a
    // map-side count + a window over the grid. Same outputs: min c with
    // cum ≥ k IS the value at rank k (the event_id tiebreak never changes
    // WHICH c holds a rank).
    val cnt = Tables.events(spark, dir)
      .select(col("event_type"), floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .groupBy("event_type", "c").agg(count(lit(1)).as("cn"))
    val wc = Window.partitionBy("event_type").orderBy("c")
    val wAll = Window.partitionBy("event_type")
    def kOf(num: Int, den: Int) =
      floor((col("n") * num + den - 1).cast("double") / den).cast("long")
    cnt.withColumn("cum", sum("cn").over(wc))
      .withColumn("n", sum("cn").over(wAll))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        r6(min(when(col("cum") >= kOf(1, 2), col("c"))).cast("double") / 1e2).as("p50"),
        r6(min(when(col("cum") >= kOf(9, 10), col("c"))).cast("double") / 1e2).as("p90"),
        r6(min(when(col("cum") >= kOf(99, 100), col("c"))).cast("double") / 1e2).as("p99"))
  }

  def typeSloOracle: String =
    s"""WITH ranked AS (
       |  SELECT event_type, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c,
       |         row_number() OVER (PARTITION BY event_type ORDER BY floor(value*1e2 + 0.5), event_id) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events
       |)
       |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       |       ${sqlR6("CAST(max(CASE WHEN rn = (n*1 + 1)//2 THEN c END) AS DOUBLE)/1e2")} AS p50,
       |       ${sqlR6("CAST(max(CASE WHEN rn = (n*9 + 9)//10 THEN c END) AS DOUBLE)/1e2")} AS p90,
       |       ${sqlR6("CAST(max(CASE WHEN rn = (n*99 + 99)//100 THEN c END) AS DOUBLE)/1e2")} AS p99
       |FROM ranked GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Trailing window for the MAU side of the stickiness ratio. */
  val MauWindowDays = 30

  /** DAU/MAU stickiness per day — the engagement ratio every growth report
    * leads with: exact daily actives over exact trailing-30-day actives.
    * The (user, day) relation dedups FIRST (map-side collapse to ~u×days
    * rows); the 30-row day spine broadcasts against it with a range
    * predicate (a broadcast nested-loop on a TINY build side — the right
    * plan when one side is a calendar). This is the EXACT twin of the
    * HLL rolling-WAU sketch (`events_wau_hll`), which is the 100-TB path;
    * registering both prices the sketch's error against truth.
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      .localCheckpoint(eager = true) // feeds the spine, DAU and MAU scans
    val spine = ud.select(col("day").as("d")).distinct()
    val dau = ud.groupBy(col("day").as("d")).agg(countDistinct(col("user_id")).as("dau"))
    val mau = ud.join(broadcast(spine),
        col("day") <= col("d") && col("day") > date_sub(col("d"), MauWindowDays))
      .groupBy("d").agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, "d")
      .select(col("d").as("day"), col("dau"), col("mau"),
        r6(col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
  }

  def stickinessOracle: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |spine AS (SELECT DISTINCT day AS d FROM ud),
       |dau AS (SELECT day AS d, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
       |mau AS (
       |  SELECT s.d, count(DISTINCT u.user_id) AS mau
       |  FROM ud u JOIN spine s ON u.day <= s.d AND u.day > s.d - $MauWindowDays
       |  GROUP BY 1
       |)
       |SELECT d.d AS day, d.dau, m.mau,
       |       ${sqlR6("CAST(d.dau AS DOUBLE)/CAST(m.mau AS DOUBLE)")} AS stickiness
       |FROM dau d JOIN mau m USING (d) ORDER BY day""".stripMargin

  /** Schema-on-read over the semi-structured `props` JSON column — the
    * extract-then-aggregate pass every event pipeline runs on its property
    * bag. `get_json_object` is codegen'd and the extraction is a pure
    * map-side projection: raw JSON strings never shuffle, only the
    * (event_type, k) pairs aggregate. Missing/malformed keys surface as
    * NULLs and are COUNTED, not dropped — ingest robustness is part of the
    * semantics. avg over integer k is order-safe without the fx discipline:
    * integer-valued doubles sum exactly below 2^53 in any order.
    */
  def propsJsonStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        r6(avg(col("k"))).as("avg_k"))

  def propsJsonStatsOracle: String =
    s"""SELECT event_type, count(*) AS n_events,
       |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
       |       min(k) AS min_k, max(k) AS max_k,
       |       ${sqlR6("avg(k)")} AS avg_k
       |FROM (SELECT event_type, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM events)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** CUBE over (event_type, event_date): all four grouping combinations in
    * ONE pass — the OLAP report shape next to [[revenueRollup]]'s ROLLUP.
    * Spark expands the cube into a union of grouping sets BEFORE the
    * aggregation, so the scan still runs once and partial aggs collapse
    * map-side per grouping set; `grouping_id` disambiguates NULL-as-total
    * from NULL-as-value in both engines.
    */
  def eventsCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      .cube("event_type", "event_date")
      .agg(count(lit(1)).as("n_events"),
        exactSum(col("value")).as("sum_value"),
        grouping_id().cast("long").as("gid"))

  def eventsCubeOracle: String =
    s"""SELECT event_type, CAST(ts AS DATE) AS event_date,
       |       count(*) AS n_events,
       |       ${sqlExactSum("value")} AS sum_value,
       |       CAST(grouping(event_type, CAST(ts AS DATE)) AS BIGINT) AS gid
       |FROM events
       |GROUP BY CUBE (event_type, CAST(ts AS DATE))
       |ORDER BY gid, event_type, event_date""".stripMargin

  /** Q9's part-name slice and the unit-cost stand-in (the fixture has no
    * partsupp, so supply cost is modeled as a fixed fraction of the part's
    * retail price — the join shape is unchanged).
    */
  val Q9NameWord = "widget"
  val Q9CostFrac = 0.6

  /** Q9-shape product-type profit: for parts whose name contains
    * [[Q9NameWord]], profit = revenue − modeled supply cost, aggregated by
    * (supplier nation, order year). The widest TPC-H star — BOTH fact tables
    * plus three dimension arms — with an arithmetic combining columns of
    * lineitem AND part inside the aggregate. Plan: the part-name filter
    * prunes the fact scan via a broadcast join BEFORE the orders shuffle;
    * supplier→nation folds to one broadcast arm; the only shuffle is
    * orders⋈lineitem on orderkey, then one partial-agg shuffle on the tiny
    * (nation, year) grid.
    */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").contains(Q9NameWord))
      .select("p_partkey", "p_retailprice")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(Q9CostFrac) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(exactSum(amount).as("sum_profit"), count(lit(1)).as("n_items"))
  }

  def q9Oracle: String = {
    val amount = s"l.l_extendedprice * (1.0e0 - l.l_discount) - ${Q9CostFrac}e0 * p.p_retailprice * l.l_quantity"
    s"""SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       |       ${sqlExactSum(amount)} AS sum_profit, count(*) AS n_items
       |FROM lineitem l
       |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%$Q9NameWord%'
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |JOIN nation n ON n.n_nationkey = s.s_nationkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Q11's supplier-nation cohort: key < 13 (a nation SET, not one nation —
    * at sf0.001 only 10 suppliers exist across 25 nations, so a single
    * nation can be empty).
    */
  val Q11NationMax = 13

  /** Q11-shape important stock: per-part supplied value from the cohort's
    * suppliers, keeping parts whose value exceeds a fraction of the cohort
    * total — the aggregate-reused-as-its-own-scalar-threshold shape. TPC-H's
    * `> 0.0001/SF · total` is re-expressed scale-stably as `> 2× the mean
    * per-part value` (the fixed-fraction form degenerates as the part count
    * grows 10× per scale step). Plan: ONE per-part aggregate feeds both the
    * scalar (second tiny agg over it) and the HAVING filter via a 1-row
    * broadcast cross join — the fact table is scanned once, never probed
    * per-row. Exact-micros sums make the threshold cut engine-exact.
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") < Q11NationMax).select("s_suppkey")
    val perPart = Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("value"))
    val thr = perPart.agg((lit(2.0) * exactAvg(col("value"))).as("thr"))
    perPart.crossJoin(broadcast(thr))
      .filter(col("value") > col("thr"))
      .select(col("l_partkey").as("ps_partkey"), col("value"))
  }

  def q11Oracle: String =
    s"""WITH per_part AS MATERIALIZED (
       |  SELECT l.l_partkey, ${sqlExactSum("l.l_extendedprice * (1.0e0 - l.l_discount)")} AS value
       |  FROM lineitem l
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey < $Q11NationMax
       |  GROUP BY 1
       |), thr AS (SELECT 2.0e0 * ${sqlExactAvg("value")} AS thr FROM per_part)
       |SELECT p.l_partkey AS ps_partkey, p.value
       |FROM per_part p, thr WHERE p.value > thr.thr
       |ORDER BY value DESC, ps_partkey""".stripMargin

  /** Q12's window and lateness bound (the fixture has no ship modes or
    * commit/receipt dates: the return flag is the lineitem categorical and
    * "late" is shipped > 60 days after the order date, as in [[q4]]/[[q21]]).
    */
  val Q12LateDays = 60

  /** Q12-shape late-shipment priority split: among late lines shipped in a
    * two-year window, counts of critical- vs ordinary-priority orders per
    * lineitem class — the conditional-count split (two CASE sums in one
    * pass) after a fact⋈fact join whose selective filters all sit on the
    * lineitem scan (pushed to parquet), so the orders side joins an already
    * thin slice.
    */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag", "l_shipdate")
    li.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $Q12LateDays DAYS"))
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))
  }

  def q12Oracle: String =
    s"""SELECT l.l_returnflag AS ship_class,
       |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
       |  AND l.l_shipdate > o.o_orderdate + INTERVAL $Q12LateDays DAY
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q13's counted-order class (stands in for the NOT LIKE comment filter:
    * selective enough that zero-count customers exist at every scale). */
  val Q13Priority = "5-LOW"

  /** Q13-shape customer order-count distribution: per-customer count of
    * [[Q13Priority]] orders — LEFT OUTER so customers with none contribute a
    * 0 — then the histogram of those counts. The shape Q13 uniquely adds:
    * the outer join must not drop empty groups (count(o_orderkey), not
    * count(*)), and the double aggregation's second shuffle is on the tiny
    * count domain. Plan: the priority filter sits on the orders scan
    * (pushed), the first agg rides the join's custkey partitioning, the
    * histogram agg is a ~dozen-row shuffle.
    */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === Q13Priority)
      .select("o_orderkey", "o_custkey")
    Tables.customer(spark, dir).select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  def q13Oracle: String =
    s"""WITH per_cust AS (
       |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
       |  FROM customer c
       |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
       |                    AND o.o_orderpriority = '$Q13Priority'
       |  GROUP BY 1
       |)
       |SELECT c_count, count(*) AS custdist FROM per_cust
       |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q15's revenue quarter. */
  val Q15Start = "1997-01-01"
  val Q15End = "1997-04-01"

  /** Q15-shape top supplier: each supplier's revenue over one quarter, then
    * the supplier(s) achieving the groupwise-global MAX — the
    * view-reused-twice shape (revenue view → scalar max → join back on
    * equality). Exact-micros revenue makes the double equality engine-exact
    * (same discipline as [[q2]]'s min-cost join-back). Plan: one fact scan
    * with the date filter pushed, per-supplier agg, 1-row broadcast max,
    * supplier dim broadcast to decorate the winner.
    */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(Q15Start).cast("timestamp") &&
        col("l_shipdate") < lit(Q15End).cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  def q15Oracle: String =
    s"""WITH revenue AS MATERIALIZED (
       |  SELECT l_suppkey, ${sqlExactSum("l_extendedprice * (1.0e0 - l_discount)")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$Q15Start' AND l_shipdate < TIMESTAMP '$Q15End'
       |  GROUP BY 1
       |), top AS (SELECT max(total_revenue) AS max_revenue FROM revenue)
       |SELECT s.s_suppkey, s.s_name, r.total_revenue
       |FROM revenue r CROSS JOIN top t
       |JOIN supplier s ON s.s_suppkey = r.l_suppkey
       |WHERE r.total_revenue = t.max_revenue
       |ORDER BY s_suppkey""".stripMargin

  /** Q20's part-name slice and supplier-nation cohort. */
  val Q20NameWord = "bolt"

  /** Q20-shape excess-share suppliers: cohort suppliers who, for some
    * [[Q20NameWord]] part, shipped MORE THAN 2× that part's mean
    * per-supplier quantity — the nested correlated-threshold chain
    * (per-(part,supplier) agg → correlated per-part scalar → semi-join up to
    * the supplier list). TPC-H's `availqty > 0.5 · sum(l_quantity)` is
    * re-expressed against the part's own mean because a fixed share
    * degenerates as the supplier count grows 10× per scale step. Plan: the
    * part-name filter broadcasts and prunes the fact scan first; the
    * per-part threshold is an aggregate OVER the pair aggregate (no second
    * fact scan); the final DISTINCT collapses to the supplier key before the
    * broadcast dim join. Exact integer quantity-micros make the 2× cut
    * engine-exact.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").contains(Q20NameWord)).select("p_partkey")
    val supp = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") < Q11NationMax)
    val pairQty = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(floor(col("l_quantity") * 1e6 + 0.5).cast("long")).as("qty_mi"))
    val partThr = pairQty.groupBy(col("l_partkey").as("t_partkey"))
      .agg((lit(2.0) * avg(col("qty_mi"))).as("thr_mi"))
    pairQty.join(partThr, col("l_partkey") === col("t_partkey"))
      .filter(col("qty_mi").cast("double") > col("thr_mi"))
      .select("l_suppkey").distinct()
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  def q20Oracle: String =
    s"""WITH pair AS MATERIALIZED (
       |  SELECT l.l_partkey, l.l_suppkey,
       |         sum(CAST(floor(l.l_quantity*1e6 + 0.5) AS BIGINT)) AS qty_mi
       |  FROM lineitem l
       |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%$Q20NameWord%'
       |  GROUP BY 1, 2
       |), thr AS (
       |  SELECT l_partkey AS t_partkey, 2.0e0 * avg(qty_mi) AS thr_mi
       |  FROM pair GROUP BY 1
       |)
       |SELECT DISTINCT s.s_suppkey, s.s_name
       |FROM pair x
       |JOIN thr t ON t.t_partkey = x.l_partkey
       |JOIN supplier s ON s.s_suppkey = x.l_suppkey AND s.s_nationkey < $Q11NationMax
       |WHERE CAST(x.qty_mi AS DOUBLE) > t.thr_mi
       |ORDER BY s_suppkey""".stripMargin

  // ---------------- DuckDB oracle twins ----------------

  // ---------------- cohort lifetime value ----------------

  /** Cohort LTV curve — the "how much does a January-acquired customer spend
    * by month N" readout: customers cohorted by first-order month, revenue
    * accumulated per (cohort, month-offset), averaged over the FULL cohort
    * size (not just that month's active customers — inactive months count as
    * zero spend, which is what makes the curve a lifetime value).
    *
    * Determinism: revenue is summed in exact integer cents ([[Num.fx]] at
    * n=2); the only division is the final per-cohort average. The cumulative
    * window runs over ≤ #months rows per cohort.
    *
    * Scale: one orders scan collapsing to (customer, month) partials
    * map-side, a per-customer min for the cohort, then rollups on
    * #cohorts × #offsets rows — the windows never see raw orders.
    */
  def ltvCohort(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).cast("date").as("m"),
        fx(col("o_totalprice"), 2).as("cents"))
    val perCustMonth = ord.groupBy("o_custkey", "m").agg(sum(col("cents")).as("cents"))
    val cohort = perCustMonth.groupBy("o_custkey").agg(min(col("m")).as("cohort_month"))
    val sizes = cohort.groupBy("cohort_month").agg(count(lit(1)).as("cohort_size"))
    val byOffset = perCustMonth.join(cohort, "o_custkey")
      .select(col("cohort_month"),
        round(months_between(col("m"), col("cohort_month"))).cast("long").as("month_offset"),
        col("o_custkey"), col("cents"))
      .groupBy("cohort_month", "month_offset")
      .agg(countDistinct(col("o_custkey")).as("n_active"), sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy("cohort_month").orderBy("month_offset")
    byOffset.join(broadcast(sizes), "cohort_month")
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("cohort_month"), col("month_offset"), col("cohort_size"), col("n_active"),
        col("rev_cents"), col("cum_rev_cents"),
        r6(col("cum_rev_cents").cast("double") / 100.0 / col("cohort_size").cast("double"))
          .as("avg_ltv"))
  }

  def ltvCohortOracle: String =
    s"""WITH ord AS (
       |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |         ${sqlFx("o_totalprice", 2)} AS cents
       |  FROM orders
       |), pcm AS (
       |  SELECT o_custkey, m, CAST(sum(cents) AS BIGINT) AS cents FROM ord GROUP BY 1, 2
       |), cohort AS (SELECT o_custkey, min(m) AS cohort_month FROM pcm GROUP BY 1),
       |sizes AS (SELECT cohort_month, count(*) AS cohort_size FROM cohort GROUP BY 1),
       |off AS (
       |  SELECT c.cohort_month, CAST(datediff('month', c.cohort_month, p.m) AS BIGINT) AS month_offset,
       |         p.o_custkey, p.cents
       |  FROM pcm p JOIN cohort c USING (o_custkey)
       |), g AS (
       |  SELECT cohort_month, month_offset, count(DISTINCT o_custkey) AS n_active,
       |         CAST(sum(cents) AS BIGINT) AS rev_cents
       |  FROM off GROUP BY 1, 2
       |), cum AS (
       |  SELECT *, CAST(sum(rev_cents) OVER (PARTITION BY cohort_month ORDER BY month_offset
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
       |  FROM g
       |)
       |SELECT c.cohort_month, c.month_offset, s.cohort_size, c.n_active,
       |       c.rev_cents, c.cum_rev_cents,
       |       ${sqlR6("CAST(c.cum_rev_cents AS DOUBLE) / 100.0 / CAST(s.cohort_size AS DOUBLE)")} AS avg_ltv
       |FROM cum c JOIN sizes s USING (cohort_month)
       |ORDER BY cohort_month, month_offset""".stripMargin

  // ---------------- triangle counting on the strong co-purchase graph ----------------

  /** Minimum co-purchase support for a graph edge: pairs co-bought in one
    * order only are noise at every scale (the 1-support graph is ~30× this
    * one at sf0.1 and almost fully connected); the support filter collapses
    * map-side before any graph work. */
  val TriMinSupport = 2

  /** Per-node triangle counts + local clustering coefficient over the
    * strong co-purchase graph ([[TriMinSupport]]+ shared orders) — the graph
    * cohesion readout next to [[pageRank]]'s centrality. Triangles are
    * enumerated with the oriented-wedge join: every edge is stored once as
    * (a < b), wedges (a,b)+(a,c) with b < c probe the edge set for (b,c) —
    * each triangle found exactly once, the Σ outdeg² wedge bound the
    * MapReduce triangle literature optimizes (at production scale the
    * orientation key is degree-then-id, which caps outdegree at O(√m); id
    * order suffices at these sizes and keeps the oracle identical).
    * Coefficient = 2T / (deg·(deg−1)) over the node's UNDIRECTED degree;
    * nodes with deg < 2 cannot close a triangle and are excluded.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = li.toDF("o", "a")
      .join(li.toDF("o", "b"), "o")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= TriMinSupport)
      .select("a", "b")
      .localCheckpoint(true) // support-filtered edge list; scanned 3× below
    val tris = edges.toDF("a", "b")
      .join(edges.toDF("a2", "c"), col("a2") === col("a") && col("c") > col("b"))
      .join(edges.toDF("b2", "c2"),
        col("b2") === col("b") && col("c2") === col("c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(perNode, Seq("node"), "left")
      .select(col("node").as("p_partkey"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        r6(coalesce(col("n_triangles"), lit(0L)).cast("double") * 2.0 /
          (col("degree") * (col("degree") - 1)).cast("double")).as("clustering"))
  }

  def trianglesOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |edges AS (
       |  SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport
       |), tris AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
       |), pernode AS (
       |  SELECT node, count(*) AS n_triangles FROM (
       |    SELECT a AS node FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris)
       |  GROUP BY 1
       |), deg AS (
       |  SELECT node, count(*) AS degree FROM (
       |    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
       |  GROUP BY 1
       |)
       |SELECT d.node AS p_partkey, d.degree,
       |       coalesce(t.n_triangles, 0)::BIGINT AS n_triangles,
       |       ${sqlR6("CAST(coalesce(t.n_triangles, 0) AS DOUBLE) * 2.0 / CAST(d.degree * (d.degree - 1) AS DOUBLE)")} AS clustering
       |FROM deg d LEFT JOIN pernode t ON t.node = d.node
       |WHERE d.degree >= 2
       |ORDER BY p_partkey""".stripMargin

  /** Item-item CF neighbors per part and minimum co-occurrence support. */
  val CfTopK = 5
  val CfMinSupport = 2

  /** Item-item collaborative filtering — the classic "customers who bought
    * this also bought" recommender (Sarwar et al., WWW 2001) as co-occurrence
    * cosine: sim(a,b) = c_ab / √(c_a·c_b) over order baskets, support-
    * filtered at [[CfMinSupport]], top [[CfTopK]] neighbors per item. All
    * three counts are one exact BIGINT family from the same (order, part)
    * relation; the only double is the final cosine, r6-rounded with an id
    * tiebreak. Scale: pair generation is the within-order self-join (bounded
    * by basket size, never catalog²); the per-item top-k is a
    * WindowGroupLimit, and item marginals broadcast.
    */
  def itemItemCf(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .localCheckpoint(true) // feeds marginals and the pair self-join
    val itemN = li.groupBy("p").agg(count(lit(1)).as("c"))
    val pairs = li.toDF("o", "a")
      .join(li.toDF("o", "b"), "o")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CfMinSupport)
    val sym = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b"), col("c_ab")))
    val scored = sym
      .join(broadcast(itemN.select(col("p").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(itemN.select(col("p").as("b"), col("c").as("c_b"))), "b")
      .withColumn("cos", r6(col("c_ab").cast("double") /
        sqrt(col("c_a").cast("double") * col("c_b").cast("double"))))
    val w = Window.partitionBy("a").orderBy(desc("cos"), asc("b"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= CfTopK)
      .select(col("a").as("p_partkey"), col("rank"), col("b").as("also_bought"),
        col("c_ab"), col("cos"))
  }

  def itemItemCfOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |itemn AS (SELECT p, count(*) AS c FROM li GROUP BY 1),
       |pairs AS (
       |  SELECT x.p AS a, y.p AS b, count(*) AS c_ab
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $CfMinSupport
       |), sym AS (
       |  SELECT a, b, c_ab FROM pairs UNION ALL SELECT b, a, c_ab FROM pairs
       |), scored AS (
       |  SELECT s.a, s.b, s.c_ab,
       |         ${sqlR6("CAST(s.c_ab AS DOUBLE) / sqrt(CAST(na.c AS DOUBLE)*CAST(nb.c AS DOUBLE))")} AS cos
       |  FROM sym s JOIN itemn na ON na.p = s.a JOIN itemn nb ON nb.p = s.b
       |)
       |SELECT a AS p_partkey, CAST(rank AS INT) AS rank, b AS also_bought, c_ab, cos
       |FROM (SELECT *, row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $CfTopK ORDER BY p_partkey, rank""".stripMargin

  /** K-hop seed count: the [[KhopSeeds]] smallest node ids in the strong
    * graph anchor the reachability probe. */
  val KhopSeeds = 10

  /** Strong co-purchase edge list (support ≥ [[TriMinSupport]]), stored once
    * per unordered pair as (a < b) — the shared substrate of [[triangles]],
    * [[kHop]] and [[degreeStats]]. */
  private def strongEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    li.toDF("o", "a")
      .join(li.toDF("o", "b"), "o")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= TriMinSupport)
      .select("a", "b")
  }

  /** 2-hop reachability from the [[KhopSeeds]] smallest nodes of the strong
    * co-purchase graph — the frontier-expansion BFS primitive (friends-of-
    * friends, recommendation candidate generation) as two join rounds:
    * adjacency is the symmetrized edge list, hop 1 = seeds ⋈ adj, hop 2 =
    * frontier ⋈ adj, and the reach set is the DISTINCT union minus the seed
    * itself. The seed list broadcasts (bounded), so hop joins shuffle only
    * the adjacency stream; at 100 TB each hop is the standard Pregel
    * superstep with frontier dedup between rounds.
    */
  def kHop(spark: SparkSession, dir: String): DataFrame = {
    val e = strongEdges(spark, dir).localCheckpoint(true)
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val seeds = adj.select(col("u")).distinct().orderBy("u").limit(KhopSeeds)
      .select(col("u").as("seed"))
    val hop1 = adj.join(broadcast(seeds), col("u") === col("seed"))
      .select(col("seed"), col("v")).distinct()
      .localCheckpoint(true) // frontier feeds the count AND the next hop
    val hop2 = hop1.select(col("seed"), col("v").as("u"))
      .join(adj, "u")
      .select(col("seed"), col("v"))
    val reach = hop1.unionAll(hop2).filter(col("v") =!= col("seed")).distinct()
      .groupBy("seed").agg(count(lit(1)).as("n_within_2"))
    hop1.groupBy("seed").agg(count(lit(1)).as("n_1hop"))
      .join(reach, "seed")
      .select(col("seed").as("p_partkey"), col("n_1hop"), col("n_within_2"))
  }

  def kHopOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport
       |), adj AS (
       |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
       |), seeds AS (
       |  SELECT u AS seed FROM adj GROUP BY 1 ORDER BY u LIMIT $KhopSeeds
       |), hop1 AS (
       |  SELECT DISTINCT s.seed, a.v FROM adj a JOIN seeds s ON a.u = s.seed
       |), hop2 AS (
       |  SELECT h.seed, a.v FROM hop1 h JOIN adj a ON a.u = h.v
       |), reach AS (
       |  SELECT seed, count(*) AS n_within_2 FROM (
       |    SELECT DISTINCT seed, v FROM (SELECT * FROM hop1 UNION ALL SELECT * FROM hop2)
       |    WHERE v <> seed)
       |  GROUP BY 1
       |)
       |SELECT h.seed AS p_partkey, count(*) AS n_1hop, max(r.n_within_2) AS n_within_2
       |FROM hop1 h JOIN reach r USING (seed)
       |GROUP BY h.seed ORDER BY p_partkey""".stripMargin

  /** Degree histogram + degree assortativity of the strong co-purchase
    * graph — the two shape dials a graph pipeline checks before running
    * anything iterative on it (a heavy-tailed histogram means salting the
    * hot nodes; negative assortativity means hubs touch leaves, the usual
    * retail shape). Assortativity is Newman's degree-correlation r: the
    * Pearson correlation of (deg u, deg v) over DIRECTED edge endpoints
    * (each undirected edge counted both ways, which makes the two marginals
    * identical) — five exact BIGINT sums; degrees are integers so every
    * term is exact, one double formula at the end, r6-rounded. The
    * histogram rides the same degree relation; edges shuffle once.
    */
  def degreeStats(spark: SparkSession, dir: String): DataFrame = {
    val e = strongEdges(spark, dir).localCheckpoint(true)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // deg is node-sized (≤ catalog) — broadcast both probes so the 30×-larger
    // edge list never shuffles
    val pairs = e
      .join(broadcast(deg.select(col("node").as("a"), col("degree").as("da"))), "a")
      .join(broadcast(deg.select(col("node").as("b"), col("degree").as("db"))), "b")
      .select(col("da"), col("db"))
    // both directions: marginals of j and k coincide by construction
    val sums = pairs.select(col("da").as("j"), col("db").as("k"))
      .unionAll(pairs.select(col("db").as("j"), col("da").as("k")))
      .agg(count(lit(1)).as("m2"), sum(col("j")).as("sj"),
        sum(col("j") * col("j")).as("sjj"), sum(col("j") * col("k")).as("sjk"))
    val rNum = col("m2").cast("double") * col("sjk").cast("double") -
      col("sj").cast("double") * col("sj").cast("double")
    val rDen = col("m2").cast("double") * col("sjj").cast("double") -
      col("sj").cast("double") * col("sj").cast("double")
    deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(sums))
      .select(col("degree"), col("n_nodes"), r6(rNum / rDen).as("assortativity"))
  }

  def degreeStatsOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport
       |), deg AS (
       |  SELECT node, count(*) AS degree FROM (
       |    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1
       |), pairs AS (
       |  SELECT da.degree AS j, db.degree AS k
       |  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
       |), bdir AS (
       |  SELECT j, k FROM pairs UNION ALL SELECT k, j FROM pairs
       |), sums AS (
       |  SELECT count(*) AS m2, CAST(sum(j) AS BIGINT) AS sj,
       |         CAST(sum(j*j) AS BIGINT) AS sjj, CAST(sum(j*k) AS BIGINT) AS sjk
       |  FROM bdir
       |)
       |SELECT d.degree, count(*) AS n_nodes,
       |       ${sqlR6("(CAST(m2 AS DOUBLE)*CAST(sjk AS DOUBLE) - CAST(sj AS DOUBLE)*CAST(sj AS DOUBLE)) / (CAST(m2 AS DOUBLE)*CAST(sjj AS DOUBLE) - CAST(sj AS DOUBLE)*CAST(sj AS DOUBLE))")} AS assortativity
       |FROM deg d, sums GROUP BY d.degree, sums.m2, sums.sj, sums.sjj, sums.sjk
       |ORDER BY degree""".stripMargin

  /** Link-prediction shortlist size and the noise floor on shared
    * neighbors — pairs with a single common neighbor are not worth
    * surfacing and dominate the wedge volume. */
  val LinkPredTopN = 50
  val LinkPredMinCn = 2

  /** Link prediction on the strong co-purchase graph — the three classic
    * neighborhood scores (common neighbors, Jaccard, Adamic–Adar) for
    * NON-adjacent part pairs, the candidate-generation step of a
    * "customers who bought X also bought Y" recommender evaluated before
    * any model training. Candidates are 2-paths (u,m),(m,w) with u < w
    * minus existing edges (anti join); Adamic–Adar weights each shared
    * neighbor by 1/ln(deg m), fx12-quantized so the per-pair sum is
    * order-insensitive integer arithmetic. The node-sized degree table
    * broadcasts into the wedge stream (the edge list never shuffles for
    * it), and the top-[[LinkPredTopN]] by shared-neighbor count is a
    * TakeOrdered, not a global sort. The wedge volume is the same
    * Σ outdeg² bound as [[triangles]] — at production scale the hub cap
    * (degree-ordered orientation) applies identically.
    */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    val e = strongEdges(spark, dir).localCheckpoint(true)
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
    val wedges = adj.select(col("u").as("x"), col("v").as("m"))
      .join(adj.select(col("u").as("m"), col("v").as("y")), "m")
      .filter(col("x") < col("y"))
      .join(e.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"), "left_anti")
    val scored = wedges
      .join(broadcast(deg.select(col("node").as("m"), col("deg").as("deg_m"))), "m")
      .groupBy("x", "y")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(fx(lit(1.0) / log(col("deg_m").cast("double")), 12)).as("aafx"))
      .filter(col("common_neighbors") >= LinkPredMinCn)
      .join(broadcast(deg.select(col("node").as("x"), col("deg").as("deg_x"))), "x")
      .join(broadcast(deg.select(col("node").as("y"), col("deg").as("deg_y"))), "y")
    scored.select(col("x").as("part_a"), col("y").as("part_b"),
      col("common_neighbors"),
      r6(col("common_neighbors").cast("double") /
        (col("deg_x") + col("deg_y") - col("common_neighbors")).cast("double"))
        .as("jaccard"),
      r6(col("aafx").cast("double") / 1e12).as("adamic_adar"))
      .orderBy(desc("common_neighbors"), col("part_a"), col("part_b"))
      .limit(LinkPredTopN)
  }

  def linkPredictOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport
       |), adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
       |), deg AS MATERIALIZED (
       |  SELECT u AS node, count(*) AS deg FROM adj GROUP BY 1
       |), wedges AS (
       |  SELECT p1.u AS x, p1.v AS m, p2.v AS y
       |  FROM adj p1 JOIN adj p2 ON p2.u = p1.v AND p1.u < p2.v
       |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p1.u AND e.b = p2.v)
       |), scored AS (
       |  SELECT w.x, w.y, count(*) AS common_neighbors,
       |         CAST(sum(${sqlFx("1.0e0/ln(CAST(dm.deg AS DOUBLE))", 12)}) AS BIGINT) AS aafx
       |  FROM wedges w JOIN deg dm ON dm.node = w.m
       |  GROUP BY 1, 2 HAVING count(*) >= $LinkPredMinCn
       |)
       |SELECT s.x AS part_a, s.y AS part_b, s.common_neighbors,
       |       ${sqlR6("CAST(s.common_neighbors AS DOUBLE)/CAST(dx.deg + dy.deg - s.common_neighbors AS DOUBLE)")} AS jaccard,
       |       ${sqlR6("CAST(s.aafx AS DOUBLE)/1e12")} AS adamic_adar
       |FROM scored s
       |JOIN deg dx ON dx.node = s.x JOIN deg dy ON dy.node = s.y
       |ORDER BY s.common_neighbors DESC, part_a, part_b
       |LIMIT $LinkPredTopN""".stripMargin

  /** Order-total reconciliation — the double-entry audit a finance-grade
    * pipeline runs on every load: recompute each order's total from its
    * lines (Σ extendedprice·(1−discount)·(1+tax), the TPC-H generation
    * invariant) in exact integer micros and diff against the stated
    * o_totalprice, reported per order status as exact-match / >1-cent
    * mismatch counts plus the largest and net drift. Per-line products
    * have ≤ 6 decimals so the micro quantization is exact; sums are
    * BIGINT. Plan: lineitem collapses to per-order micros map-side, one
    * natural-key fact-fact join, then a tiny status agg — the same shape
    * as tpch_q12, nothing new to break at 100 TB.
    */
  def priceRecon(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        fx(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")), 6).as("m"))
      .groupBy("o_orderkey").agg(sum(col("m")).as("recon"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        fx(col("o_totalprice"), 6).as("stated"))
      .join(li, "o_orderkey")
      .select(col("o_orderstatus"), (col("recon") - col("stated")).as("diff"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("diff") === 0L, 1L).otherwise(0L)).as("n_exact"),
        sum(when(abs(col("diff")) > 10000L, 1L).otherwise(0L)).as("n_mismatch_1c"),
        r6(max(abs(col("diff"))).cast("double") / 1e6).as("max_abs_diff"),
        r6(sum(col("diff")).cast("double") / 1e6).as("net_drift"))
  }

  def priceReconOracle: String =
    s"""WITH li AS (
       |  SELECT l_orderkey AS o_orderkey,
       |         CAST(sum(${sqlFx("l_extendedprice*(1.0e0 - l_discount)*(1.0e0 + l_tax)", 6)}) AS BIGINT) AS recon
       |  FROM lineitem GROUP BY 1
       |), d AS (
       |  SELECT o.o_orderstatus, li.recon - ${sqlFx("o.o_totalprice", 6)} AS diff
       |  FROM orders o JOIN li USING (o_orderkey)
       |)
       |SELECT o_orderstatus, count(*) AS n_orders,
       |       CAST(sum(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |       CAST(sum(CASE WHEN abs(diff) > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch_1c,
       |       ${sqlR6("CAST(max(abs(diff)) AS DOUBLE)/1e6")} AS max_abs_diff,
       |       ${sqlR6("CAST(sum(diff) AS DOUBLE)/1e6")} AS net_drift
       |FROM d GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** Max days between two orders for them to count as a double-charge
    * suspect. */
  val DoubleChargeDays = 7

  /** Duplicate-payment audit — pairs of orders by the SAME customer for the
    * EXACT same total (integer cents) within [[DoubleChargeDays]] days: the
    * classic accounts-payable double-charge sweep. The self-join key is
    * (custkey, amount-cents), so only exact-amount collisions ever meet —
    * at any scale the join input is the per-(customer, amount) group, and
    * the date predicate is a residual filter on an already-tiny candidate
    * set (the same blocked-self-join discipline as the dedup family).
    */
  def doubleCharge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        fx(col("o_totalprice"), 2).as("pc"), col("o_orderdate"))
    o.select(col("o_custkey"), col("pc"),
        col("o_orderkey").as("ok1"), col("o_orderdate").as("d1"))
      .join(o.select(col("o_custkey"), col("pc"),
        col("o_orderkey").as("ok2"), col("o_orderdate").as("d2")),
        Seq("o_custkey", "pc"))
      .filter(col("ok1") < col("ok2") &&
        abs(datediff(col("d2"), col("d1"))) <= DoubleChargeDays)
      .select(col("o_custkey"), col("ok1"), col("ok2"),
        r6(col("pc").cast("double") / 1e2).as("amount"),
        abs(datediff(col("d2"), col("d1"))).cast("long").as("gap_days"))
  }

  def doubleChargeOracle: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey, ${sqlFx("o_totalprice", 2)} AS pc, o_orderdate
       |  FROM orders
       |)
       |SELECT a.o_custkey, a.o_orderkey AS ok1, b.o_orderkey AS ok2,
       |       ${sqlR6("CAST(a.pc AS DOUBLE)/1e2")} AS amount,
       |       CAST(abs(datediff('day', a.o_orderdate, b.o_orderdate)) AS BIGINT) AS gap_days
       |FROM o a JOIN o b
       |  ON b.o_custkey = a.o_custkey AND b.pc = a.pc AND b.o_orderkey > a.o_orderkey
       |WHERE abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= $DoubleChargeDays
       |ORDER BY a.o_custkey, ok1, ok2""".stripMargin

  /** Price elasticity proxy per part brand — the OLS slope of line-item
    * quantity on discount (does a deeper discount actually move volume?),
    * with the Pearson correlation as the fit-quality dial. Discounts and
    * quantities quantize to integer hundredths, so all six per-brand sums
    * (n, Σx, Σy, Σxy, Σxx, Σyy) are exact BIGINTs and the slope/intercept/
    * corr are single deterministic double expressions. The part dimension
    * broadcasts; one hash agg on brand does all the work. Brands whose
    * discounts never vary carry no signal and are excluded exactly
    * (integer variance-numerator = 0).
    */
  def discountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        fx(col("l_discount"), 2).as("x"), fx(col("l_quantity"), 2).as("y"))
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
    val g = li.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0L)
    val sNum = col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val sDen = col("n").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val cDen = sqrt(sDen * (col("n").cast("double") * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")))
    g.select(col("p_brand"), col("n"),
      r6(col("sx").cast("double") / 1e2 / col("n").cast("double")).as("mean_discount"),
      r6(col("sy").cast("double") / 1e2 / col("n").cast("double")).as("mean_qty"),
      r6(sNum / sDen).as("slope"),
      r6((col("sy").cast("double") - (sNum / sDen) * col("sx").cast("double")) /
        1e2 / col("n").cast("double")).as("intercept"),
      r6(sNum / cDen).as("corr"))
  }

  def discountElasticityOracle: String = {
    val sNum = "(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))"
    val sDen = "(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))"
    val cDen = s"sqrt($sDen*(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))"
    s"""WITH li AS (
       |  SELECT p.p_brand, ${sqlFx("l.l_discount", 2)} AS x, ${sqlFx("l.l_quantity", 2)} AS y
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |), g AS (
       |  SELECT p_brand, count(*) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
       |         CAST(sum(y*y) AS BIGINT) AS syy
       |  FROM li GROUP BY 1
       |  HAVING count(*)*CAST(sum(x*x) AS BIGINT) - CAST(sum(x) AS BIGINT)*CAST(sum(x) AS BIGINT) > 0
       |)
       |SELECT p_brand, n,
       |       ${sqlR6("CAST(sx AS DOUBLE)/1e2/CAST(n AS DOUBLE)")} AS mean_discount,
       |       ${sqlR6("CAST(sy AS DOUBLE)/1e2/CAST(n AS DOUBLE)")} AS mean_qty,
       |       ${sqlR6(s"$sNum/$sDen")} AS slope,
       |       ${sqlR6(s"(CAST(sy AS DOUBLE) - ($sNum/$sDen)*CAST(sx AS DOUBLE))/1e2/CAST(n AS DOUBLE)")} AS intercept,
       |       ${sqlR6(s"$sNum/$cDen")} AS corr
       |FROM g ORDER BY p_brand""".stripMargin
  }

  /** Order→ship lead-time SLA per return flag — exact p50/p90/p99 of the
    * processing leg (days between order placement and line shipment, the
    * one date pair this schema carries) sliced by l_returnflag, so the
    * returned-goods population's latency profile sits next to the normal
    * flow. Same exact rank-based order-statistic pattern as
    * `events_type_slo` (k = ⌈q·n⌉ over a per-group (value, tiebreak)
    * ordering). The orders⋈lineitem join is the standard natural-key
    * fact-fact shuffle (AQE broadcasts at small SF).
    */
  def leadtimeSla(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(col("l_returnflag"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"))
    // grid rank, not row_number: `days` is a BOUNDED integer grid (order→ship
    // legs span ~1-122 days), and the day value holding rank k is fully
    // determined by per-day cumulative counts — so the 3-partition
    // row_number window (one task sorting the whole fact table per flag; the
    // sf10 rehearsal measured it at 83× for 100× data) collapses to a
    // map-side (flag, days) count plus a window over ≤ flags × days rows.
    // Same outputs: min days with cum ≥ k IS the value at rank k.
    val cnt = li.groupBy("l_returnflag", "days").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("l_returnflag").orderBy("days")
    val wAll = Window.partitionBy("l_returnflag")
    val cum = cnt.withColumn("cum", sum("c").over(wc))
      .withColumn("n", sum("c").over(wAll))
    def kOf(num: Int, den: Int) =
      floor((col("n") * num + den - 1).cast("double") / den).cast("long")
    cum.groupBy("l_returnflag")
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= kOf(1, 2), col("days"))).as("p50_days"),
        min(when(col("cum") >= kOf(9, 10), col("days"))).as("p90_days"),
        min(when(col("cum") >= kOf(99, 100), col("days"))).as("p99_days"),
        max(col("days")).as("max_days"))
  }

  def leadtimeSlaOracle: String =
    s"""WITH li AS (
       |  SELECT l.l_returnflag,
       |         CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS days,
       |         l.l_orderkey, l.l_linenumber
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |), ranked AS (
       |  SELECT l_returnflag, days,
       |         row_number() OVER (PARTITION BY l_returnflag ORDER BY days, l_orderkey, l_linenumber) AS rn,
       |         count(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM li
       |)
       |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
       |       max(CASE WHEN rn = (n*1 + 1)//2 THEN days END) AS p50_days,
       |       max(CASE WHEN rn = (n*9 + 9)//10 THEN days END) AS p90_days,
       |       max(CASE WHEN rn = (n*99 + 99)//100 THEN days END) AS p99_days,
       |       max(days) AS max_days
       |FROM ranked GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** Peak concurrent sessions per day — the capacity-planning number an
    * infra review asks for: the maximum number of 30-min-gap sessions
    * simultaneously open at any instant of each day, computed with the
    * classic +1/−1 boundary sweep. Sessions clipped to day boundaries
    * first (a cross-midnight session counts in both days — explode over
    * its day span), so the sweep window partitions BY DAY: parallelism =
    * days, no global ordering anywhere. At equal timestamps the −1 sorts
    * before the +1 (half-open [start, end+1) semantics), and the per-day
    * max of the running sum is insensitive to ordering among equal
    * (t, delta) rows — the sweep is deterministic. All integer epoch
    * seconds.
    */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame =
    peakConcurrencyOf(Tables.events(spark, dir))

  /** Frame-parameterized core of [[peakConcurrency]] — input needs
    * (user_id, ts, event_id). */
  private[graft] def peakConcurrencyOf(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMin = (col("ts").cast("double") - col("prev_ts").cast("double")) / 60.0
    val sess = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || gapMin > 30.0, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(min(unix_timestamp(col("ts"))).as("ss"),
        max(unix_timestamp(col("ts"))).as("es"))
    val clipped = sess
      .withColumn("day", explode(sequence(
        floor(col("ss").cast("double") / 86400.0).cast("long"),
        floor(col("es").cast("double") / 86400.0).cast("long"))))
      .select(col("day"),
        greatest(col("ss"), col("day") * 86400L).as("a"),
        least(col("es"), col("day") * 86400L + 86399L).as("b"))
    val bounds = clipped.select(col("day"), col("a").as("t"), lit(1L).as("delta"))
      .unionAll(clipped.select(col("day"), (col("b") + 1L).as("t"), lit(-1L).as("delta")))
    val wSweep = Window.partitionBy("day").orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("open", sum(col("delta")).over(wSweep))
      .groupBy("day")
      .agg(max(col("open")).as("peak_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_sessions"))
      .select(date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("day"),
        col("peak_concurrent"), col("n_sessions"))
  }

  def peakConcurrencyOracle: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR (epoch(ts) - epoch(lag(ts) OVER w))/60.0 > 30.0
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT user_id,
       |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq,
       |         ts
       |  FROM marked
       |), iv AS (
       |  SELECT user_id, session_seq,
       |         min(CAST(floor(epoch(ts)) AS BIGINT)) AS ss,
       |         max(CAST(floor(epoch(ts)) AS BIGINT)) AS es
       |  FROM sess GROUP BY 1, 2
       |), clipped AS (
       |  SELECT g.day,
       |         greatest(ss, g.day*86400) AS a,
       |         least(es, g.day*86400 + 86399) AS b
       |  FROM iv, LATERAL (SELECT unnest(generate_series(
       |         CAST(floor(CAST(ss AS DOUBLE)/86400.0) AS BIGINT),
       |         CAST(floor(CAST(es AS DOUBLE)/86400.0) AS BIGINT))) AS day) g
       |), bounds AS (
       |  SELECT day, a AS t, CAST(1 AS BIGINT) AS delta FROM clipped
       |  UNION ALL
       |  SELECT day, b + 1, -1 FROM clipped
       |), sweep AS (
       |  SELECT day, CAST(sum(delta) OVER (PARTITION BY day ORDER BY t, delta
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open
       |  FROM bounds
       |)
       |SELECT DATE '1970-01-01' + CAST(day AS INTEGER) AS day,
       |       max(open) AS peak_concurrent,
       |       CAST(count(*)//2 AS BIGINT) AS n_sessions
       |FROM sweep GROUP BY 1 ORDER BY day""".stripMargin

  /** Classical ratio-to-moving-average seasonal index per calendar month —
    * the decomposition a demand-planning team runs on years of order
    * history: monthly revenue over its centered 2×12 moving average,
    * averaged per calendar month. Exact to the last step: monthly revenue
    * is BIGINT cents, the 2×12 MA is the integer 2·Σ₁₃ − x₋₆ − x₊₆ (×24),
    * the ratio is one exact-rational division fx9-quantized before the
    * per-month mean. Edge months without a full 13-month window drop out
    * exactly. All window work happens on the |months| relation — bounded
    * by the calendar, not the corpus.
    */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("mo"),
        fx(col("o_totalprice"), 2).as("pc"))
      .groupBy("y", "mo").agg(sum(col("pc")).as("rev"))
      .withColumn("mi", col("y") * 12 + col("mo"))
    val wRange = Window.orderBy("mi").rangeBetween(-6, 6)
    val wRows = Window.orderBy("mi")
    val maX24 = lit(2) * col("sum13") - col("lag6") - col("lead6")
    m.withColumn("sum13", sum(col("rev")).over(wRange))
      .withColumn("cnt13", count(lit(1)).over(wRange))
      .withColumn("lag6", lag(col("rev"), 6).over(wRows))
      .withColumn("lead6", lead(col("rev"), 6).over(wRows))
      .filter(col("cnt13") === 13 && col("lag6").isNotNull && col("lead6").isNotNull)
      .select(col("mo"),
        fx(col("rev").cast("double") * 24.0 / maX24.cast("double"), 9).as("rq"))
      .groupBy("mo")
      .agg(count(lit(1)).as("n_windows"),
        r6(sum(col("rq")).cast("double") / 1e9 / count(lit(1)).cast("double"))
          .as("seasonal_index"))
  }

  def seasonalIndexOracle: String =
    s"""WITH m AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT)*12 + CAST(month(o_orderdate) AS BIGINT) AS mi,
       |         CAST(month(o_orderdate) AS BIGINT) AS mo,
       |         CAST(sum(${sqlFx("o_totalprice", 2)}) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1, 2
       |), w AS (
       |  SELECT mo, rev,
       |         CAST(sum(rev) OVER (ORDER BY mi RANGE BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT) AS sum13,
       |         count(*) OVER (ORDER BY mi RANGE BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS cnt13,
       |         lag(rev, 6) OVER (ORDER BY mi) AS lag6,
       |         lead(rev, 6) OVER (ORDER BY mi) AS lead6
       |  FROM m
       |), r AS (
       |  SELECT mo,
       |         ${sqlFx("CAST(rev AS DOUBLE)*24.0e0/CAST(2*sum13 - lag6 - lead6 AS DOUBLE)", 9)} AS rq
       |  FROM w
       |  WHERE cnt13 = 13 AND lag6 IS NOT NULL AND lead6 IS NOT NULL
       |)
       |SELECT mo, count(*) AS n_windows,
       |       ${sqlR6("CAST(sum(rq) AS DOUBLE)/1e9/CAST(count(*) AS DOUBLE)")} AS seasonal_index
       |FROM r GROUP BY 1 ORDER BY mo""".stripMargin

  /** First-half / second-half boundary for the segment-migration matrix. */
  val SegmentSplitDate = "1998-07-01"

  /** Customer segment migration — where did each customer's spend tier GO:
    * monetary quintiles (per nation, same scale discipline as
    * `customers_rfm`) computed independently on the orders BEFORE and
    * AFTER [[SegmentSplitDate]], full-outer-joined per customer into the
    * Q_before × Q_after flow matrix, with 'none' rows/columns carrying
    * churned and newly-acquired customers. The matrix (36 cells max) is
    * what a lifecycle-marketing review reads to see if Q1 whales are
    * sliding. Exact integer spend, total (spend, custkey) ntile tiebreaks.
    */
  def segmentFlow(spark: SparkSession, dir: String): DataFrame = {
    def half(before: Boolean): DataFrame = {
      val o = Tables.orders(spark, dir)
      val f = if (before) o.filter(col("o_orderdate") < lit(SegmentSplitDate).cast("timestamp"))
              else o.filter(col("o_orderdate") >= lit(SegmentSplitDate).cast("timestamp"))
      f.groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 1e6 + 0.5).cast("long")).as("spend_mi"))
        .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .withColumn("q", ntile(5).over(Window.partitionBy("c_nationkey")
          .orderBy(desc("spend_mi"), asc("c_custkey"))))
        .select(col("c_custkey").as("ck"), concat(lit("Q"), col("q")).as("seg"))
    }
    half(before = true).select(col("ck"), col("seg").as("seg_before"))
      .join(half(before = false).select(col("ck"), col("seg").as("seg_after")),
        Seq("ck"), "full_outer")
      .select(coalesce(col("seg_before"), lit("none")).as("seg_before"),
        coalesce(col("seg_after"), lit("none")).as("seg_after"))
      .groupBy("seg_before", "seg_after").agg(count(lit(1)).as("n_customers"))
      .withColumn("share", r6(col("n_customers").cast("double") /
        sum(col("n_customers")).over(Window.partitionBy()).cast("double")))
  }

  def segmentFlowOracle: String = {
    def halfSql(cond: String, seg: String) =
      s"""SELECT c_custkey AS ck, 'Q' || CAST(ntile(5) OVER (PARTITION BY c_nationkey ORDER BY spend_mi DESC, c_custkey) AS INT) AS $seg
         |  FROM (
         |    SELECT c.c_custkey, c.c_nationkey,
         |           CAST(sum(CAST(floor(o.o_totalprice*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS spend_mi
         |    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         |    WHERE $cond GROUP BY 1, 2)""".stripMargin
    s"""WITH h1 AS (
       |${halfSql(s"o.o_orderdate < TIMESTAMP '$SegmentSplitDate'", "seg_before")}
       |), h2 AS (
       |${halfSql(s"o.o_orderdate >= TIMESTAMP '$SegmentSplitDate'", "seg_after")}
       |), flow AS (
       |  SELECT coalesce(h1.seg_before, 'none') AS seg_before,
       |         coalesce(h2.seg_after, 'none') AS seg_after
       |  FROM h1 FULL OUTER JOIN h2 USING (ck)
       |)
       |SELECT seg_before, seg_after, count(*) AS n_customers,
       |       ${sqlR6("CAST(count(*) AS DOUBLE)/CAST(sum(count(*)) OVER () AS DOUBLE)")} AS share
       |FROM flow GROUP BY 1, 2 ORDER BY seg_before, seg_after""".stripMargin
  }

  /** Cannibalization screen across part brands — pairwise Pearson
    * correlation of DAILY shipped quantity between brands over the full
    * zero-filled day×brand grid (a brand that doesn't ship on a day sold
    * zero — dropping the day biases toward +1). Strongly negative pairs
    * are substitution suspects; the assortment team reads the tail. Scale:
    * the grid is calendar×brands (bounded), the pair join is day-keyed
    * with brand¹<brand² — |days|·|brands|² rows of pure integers; all six
    * correlation sums are exact BIGINTs (qty centi-units ≤ 10⁴/day·brand,
    * squares ≤ 10⁸, ×10⁴ days ≪ 2⁶³).
    */
  def brandCannibalization(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .select(col("l_shipdate").cast("date").as("day"), col("p_brand"),
        fx(col("l_quantity"), 2).as("q"))
    val counts = li.groupBy("day", "p_brand").agg(sum(col("q")).as("q"))
    val grid = li.select("day").distinct()
      .crossJoin(broadcast(li.select("p_brand").distinct()))
      .join(counts, Seq("day", "p_brand"), "left")
      .select(col("day"), col("p_brand"), coalesce(col("q"), lit(0L)).as("q"))
    val pairs = grid.select(col("day"), col("p_brand").as("b1"), col("q").as("x"))
      .join(grid.select(col("day"), col("p_brand").as("b2"), col("q").as("y")), "day")
      .filter(col("b1") < col("b2"))
      .groupBy("b1", "b2")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val num = col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = sqrt((col("n").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")) *
      (col("n").cast("double") * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")))
    pairs.select(col("b1"), col("b2"), col("n").as("n_days"),
      r6(num / den).as("corr"), (num < 0).as("substitution_suspect"))
  }

  def brandCannibalizationOracle: String = {
    val num = "(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))"
    val den = "sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))*(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))"
    s"""WITH li AS (
       |  SELECT CAST(l.l_shipdate AS DATE) AS day, p.p_brand, ${sqlFx("l.l_quantity", 2)} AS q
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |), counts AS (
       |  SELECT day, p_brand, CAST(sum(q) AS BIGINT) AS q FROM li GROUP BY 1, 2
       |), grid AS MATERIALIZED (
       |  SELECT d.day, b.p_brand, coalesce(c.q, 0) AS q
       |  FROM (SELECT DISTINCT day FROM li) d
       |  CROSS JOIN (SELECT DISTINCT p_brand FROM li) b
       |  LEFT JOIN counts c ON c.day = d.day AND c.p_brand = b.p_brand
       |), pairs AS (
       |  SELECT a.p_brand AS b1, b.p_brand AS b2, count(*) AS n,
       |         CAST(sum(a.q) AS BIGINT) AS sx, CAST(sum(b.q) AS BIGINT) AS sy,
       |         CAST(sum(a.q*b.q) AS BIGINT) AS sxy,
       |         CAST(sum(a.q*a.q) AS BIGINT) AS sxx, CAST(sum(b.q*b.q) AS BIGINT) AS syy
       |  FROM grid a JOIN grid b ON b.day = a.day AND a.p_brand < b.p_brand
       |  GROUP BY 1, 2
       |)
       |SELECT b1, b2, n AS n_days, ${sqlR6(s"$num/$den")} AS corr,
       |       ($num < 0) AS substitution_suspect
       |FROM pairs ORDER BY b1, b2""".stripMargin
  }

  /** On-time threshold (days order→ship) for the supplier scorecard. */
  val SupplierOnTimeDays = 60L

  /** Supplier scorecard — the procurement-review rollup: per supplier,
    * line volume, exact mean/sd/p90 of order→ship lead time, and the
    * on-time share (≤ [[SupplierOnTimeDays]] days). Lead times are exact
    * integer days; sd from BIGINT moments; p90 is the exact ⌈0.9n⌉ order
    * statistic per supplier (rank window partitioned by supplier — full
    * parallelism). The orders join is the natural-key fact-fact shuffle;
    * the supplier dimension broadcasts for the nation tag.
    */
  def supplierScorecard(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(col("l_suppkey"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"),
        col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("days"), col("l_orderkey"), col("l_linenumber"))
    val wAll = Window.partitionBy("l_suppkey")
    val kOf = floor((col("n") * 9 + 9).cast("double") / 10.0).cast("long")
    val mean = col("sd_").cast("double") / col("n").cast("double")
    val variance = (col("sdd").cast("double") -
      col("sd_").cast("double") * col("sd_").cast("double") / col("n").cast("double")) /
      (col("n") - 1L).cast("double")
    li.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy("l_suppkey")
      .agg(max(col("n")).as("n"), sum(col("days")).as("sd_"),
        sum(col("days") * col("days")).as("sdd"),
        max(when(col("rn") === kOf, col("days"))).as("p90_days"),
        sum(when(col("days") <= SupplierOnTimeDays, 1L).otherwise(0L)).as("n_ontime"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))), "l_suppkey")
      .select(col("l_suppkey").as("s_suppkey"), col("s_nationkey"),
        col("n").as("n_lines"), r6(mean).as("mean_lead_days"),
        r6(sqrt(variance)).as("sd_lead_days"), col("p90_days"),
        r6(col("n_ontime").cast("double") / col("n").cast("double")).as("ontime_share"))
  }

  def supplierScorecardOracle: String = {
    val mean = "(CAST(sd_ AS DOUBLE)/CAST(n AS DOUBLE))"
    val vr = "((CAST(sdd AS DOUBLE) - CAST(sd_ AS DOUBLE)*CAST(sd_ AS DOUBLE)/CAST(n AS DOUBLE))/CAST(n - 1 AS DOUBLE))"
    s"""WITH li AS (
       |  SELECT l.l_suppkey,
       |         CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS days,
       |         l.l_orderkey, l.l_linenumber
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |), ranked AS (
       |  SELECT l_suppkey, days,
       |         row_number() OVER (PARTITION BY l_suppkey ORDER BY days, l_orderkey, l_linenumber) AS rn,
       |         count(*) OVER (PARTITION BY l_suppkey) AS n
       |  FROM li
       |), g AS (
       |  SELECT l_suppkey, CAST(max(n) AS BIGINT) AS n,
       |         CAST(sum(days) AS BIGINT) AS sd_, CAST(sum(days*days) AS BIGINT) AS sdd,
       |         max(CASE WHEN rn = (n*9 + 9)//10 THEN days END) AS p90_days,
       |         CAST(sum(CASE WHEN days <= $SupplierOnTimeDays THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime
       |  FROM ranked GROUP BY 1
       |)
       |SELECT g.l_suppkey AS s_suppkey, s.s_nationkey, g.n AS n_lines,
       |       ${sqlR6(mean)} AS mean_lead_days,
       |       ${sqlR6(s"sqrt($vr)")} AS sd_lead_days, g.p90_days,
       |       ${sqlR6("CAST(n_ontime AS DOUBLE)/CAST(n AS DOUBLE)")} AS ontime_share
       |FROM g JOIN supplier s ON s.s_suppkey = g.l_suppkey
       |ORDER BY s_suppkey""".stripMargin
  }

  /** z_{0.025} for the Wilson interval. */
  val WilsonZ = 1.959964

  /** Return rate per part brand with a Wilson 95% interval — the QA
    * readout that, unlike a raw ratio, stays honest at small n: brands
    * with 30 lines and brands with 30,000 get intervals that say so. The
    * Wilson bounds are a closed form of the two exact BIGINT counts, so
    * no simulation and no normal-at-zero pathology. Dimension broadcast +
    * one brand agg.
    */
  def returnRates(spark: SparkSession, dir: String): DataFrame = {
    val z = WilsonZ
    val g = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum(col("r")).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val denom = lit(1.0) + lit(z * z) / nD
    val center = (p + lit(z * z) / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      lit(z * z) / (lit(4.0) * nD * nD)) / denom
    g.select(col("p_brand"), col("n").as("n_lines"), col("k").as("n_returned"),
      r6(p).as("return_rate"),
      r6(center - half).as("wilson_lo"), r6(center + half).as("wilson_hi"))
  }

  def returnRatesOracle: String = {
    val z = WilsonZ
    val nD = "CAST(n AS DOUBLE)"
    val p = s"(CAST(k AS DOUBLE)/$nD)"
    val denom = s"(1.0e0 + ${sqlD(z * z)}/$nD)"
    val center = s"(($p + ${sqlD(z * z)}/(2.0e0*$nD))/$denom)"
    val half = s"(${sqlD(z)}*sqrt($p*(1.0e0 - $p)/$nD + ${sqlD(z * z)}/(4.0e0*$nD*$nD))/$denom)"
    s"""WITH g AS (
       |  SELECT p.p_brand, count(*) AS n,
       |         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |  GROUP BY 1
       |)
       |SELECT p_brand, n AS n_lines, k AS n_returned,
       |       ${sqlR6(p)} AS return_rate,
       |       ${sqlR6(s"$center - $half")} AS wilson_lo,
       |       ${sqlR6(s"$center + $half")} AS wilson_hi
       |FROM g ORDER BY p_brand""".stripMargin
  }

  /** ABC inventory classification — the canonical Pareto cut: parts ranked
    * by revenue, class A = the head up to 80% of cumulative revenue, B to
    * 95%, C the tail; reported as the per-class count/revenue rollup every
    * stock-policy review starts from. Class boundaries are EXACT integer
    * comparisons (cum·100 ≤ 80·total in micros — no float share ever
    * compared), ranking tiebreaks on partkey. The ranking window is
    * catalog-bounded (per-part revenue, not line items) — the same
    * accepted global-window class as the Gini/Pareto readouts; at extreme
    * catalog sizes the PSI-style broadcast-boundary form replaces it.
    */
  def abcClasses(spark: SparkSession, dir: String): DataFrame = {
    // cents, not micros: the class-boundary compare multiplies the GLOBAL
    // total by 100, and micros x100 would clear 2^63 near 1000x this SF
    val perPart = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        fx(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("m"))
      .groupBy("l_partkey").agg(sum(col("m")).as("rev"))
    val wCum = Window.orderBy(desc("rev"), asc("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    perPart
      .withColumn("cum", sum(col("rev")).over(wCum))
      .withColumn("tot", sum(col("rev")).over(wAll))
      .withColumn("cls",
        when(col("cum") * 100L <= col("tot") * 80L, "A")
          .when(col("cum") * 100L <= col("tot") * 95L, "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"),
        r6(sum(col("rev")).cast("double") / 1e2).as("revenue"),
        r6(sum(col("rev")).cast("double") / max(col("tot")).cast("double"))
          .as("revenue_share"))
  }

  def abcClassesOracle: String =
    s"""WITH per_part AS (
       |  SELECT l_partkey,
       |         CAST(sum(${sqlFx("l_extendedprice*(1.0e0 - l_discount)", 2)}) AS BIGINT) AS rev
       |  FROM lineitem GROUP BY 1
       |), c AS (
       |  SELECT l_partkey, rev,
       |         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |         CAST(sum(rev) OVER () AS BIGINT) AS tot
       |  FROM per_part
       |), cl AS (
       |  SELECT rev, tot,
       |         CASE WHEN cum*100 <= tot*80 THEN 'A'
       |              WHEN cum*100 <= tot*95 THEN 'B' ELSE 'C' END AS cls
       |  FROM c
       |)
       |SELECT cls, count(*) AS n_parts,
       |       ${sqlR6("CAST(sum(rev) AS DOUBLE)/1e2")} AS revenue,
       |       ${sqlR6("CAST(sum(rev) AS DOUBLE)/CAST(max(tot) AS DOUBLE)")} AS revenue_share
       |FROM cl GROUP BY 1 ORDER BY cls""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "parts_abc_classes" -> ((s, d) => abcClasses(s, d).orderBy("cls")),
    "parts_return_rates" -> ((s, d) => returnRates(s, d).orderBy("p_brand")),
    "suppliers_scorecard" -> ((s, d) => supplierScorecard(s, d).orderBy("s_suppkey")),
    "parts_brand_cannibalization" -> ((s, d) => brandCannibalization(s, d).orderBy("b1", "b2")),
    "orders_seasonal_index" -> ((s, d) => seasonalIndex(s, d).orderBy("mo")),
    "customers_segment_flow" -> ((s, d) => segmentFlow(s, d).orderBy("seg_before", "seg_after")),
    "events_peak_concurrency" -> ((s, d) => peakConcurrency(s, d).orderBy("day")),
    "orders_double_charge" -> ((s, d) => doubleCharge(s, d).orderBy("o_custkey", "ok1", "ok2")),
    "parts_discount_elasticity" -> ((s, d) => discountElasticity(s, d).orderBy("p_brand")),
    "lineitem_leadtime_sla" -> ((s, d) => leadtimeSla(s, d).orderBy("l_returnflag")),
    "orders_price_recon" -> ((s, d) => priceRecon(s, d).orderBy("o_orderstatus")),
    "graph_link_predict" -> ((s, d) =>
      linkPredict(s, d).orderBy(desc("common_neighbors"), col("part_a"), col("part_b"))),
    "graph_khop" -> ((s, d) => kHop(s, d).orderBy("p_partkey")),
    "items_cf_topk" -> ((s, d) => itemItemCf(s, d).orderBy("p_partkey", "rank")),
    "graph_degree_stats" -> ((s, d) => degreeStats(s, d).orderBy("degree")),
    "events_props_json" -> ((s, d) => propsJsonStats(s, d).orderBy("event_type")),
    "events_cube" -> ((s, d) => eventsCube(s, d).orderBy("gid", "event_type", "event_date")),
    "tpch_q1" -> ((s, d) => q1(s, d).orderBy("l_returnflag", "l_linestatus")),
    "tpch_q3" -> ((s, d) => q3(s, d)),
    "tpch_q5" -> ((s, d) => q5(s, d).orderBy("r_name", "n_name")),
    "tpch_q6" -> ((s, d) => q6(s, d)),
    "tpch_q4" -> ((s, d) => q4(s, d).orderBy("o_orderpriority")),
    "tpch_q14" -> ((s, d) => q14(s, d)),
    "tpch_q19" -> ((s, d) => q19(s, d)),
    "tpch_q18" -> ((s, d) => q18(s, d)),
    "tpch_q10" -> ((s, d) => q10(s, d)),
    "tpch_q16" -> ((s, d) => q16(s, d)),
    "tpch_q21" -> ((s, d) => q21(s, d)),
    "tpch_q22" -> ((s, d) => q22(s, d).orderBy("c_nationkey")),
    "tpch_q2" -> ((s, d) => q2(s, d)),
    "tpch_q7" -> ((s, d) => q7(s, d).orderBy("supp_nation", "cust_nation", "l_year")),
    "tpch_q17" -> ((s, d) => q17(s, d)),
    "tpch_q8" -> ((s, d) => q8(s, d).orderBy("o_year")),
    "tpch_q9" -> ((s, d) => q9(s, d).orderBy("nation", "o_year")),
    "tpch_q11" -> ((s, d) => q11(s, d).orderBy(desc("value"), asc("ps_partkey"))),
    "tpch_q12" -> ((s, d) => q12(s, d).orderBy("ship_class")),
    "tpch_q13" -> ((s, d) => q13(s, d)),
    "tpch_q15" -> ((s, d) => q15(s, d)),
    "tpch_q20" -> ((s, d) => q20(s, d)),
    "graph_pagerank" -> ((s, d) => pageRank(s, d)),
    "customers_rfm" -> ((s, d) => rfm(s, d).orderBy("c_custkey")),
    "star_integrity_audit" -> ((s, d) => integrityAudit(s, d).orderBy("check_name")),
    "customers_revenue_gini" -> ((s, d) => revenueGini(s, d).orderBy("c_nationkey")),
    "revenue_rollup" -> ((s, d) => revenueRollup(s, d).orderBy("r_name", "n_name")),
    "top_customers_per_nation" -> ((s, d) => topCustomersPerNation(s, d).orderBy("n_name", "rank")),
    "customer_running_total" -> ((s, d) => customerRunningTotal(s, d).orderBy("o_custkey", "o_orderdate", "o_orderkey")),
    "orders_with_returns" -> ((s, d) => ordersWithReturns(s, d).orderBy("o_orderpriority")),
    "customers_without_orders" -> ((s, d) => customersWithoutOrders(s, d).orderBy("c_custkey")),
    "events_asof_join" -> ((s, d) => asofJoin(s, d).orderBy("event_id")),
    "events_label_join" -> ((s, d) => labelJoin(s, d).orderBy("event_id")),
    "events_interval_join" -> ((s, d) => intervalJoin(s, d).orderBy("event_id")),
    "events_funnel_latency" -> ((s, d) => funnelLatency(s, d).orderBy("event_date")),
    "events_attribution" -> ((s, d) => attributionLinear(s, d).orderBy("click_date")),
    "market_basket_pairs" -> ((s, d) => marketBasket(s, d)),
    "events_sessionize" -> ((s, d) => sessionize(s, d).orderBy("user_id", "session_seq")),
    "events_scd2" -> ((s, d) => scd2(s, d).orderBy("user_id", "event_type", "valid_from", "event_id")),
    "events_cdc_merge" -> ((s, d) => cdcMerge(s, d).orderBy("user_id")),
    "events_snapshot_diff" -> ((s, d) => snapshotDiff(s, d).orderBy("diff_class")),
    "events_scd2_lookup" -> ((s, d) => scd2Lookup(s, d).orderBy("event_id")),
    "events_type_slo" -> ((s, d) => typeSlo(s, d).orderBy("event_type")),
    "events_stickiness" -> ((s, d) => stickiness(s, d).orderBy("day")),
    "events_session_paths" -> ((s, d) => sessionPaths(s, d)),
    "events_hourweek_profile" -> ((s, d) => hourWeekProfile(s, d).orderBy("isodow", "hour")),
    "customers_fuzzy_match" -> ((s, d) => fuzzyMatch(s, d).orderBy("c_custkey")),
    "events_type_pivot" -> ((s, d) => typePivot(s, d).orderBy("user_id")),
    "events_type_unpivot" -> ((s, d) => typeUnpivot(s, d).orderBy("user_id", "event_type")),
    "customers_ltv_cohort" -> ((s, d) => ltvCohort(s, d).orderBy("cohort_month", "month_offset")),
    "graph_triangles" -> ((s, d) => triangles(s, d).orderBy("p_partkey"))
  )

  def oracles: Map[String, String] = Map(
    "events_props_json" -> propsJsonStatsOracle,
    "events_cube" -> eventsCubeOracle,
    "events_scd2" -> scd2Oracle,
    "events_cdc_merge" -> cdcMergeOracle,
    "events_snapshot_diff" -> snapshotDiffOracle,
    "events_scd2_lookup" -> scd2LookupOracle,
    "events_type_slo" -> typeSloOracle,
    "events_stickiness" -> stickinessOracle,
    "events_session_paths" -> sessionPathsOracle,
    "events_hourweek_profile" -> hourWeekProfileOracle,
    "customers_fuzzy_match" -> fuzzyMatchOracle,
    "events_funnel_latency" -> funnelLatencyOracle,
    "events_attribution" -> attributionLinearOracle,
    "market_basket_pairs" -> marketBasketOracle,
    "tpch_q18" -> q18Oracle,
    "tpch_q4" -> q4Oracle,
    "tpch_q14" -> q14Oracle,
    "tpch_q19" -> q19Oracle,
    "tpch_q10" -> q10Oracle,
    "tpch_q16" -> q16Oracle,
    "tpch_q21" -> q21Oracle,
    "tpch_q22" -> q22Oracle,
    "tpch_q2" -> q2Oracle,
    "tpch_q7" -> q7Oracle,
    "tpch_q17" -> q17Oracle,
    "tpch_q8" -> q8Oracle,
    "tpch_q9" -> q9Oracle,
    "tpch_q11" -> q11Oracle,
    "tpch_q12" -> q12Oracle,
    "tpch_q13" -> q13Oracle,
    "tpch_q15" -> q15Oracle,
    "tpch_q20" -> q20Oracle,
    "graph_pagerank" -> pageRankOracle,
    "parts_abc_classes" -> abcClassesOracle,
    "parts_return_rates" -> returnRatesOracle,
    "suppliers_scorecard" -> supplierScorecardOracle,
    "parts_brand_cannibalization" -> brandCannibalizationOracle,
    "orders_seasonal_index" -> seasonalIndexOracle,
    "customers_segment_flow" -> segmentFlowOracle,
    "events_peak_concurrency" -> peakConcurrencyOracle,
    "orders_double_charge" -> doubleChargeOracle,
    "parts_discount_elasticity" -> discountElasticityOracle,
    "lineitem_leadtime_sla" -> leadtimeSlaOracle,
    "orders_price_recon" -> priceReconOracle,
    "graph_link_predict" -> linkPredictOracle,
    "graph_khop" -> kHopOracle,
    "items_cf_topk" -> itemItemCfOracle,
    "graph_degree_stats" -> degreeStatsOracle,
    "customers_rfm" -> rfmOracle,
    "star_integrity_audit" -> integrityAuditOracle,
    "customers_revenue_gini" -> revenueGiniOracle,
    "tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       ${sqlExactSum("l_quantity")} AS sum_qty,
         |       ${sqlExactSum("l_extendedprice")} AS sum_base_price,
         |       ${sqlExactSum("l_extendedprice * (1.0e0 - l_discount)")} AS sum_disc_price,
         |       ${sqlExactAvg("l_quantity")} AS avg_qty,
         |       ${sqlExactAvg("l_discount")} AS avg_disc,
         |       count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "tpch_q3" ->
      s"""SELECT l.l_orderkey, o.o_orderdate,
         |       ${sqlExactSum("l.l_extendedprice * (1.0e0 - l.l_discount)")} AS revenue
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l.l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "tpch_q5" ->
      s"""SELECT r.r_name, n.n_name,
         |       ${sqlExactSum("l.l_extendedprice * (1.0e0 - l.l_discount)")} AS revenue,
         |       count(*) AS n_items
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "tpch_q6" ->
      s"""SELECT ${sqlExactSum("l_extendedprice * l_discount")} AS revenue, count(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount >= 0.05e0 AND l_discount <= 0.07e0 AND l_quantity < 24.0e0""".stripMargin,
    "revenue_rollup" ->
      s"""SELECT coalesce(r.r_name, 'ALL') AS r_name, coalesce(n.n_name, 'ALL') AS n_name,
         |       ${sqlExactSum("l.l_extendedprice * (1.0e0 - l.l_discount)")} AS revenue,
         |       count(*) AS n_items
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY ROLLUP (r.r_name, n.n_name) ORDER BY 1, 2""".stripMargin,
    "top_customers_per_nation" ->
      s"""SELECT n_name, CAST(rank AS INT) AS rank, c_custkey, ${sqlR6("c_acctbal")} AS c_acctbal
         |FROM (
         |  SELECT n.n_name, c.c_custkey, c.c_acctbal,
         |         row_number() OVER (PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rank
         |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         |)
         |WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin,
    "customer_running_total" ->
      s"""SELECT o_custkey, o_orderkey, o_orderdate,
         |       ${sqlR6("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_total
         |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "orders_with_returns" -> ordersWithReturnsOracle,
    "customers_without_orders" -> customersWithoutOrdersOracle,
    "events_asof_join" -> asofJoinOracle,
    "events_label_join" -> labelJoinOracle,
    "events_interval_join" -> intervalJoinOracle,
    "events_sessionize" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, value,
         |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events
         |), marked AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR (epoch(ts) - epoch(prev_ts)) / 60.0e0 > 30.0e0 THEN 1 ELSE 0 END AS new_session
         |  FROM g
         |), sess AS (
         |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         |  FROM marked
         |)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |       min(ts) AS session_start, max(ts) AS session_end,
         |       ${sqlR6(sqlExactSum("value"))} AS session_value
         |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin,
    "events_type_pivot" -> typePivotOracle,
    "events_type_unpivot" -> typeUnpivotOracle,
    "customers_ltv_cohort" -> ltvCohortOracle,
    "graph_triangles" -> trianglesOracle
  )
}
