package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Num.cents

/** Ninety-eighth wave — the warehouse EXISTS / NOT-EXISTS / anti-join /
  * disjunctive shapes (the TPC-H Q11/Q16/Q19/Q20/Q21/Q22 skeletons; no
  * partsupp table ships, so lineitem history stands in as the
  * part×supplier source, and supplier account balance as the Q16
  * "complaints" blacklist).
  *
  *  - **q_important_parts** (Q11): parts whose exact revenue exceeds
  *    1/1000 of the total — the HAVING-vs-scalar-subquery shape, the
  *    threshold compared by CROSS-MULTIPLICATION (value·1000 > total)
  *    so it stays int64-exact, no division anywhere.
  *  - **q_supplier_part_counts** (Q16): distinct supplier count per
  *    (brand, type, size) over the observed part×supplier pairs,
  *    EXCLUDING a supplier blacklist (acctbal < 2000) — the NOT-IN
  *    shape as a broadcast anti-join before the distinct.
  *  - **q_disjunctive_revenue** (Q19): exact revenue under an OR of
  *    three (brand × quantity-band × size-band) conjunctions — the
  *    disjunctive-predicate join Catalyst must not turn cartesian.
  *  - **q_excess_shippers** (Q20): suppliers who shipped >1.5× the
  *    per-supplier average of some 'red' part in one year — nested
  *    aggregate + cross-multiplied compare (2·q·n > 3·Σq) + semi join.
  *  - **q_waiting_suppliers** (Q21): suppliers who were the ONLY late
  *    shipper of a multi-supplier order — EXISTS(another supplier) ∧
  *    NOT EXISTS(another LATE supplier), both collapsed to per-order
  *    counts over an (order, supplier) flag grain, never row-pairs.
  *  - **q_idle_customers** (Q22): per nation, customers with an
  *    above-average positive balance and NO order since the cutoff —
  *    scalar-avg subquery (exact cents) + LEFT ANTI join.
  *
  * Scale shape: every "correlated subquery" is a bounded aggregate
  * (|parts|, |part×supp|, |orders|) joined back by key; blacklists and
  * scalars broadcast; Q21 never joins lineitem to itself — the flag
  * grain is |order×supp| ≤ |L| and collapses to |orders| before the
  * verdict. */
object Breadth97 {

  private def revExpr =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** Parts with revenue > (pct10/10)× the average part revenue, exact
    * cross-multiplied (vi·n·10 > total·pct10) — the threshold scales
    * with |parts| so the screen never goes vacuous as the corpus
    * grows, unlike Q11's absolute fraction. */
  private[graft] def importantParts(lineitem: DataFrame,
                                    pct10: Int = 15): DataFrame = {
    val v = lineitem.select(col("l_partkey"), revExpr.as("__rev"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("__rev")).as("__vi"))
    val tot = v.agg(sum(col("__vi")).as("__ti"), count(lit(1)).as("__tn"))
    v.join(broadcast(tot),
        col("__vi") * col("__tn") * lit(10L) >
          col("__ti") * lit(pct10.toLong))
      .select(col("l_partkey"),
        (col("__vi").cast("double") / lit(10000.0)).as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey").asc)
  }

  /** Distinct non-blacklisted suppliers per (brand, type, size). */
  private[graft] def supplierPartCounts(part: DataFrame, supplier: DataFrame,
                                        lineitem: DataFrame,
                                        minAcct: Double): DataFrame = {
    val bad = supplier.filter(col("s_acctbal") < minAcct)
      .select(col("s_suppkey"))
    val pairs = lineitem.select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .distinct()
    pairs
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"),
        col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
  }

  /** Exact revenue under an OR of brand×qty-band×size-band arms. */
  private[graft] def disjunctiveRevenue(part: DataFrame,
                                        lineitem: DataFrame): DataFrame = {
    val q = col("l_quantity")
    val arm1 = col("p_brand") === "Brand#17" && q.between(1, 11) &&
      col("p_size").between(1, 5)
    val arm2 = col("p_brand") === "Brand#4" && q.between(10, 20) &&
      col("p_size").between(1, 10)
    val arm3 = col("p_brand") === "Brand#25" && q.between(20, 30) &&
      col("p_size").between(1, 15)
    lineitem.select(col("l_partkey"), col("l_quantity"), revExpr.as("__rev"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"),
        col("p_size"))), col("l_partkey") === col("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .agg(count(lit(1)).as("n_lines"), sum(col("__rev")).as("__ri"))
      .select(col("n_lines"),
        (col("__ri").cast("double") / lit(10000.0)).as("revenue"))
  }

  /** Suppliers shipping >1.5× the per-supplier part average in a year. */
  private[graft] def excessShippers(part: DataFrame, supplier: DataFrame,
                                    nation: DataFrame, lineitem: DataFrame,
                                    namePrefix: String,
                                    shipYear: Int): DataFrame = {
    val pk = part.filter(col("p_name").startsWith(namePrefix))
      .select(col("p_partkey"))
    val sq = lineitem
      .filter(year(col("l_shipdate")) === shipYear)
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("__q"))
    val pa = sq.groupBy(col("l_partkey").as("__pk"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"))
    // q > 1.5·(Σq/n) ⟺ 2·q·n > 3·Σq — exact in int64
    val hits = sq.join(pa, col("l_partkey") === col("__pk"))
      .filter(col("__q") * lit(2L) * col("__n") > col("__s") * lit(3L))
      .select(col("l_suppkey")).distinct()
    supplier.join(hits, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey").asc)
  }

  /** Sole-late-supplier counts over multi-supplier orders, top k. */
  private[graft] def waitingSuppliers(supplier: DataFrame, orders: DataFrame,
                                      lineitem: DataFrame,
                                      lateDays: Int = 60,
                                      k: Int = 10): DataFrame = {
    val flags = lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate").cast("date").as("__ship"))
      .join(orders.select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("__od")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(datediff(col("__ship"), col("__od")) > lateDays, 1L)
        .otherwise(0L)).as("__late"))
    val perOrder = flags.groupBy(col("l_orderkey").as("__ok"))
      .agg(count(lit(1)).as("__ns"), sum(col("__late")).as("__nl"))
    val waiting = flags
      .join(perOrder, col("l_orderkey") === col("__ok"))
      .filter(col("__ns") > 1 && col("__nl") === 1 && col("__late") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
    waiting
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(k)
  }

  /** Per nation: rich customers (above avg positive balance) with no
    * order since the cutoff. Balance sums exact in cents. */
  private[graft] def idleCustomers(customer: DataFrame, orders: DataFrame,
                                   nation: DataFrame,
                                   cutoff: String): DataFrame = {
    val avgPos = customer.filter(col("c_acctbal") > 0)
      .agg(sum(cents(col("c_acctbal"))).as("__s"),
        count(lit(1)).as("__n"))
    val recent = orders
      .filter(col("o_orderdate").cast("date") >= lit(cutoff).cast("date"))
      .select(col("o_custkey"))
    customer
      .join(broadcast(avgPos),
        cents(col("c_acctbal")) * col("__n") > col("__s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        sum(cents(col("c_acctbal"))).as("__bal"))
      .select(col("n_name"), col("numcust"),
        (col("__bal").cast("double") / lit(100.0)).as("totacctbal"))
      .orderBy(col("n_name").asc)
  }

  val defs: Map[String, Q] = Map(
    "q_important_parts" -> ((s, dir) =>
      importantParts(Tables.lineitem(s, dir))),
    "q_supplier_part_counts" -> ((s, dir) =>
      supplierPartCounts(Tables.part(s, dir), Tables.supplier(s, dir),
        Tables.lineitem(s, dir), 2000.0)),
    "q_disjunctive_revenue" -> ((s, dir) =>
      disjunctiveRevenue(Tables.part(s, dir), Tables.lineitem(s, dir))),
    "q_excess_shippers" -> ((s, dir) =>
      excessShippers(Tables.part(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.lineitem(s, dir), "red", 1997)),
    "q_waiting_suppliers" -> ((s, dir) =>
      waitingSuppliers(Tables.supplier(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "q_idle_customers" -> ((s, dir) =>
      idleCustomers(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.nation(s, dir), "1999-01-01")))

  private val RevSql =
    """CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
      |      * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    "q_important_parts" ->
      s"""WITH v AS (
         |  SELECT l_partkey,
         |    CAST(sum($RevSql) AS BIGINT) AS vi
         |  FROM lineitem GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(vi) AS BIGINT) AS ti,
         |    CAST(count(*) AS BIGINT) AS tn
         |  FROM v)
         |SELECT l_partkey, CAST(vi AS DOUBLE) / 10000.0 AS part_value
         |FROM v CROSS JOIN tot
         |WHERE vi * tn * 10 > ti * 15
         |ORDER BY part_value DESC, l_partkey""".stripMargin,

    "q_supplier_part_counts" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey
        |  FROM lineitem
        |  WHERE l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000))
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_disjunctive_revenue" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(CAST(sum($RevSql) AS BIGINT) AS DOUBLE) / 10000.0
         |    AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#17' AND l_quantity BETWEEN 1 AND 11
         |    AND p_size BETWEEN 1 AND 5)
         |   OR (p_brand = 'Brand#4' AND l_quantity BETWEEN 10 AND 20
         |    AND p_size BETWEEN 1 AND 10)
         |   OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30
         |    AND p_size BETWEEN 1 AND 15)""".stripMargin,

    "q_excess_shippers" ->
      """WITH sq AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%' AND year(l_shipdate) = 1997
        |  GROUP BY 1, 2),
        |pa AS (
        |  SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS s
        |  FROM sq GROUP BY 1),
        |hits AS (
        |  SELECT DISTINCT l_suppkey FROM sq JOIN pa ON l_partkey = pk
        |  WHERE 2 * q * n > 3 * s)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN hits ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,

    "q_waiting_suppliers" ->
      """WITH flags AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(max(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |        CAST(l_shipdate AS DATE)) > 60 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |per_order AS (
        |  SELECT l_orderkey AS ok, CAST(count(*) AS BIGINT) AS ns,
        |    CAST(sum(late) AS BIGINT) AS nl
        |  FROM flags GROUP BY 1)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM flags
        |JOIN per_order ON l_orderkey = ok
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE ns > 1 AND nl = 1 AND late = 1
        |GROUP BY 1
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin,

    "q_idle_customers" ->
      """WITH avg_pos AS (
        |  SELECT CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |CROSS JOIN avg_pos
        |WHERE CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) * n > s
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
